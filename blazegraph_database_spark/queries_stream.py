"""Streaming query catalog (SURVEY.md §2.10): each entry EXECUTES a real
Structured Streaming job (availableNow trigger → memory sink) whose result
must equal the batch formulation DuckDB computes — streaming/batch parity
is the correctness property under test."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.session import local_df
from blazegraph_database_spark.streaming import stream as S

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    def deco(f):
        QUERIES[name] = {"fn": f, "sql": sql}
        return f

    return deco


@register(
    "stream_window_agg",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, CAST(ROUND(SUM(value) * 100) AS BIGINT) AS sum_value_cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window x event_type over the event stream; complete-mode
    memory sink after an availableNow pass. Must equal the batch date_trunc
    aggregation."""
    st = S.read_events_stream(spark, sf_dir)
    return S.run_to_memory(S.windowed_agg(st), output_mode="complete")


@register(
    "stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dropDuplicatesWithinWatermark on (user_id, event_type);
    only the key columns are output so first-arrival nondeterminism can't
    leak into results."""
    st = S.read_events_stream(spark, sf_dir)
    deduped = S.dedup_within_watermark(st, ["user_id", "event_type"])
    return S.run_to_memory(deduped.select("user_id", "event_type"), output_mode="append")


@register(
    "stream_to_triples",
    """
    SELECT p, COUNT(*) AS n FROM (
        SELECT 'events#event_type' AS p FROM events WHERE event_type IS NOT NULL
        UNION ALL SELECT 'events#user_id' FROM events WHERE user_id IS NOT NULL
        UNION ALL SELECT 'events#value' FROM events WHERE value IS NOT NULL
        UNION ALL SELECT 'events#props' FROM events WHERE props IS NOT NULL
    ) t GROUP BY p
    """,
)
def stream_to_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming relational→RDF ingest: triple count per predicate after a
    full availableNow pass."""
    st = S.read_events_stream(spark, sf_dir)
    triples = S.events_to_triples(st)
    counted = triples.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    return S.run_to_memory(counted, output_mode="complete")


@register(
    "stream_interval_join",
    """
    SELECT l.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → purchase within 30 min per
    user): two watermarked branches of the event stream joined on key +
    time range (bounded state), pairs materialized in append mode, then
    counted per user. Must equal the batch self-join."""
    st = S.read_events_stream(spark, sf_dir)
    clicks = st.filter(F.col("event_type") == "click")
    purchases = st.filter(F.col("event_type") == "purchase")
    pairs = S.run_to_memory(
        S.interval_join(clicks, purchases, within="30 minutes"), output_mode="append"
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@register(
    "stream_sessionize",
    """
    WITH o AS (
        SELECT user_id, epoch(ts) AS t,
               LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND t - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM o GROUP BY user_id
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    30-min-gap sessionization; running totals after a full availableNow pass
    must equal the batch LAG-window formulation."""
    st = S.read_events_stream(spark, sf_dir)
    return S.run_to_memory(S.sessionize_stateful(st), output_mode="update")


@register(
    "stream_funnel",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT v.user_id, v.t1, MIN(e.ts) AS t2
        FROM v JOIN events e ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t1
        GROUP BY v.user_id, v.t1
    ), p AS (
        SELECT c.user_id, c.t1, MIN(e.ts) AS t3
        FROM c JOIN events e ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY c.user_id, c.t1
    )
    SELECT user_id,
           CAST(FLOOR(epoch(t1)) AS BIGINT) AS start_s,
           CAST(FLOOR(epoch(t3)) AS BIGINT) AS end_s
    FROM p
    """,
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful funnel detection (applyInPandasWithState, append mode):
    per-user view→click→purchase with strict ordering, one emission per
    completed funnel — exactly the chained-MIN self-join formulation the
    oracle runs in batch."""
    st = S.read_events_stream(spark, sf_dir)
    return S.run_to_memory(S.funnel_stateful(st), output_mode="append")


@register(
    "stream_doc_pipeline",
    """
    WITH f AS (
        SELECT doc_id, lang, text,
               string_split_regex(trim(text), '\\s+') AS ws,
               strlen(text) AS n_chars
        FROM documents
    ), g AS (
        SELECT doc_id, lang, text,
               len(ws) AS n_words,
               len(list_filter(ws, w -> lower(w) IN ('the','a','an','of','and','to','in','is','it','on','for'))) AS stop,
               len(list_distinct(list_transform(ws, w -> lower(w)))) AS uniq,
               GREATEST(len(ws), 1) AS nz
        FROM f
    ), q AS (
        SELECT doc_id, lang, text,
               ROUND(LEAST(n_words / 100.0, 1.0) * 0.4
                     + LEAST(stop * 1.0 / nz * 5.0, 1.0) * 0.3
                     + (uniq * 1.0 / nz) * 0.3, 6) AS quality
        FROM g
    ), kept AS (
        SELECT DISTINCT lang,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
        FROM q WHERE quality >= 0.5
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1
    """,
)
def stream_doc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING pretraining-ingest pipeline: document stream → quality
    filter (pure expressions, streaming-safe) → stateful exact content
    dedup (dropDuplicates on the 8-byte normalized-text hash — the
    streaming form of dedup_incremental: state is hashes, never text) →
    per-language accepted counts. Dedup state is keyed (lang, hash), so
    the batch oracle's DISTINCT (lang, normalized-text) matches EXACTLY
    regardless of which duplicate row a micro-batch happens to deliver
    first — no data assumption about duplicates never spanning languages
    (review r5 finding)."""
    from blazegraph_database_spark.operators import dedup as D
    from blazegraph_database_spark.operators import text as T

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    st = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = T.quality_score(st).filter(F.col("quality") >= 0.5)
    hashed = q.withColumn("__h", F.xxhash64(D.normalize_text(F.col("text"))))
    deduped = hashed.dropDuplicates(["lang", "__h"])
    kept = S.run_to_memory(deduped.select("lang", "__h"), output_mode="append")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "stream_trending_terms",
    """
    WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
    x AS (SELECT h AS ws, event_type FROM e
          UNION ALL SELECT h - INTERVAL 1 HOUR, event_type FROM e),
    c AS (SELECT ws, event_type, COUNT(*) AS n FROM x GROUP BY 1, 2),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
                                       ORDER BY n DESC, event_type ASC) AS rk
          FROM c)
    SELECT ws AS window_start, event_type, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def stream_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms: SLIDING 2h/1h windowed event-type frequencies
    computed by the stream (each event feeds two windows' state), top-3 per
    window ranked on the complete-mode sink output. Batch parity: the
    oracle unions each event into both windows it belongs to."""
    from pyspark.sql.window import Window

    st = S.read_events_stream(spark, sf_dir)
    counts = S.run_to_memory(S.sliding_counts(st), output_mode="complete")
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", F.col("n").cast("long").alias("n"),
                F.col("rk").cast("int").alias("rk"))
    )


@register(
    "stream_to_store",
    """
    SELECT p, COUNT(*) AS n FROM (
        SELECT 'events#event_type' AS p FROM events WHERE event_type IS NOT NULL
        UNION ALL SELECT 'events#user_id' FROM events WHERE user_id IS NOT NULL
        UNION ALL SELECT 'events#value' FROM events WHERE value IS NOT NULL
        UNION ALL SELECT 'events#props' FROM events WHERE props IS NOT NULL
    ) t GROUP BY p
    """,
)
def stream_to_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest → VERSIONED STORE (the streaming DataLoader,
    previously unit-only): each micro-batch commits one MVCC version via
    foreachBatch → insert_data; after the availableNow pass the final
    version's per-predicate triple counts must equal the batch ingest."""
    from blazegraph_database_spark.model.store import TripleStore
    from blazegraph_database_spark.update.update import UpdatableStore

    st = S.read_events_stream(spark, sf_dir)
    triples = S.events_to_triples(st)
    empty = local_df(spark, [], "s string, p string, o_lex string, o_dt string")
    us = UpdatableStore.from_store(TripleStore(empty))
    S.ingest_stream_to_store(triples, us).awaitTermination()
    return us.current.df.groupBy("p").agg(F.count(F.lit(1)).alias("n"))

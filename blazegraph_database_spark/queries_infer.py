"""Inference + UPDATE query catalog (SURVEY.md §2.8/§2.9) with DuckDB
oracles: deterministic ontologies derived from the harness tables (custkey
binary tree as a deep class hierarchy; orders as property instances)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blazegraph_database_spark.inference import rdfs
from blazegraph_database_spark.model.store import TripleStore
from blazegraph_database_spark.model.terms import Lit, Var as V
from blazegraph_database_spark.plans import algebra as A
from blazegraph_database_spark.session import local_df
from blazegraph_database_spark.update.update import UpdatableStore
from blazegraph_database_spark.sources.relational import read_parquet

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    def deco(f):
        QUERIES[name] = {"fn": f, "sql": sql}
        return f

    return deco


@register(
    "rdfs_closure_types",
    """
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS k, c_custkey AS t FROM customer
        UNION
        SELECT k, t // 2 FROM anc WHERE t >= 2
    )
    SELECT k AS inst_id, COUNT(*) AS n_types FROM anc GROUP BY k
    """,
)
def rdfs_closure_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdfs9/11 over a log-depth class hierarchy (Class:k ⊑ Class:k//2):
    inferred type count per instance = self + all ancestors
    (ref: RuleRdfs09/RuleRdfs11 in the fast-closure program)."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    cls = F.concat(F.lit("Class:"), F.col("c_custkey"))
    instances = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit(rdfs.RDF_TYPE).alias("p"),
        cls.alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = cust.filter(F.col("c_custkey") >= 2).select(
        cls.alias("s"),
        F.lit(rdfs.RDFS_SUBCLASS).alias("p"),
        F.concat(F.lit("Class:"), (F.col("c_custkey") / 2).cast("long")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    # single consumer (one filter+agg): skip the output checkpoint so the
    # p=rdf:type predicate pushes below the pass's union and prunes the
    # subClassOf-closure branch this query never reads (r12)
    closed = rdfs.rdfs_closure(
        TripleStore(instances.unionByName(schema)), checkpoint_output=False
    )
    return (
        closed.df.filter(F.col("p") == rdfs.RDF_TYPE)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .select(F.split(F.col("s"), ":")[1].cast("long").alias("inst_id"), "n_types")
    )


@register(
    "rdfs_domain_range",
    """
    SELECT 'type_Order' AS metric, COUNT(DISTINCT o_orderkey) AS n FROM orders
    UNION ALL
    SELECT 'type_Customer' AS metric, COUNT(DISTINCT o_custkey) AS n FROM orders
    UNION ALL
    SELECT 'relatedTo' AS metric, COUNT(*) AS n
    FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders) t
    """,
)
def rdfs_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rdfs2/3/5/7: domain/range typing + subPropertyOf lift over order
    edges (ref: RuleRdfs02/03/07)."""
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    data = orders.select(
        F.concat(F.lit("order:"), F.col("o_orderkey")).alias("s"),
        F.lit("orderedBy").alias("p"),
        F.concat(F.lit("customer:"), F.col("o_custkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = local_df(
        spark,
        [
            ("orderedBy", rdfs.RDFS_SUBPROP, "relatedTo", "iri"),
            ("orderedBy", rdfs.RDFS_DOMAIN, "Class:Order", "iri"),
            ("orderedBy", rdfs.RDFS_RANGE, "Class:Customer", "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    closed = rdfs.rdfs_closure(TripleStore(data.unionByName(schema))).df
    order_t = closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Order"))
    cust_t = closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Customer"))
    rel = closed.filter(F.col("p") == "relatedTo")
    return (
        order_t.agg(F.lit("type_Order").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(cust_t.agg(F.lit("type_Customer").alias("metric"), F.count(F.lit(1)).alias("n")))
        .unionByName(rel.agg(F.lit("relatedTo").alias("metric"), F.count(F.lit(1)).alias("n")))
    )


@register(
    "update_delete_insert",
    """
    SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'REZONED' ELSE c_mktsegment END AS segment,
           COUNT(*) AS n
    FROM customer GROUP BY 1
    """,
)
def update_delete_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE+INSERT WHERE: rewrite every BUILDING segment triple to REZONED,
    then aggregate the post-update store (ref: DeleteInsertGraph)."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    triples = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("customer#c_mktsegment").alias("p"),
        F.col("c_mktsegment").alias("o_lex"),
        F.lit("string").alias("o_dt"),
    )
    st = UpdatableStore.from_store(TripleStore(triples))
    st.delete_insert_where(
        A.SP(V("c"), "customer#c_mktsegment", Lit("BUILDING")),
        delete_template=[(V("c"), "customer#c_mktsegment", Lit("BUILDING"))],
        insert_template=[(V("c"), "customer#c_mktsegment", Lit("REZONED"))],
    )
    return (
        st.current.df.groupBy(F.col("o_lex").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sparql_update_text",
    """
    WITH t AS (
        SELECT 'nation#n_nationkey' AS p FROM nation
        UNION ALL SELECT 'nation#n_name' FROM nation WHERE n_regionkey != 0
        UNION ALL SELECT 'renamed' FROM nation WHERE n_regionkey = 0
        UNION ALL SELECT 'nation#n_regionkey' FROM nation
        UNION ALL SELECT 'nation#n_regionkey_ref' FROM nation
    )
    SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY p
    """,
)
def sparql_update_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textual DELETE/INSERT WHERE parsed by plans/update_parser (ref:
    UpdateExprBuilder.java → AST2BOpUpdate.java): rename every region-0
    nation's name predicate, then count surviving triples per predicate."""
    from blazegraph_database_spark.plans.update_parser import apply_update
    from blazegraph_database_spark.sources.relational import store_from_sf_dir

    st = store_from_sf_dir(spark, sf_dir, ["nation"])
    us = UpdatableStore.from_store(st)
    apply_update(
        us,
        """
        DELETE { ?n <nation#n_name> ?name }
        INSERT { ?n <renamed> ?name }
        WHERE  { ?n <nation#n_name> ?name . ?n <nation#n_regionkey> ?rk
                 FILTER(?rk = "0") }
        """,
        spark=spark,
    )
    return us.current.df.groupBy("p").agg(F.count(F.lit(1)).alias("n"))


@register(
    "owl_rules_extended",
    """
    SELECT 'eqprop_inRegion' AS metric, CAST(COUNT(*) AS BIGINT) AS n FROM nation
    UNION ALL
    SELECT 'eqclass_Country', CAST(COUNT(*) AS BIGINT) FROM nation
    UNION ALL
    SELECT 'functional_sameas', CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM nation
    UNION ALL
    SELECT 'symmetric_borders', CAST(COUNT(*) AS BIGINT) * 2 FROM nation WHERE n_nationkey >= 1
    """,
)
def owl_rules_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:equivalentProperty/equivalentClass (folded into the sub-closures),
    owl:FunctionalProperty => sameAs, owl:SymmetricProperty (ref fast-closure
    steps + RuleOwlEquivalentClass/Property, RuleOwlFunctionalProperty)."""
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    data = (
        nat.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("hasRegion").alias("p"),
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
        .unionByName(nat.select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit(rdfs.RDF_TYPE).alias("p"),
            F.lit("Class:Nation").alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ))
        # two spellings of each region's id under a functional property
        .unionByName(nat.select(
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("s"),
            F.lit("canonicalRegion").alias("p"),
            F.concat(F.lit("reg:"), F.col("n_regionkey")).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ).distinct())
        .unionByName(nat.select(
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("s"),
            F.lit("canonicalRegion").alias("p"),
            F.concat(F.lit("regAlias:"), F.col("n_regionkey")).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ).distinct())
        # borders edges nation:k -> nation:k-1 (k>=1), to be symmetrized
        .unionByName(nat.filter(F.col("n_nationkey") >= 1).select(
            F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
            F.lit("borders").alias("p"),
            F.concat(F.lit("nation:"), F.col("n_nationkey") - 1).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ))
    )
    schema = local_df(
        spark,
        [
            ("hasRegion", rdfs.OWL_EQPROP, "inRegion", "iri"),
            ("Class:Nation", rdfs.OWL_EQCLASS, "Class:Country", "iri"),
            ("canonicalRegion", rdfs.RDF_TYPE, rdfs.OWL_FUNCTIONAL, "iri"),
            ("borders", rdfs.RDF_TYPE, rdfs.OWL_SYMMETRIC, "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    df = data.unionByName(schema)
    df = rdfs.symmetric_property_closure(df)
    df = rdfs.functional_property_sameas(df)
    closed = rdfs.rdfs_closure(TripleStore(df)).df
    return (
        closed.filter(F.col("p") == "inRegion")
        .agg(F.lit("eqprop_inRegion").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(
            closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Country"))
            .agg(F.lit("eqclass_Country").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
        .unionByName(
            closed.filter(F.col("p") == rdfs.OWL_SAMEAS)
            .agg(F.lit("functional_sameas").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
        .unionByName(
            closed.filter(F.col("p") == "borders")
            .agg(F.lit("symmetric_borders").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
    )


@register(
    "owl_hasvalue_ifp",
    """
    SELECT 'hasvalue_located' AS metric, CAST(COUNT(*) AS BIGINT) AS n FROM nation
    UNION ALL
    SELECT 'hasvalue_rated_long', CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) FROM nation
    UNION ALL
    SELECT 'ifp_sameas', CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation
    UNION ALL
    SELECT 'ifp_merged_code', CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation
    """,
)
def owl_hasvalue_ifp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:hasValue + owl:InverseFunctionalProperty — the last two RuleOwl*
    family members (ref: rules/RuleOwlHasValue.java:57,
    rules/RuleOwlInverseFunctionalProperty.java:64). Every nation typed with
    a Restriction earns its onProperty/hasValue triple (IRI- and
    literal-valued restrictions both); two spellings of each nation sharing
    an inverse-functional code derive sameAs, which the sameAs CC merge then
    folds into one canonical subject per nation."""
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    nk = F.col("n_nationkey").cast("string")
    data = (
        # every nation is typed with the Located restriction node
        nat.select(
            F.concat(F.lit("nation:"), nk).alias("s"),
            F.lit(rdfs.RDF_TYPE).alias("p"),
            F.lit("Restr:Located").alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )
        # every region is typed with the literal-valued Rated restriction
        .unionByName(nat.select(
            F.concat(F.lit("region:"), F.col("n_regionkey")).alias("s"),
            F.lit(rdfs.RDF_TYPE).alias("p"),
            F.lit("Restr:Rated").alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ).distinct())
        # two spellings of each nation share an inverse-functional code
        .unionByName(nat.select(
            F.concat(F.lit("nA:"), nk).alias("s"),
            F.lit("code").alias("p"),
            F.concat(F.lit("code:"), nk).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ))
        .unionByName(nat.select(
            F.concat(F.lit("nB:"), nk).alias("s"),
            F.lit("code").alias("p"),
            F.concat(F.lit("code:"), nk).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        ))
    )
    schema = local_df(
        spark,
        [
            ("Restr:Located", rdfs.RDF_TYPE, rdfs.OWL_RESTRICTION, "iri"),
            ("Restr:Located", rdfs.OWL_ONPROPERTY, "locatedIn", "iri"),
            ("Restr:Located", rdfs.OWL_HASVALUE, "Earth", "iri"),
            ("Restr:Rated", rdfs.RDF_TYPE, rdfs.OWL_RESTRICTION, "iri"),
            ("Restr:Rated", rdfs.OWL_ONPROPERTY, "rating", "iri"),
            ("Restr:Rated", rdfs.OWL_HASVALUE, "5", "long"),
            ("code", rdfs.RDF_TYPE, rdfs.OWL_INVFUNCTIONAL, "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    df = rdfs.has_value_closure(data.unionByName(schema))
    df = rdfs.inverse_functional_property_sameas(df)
    # the closure feeds FOUR aggregate branches plus the sameAs merge
    # below — materialize it once (eager lineage cut): every consumer then
    # plans against a tiny leaf instead of re-analyzing and re-running the
    # rule joins (measured 24.5s -> 17.6s on the sf0.01 gate; cache() was
    # worse — analysis still walks the full tree per branch)
    df = df.localCheckpoint()
    merged = rdfs.apply_same_as(df)
    return (
        df.filter((F.col("p") == "locatedIn") & (F.col("o_lex") == "Earth"))
        .agg(F.lit("hasvalue_located").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(
            df.filter((F.col("p") == "rating") & (F.col("o_dt") == "long"))
            .agg(F.lit("hasvalue_rated_long").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
        .unionByName(
            df.filter(F.col("p") == rdfs.OWL_SAMEAS)
            .agg(F.lit("ifp_sameas").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
        .unionByName(
            merged.filter(F.col("p") == "code")
            .select("s").distinct()
            .agg(F.lit("ifp_merged_code").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
    )


@register(
    "tm_delete_closure",
    """
    SELECT 'type_Buyer' AS metric,
           CAST(COUNT(CASE WHEN c_mktsegment != 'BUILDING' THEN 1 END) AS BIGINT) AS n
    FROM customer
    UNION ALL
    SELECT 'type_Party',
           CAST(COUNT(CASE WHEN c_mktsegment != 'BUILDING' THEN 1 END) AS BIGINT)
    FROM customer
    """,
)
def tm_delete_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth maintenance on retraction (ref: TruthMaintenance.java): deleting
    the explicit type assertions for BUILDING customers must also retract the
    derived superclass types, while everything still derivable survives."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    types = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit(rdfs.RDF_TYPE).alias("p"),
        F.lit("Class:Buyer").alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = local_df(
        spark,
        [("Class:Buyer", rdfs.RDFS_SUBCLASS, "Class:Party", "iri")],
        "s string, p string, o_lex string, o_dt string",
    )
    us = UpdatableStore.from_store(TripleStore(types.unionByName(schema)))
    us.insert_with_closure(local_df(spark, [], "s string, p string, o_lex string, o_dt string"))
    to_delete = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit(rdfs.RDF_TYPE).alias("p"),
        F.lit("Class:Buyer").alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    us.delete_with_closure(to_delete)
    closed = us.current.df
    return (
        closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Buyer"))
        .agg(F.lit("type_Buyer").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(
            closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Party"))
            .agg(F.lit("type_Party").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
    )


@register(
    "tm_counting_delete",
    """
    -- two explicit premises (Buyer via segment, VIP via acctbal) both derive
    -- Party; deleting the Buyer premise keeps Party for rows still VIP
    SELECT 'type_Buyer' AS metric,
           CAST(COUNT(CASE WHEN c_mktsegment != 'BUILDING' THEN 1 END) AS BIGINT) AS n
    FROM customer
    UNION ALL
    SELECT 'type_Party',
           CAST(COUNT(CASE WHEN c_mktsegment != 'BUILDING' OR c_acctbal > 5000 THEN 1 END) AS BIGINT)
    FROM customer
    """,
)
def tm_counting_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-count truth maintenance (counting algorithm; the reference's
    per-statement Inferred/justification bookkeeping collapsed to derivation
    counts — ref: inf/TruthMaintenance.java, StatementEnum): Buyer⊑Party and
    VIP⊑Party give Party two independent supports; retracting the Buyer
    assertions decrements, and Party survives exactly where a VIP support
    remains — no re-derivation, no recompute."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")

    def typed(cond, cls: str) -> DataFrame:
        return cust.filter(cond).select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit(rdfs.RDF_TYPE).alias("p"),
            F.lit(cls).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )

    buyers = typed(F.lit(True), "Class:Buyer")  # every customer is a Buyer
    vips = typed(F.col("c_acctbal") > 5000, "Class:VIP")
    schema = local_df(
        spark,
        [
            ("Class:Buyer", rdfs.RDFS_SUBCLASS, "Class:Party", "iri"),
            ("Class:VIP", rdfs.RDFS_SUBCLASS, "Class:Party", "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    explicit = buyers.unionByName(vips).unionByName(schema)
    closed = rdfs.rdfs_closure(TripleStore(explicit)).df
    counts = rdfs.build_support_counts(closed, explicit)
    delta = typed(F.col("c_mktsegment") == "BUILDING", "Class:Buyer")
    explicit_new = explicit.join(delta, on=["s", "p", "o_lex", "o_dt"], how="left_anti")
    _, new_closed = rdfs.counting_retract(counts, explicit_new, delta, closed)
    return (
        new_closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Buyer"))
        .agg(F.lit("type_Buyer").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(
            new_closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Party"))
            .agg(F.lit("type_Party").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
    )


@register(
    "tm_insert_delta",
    """
    SELECT 'type_Machine' AS metric,
           CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS n
    FROM customer
    UNION ALL
    SELECT 'type_Party',
           CAST(COUNT(CASE WHEN c_mktsegment IN ('BUILDING', 'MACHINERY') THEN 1 END) AS BIGINT)
    FROM customer
    """,
)
def tm_insert_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental closure on insert (ref: TruthMaintenance.java assertAll):
    after an initial closure over BUILDING buyers, inserting MACHINERY
    machine-operators forward-chains ONLY the delta against the closed
    store (inference.rdfs.delta_assert — no recompute, asserted by unit
    tests); the resulting type counts must equal a from-scratch closure."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")

    def seg_types(seg: str, cls: str) -> DataFrame:
        return cust.filter(F.col("c_mktsegment") == seg).select(
            F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
            F.lit(rdfs.RDF_TYPE).alias("p"),
            F.lit(cls).alias("o_lex"),
            F.lit("iri").alias("o_dt"),
        )

    schema = local_df(
        spark,
        [
            ("Class:Buyer", rdfs.RDFS_SUBCLASS, "Class:Party", "iri"),
            ("Class:Machine", rdfs.RDFS_SUBCLASS, "Class:Party", "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    us = UpdatableStore.from_store(
        TripleStore(seg_types("BUILDING", "Class:Buyer").unionByName(schema))
    )
    us.insert_with_closure(
        local_df(spark, [], "s string, p string, o_lex string, o_dt string")
    )
    us.insert_with_closure(seg_types("MACHINERY", "Class:Machine"))
    closed = us.current.df
    return (
        closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Machine"))
        .agg(F.lit("type_Machine").alias("metric"), F.count(F.lit(1)).alias("n"))
        .unionByName(
            closed.filter((F.col("p") == rdfs.RDF_TYPE) & (F.col("o_lex") == "Class:Party"))
            .agg(F.lit("type_Party").alias("metric"), F.count(F.lit(1)).alias("n"))
        )
    )


@register(
    "tm_tc_delete",
    """
    WITH RECURSIVE e AS (
        SELECT CAST(c_custkey // 2 AS VARCHAR) AS src, CAST(c_custkey AS VARCHAR) AS dst
        FROM customer
        WHERE c_custkey >= 2 AND NOT (c_custkey // 2 = 1)
    ),
    r AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
    )
    SELECT CAST(src AS BIGINT) AS src_id, CAST(dst AS BIGINT) AS dst_id FROM r
    """,
)
def tm_tc_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRed truth maintenance for the RECURSIVE rule set (rdfs.tc_retract;
    ref: inf/TruthMaintenance.java over TransitiveProperty): the custkey
    tree's transitive closure maintained under deletion of the root's
    outgoing edges — overdelete + D-restricted re-derive, no closure
    recompute. Oracle recomputes the closure of the surviving edges."""
    from blazegraph_database_spark.queries_gas import _tree_edges

    edges = _tree_edges(spark, sf_dir)
    tc_old = rdfs.transitive_closure(edges)
    deleted = edges.filter(F.col("src") == "1")
    kept = edges.join(deleted, on=["src", "dst"], how="left_anti")
    out = rdfs.tc_retract(tc_old, kept, deleted)
    return out.select(
        F.col("src").cast("long").alias("src_id"),
        F.col("dst").cast("long").alias("dst_id"),
    )


@register(
    "owl_property_chain",
    """
    SELECT 'customer:' || c_custkey AS s, 'region:' || n_regionkey AS region
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    ORDER BY s
    """,
)
def owl_property_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:propertyChainAxiom (OWL RL prp-spo2; ref: the reference's
    property-chain support in its rule program): in_region ≡ nat ∘ reg —
    customer→nation→region composes into an inferred customer→region edge
    via per-predicate equi-joins (inference/rdfs.property_chain_closure).
    The axiom's rdf:first/rest list spine rides the data as triples."""
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    edges1 = cust.select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("s"),
        F.lit("nat").alias("p"),
        F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    edges2 = nat.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.lit("reg").alias("p"),
        F.concat(F.lit("region:"), F.col("n_regionkey")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    axiom = local_df(
        spark,
        [
            ("in_region", rdfs.OWL_PROPCHAIN, "_:l1", "iri"),
            ("_:l1", rdfs.RDF_FIRST, "nat", "iri"),
            ("_:l1", rdfs.RDF_REST, "_:l2", "iri"),
            ("_:l2", rdfs.RDF_FIRST, "reg", "iri"),
            ("_:l2", rdfs.RDF_REST, rdfs.RDF_NIL, "iri"),
        ],
        "s string, p string, o_lex string, o_dt string",
    )
    closed = rdfs.property_chain_closure(
        edges1.unionByName(edges2).unionByName(axiom)
    )
    return (
        closed.filter(F.col("p") == "in_region")
        .select("s", F.col("o_lex").alias("region"))
        .orderBy("s")
    )


@register(
    "update_entailments",
    """
    WITH RECURSIVE anc AS (
        SELECT n_nationkey AS k, n_nationkey AS t FROM nation
        UNION
        SELECT k, t // 2 FROM anc WHERE t >= 2
    ),
    typed AS (
        -- after CREATE ENTAILMENTS: every ancestor class is a type
        SELECT 'nation:' || k AS s, 'Class:' || t AS cls FROM anc
    ),
    dropped AS (
        -- after DROP ENTAILMENTS: only the asserted type + the upgraded
        -- (explicitly re-asserted) inferred type for nation 3 survive
        SELECT 'nation:' || n_nationkey AS s, 'Class:' || n_nationkey AS cls
        FROM nation
        UNION ALL SELECT 'nation:3', 'Class:1'
    )
    SELECT 'closed' AS phase, CAST(COUNT(*) AS BIGINT) AS n FROM typed
    UNION ALL
    SELECT 'dropped', CAST(COUNT(*) AS BIGINT) FROM dropped
    """,
)
def update_entailments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE/DROP ENTAILMENTS through UPDATE text (ref:
    ast/CreateEntailments.java / DropEntailments.java; AST2BOpUpdate:446):
    CREATE materializes the subclass closure, an explicit re-assertion of
    one inferred triple upgrades it to Explicit, DROP then removes exactly
    the remaining inferred set."""
    from blazegraph_database_spark.plans.update_parser import apply_update

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    cls = F.concat(F.lit("Class:"), F.col("n_nationkey"))
    instances = nat.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.lit(rdfs.RDF_TYPE).alias("p"),
        cls.alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = nat.filter(F.col("n_nationkey") >= 2).select(
        cls.alias("s"),
        F.lit(rdfs.RDFS_SUBCLASS).alias("p"),
        F.concat(F.lit("Class:"), (F.col("n_nationkey") / 2).cast("long")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    us = UpdatableStore.from_store(TripleStore(instances.unionByName(schema)))
    apply_update(us, "CREATE ENTAILMENTS", spark)
    closed_n = (
        us.current.df.filter(F.col("p") == rdfs.RDF_TYPE)
        .select("s", "o_lex").distinct().count()
    )
    # upgrade one inferred triple to explicit, then drop the entailments
    apply_update(
        us,
        'INSERT DATA { <nation:3> <rdf:type> <Class:1> } ; DROP ENTAILMENTS',
        spark,
    )
    dropped_n = (
        us.current.df.filter(F.col("p") == rdfs.RDF_TYPE)
        .select("s", "o_lex").distinct().count()
    )
    return local_df(spark, [("closed", closed_n), ("dropped", dropped_n)], "phase string, n long")


@register(
    "entailments_rollback",
    """
    WITH RECURSIVE anc AS (
        SELECT n_nationkey AS k, n_nationkey AS t FROM nation
        UNION
        SELECT k, t // 2 FROM anc WHERE t >= 2
    )
    SELECT 'closed' AS phase, CAST(COUNT(*) AS BIGINT) AS n FROM anc
    UNION ALL
    SELECT 'dropped', CAST(COUNT(*) AS BIGINT) FROM nation
    """,
)
def entailments_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP ENTAILMENTS after a ROLLED-BACK transaction (round 8; ref: the
    SAIL connection's abort discipline — a rolled-back connection must not
    leak truth-maintenance state into the next commit). A transaction that
    drops the entailments and inserts data ABORTS; the rollback must
    restore the inferred-set bookkeeping so the subsequent DROP ENTAILMENTS
    still removes exactly the closure delta — nothing more (asserted types
    survive), nothing less (no inferred stragglers)."""
    from blazegraph_database_spark.plans.update_parser import apply_update

    nat = read_parquet(spark, f"{sf_dir}/nation.parquet")
    cls = F.concat(F.lit("Class:"), F.col("n_nationkey"))
    instances = nat.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("s"),
        F.lit(rdfs.RDF_TYPE).alias("p"),
        cls.alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    schema = nat.filter(F.col("n_nationkey") >= 2).select(
        cls.alias("s"),
        F.lit(rdfs.RDFS_SUBCLASS).alias("p"),
        F.concat(F.lit("Class:"), (F.col("n_nationkey") / 2).cast("long")).alias("o_lex"),
        F.lit("iri").alias("o_dt"),
    )
    us = UpdatableStore.from_store(TripleStore(instances.unionByName(schema)))
    apply_update(us, "CREATE ENTAILMENTS", spark)
    closed_n = (
        us.current.df.filter(F.col("p") == rdfs.RDF_TYPE)
        .select("s", "o_lex").distinct().count()
    )

    class _ClientAbort(Exception):
        pass

    try:
        with us.transaction():
            us.drop_entailments()  # clears the inferred bookkeeping in-tx
            us.insert_data(
                local_df(
                    spark,
                    [("nation:0", "tag#tx", "aborted", "string")],
                    "s string, p string, o_lex string, o_dt string",
                )
            )
            raise _ClientAbort()
    except _ClientAbort:
        pass
    apply_update(us, "DROP ENTAILMENTS", spark)
    dropped_n = (
        us.current.df.filter(F.col("p") == rdfs.RDF_TYPE)
        .select("s", "o_lex").distinct().count()
    )
    return local_df(spark, [("closed", closed_n), ("dropped", dropped_n)], "phase string, n long")

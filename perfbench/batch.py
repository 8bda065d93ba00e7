"""``operator_batch``: the 16 headline registry queries of ``bench.py``, one
after another, each forced with a noop-format write (every row computed,
nothing collected). The memo caches the engine keeps per (session, data
dir) -- the relational store, the GAS tree edges, the full-text index --
are filled by the warm-up pass before timing, as a long-running service
would have them; ``ready`` times building them (``setup_s``)."""

from __future__ import annotations

import oracle
from bench import HEADLINE

# gas entry points the headline queries reach, by the name the trace uses
GAS_CALLS = {"bfs": "bfs", "cc": "connected_components_bipartite", "pagerank": "pagerank"}


class Batch:
    def __init__(self, spark, data_dir: str):
        from blazegraph_database_spark.registry import all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.catalog = all_queries()

    def _memos(self) -> list[tuple[dict, tuple]]:
        """(memo, key) of each memo the queries read for this data dir."""
        from blazegraph_database_spark import queries_gas, queries_search
        from blazegraph_database_spark.sources import relational

        key = (id(self.spark), self.data_dir)
        return [(relational._STORE_CACHE, key + ((),)),
                (queries_gas._TREE_EDGE_CACHE, key),
                (queries_search._FT_IDX_CACHE, key)]

    def ready(self):
        """Build, from nothing, the memos the queries read: the relational
        store, the GAS tree edges (a Spark job) and the full-text index (a
        Spark job). The warm ones are put back afterwards, so the timed
        pass reads what the warm-up pass filled."""
        from blazegraph_database_spark import queries_gas, queries_search
        from blazegraph_database_spark.sources.relational import cached_store

        saved = [(memo, key, memo.pop(key, None)) for memo, key in self._memos()]
        try:
            cached_store(self.spark, self.data_dir)
            queries_gas._tree_edges(self.spark, self.data_dir)
            queries_search._docs_index(self.spark, self.data_dir)
        finally:
            for memo, key, warm in saved:
                if warm is not None:
                    memo[key] = warm

    def check_ready(self, ready, con) -> list[str]:
        return []  # the memos are checked through the queries that read them

    def setup(self):
        pass

    def reset(self):
        pass

    def pass_ops(self) -> list[dict]:
        return [{"kind": "query", "name": q} for q in HEADLINE]

    def build(self, op: dict):
        return self.catalog[op["name"]]["fn"](self.spark, self.data_dir)

    def run(self, op: dict, tr=None):
        if tr is None or not tr.enabled:
            self.build(op).write.format("noop").mode("overwrite").save()
            return None
        q = op["name"]
        with tr.span(f"operators.{q}.build"):
            df = self.build(op)
        # the noop write plans the query again in its own QueryExecution,
        # so this planning is work the timed run does not do
        with tr.span("catalyst") as sp:
            plan = df._jdf.queryExecution().executedPlan()
            sp.counts["plan_nodes"] = plan.treeString().count("\n")
        tr.note("trace.extra_s", sp.duration)
        with tr.span(f"operators.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def check_all(self, con, threads: int) -> tuple[dict[str, int], list[str]]:
        """The warm-up pass. Collect every query once (on a thread pool)
        and compare it with the registry's DuckDB oracle: column names
        sorted, rows as an order-insensitive multiset. Returns (result rows
        per query, failure reasons)."""
        from concurrent.futures import ThreadPoolExecutor

        def collect(q):
            df = self.catalog[q]["fn"](self.spark, self.data_dir)
            cols = sorted(df.columns)
            return cols, oracle.norm_rows(tuple(r[c] for c in cols) for r in df.collect())

        with ThreadPoolExecutor(threads) as pool:
            futs = {q: pool.submit(collect, q) for q in HEADLINE}
            # then each query once the way the timed pass runs it: a noop
            # write plans differently from a collect
            noops = [pool.submit(self.run, op) for op in self.pass_ops()]
        for f in noops:
            f.exception()  # failures surface in the timed pass
        rows_out, bad = {}, []
        for q, fut in futs.items():
            if fut.exception() is not None:
                e = fut.exception()
                bad.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
                continue
            cols, got = fut.result()
            rows_out[q] = len(got)
            sql = self.catalog[q].get("sql")
            if not sql:
                continue
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            if sorted(names) != cols:
                bad.append(f"{q}: columns {cols} vs oracle {sorted(names)}")
                continue
            idx = [names.index(c) for c in cols]
            want = oracle.norm_rows(tuple(r[i] for i in idx) for r in cur.fetchall())
            if got != want:
                bad.append(f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
        return rows_out, bad

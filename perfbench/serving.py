"""``sparql_serving``: one SPARQL endpoint answering analytic reads, subject
lookups and UPDATE writes, one closed-loop client.

Namespace ``kb`` is the read-only relational store (virtual per-predicate
sources). Namespace ``rw`` is a writable store over the customer table:
its INSERT DATA / DELETE DATA writes push new store versions, so every
read of ``rw`` after a write runs over the melted union, and grows with each
version until the next checkpoint (every ``checkpoint_every`` writes).

Each pass is a fixed interleaving of 18 requests whose constants come from
the seed. Every answer is checked after the timed window: reads against
DuckDB over the same parquet, writes by read-your-writes probes against a
python model of the applied inserts and deletes.
"""

from __future__ import annotations

import json

import numpy as np

import oracle

KB_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
TAG = "urn:perfbench:tag"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# (name, SPARQL text, DuckDB SQL); {placeholders} come from the seed
READS = {
    "nation_join_agg": (
        "SELECT ?nname (COUNT(?o) AS ?n) (SUM(?tp) AS ?rev) WHERE {{ "
        "?o <orders#o_custkey_ref> ?c . ?o <orders#o_totalprice> ?tp . "
        "?c <customer#c_nationkey_ref> ?nat . ?nat <nation#n_name> ?nname . "
        "FILTER(?tp > {price}) }} GROUP BY ?nname",
        "SELECT n_name, COUNT(*), SUM(o_totalprice) FROM orders "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_totalprice > {price} GROUP BY n_name",
    ),
    "star_topk": (
        "SELECT ?c ?bal WHERE {{ ?c <customer#c_acctbal> ?bal . "
        "?c <customer#c_mktsegment> ?seg . ?c <customer#c_nationkey> ?nk . "
        'FILTER(?seg = "{seg}" && ?nk = {nation}) }} ORDER BY DESC(?bal) LIMIT 5',
        "SELECT 'customer:' || c_custkey, c_acctbal FROM customer "
        "WHERE c_mktsegment = '{seg}' AND c_nationkey = {nation} "
        "ORDER BY c_acctbal DESC LIMIT 5",
    ),
    "optional": (
        "SELECT ?s ?name ?bal WHERE {{ ?s <supplier#s_nationkey> ?nk . "
        "?s <supplier#s_name> ?name OPTIONAL {{ ?s <supplier#s_acctbal> ?bal "
        "FILTER(?bal > {bal}) }} FILTER(?nk = {nation}) }}",
        "SELECT 'supplier:' || s_suppkey, s_name, "
        "CASE WHEN s_acctbal > {bal} THEN s_acctbal END FROM supplier WHERE s_nationkey = {nation}",
    ),
    "not_exists": (
        'SELECT (COUNT(?c) AS ?n) WHERE {{ ?c <customer#c_mktsegment> "{seg}" . '
        "FILTER NOT EXISTS {{ ?o <orders#o_custkey_ref> ?c . "
        '?o <orders#o_orderpriority> "{prio}" }} }}',
        "SELECT COUNT(*) FROM customer c WHERE c_mktsegment = '{seg}' AND NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_orderpriority = '{prio}')",
    ),
    "bgp9_optional": (
        "SELECT ?rname (COUNT(?l) AS ?n) (SUM(?ep) AS ?rev) (COUNT(?sz) AS ?small) WHERE {{ "
        "?l <lineitem#l_orderkey_ref> ?o . ?l <lineitem#l_extendedprice> ?ep . "
        "?l <lineitem#l_partkey_ref> ?p . ?l <lineitem#l_quantity> ?q . "
        '?p <part#p_brand> "{brand}" . ?o <orders#o_custkey_ref> ?c . '
        "?c <customer#c_nationkey_ref> ?n . ?n <nation#n_regionkey_ref> ?r . "
        "?r <region#r_name> ?rname . "
        "OPTIONAL {{ ?p <part#p_size> ?sz FILTER(?sz < 10) }} FILTER(?q > {qty}) }} "
        "GROUP BY ?rname",
        "SELECT r_name, COUNT(*), SUM(l_extendedprice), "
        "COUNT(CASE WHEN p_size < 10 THEN 1 END) FROM lineitem "
        "JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE p_brand = '{brand}' AND l_quantity > {qty} GROUP BY r_name",
    ),
    "construct": (
        "CONSTRUCT {{ ?c <urn:perfbench:inSegment> ?seg }} WHERE {{ "
        "?c <customer#c_mktsegment> ?seg . ?c <customer#c_nationkey> ?nk "
        "FILTER(?nk = {nation}) }}",
        "SELECT 'customer:' || c_custkey, 'urn:perfbench:inSegment', c_mktsegment "
        "FROM customer WHERE c_nationkey = {nation}",
    ),
    "ask": (
        "ASK {{ ?s <supplier#s_acctbal> ?b FILTER(?b < {low}) }}",
        "SELECT COUNT(*) > 0 FROM supplier WHERE s_acctbal < {low}",
    ),
}

# the set-up's first answer on each namespace: (SPARQL, DuckDB SQL)
READY_ASKS = {
    "kb": ('ASK { ?o <orders#o_custkey_ref> ?c . ?c <customer#c_mktsegment> "BUILDING" }',
           "SELECT COUNT(*) > 0 FROM orders JOIN customer ON o_custkey = c_custkey "
           "WHERE c_mktsegment = 'BUILDING'"),
    "rw": ('ASK { ?c <customer#c_mktsegment> "MACHINERY" }',
           "SELECT COUNT(*) > 0 FROM customer WHERE c_mktsegment = 'MACHINERY'"),
}

CUSTOMER_TRIPLES_SQL = (
    "SELECT p, o FROM (SELECT 'customer#c_custkey' AS p, CAST(c_custkey AS VARCHAR) AS o, c_custkey AS k FROM customer "
    "UNION ALL SELECT 'customer#c_name', c_name, c_custkey FROM customer "
    "UNION ALL SELECT 'customer#c_nationkey', CAST(c_nationkey AS VARCHAR), c_custkey FROM customer "
    "UNION ALL SELECT 'customer#c_nationkey_ref', 'nation:' || c_nationkey, c_custkey FROM customer "
    "UNION ALL SELECT 'customer#c_acctbal', CAST(c_acctbal AS VARCHAR), c_custkey FROM customer "
    "UNION ALL SELECT 'customer#c_mktsegment', c_mktsegment, c_custkey FROM customer) WHERE k = {key}"
)


def _bindings(body: bytes) -> list[tuple]:
    """Rows of a SPARQL JSON result, one value (or None) per head var."""
    res = json.loads(body)
    cols = res["head"]["vars"]
    return [tuple(b.get(v, {}).get("value") for v in cols) for b in res["results"]["bindings"]]


class Serving:
    """Builds the op script for one pass and checks the answers."""

    def __init__(self, spark, data_dir: str, seed: int, n_customers: int):
        self.spark = spark
        self.data_dir = data_dir
        self.rng = np.random.default_rng([seed, 1])
        self.n_customers = n_customers
        # Zipf over customers: a few hot keys repeat, the long tail does not
        self.perm = self.rng.permutation(n_customers)
        self.ep = None
        # set by a traced write that checkpoints: the store checkpoints
        # lazily, so the next read of rw materialises it
        self.checkpoint_pending = False
        self.tag_n = 0
        self.live_tags: list[tuple[int, str]] = []
        # python model of what the rw namespace holds beyond the base table
        self.model: set[tuple[str, str, str]] = set()

    # ------------------------------------------------------------ setup --
    def ready(self):
        """Open an endpoint over both stores and answer one fixed ASK on
        each namespace. Opening reads parquet footers only: the stores
        build their sources on first use, so an endpoint is ready once it
        has answered. Returns (endpoint, writable base store, {namespace:
        response})."""
        from blazegraph_database_spark.server.rest import SparqlEndpoint
        from blazegraph_database_spark.sources.relational import store_from_sf_dir
        from blazegraph_database_spark.update.update import UpdatableStore

        kb = store_from_sf_dir(self.spark, self.data_dir, KB_TABLES)
        rw_base = store_from_sf_dir(self.spark, self.data_dir, ["customer"])
        ep = SparqlEndpoint(self.spark, UpdatableStore.from_store(kb))
        ep.namespaces["rw"] = UpdatableStore.from_store(rw_base)
        return ep, rw_base, {ns: ep.query(ns, READY_ASKS[ns][0]) for ns in READY_ASKS}

    def check_ready(self, ready, con) -> list[str]:
        """The set-up ASKs of what ``ready`` returned, against DuckDB."""
        bad = []
        for ns, (status, _, body) in ready[2].items():
            got = status == 200 and json.loads(body)["boolean"]
            want = bool(con.execute(READY_ASKS[ns][1]).fetchone()[0])
            if got != want:
                bad.append(f"set-up ASK on {ns} = {got}, DuckDB says {want}")
        return bad

    def setup(self):
        """Ready the endpoint the run serves from."""
        self.ep, self.rw_base, _ = self.ready()
        self.reset()

    def reset(self):
        """Empty the writable namespace back to its base version; the
        stores themselves (and whatever they memoised) stay."""
        from blazegraph_database_spark.update.update import UpdatableStore

        self.ep.namespaces["rw"] = UpdatableStore.from_store(self.rw_base)
        self.model = set()
        self.live_tags = []

    def warm_up(self, threads: int) -> list[str]:
        """One untimed pass: the read-only requests on a thread pool, the
        writable namespace's requests in order on this thread."""
        from concurrent.futures import ThreadPoolExecutor

        ops = self.pass_ops()
        errors = []
        with ThreadPoolExecutor(threads) as pool:
            futs = [(op, pool.submit(self.run, op)) for op in ops if op["ns"] == "kb"]
            for op in ops:
                if op["ns"] != "kb":
                    try:
                        self.run(op)
                    except Exception as e:  # noqa: BLE001
                        errors.append(f"warm-up {op['name']}: {type(e).__name__}: {e}"[:300])
            for op, f in futs:
                if f.exception() is not None:
                    errors.append(f"warm-up {op['name']}: {f.exception()!r}"[:300])
        return errors

    def _key(self) -> int:
        r = int(self.rng.zipf(1.3))
        return int(self.perm[(r - 1) % self.n_customers])

    # -------------------------------------------------------------- ops --
    def pass_ops(self) -> list[dict]:
        """One pass: 7 reads, 1 subject lookup, 8 writes, 2 read-your-writes probes."""
        g = self.rng
        p = {
            "price": int(g.integers(100, 400)) * 1000,
            "seg": SEGMENTS[int(g.integers(0, 5))],
            "nation": int(g.integers(0, 25)),
            "bal": int(g.integers(0, 9000)),
            "prio": PRIOS[int(g.integers(0, 5))],
            "brand": f"Brand#{int(g.integers(1, 26))}",
            "qty": int(g.integers(10, 45)),
            "low": int(g.integers(-1000, -900)),
        }
        reads = [
            {"kind": "read", "name": name, "ns": "kb", "form": form,
             "text": sp.format(**p), "sql": sql.format(**p)}
            for name, (sp, sql) in READS.items()
            for form in [sp.split(None, 1)[0].lower()]
        ]
        k = self._key()
        spo = {"kind": "lookup", "name": "spo", "ns": "kb", "form": "select",
               "text": f"SELECT ?p ?o WHERE {{ <customer:{k}> ?p ?o }}", "key": k}
        # one checkpoint cycle of writes per pass: the 8th write checkpoints
        writes = []
        for verb in ("INSERT", "INSERT", "DELETE", "INSERT") * 2:
            if verb == "INSERT":
                self.tag_n += 1
                key, tag = self._key(), f"t{self.tag_n}"
                self.live_tags.append((key, tag))
            else:
                key, tag = self.live_tags.pop(0)
            writes.append({"kind": "write", "name": verb.lower() + "_data", "ns": "rw",
                           "text": f'{verb} DATA {{ <customer:{key}> <{TAG}> "{tag}" }}',
                           "triple": (f"customer:{key}", TAG, tag), "verb": verb})
        # read-your-writes: the triple the 3rd write deleted, the one the 8th inserted
        hs = {"kind": "probe", "name": "hasstmt", "ns": "rw",
              "params": dict(zip("spo", writes[2]["triple"])), "triple": writes[2]["triple"]}
        s_, p_, o_ = writes[7]["triple"]
        ask_rw = {"kind": "probe", "name": "ask_rw", "ns": "rw", "form": "ask",
                  "text": f'ASK {{ <{s_}> <{p_}> "{o_}" }}', "triple": writes[7]["triple"]}
        r, w = reads, writes
        return [r[0], w[0], r[1], w[1], r[2], w[2], r[3], w[3], hs, r[4], w[4],
                spo, w[5], r[5], w[6], r[6], w[7], ask_rw]

    def run(self, op: dict, tr=None):
        """Execute one request; with a tracer, step through the same calls
        the endpoint makes, one span per layer."""
        if tr is not None and tr.enabled:
            return self._run_traced(op, tr)
        ep = self.ep
        if op["kind"] == "write":
            out = ep.update(op["ns"], op["text"])
            self._apply_model(op)
            return out
        if op["name"] == "hasstmt":
            return ep.hasstmt(op["ns"], op["params"])
        return ep.query(op["ns"], op["text"])

    def _apply_model(self, op):
        if op["verb"] == "INSERT":
            self.model.add(op["triple"])
        else:
            self.model.discard(op["triple"])

    def _run_traced(self, op: dict, tr):
        """One request, one span per layer. Writes go through the endpoint
        as in the timed run; the runner has rebound ``parse_update`` to a
        span, so the parse shows up inside the ``update`` span."""
        from blazegraph_database_spark.plans import compiler
        from blazegraph_database_spark.plans.sparql_parser import parse_sparql_query
        from blazegraph_database_spark.server import rest

        ep = self.ep
        us = ep.namespaces[op["ns"]]
        if op["ns"] == "rw":
            tr.note("update.versions_since_checkpoint",
                    (len(us.versions) - 1) % us.checkpoint_every)
        if op["kind"] == "write":
            with tr.span("update"):
                out = ep.update(op["ns"], op["text"])
            self.checkpoint_pending = (len(us.versions) - 1) % us.checkpoint_every == 0
            self._apply_model(op)
            return out
        if op["ns"] == "rw" and self.checkpoint_pending:
            tr.note("update.checkpoint_request", tr.request)
            self.checkpoint_pending = False
        if op["name"] == "hasstmt":
            with tr.span("rest") as sp:
                out = ep.hasstmt(op["ns"], op["params"])
            sp.counts.update(result_rows=1, result_bytes=len(out[2]))
            return out
        store = us.query_store
        with tr.span("sparql_parser"):
            parsed = parse_sparql_query(op["text"])
        form = parsed[0]
        with tr.span("compiler"):
            if form == "select":
                df = compiler.evaluate(store.with_dt_tracking(), parsed[1])
            elif form == "ask":  # compiler.ask is evaluate(...).take(1)
                df = compiler.evaluate(store, parsed[1]).limit(1)
            else:
                df = compiler.construct(store, parsed[1], parsed[2])
        with tr.span("catalyst") as sp:
            plan = df._jdf.queryExecution().executedPlan()
            sp.counts["plan_nodes"] = plan.treeString().count("\n")
        with tr.span("rest") as sp:
            if form == "ask":
                body = json.dumps({"head": {}, "boolean": len(df.collect()) > 0}).encode()
                rows = 1
            else:
                fmts, default = ((rest._SELECT_FMTS, rest.SRJ) if form == "select"
                                 else (rest._GRAPH_FMTS, rest.NT))
                ser, _ = rest._pick("", fmts, default)
                body = ser(df, ep.max_result_rows)
                rows = (len(json.loads(body)["results"]["bindings"]) if form == "select"
                        else body.count(b"\n"))
            sp.counts.update(result_rows=rows, result_bytes=len(body))
        return 200, "", body

    # ----------------------------------------------------------- checks --
    def check(self, op: dict, out, con, cache: dict, state: set) -> str | None:
        """None when the answer is right, else a one-line reason. ``state``
        is the model as it stood when the op ran."""
        status, _, body = out
        if status != 200:
            return f"HTTP {status}"
        name = op["name"]
        if op["kind"] == "write":
            return None
        if op["kind"] == "probe":
            want = op["triple"] in state
            got = json.loads(body)["found" if name == "hasstmt" else "boolean"]
            return None if got == want else f"{name} {op['triple']} = {got}, model says {want}"
        if name == "spo":
            sql = CUSTOMER_TRIPLES_SQL.format(key=op["key"])
            want = cache.get(sql)
            if want is None:
                want = cache[sql] = oracle.sql_rows(con, sql)
            got = oracle.norm_rows(_bindings(body))
            return None if got == want else f"{name} customer:{op['key']}: {len(got)} rows vs {len(want)}"
        want = cache.get(op["sql"])
        if want is None:
            want = cache[op["sql"]] = oracle.sql_rows(con, op["sql"])
        if op["form"] == "ask":
            got = oracle.norm_rows([(json.loads(body)["boolean"],)])
        elif op["form"] == "construct":
            got = oracle.norm_rows(oracle.nt_triples(body))
        else:
            got = oracle.norm_rows(_bindings(body))
        return None if got == want else f"{name}: {len(got)} rows differ from DuckDB's {len(want)}"

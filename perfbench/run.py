"""Benchmark runner: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload sparql_serving --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into a
scratch directory under ``.perfbench/`` (removed at exit); Spark's local
and temp directories live there too. The loop runs whole passes of the
workload's op script: at least one, and another only while, at the last
pass's length, it would end within ``--seconds``. Every answer is checked
outside the timed window. See README.md.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer split with ``--trace 1``. The exit code is 0 only when every
answer was right and no request failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import SparkProbe, Tracer, covered, self_times  # noqa: E402

WORKLOADS = ("sparql_serving", "operator_batch")
SF = 0.01  # 1.5k customers, 15k orders, 60k lineitems: the engine's oracle scale

SETUP_REPEATS = 3  # set-up takes seconds: a few repeats, one median
WARM_THREADS = 4
PHASES: dict[str, float] = {}  # wall seconds per run phase, printed at exit
E2E = {"setup_s": "s", "pass_cpu_s": "s"}


def _per_layer_names() -> dict[str, str]:
    from batch import GAS_CALLS, HEADLINE

    names = {
        "sparql_parser.parse_s": "s", "update_parser.parse_s": "s",
        "compiler.build_s": "s", "compiler.build_jobs": "count",
        "catalyst.plan_s": "s", "catalyst.plan_nodes": "count",
        "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.failed_tasks": "count",
        "spark.task_s": "s", "spark.gc_s": "s", "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.scan_rows_per_result": "ratio",
        "rest.serialize_s": "s", "rest.result_rows": "count", "rest.result_bytes": "bytes",
        "update.apply_s": "s", "update.versions_since_checkpoint": "count",
        "update.checkpoint_write_s": "s",
    }
    for q in HEADLINE:
        names.update({f"operators.{q}.build_s": "s", f"operators.{q}.exec_s": "s",
                      f"operators.{q}.jobs": "count"})
    for g in GAS_CALLS:
        names.update({f"gas.{g}.s": "s", f"gas.{g}.jobs": "count",
                      f"gas.{g}.shuffle_bytes": "bytes"})
    names.update({"trace.overhead_ratio": "ratio", "bench.fail_ratio": "ratio",
                  "bench.peak_rss_mb": "MB"})
    return names


# ------------------------------------------------------------------ env --
def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time the host gave to
    other guests while this one wanted to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _jvm_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants (the JVM and
    the python workers), with the children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15]) / tick
        except (OSError, ValueError, IndexError):
            continue
    return total


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    t = os.times()
    return t.user + t.system + _jvm_cpu_s()


def _wait_quiet(max_s: float = 10.0, step_s: float = 0.5, busy_cores: float = 0.25) -> float:
    """Wait until the JVM's background work (JIT compilation, GC) has
    drained -- less than ``busy_cores`` of CPU over one ``step_s`` -- or
    ``max_s`` has passed. Returns the seconds waited."""
    t0 = time.perf_counter()
    last = _jvm_cpu_s()
    while time.perf_counter() - t0 < max_s:
        time.sleep(step_s)
        now = _jvm_cpu_s()
        if now - last < busy_cores * step_s:
            break
        last = now
    return time.perf_counter() - t0


def _peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the JVM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# -------------------------------------------------------------- tracing --
def _install_spans(tr: Tracer, module, names: dict[str, str]) -> None:
    """Time calls the program makes internally by rebinding the module
    attributes ``names`` (attribute -> span name) to span-recording
    wrappers (traced runs only)."""
    for attr, span_name in names.items():
        orig = getattr(module, attr)

        def wrapped(*a, _orig=orig, _name=span_name, **k):
            with tr.span(_name):
                return _orig(*a, **k)

        setattr(module, attr, wrapped)


def _layer_metrics(tr: Tracer, n_ops: int, result_rows: float, probe_s: float,
                   measured_s: float, fail_ratio: float) -> dict[str, float]:
    """Reduce the spans to the per-layer metrics: times are mean self
    seconds per call of the layer, counts are means per call, spark.* are
    means per request. The overhead is the time spent reading the status
    store plus the work the traced path adds (``trace.extra_s`` notes)."""
    spans = tr.spans
    selfs = self_times(spans)
    by: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by.setdefault(s.name, []).append(i)

    def mean_self(name):
        ix = by.get(name, [])
        return sum(selfs[i] for i in ix) / len(ix) if ix else 0.0

    def mean_count(name, key):
        ix = by.get(name, [])
        return sum(spans[i].counts.get(key, 0) for i in ix) / len(ix) if ix else 0.0

    def jobs_under(names: set[str]) -> list[int]:
        """Job spans with an ancestor span named in ``names``."""
        out = []
        for j in by.get("spark.job", []):
            p = spans[j].parent
            while p is not None and spans[p].name not in names:
                p = spans[p].parent
            if p is not None:
                out.append(j)
        return out

    def job_sum(ix, key):
        return sum(spans[j].counts.get(key, 0) for j in ix)

    jobs = by.get("spark.job", [])
    per_req: dict[int, list[tuple[float, float]]] = {}
    for j in jobs:
        per_req.setdefault(spans[j].request, []).append((spans[j].start, spans[j].end))
    exec_s = sum(covered(iv, min(a for a, _ in iv), max(b for _, b in iv))
                 for iv in per_req.values())
    ops = max(n_ops, 1)
    m = {
        "sparql_parser.parse_s": mean_self("sparql_parser"),
        "update_parser.parse_s": mean_self("update_parser"),
        "compiler.build_s": mean_self("compiler"),
        "compiler.build_jobs": (len(jobs_under({"compiler"})) / len(by["compiler"])
                                if by.get("compiler") else 0.0),
        "catalyst.plan_s": mean_self("catalyst"),
        "catalyst.plan_nodes": mean_count("catalyst", "plan_nodes"),
        "spark.exec_s": exec_s / ops,
        "spark.scan_rows_per_result": job_sum(jobs, "input_rows") / max(result_rows, 1.0),
        "rest.serialize_s": mean_self("rest"),
        "rest.result_rows": mean_count("rest", "result_rows"),
        "rest.result_bytes": mean_count("rest", "result_bytes"),
        "update.apply_s": mean_self("update"),
        "trace.overhead_ratio": ((probe_s + sum(tr.notes.get("trace.extra_s", [])))
                                 / measured_s if measured_s else 0.0),
        "bench.fail_ratio": fail_ratio,
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"spark.{key}"] = job_sum(jobs, key) / ops
    xs = tr.notes.get("update.versions_since_checkpoint", [])
    m["update.versions_since_checkpoint"] = sum(xs) / len(xs) if xs else 0.0
    # the store checkpoints lazily: the Spark jobs of the first rw read
    # after a checkpointing write are where the checkpoint runs
    ck = [covered(per_req[int(r)], -math.inf, math.inf)
          for r in tr.notes.get("update.checkpoint_request", []) if int(r) in per_req]
    m["update.checkpoint_write_s"] = sum(ck) / len(ck) if ck else 0.0
    from batch import GAS_CALLS, HEADLINE

    for q in HEADLINE:
        b, e = f"operators.{q}.build", f"operators.{q}.exec"
        calls = max(len(by.get(b, [])), 1)
        m[f"operators.{q}.build_s"] = sum(spans[i].duration for i in by.get(b, [])) / calls
        m[f"operators.{q}.exec_s"] = sum(spans[i].duration for i in by.get(e, [])) / calls
        m[f"operators.{q}.jobs"] = len(jobs_under({b, e})) / calls
    for g in GAS_CALLS:
        name = f"gas.{g}"
        calls = max(len(by.get(name, [])), 1)
        ix = jobs_under({name})
        m[f"{name}.s"] = sum(spans[i].duration for i in by.get(name, [])) / calls
        m[f"{name}.jobs"] = len(ix) / calls
        m[f"{name}.shuffle_bytes"] = (job_sum(ix, "shuffle_read_bytes")
                                      + job_sum(ix, "shuffle_write_bytes")) / calls
    return m


# --------------------------------------------------------------- runner --
def run(args, work_dir: str) -> dict:
    import datagen

    t0 = time.time()
    data_dir = datagen.write_tables(os.path.join(work_dir, "data"), args.seed, SF)
    gen_s = time.time() - t0

    from blazegraph_database_spark.session import get_spark

    t_spark = time.time()
    spark = get_spark("perfbench")
    PHASES["spark_start"] = time.time() - t_spark
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        return _run_session(args, spark, sc, data_dir, gen_s)
    finally:
        t_stop = time.time()
        _stop(spark)
        PHASES["stop"] = time.time() - t_stop


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run_session(args, spark, sc, data_dir: str, gen_s: float) -> dict:
    import oracle

    tr = Tracer(enabled=bool(args.trace))
    con = oracle.connect(data_dir)
    if args.workload == "sparql_serving":
        from serving import Serving

        n_cust = con.execute("SELECT COUNT(*) FROM customer").fetchone()[0]
        wl = Serving(spark, data_dir, args.seed, n_cust)
    else:
        from batch import Batch

        wl = Batch(spark, data_dir)

    wrong: list[str] = []
    errors: list[str] = []
    result_rows = {}
    t_phase = time.time()
    wl.setup()
    # warm-up: one untimed pass fills JIT and codegen caches; for the
    # operator batch it is also the oracle check (collect + DuckDB). It
    # sends its requests from WARM_THREADS threads: JIT and codegen compile
    # in the thread that plans a query, so the cold pass overlaps.
    if args.workload == "operator_batch":
        result_rows, bad = wl.check_all(con, WARM_THREADS)
        wrong += bad
    else:
        errors += wl.warm_up(WARM_THREADS)
    PHASES["warm_up"] = time.time() - t_phase
    PHASES["quiesce"] = _wait_quiet()

    # set-up is timed after the warm-up, once the JVM's compiler and GC
    # threads have gone quiet (they otherwise share the CPUs with it and
    # stretch it up to 2.5x); each repeat builds what the first request
    # needs from nothing
    t_phase = time.time()
    setups, setup_cpus = [], []
    for _ in range(SETUP_REPEATS):
        t, c = time.perf_counter(), _tree_cpu_s()
        ready = wl.ready()
        setups.append(time.perf_counter() - t)
        setup_cpus.append(_tree_cpu_s() - c)
    PHASES["setup"] = time.time() - t_phase
    wl.reset()  # timed passes start from version 0 of the writable store
    PHASES["quiesce"] += _wait_quiet()  # the set-up's JIT work, off the pass's CPU

    probe = SparkProbe(spark) if tr.enabled else None
    if tr.enabled and args.workload == "operator_batch":
        from batch import GAS_CALLS
        from blazegraph_database_spark.operators import gas

        _install_spans(tr, gas, {fname: f"gas.{short}" for short, fname in GAS_CALLS.items()})
    elif tr.enabled:
        from blazegraph_database_spark.plans import update_parser

        _install_spans(tr, update_parser, {"parse_update": "update_parser"})
    lat: list[float] = []
    pass_walls: list[float] = []
    pass_cpus: list[float] = []
    done: list[tuple] = []
    attempted = failed = 0
    probe_s = 0.0
    res_rows = 0.0
    t_start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        c_pass = _tree_cpu_s()
        for op in wl.pass_ops():
            attempted += 1
            if tr.enabled:
                req = tr.new_request()
                gid = f"perfbench-{req}"
                sc.setJobGroup(gid, "perfbench")
            t = time.perf_counter()
            try:
                out = wl.run(op, tr)
            except Exception as e:  # noqa: BLE001 - counted, never aborts the run
                failed += 1
                errors.append(f"{op['name']}: {type(e).__name__}: {e}"[:300])
            else:
                lat.append(time.perf_counter() - t)
                done.append((op, out, frozenset(getattr(wl, "model", ()))))
            if tr.enabled:
                tp = time.perf_counter()
                for job in probe.group_jobs(gid):
                    tr.add_child("spark.job", job["start"], job["end"], job["counts"])
                probe_s += time.perf_counter() - tp
                res_rows += result_rows.get(op["name"], 0)
        pass_walls.append(time.perf_counter() - t_pass)
        pass_cpus.append(_tree_cpu_s() - c_pass)
        # no pass is started that would not end within --seconds: a pass
        # that ran on after the JIT had settled would cost less CPU than
        # the first, so the pass count must not flip between runs
        if time.perf_counter() - t_start + pass_walls[-1] > args.seconds:
            break
    measured = time.perf_counter() - t_start
    t_phase = time.time()

    wrong += wl.check_ready(ready, con)
    if args.workload == "sparql_serving":
        cache: dict = {}
        for op, out, state in done:
            why = wl.check(op, out, con, cache, state)
            if why:
                wrong.append(why)
    con.close()
    peak = _peak_rss_mb()
    PHASES["checks"] = time.time() - t_phase

    n = len(lat)
    reads = [dt for (op, _, _), dt in zip(done, lat) if op["kind"] != "write"]
    tl = stats.tail(lat) if n >= stats.MIN_SAMPLES else None
    print(f"# {args.workload} seed={args.seed}: {n} requests ({len(reads)} reads) in "
          f"{len(pass_walls)} passes, {measured:.2f} s measured; "
          + (f"read p50 = {statistics.median(reads):.4f} s; " if reads else "")
          + (f"tail p{tl[0]:.1f} = {tl[1]:.4f} s" if tl
             else f"no tail (fewer than {stats.MIN_SAMPLES} samples)"))
    print("# setups_s=" + json.dumps([round(s, 4) for s in setups])
          + " setup_cpu_s=" + json.dumps([round(s, 3) for s in setup_cpus])
          + f" datagen_s={gen_s:.2f} passes_s=" + json.dumps([round(p, 3) for p in pass_walls])
          + " pass_cpu_s=" + json.dumps([round(p, 3) for p in pass_cpus]))
    by_name: dict[str, list[float]] = {}
    for (op, _, _), dt in zip(done, lat):
        by_name.setdefault(op["name"], []).append(dt)
    print("# median_s_by_op=" + json.dumps(
        {k: round(statistics.median(v), 3) for k, v in by_name.items()}))
    for msg in wrong[:20]:
        print(f"# WRONG {msg}")
    for msg in errors[:20]:
        print(f"# FAILED {msg}")

    if tr.enabled:
        if args.workload == "sparql_serving":
            res_rows = sum(s.counts.get("result_rows", 0) for s in tr.spans if s.name == "rest")
        vals = _layer_metrics(tr, attempted, res_rows, probe_s, measured,
                              failed / attempted if attempted else 0.0)
        vals["bench.peak_rss_mb"] = peak
        units = _per_layer_names()
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        vals = {
            "setup_s": statistics.median(setup_cpus),
            "pass_cpu_s": statistics.median(pass_cpus),
        }
        metrics = {k: {"value": vals[k], "unit": u} for k, u in E2E.items()}
    return {"correct": not wrong, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "blazegraph_database_spark")):
        print(f"perfbench: no blazegraph_database_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    ncpu = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    load0, cpu0 = _loadavg(), _cpu_times()
    try:
        import pyspark

        stamp = {"nproc": ncpu, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                 "spark": pyspark.__version__, "python": platform.python_version(),
                 "commit": _commit(), "loadavg_start": load0}
        result = run(args, work_dir)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 3
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    stamp["loadavg_end"] = _loadavg()
    cpu1 = _cpu_times()
    stamp["cpu_steal_share"] = round((cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1), 4)
    print("# phases_s=" + json.dumps({k: round(v, 2) for k, v in PHASES.items()}))
    print("# env " + json.dumps(stamp))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

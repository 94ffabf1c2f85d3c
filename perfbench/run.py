#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's query families.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process drives one SparkSession on
``local[<cores>]`` (half the machine's cores) and submits each query only
after the previous one has been materialized through the ``noop`` sink.

A run:
  1. reads the fixture tables of the workload's scale factor from
     ``perfbench/data`` and points every file the engine, Spark and Python
     write at a per-run directory under ``perfbench/.work``;
  2. times N_SETUPS engine set-ups, each in a fresh Python process with a
     fresh JVM, from process start until the first query could run; the
     last of these processes then runs the workload;
  3. it runs one pass over the workload's queries in their listed order (the
     first pass in a fresh JVM), then passes in orders drawn from the seed
     until ``--seconds`` have elapsed and at least WARMUP_PASSES +
     CANDIDATE_PASSES of them ran; of the last CANDIDATE_PASSES, the
     STEADY_PASSES with the least hypervisor steal are the steady ones;
  4. outside the timed window, compares every query's result with its
     DuckDB oracle (or, for the two oracle-less queries, checks that it is
     non-empty) and checks that nothing outside ``perfbench/.work`` changed
     in the checkout, except the package zip ``session._ship_package``
     caches under ``.layout_cache/``.

A query that raises is recorded with its error and the run continues. The
last stdout line is one JSON object: the end-to-end metrics with ``--trace
0``, the per-layer metrics with ``--trace 1``. The line before it
summarizes the run (settings, every metric with its unit, the failed
fraction, errors). Every run writes its per-query records, and a traced run
its spans too, under ``perfbench/.work/runs``. The exit code is non-zero
when any query failed or mismatched its oracle.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402

import probes  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
N_SETUPS = 2  # fresh-process set-ups per run; setup_s is their median
# Steady metrics are taken over STEADY_PASSES passes: of the last
# CANDIDATE_PASSES passes of a run, those with the least CPU time stolen by
# the hypervisor for other guests of the host (on the machines measured,
# a pass at 10% steal takes a fifth longer, and the steal comes and goes
# from one pass to the next). At least WARMUP_PASSES passes before the
# candidates warm the JIT (a pass falls by about a third over the two passes
# after the first, and by a few percent more over the next ten, too many to
# wait for). Every run has the same
# number of steady samples, so the tail percentile (the highest with
# TAIL_SAMPLES samples beyond it) is the same in every run. With five
# queries a pass, five steady passes would put the tail on the edge between
# the second- and third-slowest query's samples, where it jumps from one to
# the other; six put it inside the second-slowest's, and the median inside
# the third-slowest's.
WARMUP_PASSES = 2
CANDIDATE_PASSES = 8
STEADY_PASSES = 6
TAIL_SAMPLES = 10
# The driver heap is committed at its full size (-Xms) and its young
# generation has a fixed size (-Xmn), so the JVM's resident set follows the
# pages the engine touches rather than G1's heap-growth and young-sizing
# decisions, which made it vary by a quarter from run to run. Pages are
# still touched on demand, so what the engine holds shows in it.
YOUNG_GEN_MB = 256
# The resident set is read after this many passes, a fixed amount of work:
# G1 lets garbage fill the old generation until it starts marking, so the
# peak rises with every further pass (over ten runs of relational_sf0.1,
# its spread was 0.095 read after nine passes and 0.023 after six).
RSS_PASSES = 6
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def machine() -> tuple[int, int]:
    """(cores, driver heap MiB): half the cores, so that the task threads,
    the JVM's compiler and GC threads, the Python driver and its workers
    together ask for no more CPUs than the machine has; and a quarter of
    the physical memory capped at 3 GiB — the engine's 24g default exceeds
    small machines."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return cores, min(3072, total_kb // 4096)


def isolate(run_dir: str, cores: int, heap_mb: int) -> dict[str, str]:
    """Point every writer at ``run_dir`` (the engine's scratch, Spark's local
    dirs, the JVM's and Python's temp dirs, the working directory that
    receives ``spark-warehouse/`` and ``derby.log``) and size the session.
    Returns the Spark conf the session must be started with."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_GRAFT_LAYOUT_CACHE=os.path.join(WORK, "layout"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    os.chdir(run_dir)
    return {
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Xmn{YOUNG_GEN_MB}m -XX:ParallelGCThreads={cores} "
            f"-XX:ConcGCThreads=1 -XX:CICompilerCount=2 "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


class Session:
    """One engine set-up in a fresh JVM, and its shutdown."""

    def __init__(self, conf: dict[str, str], tracer) -> None:
        self.conf, self.tracer, self.spark = conf, tracer, None

    def setup(self, sf_dir: str) -> dict[str, float]:
        """Start the session and run the fixture layout pass; returns the
        ``perf_counter`` instants at which each ended."""
        from toy_map_reduce_spark.session import get_spark
        from toy_map_reduce_spark.tables import TABLES, _read_path

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=self.conf)
        started = time.perf_counter()
        with self.tracer.span("tables.layout"):
            for t in TABLES:
                _read_path(sf_dir, t)
        return {"started": started, "ready": time.perf_counter()}

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and wait for its JVM (and so its Python
        workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def child(argv: list[str]) -> int:
    """``run.py --child SF_DIR CONF_JSON [RUN_JSON]``: one set-up as a fresh
    process pays it (engine and query-registry imports, session start,
    layout pass). With
    RUN_JSON (workload, seed, seconds, trace, run_dir) it then runs the
    workload on that session. It stops the session, waits for its JVM, and
    prints the ``perf_counter`` instants of each set-up step, and the run's
    records, as one JSON line."""
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    import toy_map_reduce_spark.session  # noqa: F401
    from toy_map_reduce_spark.registry import all_specs

    all_specs()
    out = {"imported": time.perf_counter()}
    tracer = probes.Tracer()
    session = Session(json.loads(argv[1]), tracer)
    try:
        out.update(session.setup(argv[0]))
        if len(argv) > 2:
            out.update(run_passes(session, argv[0], json.loads(argv[2]), tracer))
    finally:
        session.stop()
    print(json.dumps(out), file=result_out, flush=True)
    return 0


def spawn(sf_dir: str, conf: dict[str, str], run: dict | None = None) -> dict:
    """Run ``child`` in a fresh process; returns its output with the set-up
    times measured from the process's start."""
    import subprocess

    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--child", sf_dir, json.dumps(conf)]
    if run is not None:
        cmd.append(json.dumps(run))
    t0 = time.perf_counter()  # CLOCK_MONOTONIC: the same clock in the child
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, check=True, text=True, timeout=170)
    m = json.loads(proc.stdout.strip().splitlines()[-1])
    ready, started, imported = m.pop("ready"), m.pop("started"), m.pop("imported")
    m["setup"] = {"setup_s": ready - t0, "session.start_s": started - imported,
                  "tables.layout_s": ready - started}
    return m


def run_plain(spark, spec, sf_dir: str, rec: dict) -> None:
    from toy_map_reduce_spark.functions.ranks import release_scratch

    t0 = time.perf_counter()
    try:
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        rec["latency_s"] = time.perf_counter() - t0
        release_scratch()


def run_traced(spark, spec, sf_dir: str, rec: dict, tracer, jvm_pid: int, scratch: str) -> None:
    from toy_map_reduce_spark.functions.ranks import release_scratch

    sc = spark.sparkContext
    qid = f"{spec.name}#{rec['pass']}"
    tracer.query = qid
    cpu0, files0 = probes.worker_cpu_s(jvm_pid), probes.tree_stamp(scratch)
    t0 = time.perf_counter()
    try:
        with tracer.span("query", query_name=spec.name):
            sc.setJobGroup(f"b:{qid}", qid)
            with tracer.span("builder"):
                df = spec.builder(spark, sf_dir)
            with tracer.span("spark.executed_plan"):
                rec["spark.exchanges"], rec["functions.python_eval_nodes"] = probes.plan_counts(df)
            sc.setJobGroup(f"q:{qid}", qid)
            w0 = time.time()
            with tracer.span("spark.noop_write"):
                df.write.format("noop").mode("overwrite").save()
            w1 = time.time()
    finally:
        rec["latency_s"] = time.perf_counter() - t0
        rec["spark.cached_mb"] = probes.cached_mb(spark)
        with tracer.span("ranks.release_scratch"):
            rec["ranks.scratch_released"] = release_scratch()
        tracer.query = None
    built = probes.group_stages(spark, f"b:{qid}")
    ran = probes.group_stages(spark, f"q:{qid}")
    rec["operators.build_jobs"] = built["jobs"]
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_write_mb", "spill_mb"):
        rec[f"spark.{k}"] = ran[k]
    rec["spark.exec_s"] = w1 - w0
    rec["spark.dispatch_s"] = probes.uncovered(w0, w1, ran["intervals"])
    rec["tables.load_calls"], rec["tables.load_s"] = tracer.total("tables.load", qid)
    rec["streaming.queries"], rec["streaming.run_s"] = tracer.total("streaming.run_to_table", qid)
    # self time: loads and streaming runs happen only inside the builder
    rec["operators.build_s"] = (tracer.total("builder", qid)[1]
                                - rec["tables.load_s"] - rec["streaming.run_s"])
    rec["spark.plan_s"] = tracer.total("spark.executed_plan", qid)[1]
    rec["ranks.release_s"] = tracer.total("ranks.release_scratch", qid)[1]
    rec["functions.python_worker_cpu_s"] = probes.worker_cpu_s(jvm_pid) - cpu0
    rec["sources.files_written"], rec["sources.mb_written"] = probes.written(
        files0, probes.tree_stamp(scratch))


def check_outputs(spark, specs: dict, sf_dir: str) -> dict[str, str]:
    """Compare each query's result with its DuckDB oracle at ``sf_dir``;
    a query without an oracle must return rows. Returns {query: error}."""
    import duckdb

    from tests.parity import assert_frames_match, fetch_oracle
    from toy_map_reduce_spark.functions.ranks import release_scratch
    from toy_map_reduce_spark.tables import TABLES, table_path

    errors: dict[str, str] = {}
    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for name, spec in specs.items():
            try:
                got = spec.builder(spark, sf_dir).toPandas()
                if spec.oracle is None:
                    if got.empty:
                        raise AssertionError(f"{name}: empty result")
                else:
                    assert_frames_match(got, fetch_oracle(duck, spec.oracle), name=name)
            except Exception as exc:  # noqa: BLE001 — a mismatch is data
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                release_scratch()
    finally:
        duck.close()
    return errors


def tail(latencies: list[float]) -> tuple[float, float]:
    """(quantile, value): the highest quantile of ``latencies`` that has
    TAIL_SAMPLES samples beyond it, linearly interpolated."""
    p = max(0.0, 1.0 - TAIL_SAMPLES / len(latencies))
    ranked = sorted(latencies)
    pos = p * (len(ranked) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ranked) - 1)
    return p, ranked[lo] + (ranked[hi] - ranked[lo]) * (pos - lo)


def per_layer(records: list[dict], setups: list[dict], steady: list[int], cores: int) -> dict:
    """Per-layer metrics: medians over the set-ups for the set-up layers,
    otherwise per-pass totals averaged over the steady passes (for
    ``spark.cached_mb``, the per-pass peak)."""
    from workloads import PER_LAYER

    def per_pass(key: str, agg=sum) -> float:
        return statistics.fmean(
            agg([r.get(key, 0.0) for r in records if r["pass"] == p]) for p in steady)

    out = {}
    for name in PER_LAYER:
        if name in setups[0]:
            out[name] = statistics.median(s[name] for s in setups)
        elif name == "spark.cached_mb":
            out[name] = per_pass(name, max)
        else:
            out[name] = per_pass(name)
    out["spark.core_util"] = out["spark.task_run_s"] / max(1e-9, out["spark.exec_s"] * cores)
    return out


def run_passes(session: Session, sf_dir: str, run: dict, tracer) -> dict:
    """The measured part of a run, on a session that is set up: a first
    pass, steady passes, the peak resident set, then the oracle check."""
    from toy_map_reduce_spark.registry import all_specs
    from workloads import WORKLOADS

    queries = WORKLOADS[run["workload"]].queries
    specs = {q: all_specs()[q] for q in queries}
    spark, jvm_pid = session.spark, session.jvm_pid
    scratch = os.path.join(run["run_dir"], "scratch")
    if run["trace"]:
        probes.patch_engine(tracer)
    rng = random.Random(run["seed"])
    n_passes = 1 + WARMUP_PASSES + CANDIDATE_PASSES  # every run makes at least these
    peak_mb = 0.0
    records: list[dict] = []
    pass_walls: list[float] = []
    pass_steal: list[float] = []
    t_steady = None
    while (t_steady is None or time.perf_counter() - t_steady < run["seconds"]
           or len(pass_walls) < n_passes):
        p = len(pass_walls)
        ticks0 = probes.cpu_ticks()
        t0 = time.perf_counter()
        # the cold pass runs the same order in every run; the seed orders
        # the others
        for name in rng.sample(queries, len(queries)) if p else queries:
            rec = {"pass": p, "query": name}
            try:
                if run["trace"]:
                    run_traced(spark, specs[name], sf_dir, rec, tracer, jvm_pid, scratch)
                else:
                    run_plain(spark, specs[name], sf_dir, rec)
            except Exception as exc:  # noqa: BLE001 — a failed query is data
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
                log(f"pass {p}: {name} FAILED: {rec['error']}")
            records.append(rec)
        pass_walls.append(time.perf_counter() - t0)
        ticks = probes.cpu_ticks()
        pass_steal.append((ticks[0] - ticks0[0]) / max(1, ticks[1] - ticks0[1]))
        log(f"pass {p}: {pass_walls[-1]:.2f}s, host steal {pass_steal[-1]:.3f}")
        if p == RSS_PASSES - 1:
            peak_mb = probes.peak_rss_mb(jvm_pid)
        if t_steady is None:
            t_steady = time.perf_counter()
    spark.sparkContext.setJobGroup("check", "oracle check")
    mismatches = check_outputs(spark, specs, sf_dir)
    log(f"oracle check done, {len(mismatches)} mismatches")
    return {"records": records, "pass_walls": pass_walls, "pass_steal": pass_steal,
            "peak_rss_mb": peak_mb, "mismatches": mismatches,
            "spans": tracer.spans if run["trace"] else []}


def main(argv: list[str]) -> int:
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "toy_map_reduce_spark", "session.py")):
        log(f"no engine package (toy_map_reduce_spark/) in {ROOT}")
        return 2
    wl = WORKLOADS[args.workload]
    # the result must be stdout's last line: send everything else that
    # writes to fd 1 to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    before = probes.tree_stamp(ROOT, skip=WORK)
    sf_dir = os.path.join(HERE, "data", f"sf{wl.sf:g}")
    if not os.path.isdir(sf_dir):
        log(f"no fixture tables at {os.path.relpath(sf_dir, ROOT)}")
        return 2
    cores, heap_mb = machine()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    conf = isolate(run_dir, cores, heap_mb)
    sys.path.insert(0, ROOT)
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.tables import TABLES, _read_path

    missing = [q for q in wl.queries if q not in all_specs()]
    if missing:
        log(f"workload {args.workload} names unknown queries {missing}")
        os.chdir(ROOT)
        shutil.rmtree(run_dir)
        return 2
    for t in TABLES:  # build the re-chunked layout copies once per checkout
        _read_path(sf_dir, t)

    # every set-up runs in a fresh process; the last one then runs the
    # workload
    try:
        setups = []
        for i in range(N_SETUPS - 1):
            setups.append(spawn(sf_dir, conf)["setup"])
            log(f"setup {i + 1}/{N_SETUPS}: {setups[-1]['setup_s']:.2f}s")
        out = spawn(sf_dir, conf, {"workload": args.workload, "seed": args.seed,
                                   "seconds": args.seconds, "trace": args.trace,
                                   "run_dir": run_dir})
        setups.append(out["setup"])
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    after = probes.tree_stamp(ROOT, skip=WORK)
    changed = sorted(
        k for k in set(before) | set(after)
        if before.get(k) != after.get(k)
        and not (k.startswith(".layout_cache/pkg_") and k.endswith(".zip"))
    )
    records, pass_walls, mismatches = out["records"], out["pass_walls"], out["mismatches"]
    errors = {f"{r['query']}#{r['pass']}": r["error"] for r in records if "error" in r}
    candidates = range(len(pass_walls) - CANDIDATE_PASSES, len(pass_walls))
    steady = sorted(sorted(candidates, key=lambda p: out["pass_steal"][p])[:STEADY_PASSES])
    lat = [r["latency_s"] for r in records if r["pass"] in steady and "error" not in r]
    if not lat:
        log(f"no steady query succeeded: {errors}")
        return 1
    failed = len(errors) + len(mismatches)
    attempted = len(records) + len(wl.queries)
    p_tail, v_tail = tail(lat)
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "first_pass_s": pass_walls[0],
        "batch_wall_s": statistics.median(pass_walls[p] for p in steady),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": v_tail,
        "peak_rss_mb": out["peak_rss_mb"],
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "driver_mem": f"{heap_mb}m",
        "jvm_opts": conf["spark.driver.extraJavaOptions"].split(" -D")[0], "sf": wl.sf,
        "queries": len(wl.queries), "passes": len(pass_walls),
        "host_steal_by_pass": [round(x, 4) for x in out["pass_steal"]],
        "metrics": {k: f"{v:.4f} {END_TO_END[k]}" for k, v in e2e.items()},
        "steady_passes": steady,
        "query_tail": f"p{100 * p_tail:.0f} of {len(lat)} steady samples, "
                      f"{sum(1 for x in lat if x > v_tail)} beyond it",
        "failed_frac": f"{failed}/{attempted} = {failed / attempted:.4f}",
        "errors": errors, "mismatches": mismatches, "tree_changed": changed,
    }
    detail = {"summary": summary, "setups": setups, "pass_walls": pass_walls, "queries": records}
    if args.trace:
        layers = per_layer(records, setups, steady, cores)
        layers["trace.batch_wall_s"] = e2e["batch_wall_s"]
        detail.update(per_layer=layers, spans=out["spans"])
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(detail, fh)
    log(f"per-query records written to {os.path.relpath(path, ROOT)}")
    correct = failed == 0 and not changed
    print(json.dumps(summary), file=result_out)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), file=result_out, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(child(sys.argv[2:]))
    sys.exit(main(sys.argv[1:]))

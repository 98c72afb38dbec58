"""spype_spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload etl_relational --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. One client drives Spark ``local[N]``
(N = min(4, nproc)) over a corpus generated from ``--seed``. Each
round runs every op of the workload once, in seeded order; after a
warm-up round, whole rounds run until ``--seconds`` have passed and at
least MIN_ROUNDS rounds have run. Every op is timed as build + collect
and checked outside the timed region (DuckDB oracle or replay); a
raise or a wrong result counts in ``failed``. The last stdout line is
the JSON result; the line before it (``{"env": ...}``) carries the host
fingerprint and per-op detail.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics (see tracing.py) and writes the spans
to ``.perfbench_out/``. ``--workload all`` runs every workload in turn;
``--smoke`` runs each gated workload once per trace mode, and the lake
workload once, at sf0.001 and asserts the printed metric names and units
match BENCHMARK.json.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

#: Rounds run before timing starts (caches, JIT, Python workers).
WARM_ROUNDS = {"lake_mutate_read": 2}
#: Timed rounds per run at least. A fixed count keeps the op mix and
#: the sample count the same in every run; with run_seconds below one
#: round's time, it is the count that ends the window.
MIN_ROUNDS = 2
#: Lake rounds the traced run adds on the other workloads (cold: no
#: warm-up round), so every per-layer metric is reported on every
#: workload.
LAKE_PROBE_ROUNDS = 1
PROBE_REPS = 5


class Ctx:
    """What ops need: session, corpus, DuckDB, ``__spark_entry__`` and
    ``tools/check.py`` (for its canonical result hashing)."""

    def __init__(self, spark, sf_dir, duck, entry, check, work):
        self.spark = spark
        self.sf_dir = sf_dir
        self.duck = duck
        self.entry = entry
        self.check = check
        self.work = work


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _vm_status_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _retained_mb(spark) -> float:
    """JVM heap still live after a full GC at the end of the timed
    window: what caches, memoized plans and tiles, and Spark's own
    bookkeeping hold. Steadier than peak RSS, whose JVM part follows
    G1's load-dependent heap growth; the Python process is left out
    because it also holds this benchmark's DuckDB and expected results."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Released frames free their JVM state over several GC cycles (py4j
    # detach, then the ContextCleaner's broadcast and shuffle cleanup):
    # on this workload mix the live heap settles by the fourth cycle.
    used = []
    for _ in range(6):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.25)
        used.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, ctx, tracer=None, stats=None):
        self.ctx = ctx
        self.tracer = tracer
        self.stats = stats
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_names: dict[int, str] = {}

    def run_round(self, workload, rng, traced=False) -> list[dict]:
        from pyspark.sql import DataFrame

        recs = []
        for op in workload.round(self.ctx, rng):
            tr = self.tracer if traced else None
            if tr is not None:
                if self.stats:
                    self.stats.new_jobs()
                tr.op = len(self.op_names)
                self.op_names[tr.op] = op.name
                tr.enabled = True
                root = tr.begin(f"op.{op.name}")
                b = tr.begin(f"queries.{op.name}")
            rec = {"op": op.name, "kind": op.kind}
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                out = op.run()
                t1 = time.perf_counter()
                build_end = time.time()
                if tr is not None:
                    tr.end(b)
                    a = tr.begin("exec.collect")
                res = out.toArrow() if isinstance(out, DataFrame) else out
                t2 = time.perf_counter()
                if tr is not None:
                    tr.end(a)
                    tr.end(root)
                    tr.enabled = False
            except Exception as e:  # an op failure is a result, not a crash
                if tr is not None:
                    tr.enabled = False
                    tr.end(root)
                self.failed += 1
                self.errors.append(f"{op.name}: {type(e).__name__}: {e}"[:400])
                continue
            try:
                err = op.check(res)
            except Exception as e:  # e.g. an output the hash cannot read
                err = f"check raised {type(e).__name__}: {e}"
            if err is not None:
                self.failed += 1
                self.errors.append(f"{op.name}: {err}")
                continue
            rec.update(build_s=t1 - t0, action_s=t2 - t1, lat_s=t2 - t0)
            if tr is not None:
                self._bookkeeping(rec, out, build_end, op)
            recs.append(rec)
        return recs

    def _bookkeeping(self, rec, out, build_end, op):
        """Spark's own numbers for the op just finished (outside its
        timed region)."""
        from pyspark.sql import DataFrame

        if op.facts is not None:
            rec.update(op.facts(out))
        if self.stats is None:
            return
        jobs = self.stats.new_jobs()
        rec["gc_s"] = self.stats.gc_s
        rec["build_jobs"] = sum(1 for _, t, _ in jobs if t <= build_end)
        rec["jobs"] = len(jobs)
        rec.update(self.stats.stage_totals(s for _, _, ids in jobs for s in ids))
        if isinstance(out, DataFrame):
            rec.update(self.stats.phases(out))
            rec["py_sent"], rec["py_recv"] = self.stats.python_bytes(out)

    def measure(self, workload, rng, seconds, traced=False, rounds=None):
        """Whole rounds until ``seconds`` have passed and at least
        MIN_ROUNDS have run, or exactly ``rounds`` rounds."""
        recs, n = [], 0
        t0 = time.perf_counter()
        while (rounds is None and (time.perf_counter() - t0 < seconds
                                   or n < MIN_ROUNDS)) or (
            rounds is not None and n < rounds
        ):
            recs += self.run_round(workload, rng, traced)
            n += 1
        return recs, n


def _probe(fn, reps=PROBE_REPS, stats=None):
    """Median seconds of ``fn()`` and Spark jobs per call."""
    times, jobs = [], 0
    if stats:
        stats.new_jobs()
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    if stats:
        jobs = len(stats.new_jobs())
    return _median(times), jobs / reps


def _curation_pype():
    """A Pype shaped like ``q_pipe_curation``: fan-out to two tasks, a
    two-input merge, a split — compose only, never executed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spype_spark.functions import dataset_split, word_shingles
    from spype_spark.pipeline.dsl import task

    @task
    def source(df):
        return df

    @task
    def cap(df):
        w = Window.partitionBy("source").orderBy(F.col("doc_id"))
        return df.withColumn("rn", F.row_number().over(w)).filter("rn <= 5")

    @task
    def shingles(df):
        return df.select(F.explode(word_shingles("text", 3)).alias("sh")).distinct()

    @task(n_inputs=2)
    def clean(capped, ev):
        sh = capped.select("doc_id", F.explode(word_shingles("text", 3)).alias("sh"))
        bad = sh.join(F.broadcast(ev), "sh").select("doc_id").distinct()
        return dataset_split(capped.join(bad, "doc_id", "left_anti"))

    return source | (cap, shingles) | clean


def _layer_metrics(ctx, workload, recs, base_recs, runner, tracer, stats,
                   lake_wl, lake_recs, timings, cores):
    from spype_spark.functions import spread_small_scan
    from spype_spark.tables import load_table

    m: dict[str, tuple[float, str]] = {}
    n = max(1, len(recs))

    def mean(key):
        return sum(r.get(key, 0.0) for r in recs) / n

    m["session.import_s"] = (timings["import_s"], "s")
    m["session.start_s"] = (timings["start_s"], "s")

    # direct layer probes (traced, each call its own root span)
    def traced(name, fn):
        def call():
            tracer.op = len(runner.op_names)
            runner.op_names[tracer.op] = name
            tracer.enabled = True
            root = tracer.begin(f"op.{name}")
            try:
                return fn()
            finally:
                tracer.enabled = False
                tracer.end(root)
        return call

    open_s, open_jobs = _probe(traced("probe.tables_open", lambda: [
        load_table(ctx.spark, ctx.sf_dir, t) for t in workload.tables]), stats=stats)
    m["tables.open_s"] = (open_s, "s")
    m["tables.open_jobs"] = (open_jobs, "count")

    build = sum(r["build_s"] for r in recs)
    action = sum(r["action_s"] for r in recs)
    m["queries.build_s"] = (build / n, "s")
    m["queries.build_jobs"] = (mean("build_jobs"), "count")
    m["queries.action_s"] = (action / n, "s")
    m["queries.build_share"] = (build / max(1e-9, build + action), "ratio")

    docs = load_table(ctx.spark, ctx.sf_dir, "documents")
    pype = _curation_pype()
    m["pipeline.compose_s"] = (
        _probe(traced("probe.pipeline_compose", lambda: pype.apply(docs)),
               stats=stats)[0], "s")
    narrow = docs.select("doc_id", "text")
    s, j = _probe(traced("probe.spread_small_scan",
                         lambda: spread_small_scan(narrow)), stats=stats)
    m["functions.spread_small_scan_s"] = (s, "s")
    m["functions.spread_small_scan_jobs"] = (j, "count")

    m["catalyst.analysis_s"] = (mean("analysis"), "s")
    m["catalyst.optimization_s"] = (mean("optimization"), "s")
    m["catalyst.planning_s"] = (mean("planning"), "s")
    m["exec.jobs"] = (mean("jobs"), "count")
    for k in ("stages", "tasks", "failed_tasks"):
        m[f"exec.{k}"] = (mean(k), "count")
    for k in ("task_run_s", "task_cpu_s", "gc_s"):
        m[f"exec.{k}"] = (mean(k), "s")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes"):
        m[f"exec.{k}"] = (mean(k), "bytes")
    wall = sum(r["lat_s"] for r in recs)
    m["exec.core_util"] = (sum(r.get("task_run_s", 0.0) for r in recs)
                           / max(1e-9, wall * cores), "ratio")
    m["python.data_sent_bytes"] = (mean("py_sent"), "bytes")
    m["python.data_received_bytes"] = (mean("py_recv"), "bytes")

    def lat(op):
        return _median(r["lat_s"] for r in lake_recs if r["op"] == f"lake.{op}")

    m["lakehouse.merge_s"] = (lat("merge_upsert"), "s")
    m["lakehouse.delete_dv_s"] = (lat("delete_dv"), "s")
    m["lakehouse.compact_s"] = (lat("compact"), "s")
    m["sqltext.merge_s"] = (lat("sql_merge"), "s")
    amps = [c["added"] / (c["rows"] * lake_wl.row_bytes)
            for c in lake_wl.commits if c["rows"] > 0]
    m["lakehouse.write_amp"] = (_median(amps), "ratio")
    scans = [r for r in lake_recs if r["op"].startswith("lake.scan_")]
    m["lakehouse.scan_plan_s"] = (_median(r["build_s"] for r in scans), "s")
    m["lakehouse.scan_action_s"] = (_median(r["action_s"] for r in scans), "s")
    m["lakehouse.read_s"] = (lat("read_agg"), "s")
    m["lakehouse.files_read_ratio"] = (
        _median(r["files_read_ratio"] for r in scans if "files_read_ratio" in r),
        "ratio")
    m["lake_sink.cdf_read_s"] = (lat("cdf_read"), "s")
    st = lake_wl.stats
    m["lakehouse.files_live"] = (_median(s["files_live"] for s in st), "count")
    m["lakehouse.versions"] = (_median(s["versions"] for s in st), "count")
    m["lakehouse.metadata_bytes"] = (_median(s["metadata_bytes"] for s in st),
                                     "bytes")
    m["lakehouse.commit_p50_s"] = (
        _median(r["lat_s"] for r in lake_recs if r["kind"] == "commit"), "s")
    m["lakehouse.read_p50_s"] = (
        _median(r["lat_s"] for r in lake_recs if r["kind"] == "read"), "s")
    m["lakehouse.space_amp"] = (
        _median(s["dir_bytes"] / s["live_bytes"] for s in st), "ratio")

    base = sum(r["lat_s"] for r in base_recs)
    m["trace.overhead_frac"] = (wall / max(1e-9, base) - 1.0, "ratio")
    layers, residual, op_wall = tracer.self_times()
    m["trace.residual_frac"] = (residual / max(1e-9, op_wall), "ratio")
    selfs = {k: round(v, 4) for k, v in sorted(layers.items())}
    selfs["residual"] = round(residual, 4)
    selfs["op_wall"] = round(op_wall, 4)
    return m, selfs


def run_one(args) -> int:
    for need in ("spype_spark/__init__.py", "tools/check.py",
                 "__spark_entry__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    java_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", shlex.quote(f"spark.local.dir={work}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "pyspark-shell",
    ])
    cores = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    try:
        return _run(args, work, cores)
    finally:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def _run(args, work, cores) -> int:
    import numpy as np

    timings = {}
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entry
    from spype_spark.session import get_spark

    check = _load("perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    bench = _load("perfbench_legacy_bench", os.path.join(ROOT, "bench.py"))
    import fixtures
    import tracing

    timings["import_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    timings["start_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    sf_dir = fixtures.write_corpus(os.path.join(work, "corpus"), args.seed,
                                   args.scale)
    duck = duckdb.connect(config={"temp_directory": os.path.join(work, "duck")})
    for t in check.TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ctx = Ctx(spark, sf_dir, duck, entry, check, work)
    rng = np.random.default_rng(args.seed)
    workload = wl.make(args.workload, work)
    workload.prepare(ctx)
    timings["fixtures_s"] = time.perf_counter() - t0

    tracer = stats = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()
    runner = Runner(ctx, tracer)
    t0 = time.perf_counter()
    warm = []
    for _ in range(WARM_ROUNDS.get(args.workload, 1)):
        warm += runner.run_round(workload, rng)
    timings["warm_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START
    env = _env(spark, bench, cores, args)  # host state before the window
    # start the timed window from the same heap state in every run
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    # the traced run times one untraced round, then one traced round
    recs, rounds = runner.measure(workload, rng, args.seconds,
                                  rounds=1 if args.trace else None)
    env["rounds"] = rounds
    env["setup_phases_s"] = {k: round(v, 3) for k, v in timings.items()}
    env["warm_op_s"] = {r["op"]: round(r["lat_s"], 3) for r in warm}
    env["peak_rss_mb"] = round(
        (_vm_status_kb("self", "VmHWM") + _vm_status_kb(_jvm_pid(), "VmHWM"))
        / 1024, 1)

    if not args.trace:
        lats = [r["lat_s"] for r in recs]
        by_op = {k: _median(r["lat_s"] for r in recs if r["op"] == k)
                 for k in sorted({r["op"] for r in recs})}
        env.update(samples=len(lats),
                   op_p50_by_op={k: round(v, 4) for k, v in by_op.items()})
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(lats) / max(1e-9, sum(lats)), "1/s"),
            "op_p50_s": (_median(lats), "s"),
            "op_max_s": (max(by_op.values(), default=0.0), "s"),
            "retained_mb": (_retained_mb(spark), "MB"),
        }
    else:
        stats = tracing.SparkStats.attach(spark)
        runner.stats = stats
        traced_recs, _ = runner.measure(workload, rng, 0, traced=True,
                                        rounds=rounds)
        if isinstance(workload, wl.LakeWorkload):
            lake_wl, lake_recs = workload, traced_recs
        else:
            lake_wl = wl.LakeWorkload(os.path.join(work, "lake"))
            lake_wl.prepare(ctx)
            lake_recs, _ = runner.measure(lake_wl, rng, 0, traced=True,
                                          rounds=LAKE_PROBE_ROUNDS)
        metrics, selfs = _layer_metrics(
            ctx, workload, traced_recs, recs, runner, tracer, stats,
            lake_wl, lake_recs, timings, cores)
        env["layer_self_s"] = selfs
        env["op_s_untraced_traced"] = {
            r["op"]: [round(r["lat_s"], 4), round(t["lat_s"], 4)]
            for r in recs for t in traced_recs if t["op"] == r["op"]}
        env["spark_bookkeeping"] = stats is not None
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.dump(spans, runner.op_names)
        env["spans_file"] = os.path.relpath(spans, ROOT)

    env["errors"] = runner.errors[:20]
    env["end_loadavg_1m"] = os.getloadavg()[0]
    env["end_calib_single_core_ms"] = bench._calibrate_ms()
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


def _jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else "self"


def _env(spark, bench, cores, args) -> dict:
    """Host fingerprint (not metrics): lets host drift be told apart
    from a regression."""
    la = os.getloadavg()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "nproc": os.cpu_count(),
        "cores": cores,
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "loadavg": [round(x, 2) for x in la],
        "calib_single_core_ms": bench._calibrate_ms(),
    }


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _child(workload, args, trace, scale=None):
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--scale", scale or args.scale]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, res, lines


def run_all(args) -> int:
    bad = 0
    for w in (*wl.WORKLOADS, *wl.EXTRA):
        rc, res, lines = _child(w, args, args.trace)
        print(f"{w}: {lines[-1] if lines else '(no output)'}")
        bad += rc != 0 or not (res and res["correct"])
    return 1 if bad else 0


def smoke(args) -> int:
    """Each gated workload once per trace mode, and the lake workload
    once, at sf0.001; the printed metric names and units must match
    BENCHMARK.json."""
    spec = _spec()
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    assert {w["name"] for w in spec["workloads"]} == set(wl.WORKLOADS)
    runs = [(w, t) for w in wl.WORKLOADS for t in (0, 1)]
    runs += [(w, 0) for w in wl.EXTRA]
    bad = 0
    for w, trace in runs:
        rc, res, _ = _child(w, argparse.Namespace(seed=args.seed, seconds=1),
                            trace, scale="sf0.001")
        got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
        ok = rc == 0 and res["correct"] and got == want[trace]
        print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAIL'}"
              + ("" if ok else f" rc={rc} diff="
                 f"{sorted(set(got.items()) ^ set(want[trace].items()))}"))
        bad += not ok
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=(*wl.WORKLOADS, *wl.EXTRA, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=("sf0.01", "sf0.001"))
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

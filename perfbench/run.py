#!/usr/bin/env python3
"""Benchmark of the datasheet_etl_spark engine: one workload per process.

    python3 perfbench/run.py --workload streaming_drain --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 1

Run from the repository root (any working directory works; paths are
resolved from this file). One run starts ``local[N]`` with N = usable
CPUs and shuffle partitions = N, builds the workload, makes untimed warm-up
passes (two for registry workloads, one for the datasheet pipeline), then
times passes until ``--seconds`` have been measured (at least two). Every
timed job's output is checked after the timed window. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). A human-readable summary goes to stderr, and the full
record, with per-job numbers and run diagnostics, to
``.perfbench/records/<workload>-trace<0|1>.json``. Exit status is 0 when
every check passed, 1 when one failed, 2 when the benchmark cannot run.
``--workload all`` runs every gated workload (those in BENCHMARK.json) in
its own process and prints one table; with ``--trace 1`` it runs each
untraced and traced and reports the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
# a small fixed heap: at 4g, G1's heap-sizing decisions moved peak RSS by
# ~25% between runs of the same workload
DRIVER_MEM = "2g"
MIN_PASSES = 2
MB = 1e6

# every end-to-end metric a run computes; BENCHMARK.json picks the gated
# ones for the JSON line (job_geomean_s is not gated: its smallest jobs
# take ~0.15 s and doubled under host steal)
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "job_geomean_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
# summary only: docs_per_s exists only on datasheet_pipeline, and
# error_rate is 0 on a healthy run (the JSON line carries attempted/failed)
SUMMARY_ONLY = {"docs_per_s": "1/s", "error_rate": "ratio"}
SPAN_LAYERS = [
    "plans.build_s",
    "spark.action_s",
    "pipeline.run_pipeline_s",
    "pipeline.write_result_json_s",
    "exporters.to_review_format_s",
    "exporters.import_script_frame_s",
    "exporters.batch_stats_s",
]


def _unit(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    return "count"


def _declared(kind: str) -> list[str]:
    """The metrics BENCHMARK.json declares: the JSON line carries exactly
    these; the record and the stderr summary carry every metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _isolate(run_dir: str, cpus: int) -> dict[str, str]:
    """Per-run temp and Spark local dirs, so no staging survives into the
    next run, and a PYTHONPATH that lets Python workers import the package
    wherever the benchmark was launched from."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "events", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # spark-submit's short-lived launcher JVM: keep its files in the run too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def _source_digest() -> str:
    h = hashlib.sha256()
    for base in ("datasheet_etl_spark", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
    )
    return r.stdout.strip() or None


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


def _stop(spark, jvm_pid: int) -> None:
    """Stop Spark and wait for the JVM and every Python worker to end."""
    from pyspark import SparkContext

    from perfbench.procstat import alive, tree

    # workers outlive the JVM by a moment and are re-parented when it exits,
    # so remember them now
    workers = [p for p in tree(jvm_pid) if p != jvm_pid]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while True:
        left = [p for p in workers + tree(os.getpid()) if p != os.getpid() and alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _run_pass(spark, jobs, jvm_pid: int, windows: list | None, tag: str) -> dict:
    from datasheet_etl_spark.caching import release_caches

    from perfbench import procstat

    records, outputs = [], []
    cpu0 = procstat.cpu_seconds(jvm_pid)
    for job in jobs:
        # isolation between jobs: cached intermediates and temp views
        release_caches()
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        rec = {"job": job.name, "build_s": None, "action_s": None, "error": None,
               "build_layer": job.build_layer, "act_layer": job.act_layer}
        w0 = time.time()
        t0 = time.perf_counter()
        out = None
        try:
            df = job.build()
            t1 = time.perf_counter()
            rec["build_s"] = t1 - t0
            out = job.act(df)
            rec["action_s"] = time.perf_counter() - t1
        except Exception as exc:  # noqa: BLE001  a failed job is counted, never fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
        rec["wall_s"] = time.perf_counter() - t0
        if windows is not None:
            from perfbench.eventlog import Window

            windows.append(Window(f"{tag}/{job.name}", w0, time.time()))
        records.append(rec)
        outputs.append((job, out))
    return {
        "jobs": records,
        "outputs": outputs,
        "wall_s": sum(r["wall_s"] for r in records),
        "cpu_s": procstat.cpu_seconds(jvm_pid) - cpu0,
    }


def run_workload(args) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "datasheet_etl_spark", "__init__.py")):
        return _fail(f"the datasheet_etl_spark package is not in {ROOT}")
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose from {', '.join(wl.WORKLOADS)}")
    from datasheet_etl_spark.io import DEFAULT_SF_DIR as sf_dir

    if args.workload != "datasheet_pipeline" and not os.path.isfile(
        os.path.join(sf_dir, "lineitem.parquet")
    ):
        return _fail(f"no test data at {sf_dir} (set SPARK_GRAFT_SF_DIR)")

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    dirs = _isolate(run_dir, cpus)
    try:
        return _measure(args, wl, sf_dir, cpus, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, wl, sf_dir: str, cpus: int, dirs: dict[str, str]) -> int:
    import pyarrow
    import pyspark

    from datasheet_etl_spark.session import get_session
    from perfbench import procstat
    from perfbench.oracle import Oracle

    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # -Xms = -Xmx and every heap page touched at start: the heap's RSS is
        # constant, so peak RSS tracks what is not heap and does not depend on
        # how many passes fit in the run (untouched, its spread over ten
        # streaming_drain runs was 0.076; pre-touched, 0.008 over five)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_session(
        app_name=f"perfbench_{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        driver_memory=DRIVER_MEM,
        extra_conf=conf,
    )
    t_session = time.perf_counter()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    java_version = spark.sparkContext._jvm.System.getProperty("java.version")

    warm_passes = 1
    if args.workload == "datasheet_pipeline":
        sheet = wl.Datasheet(spark, args.seed, dirs["out"])
        make_jobs = sheet.jobs
    else:
        names = wl.registry_names(args.workload)
        oracle = Oracle(ROOT, sf_dir)
        fixed = wl.registry_jobs(names, spark, sf_dir, oracle, args.seed)
        make_jobs = lambda: fixed  # noqa: E731
        # short registry jobs keep speeding up after one pass (streaming_drain:
        # 5.1 → 4.6 → 4.1 s over the first three), so they get a second one
        warm_passes = 2

    t_built = time.perf_counter()
    warm = [_run_pass(spark, make_jobs(), jvm_pid, None, "warm") for _ in range(warm_passes)]
    setup_s = time.perf_counter() - T_START
    setup_parts = {
        "session_s": t_session - T_START,
        "workload_s": t_built - t_session,
        "warm_passes_s": setup_s - (t_built - T_START),
    }

    windows: list | None = [] if args.trace else None
    calib = [procstat.calibration_spin()]
    ticks0 = procstat.host_ticks()
    passes = []
    t_measure = time.perf_counter()
    with procstat.RssSampler(jvm_pid) as rss:
        while len(passes) < MIN_PASSES or time.perf_counter() - t_measure < args.seconds:
            passes.append(_run_pass(spark, make_jobs(), jvm_pid, windows, f"pass{len(passes)}"))
    steal = procstat.steal_fraction(ticks0, procstat.host_ticks())
    calib.append(procstat.calibration_spin())

    # checks, outside every timed window
    attempted = failed = 0
    errors: dict[str, str] = {}
    for p in passes:
        for rec, (job, out) in zip(p["jobs"], p.pop("outputs")):
            attempted += 1
            if rec["error"] is None:
                try:
                    rec["error"] = job.check(out)
                except Exception as exc:  # noqa: BLE001  a broken check fails the job
                    rec["error"] = f"check raised {type(exc).__name__}: {exc}"
            if rec["error"] is not None:
                failed += 1
                errors.setdefault(rec["job"], rec["error"])
    warm_errors = {r["job"]: r["error"] for w in warm for r in w["jobs"] if r["error"]}
    for w in warm:
        del w["outputs"]

    walls = [p["wall_s"] for p in passes]
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "job_geomean_s": statistics.median(_geomean([r["wall_s"] for r in p["jobs"]]) for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": rss.peak / MB,
    }
    summary = dict(e2e)
    summary["error_rate"] = failed / attempted
    if args.workload == "datasheet_pipeline":
        summary["docs_per_s"] = sheet.n_docs / e2e["wall_s"]

    _stop(spark, jvm_pid)
    layers = per_job_layers = None
    if args.trace:
        layers, per_job_layers = _layers(passes, windows, dirs["events"])

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "diagnostics": {
            "nproc": cpus,
            "master": f"local[{cpus}]",
            "shuffle_partitions": cpus,
            "driver_memory": DRIVER_MEM,
            "git_rev": _git_rev(),
            "source_digest": _source_digest(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": java_version,
            "python": sys.version.split()[0],
            "sf_dir": sf_dir if args.workload != "datasheet_pipeline" else None,
            "steal_fraction": steal,
            "calibration_spin_s": calib,
            "passes": len(passes),
            "setup": setup_parts,
        },
        "summary": {k: {"value": v, "unit": (END_TO_END | SUMMARY_ONLY)[k]} for k, v in summary.items()},
        "errors": errors,
        "warm_errors": warm_errors,
        "warm": warm,
        "passes": passes,
    }
    if args.trace:
        record["layers"] = layers
        record["per_job_layers"] = per_job_layers
        record["trace_overhead_s"] = trace_overhead(record, _load_record(args.workload, 0))
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records", f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, v in summary.items():
        print(f"{args.workload} {k} {v:.4f} {(END_TO_END | SUMMARY_ONLY)[k]}", file=sys.stderr)
    for k, v in (layers or {}).items():
        print(f"{args.workload} {k} {v:.4f} {_unit(k)}", file=sys.stderr)
    for name, msg in errors.items():
        print(f"{args.workload} FAILED {name}: {msg}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": _unit(k)} for k in _declared("per_layer")}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in _declared("end_to_end")}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _layers(passes: list[dict], windows: list, events_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics: the benchmark's own spans around each layer's
    public call, plus the Spark and streaming layers from the event log.
    Workload values are the median over timed passes of each pass's sum;
    per-job values are the median over passes."""
    import glob

    from perfbench import eventlog

    logs = sorted(glob.glob(os.path.join(events_dir, "*")))
    by_window = eventlog.layer_metrics(logs[0], windows) if logs else {}
    per_pass: list[dict[str, float]] = []
    per_job: dict[str, dict[str, list[float]]] = {}
    for i, p in enumerate(passes):
        total = {k: 0.0 for k in SPAN_LAYERS} | eventlog.empty_metrics()
        for rec in p["jobs"]:
            m = {k: 0.0 for k in SPAN_LAYERS} | by_window.get(f"pass{i}/{rec['job']}", eventlog.empty_metrics())
            m[rec["build_layer"]] += rec["build_s"] or 0.0
            m[rec["act_layer"]] += rec["action_s"] or 0.0
            # plans.build_s / spark.action_s cover every job's two calls;
            # the pipeline.* and exporters.* spans split the datasheet's
            if rec["build_layer"] != "plans.build_s":
                m["plans.build_s"] += rec["build_s"] or 0.0
            if rec["act_layer"] != "spark.action_s":
                m["spark.action_s"] += rec["action_s"] or 0.0
            for k, v in m.items():
                total[k] += v
                per_job.setdefault(rec["job"], {}).setdefault(k, []).append(v)
        per_pass.append(total)
    layers = {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]}
    jobs = {j: {k: statistics.median(v) for k, v in ms.items()} for j, ms in per_job.items()}
    return layers, jobs


def trace_overhead(traced: dict, untraced: dict | None) -> float | None:
    """Traced wall_s minus untraced wall_s, only when the untraced run had
    the same seed and the same sources; None otherwise."""
    def key(r: dict) -> tuple:
        return r["workload"], r["seed"], r["diagnostics"]["source_digest"]

    if untraced is None or key(untraced) != key(traced):
        return None
    return traced["summary"]["wall_s"]["value"] - untraced["summary"]["wall_s"]["value"]


def _load_record(workload: str, trace: int) -> dict | None:
    path = os.path.join(STATE, "records", f"{workload}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def run_all(args) -> int:
    """Every gated workload in its own process; one table of every
    end-to-end metric (and, with --trace 1, the traced run's overhead)."""
    sys.path.insert(0, ROOT)
    from perfbench.workloads import GATED

    rc = 0
    rows = []
    for w in GATED:
        for trace in (0, 1) if args.trace else (0,):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            rc = max(rc, r.returncode)
            rec = _load_record(w, trace) if r.returncode in (0, 1) else None
            if rec is None:
                rows.append(f"{w}: run failed (exit {r.returncode})")
                continue
            if trace:
                over = rec.get("trace_overhead_s")
                rows.append(f"{w} trace_overhead_s {over:.4f} s" if over is not None else f"{w} trace_overhead_s n/a")
                continue
            for k, m in rec["summary"].items():
                rows.append(f"{w} {k} {m['value']:.4f} {m['unit']}")
            for k in SUMMARY_ONLY:
                if k not in rec["summary"]:
                    rows.append(f"{w} {k} n/a {SUMMARY_ONLY[k]}")
    print("\n".join(rows))
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0, help="seconds to time (at least two passes)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

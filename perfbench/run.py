"""Benchmark for jvector_spark: two closed-loop workloads on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload point --seed 1 --seconds 10 --trace 0

``--workload`` is ``point``, ``bulk`` or ``all`` (each workload in turn,
in its own process). ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` tags every Spark job with the operation that caused
it, writes a Spark event log and reports the per-layer metrics instead.
The last line of standard output is one JSON object; the lines before it
are a readable report. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_run"

# name -> (unit, better); the order is the report's order.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "correct_frac": ("frac", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "ivf_search_p50_s": ("s", "lower"),
    "ivf_recall10": ("recall", "higher"),
    "index_bytes_per_vec_byte": ("ratio", "lower"),
    "work_rows_per_s": ("rows/s", "higher"),
}

WORKLOAD_NAMES = ("point", "bulk")
OPS = ("index.fit", "index.search_bcast", "index.search_dist", "index.threshold",
       "index.append", "index.delete", "index.compact", "index.load",
       "graph.build", "graph.search", "exact.knn_join")
SEARCH_OPS = ("index.search_bcast", "index.search_dist")
KERNEL_STAGES = ("setup", "lut", "mask", "adc", "topk", "rerank")


def per_layer_names() -> list[str]:
    from perfbench.tracing import OP_COUNTERS

    names = [f"{op}.{c}" for op in OPS for c in OP_COUNTERS]
    names += [f"{op}.kernel_{s}_s" for op in SEARCH_OPS for s in KERNEL_STAGES]
    names += [f"{op}.{c}" for op in SEARCH_OPS
              for c in ("visited_rows", "reranked_rows", "visited_per_result")]
    names += ["graph.search.visited_rows",
              "quantize.kmeans_s", "quantize.pq_fit_s", "quantize.pq_encode_rows_per_s",
              "session.start_s", "session.warmup_s",
              "index.write_amp", "index.segments_per_search",
              "trace.untagged_jobs", "trace.overhead_frac", "trace.op_cover_frac"]
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test smoke run")
    return p.parse_args(argv)


# ------------------------------------------------------------- environment
def pin_env(run_dir: Path) -> dict:
    """Pin the session's environment (cores, driver memory, worker import
    path, scratch dirs) and return what the report records about the host."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gib = int(max(1, min(4, ram_gib // 4)))
    for sub in ("local", "tmp", "events"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["JVS_DRIVER_MEMORY"] = f"{driver_gib}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # every JVM, the spark-submit launcher included, keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    import numpy
    import pyspark

    return {"nproc": cpus, "ram_gib": round(ram_gib, 1), "driver_memory": f"{driver_gib}g",
            "spark": pyspark.__version__, "numpy": numpy.__version__,
            "python": platform.python_version()}


def start_session(run_dir: Path, traced: bool):
    from jvector_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # G1 grows the heap by measured pause times, so the driver's peak RSS
        # varied by a fifth between identical runs; the serial collector
        # sizes it by live data alone
        "spark.driver.extraJavaOptions": "-Djava.awt.headless=true -XX:+UseSerialGC",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "events").as_uri(),
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until every process it started
    has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this process's max RSS, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ------------------------------------------------------------------- a run
def measure(args, run_dir: Path) -> tuple[dict, list[str]]:
    env = pin_env(run_dir)
    sys.path.insert(0, str(ROOT))
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Context

    traced = bool(args.trace)
    t = time.perf_counter()
    spark = start_session(run_dir, traced)
    start_s = time.perf_counter() - t
    try:
        rec = tracing.Recorder(spark.sparkContext, tagged=traced)
        ctx = Context(spark, rec, str(run_dir), args.seed, args.scale, traced)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        rec.set_phase("warmup")
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        rec.set_phase("timed")
        setup_s = time.perf_counter() - _T0
        t_loop = time.perf_counter()
        step = 0
        try:
            # the loop ends at the step boundary nearest to --seconds
            while True:
                wl.step(step)
                step += 1
                elapsed = time.perf_counter() - t_loop
                if step >= wl.min_steps and elapsed + elapsed / step / 2 >= args.seconds:
                    break
        except Exception as exc:  # an operation that raises is a failed operation
            ctx.attempted += 1
            ctx.failed += 1
            ctx.problems.append(f"step {step}: {type(exc).__name__}: {exc}")
        rss = peak_rss_mb(spark)
        extra = wl.extra_traced() if traced else {}
    finally:
        stop_session(spark)

    work = work_rate(rec.timed())
    e2e = {
        "setup_s": setup_s,
        "correct_frac": (ctx.attempted - ctx.failed) / max(ctx.attempted, 1),
        "peak_rss_mb": rss,
        "ivf_search_p50_s": wl.p50("index.search_bcast"),
        "ivf_recall10": statistics.fmean(wl.recalls) if wl.recalls else 0.0,
        "index_bytes_per_vec_byte": wl.index_bytes_ratio,
        "work_rows_per_s": work,
    }
    report = [f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
              f"trace={args.trace} scale={args.scale} steps={step}",
              "env " + json.dumps(env, sort_keys=True)]
    report += [f"problem: {p}" for p in ctx.problems[:20]]
    report.append(f"  {'failed_frac':28s} {ctx.failed / max(ctx.attempted, 1):14.6g}"
                  f" {'frac':10s} lower")
    for name, value in e2e.items():
        unit, better = END_TO_END[name]
        report.append(f"  {name:28s} {value:14.6g} {unit:10s} {better}")
    for name, (value, unit, better) in wl.headline().items():
        report.append(f"  {name:28s} {value:14.6g} {unit:10s} {better}")

    if traced:
        metrics = per_layer(rec, wl, run_dir, tracing, extra, start_s, warmup_s, work)
    else:
        metrics = e2e
        OUT.mkdir(exist_ok=True)
        with open(OUT / f"history-{args.workload}.jsonl", "a") as fh:
            fh.write(json.dumps({"scale": args.scale, "work_rows_per_s": work}) + "\n")
    units = {n: u for n, (u, _) in END_TO_END.items()}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(v), "unit": units.get(n) or layer_unit(n)}
                    for n, v in metrics.items()},
    }
    return result, report


def work_rate(spans) -> float:
    """Rows per second of the timed calls, with each call's wall taken as
    the median wall of its operation, so that a call slowed by something
    outside the program does not move the rate."""
    walls: dict[str, list[float]] = {}
    for s in spans:
        walls.setdefault(s.name, []).append(s.wall_s)
    wall = sum(len(w) * statistics.median(w) for w in walls.values())
    return sum(s.rows for s in spans) / wall if wall else 0.0


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_per_s"):
        return "rows/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    if last.endswith(("_frac", "_amp", "per_result", "per_search")):
        return "ratio"
    return "count"


def per_layer(rec, wl, run_dir: Path, tracing, extra: dict, start_s: float,
              warmup_s: float, work: float) -> dict:
    jobs, tasks = tracing.parse_events(tracing.read_event_log(str(run_dir / "events")))
    got = tracing.attribute(rec.spans, jobs, tasks)
    for op in SEARCH_OPS + ("graph.search",):
        tel = wl.telemetry.get(op)
        spans = rec.timed(op)
        if tel is None or not spans:
            continue
        n = len(spans)
        got[f"{op}.visited_rows"] = tel.visited_rows / n
        if op == "graph.search":
            continue
        got[f"{op}.reranked_rows"] = tel.reranked_rows / n
        results = sum(s.results for s in spans)
        got[f"{op}.visited_per_result"] = tel.visited_rows / max(results, 1)
        for stage, sec in tel.stage_seconds.items():
            got[f"{op}.kernel_{stage}_s"] = sec / n
    got.update(extra)
    got["session.start_s"] = start_s
    got["session.warmup_s"] = warmup_s
    got["index.segments_per_search"] = (statistics.fmean(wl.segments_seen)
                                        if wl.segments_seen else 0.0)
    got["trace.op_cover_frac"] = tracing.cover_frac(rec.spans)
    got["trace.overhead_frac"] = overhead_frac(wl.name, wl.ctx.scale, work)
    return {name: float(got.get(name, 0.0)) for name in per_layer_names()}


def overhead_frac(workload: str, scale: str, traced_work: float) -> float:
    """How much lower the traced run's throughput is than the median of the
    untraced runs of this workload and scale recorded in this checkout (0 if
    none)."""
    path = OUT / f"history-{workload}.jsonl"
    if not path.exists() or traced_work <= 0:
        return 0.0
    with open(path) as fh:
        past = [r["work_rows_per_s"] for r in map(json.loads, filter(str.strip, fh))
                if r["scale"] == scale]
    return statistics.median(past) / traced_work - 1.0 if past else 0.0


def run_all(args) -> int:
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        code = max(code, subprocess.run(cmd, cwd=ROOT).returncode)
    return code


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "jvector_spark" / "__init__.py").is_file():
        print(f"perfbench: no jvector_spark package under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    run_dir = OUT / f"{args.workload}-{os.getpid()}"
    try:
        result, report = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("\n".join(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

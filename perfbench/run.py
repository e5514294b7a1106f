"""Benchmark of the mapr_plugins_spark engine: the reference's ingest path,
batch and stream, with per-layer attribution.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a JSON report with the environment
record and the detail behind each figure; both, and the spans of a
traced run, are also written to ``.perfbench_out/``. Exits 2 without a
result when the engine package is not in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEM = "2g"
#: Length of the traced window as a share of the untraced one. Per-layer
#: figures carry no bound, and a traced run also times each layer, the
#: query keys and a local[1] pass, so its window is kept short.
TRACED_SHARE = 0.5
#: Span-name prefixes grouped into one self-time figure each; any other
#: span (a pass or operation root) is the benchmark's own glue.
SPAN_GROUPS = {"pipeline": "pipeline.", "sinks.document": "sinks.document.",
               "operators": "operators.", "exec": "exec."}


class Ctx:
    """Run-wide state the workloads share."""

    def __init__(self, args, scratch: str, cores: int):
        from probe import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.scratch = scratch
        self.cores = cores
        self.bench_dir = BENCH_DIR
        self.spark = None
        self.counters = None
        self.tracer_off = Tracer(enabled=False)
        self.spark_conf = {
            "spark.sql.warehouse.dir": f"{scratch}/warehouse",
            "spark.local.dir": f"{scratch}/local",
            # a fixed heap (-Xms = the driver memory) keeps the JVM's resident
            # size independent of when the heap happened to grow
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }


def _env(scratch: str, cores: int) -> None:
    """Environment of the engine and its Python workers; set before
    pyspark starts the JVM."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{scratch}/{d}", exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{scratch}/local"
    os.environ["TMPDIR"] = f"{scratch}/tmp"
    # Python workers import the package (the maprstream reader lives in it)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _environment_record(ctx, master: str) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": ctx.cores,
        "master": master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
    }


def _end_to_end(rec: dict, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    from probe import p50_and_tail

    lat = p50_and_tail(rec["lat"])
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "rows_per_s": rec["rows_per_s"],
        "pass_s": statistics.median(rec["pass_s"]),
        "latency_ms_p50": lat["p50"],
        "latency_ms_tail": lat["tail"],
    }
    detail = {"latency_tail_pct": lat["tail_pct"], "latency_samples": lat["n"],
              "window_s": rec["wall_s"], "pass_list_s": rec["pass_s"],
              **rec.get("detail", {})}
    return metrics, detail


def _traced(ctx, wl, untraced: dict) -> tuple[dict, dict]:
    """The traced window, each layer's boundary timings and, on
    ingest_batch, the query keys. Returns (per-layer metrics, detail)."""
    from probe import SparkCounters, Tracer, dir_bytes, exec_metrics, process_tree
    from probe import tree_write_bytes
    from workloads import QueryKeys, log

    ctx.counters = SparkCounters(ctx.spark)
    tracer = Tracer(enabled=True)
    before = ctx.counters.snapshot()
    io0 = tree_write_bytes(process_tree())
    rec = wl.window(ctx.seconds * TRACED_SHARE, tracer)
    io1 = tree_write_bytes(process_tree())
    out = exec_metrics(ctx.counters.delta(before, ctx.counters.snapshot()), rec["wall_s"],
                       ctx.cores)
    out["io.write_mb"] = (io1 - io0) / 2**20
    out["io.tmp_left_mb"] = dir_bytes(f"{ctx.scratch}/tmp") / 2**20
    log("traced window done")
    out.update(wl.layers(rec))
    log("layer timings done")
    if wl.name == "ingest_batch":
        out.update(QueryKeys(ctx, wl.ops).run(tracer))
        log("query keys done")

    def group(name: str) -> str:
        return next((g for g, pre in SPAN_GROUPS.items() if name.startswith(pre)), "bench")

    self_t = tracer.self_times()
    grouped = {g: 0.0 for g in ("bench", *SPAN_GROUPS)}
    for name, secs in self_t.items():
        grouped[group(name)] += secs
    out.update({f"trace.self.{g}_s": secs for g, secs in grouped.items()})
    acct = tracer.op_accounting(lambda name: group(name) != "bench")
    out["trace.accounted"] = acct["accounted"]
    out["trace.overhead_pct"] = 100 * (
        statistics.median(rec["pass_s"]) / untraced["pass_s"] - 1
    )
    if wl.name == "ingest_batch":
        out.update(wl.reference_pass(untraced["rows_per_s"]))
        log("local[1] reference pass done")
    detail = {"self_times_s": self_t, "accounting": acct,
              "traced_pass_list_s": rec["pass_s"], "spans": tracer.spans}
    return out, detail


def _stop_engine(spark) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), and wait
    until every process this run started has ended. The JVM is closed and
    waited for even when stopping Spark fails, as it does when a
    termination signal interrupted a call into the JVM."""
    from pyspark import SparkContext

    from probe import process_tree

    started = [p for p in process_tree() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while any(map(_running, started)) and time.monotonic() < deadline:
            time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "mapr_plugins_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(mapr_plugins_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2

    sys.path[:0] = [BENCH_DIR, ROOT]
    from probe import RssSampler, cpu_times, steal_share
    from workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _env(scratch, cores)
    ctx = Ctx(args, scratch, cores)
    try:
        with RssSampler() as rss:
            from mapr_plugins_spark.session import get_session

            t0 = time.perf_counter()
            ctx.spark = get_session(app_name=f"perfbench-{args.workload}",
                                    extra_conf=ctx.spark_conf)
            ctx.spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            master = ctx.spark.sparkContext.master
            wl = WORKLOADS[args.workload](ctx)
            setup_s = session_s + wl.set_up()
            log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")
            cpu0 = cpu_times()
            rec = wl.window(args.seconds, ctx.tracer_off)
            steal = steal_share(cpu0, cpu_times())
            metrics, detail = _end_to_end(rec, setup_s, rss.peak)
            detail.update(rss_mb_at_peak=rss.at_peak, cpu_steal_share=steal)
            log(f"window: {json.dumps(metrics)}")
            if args.trace:
                layers, traced = _traced(ctx, wl, metrics)
            wl.check()
            log("output checks done")
    finally:
        try:
            if ctx.spark is not None:
                _stop_engine(ctx.spark)
                log("engine stopped")
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(scratch))

    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        shown = {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec["per_layer"]}
        with open(f"{stem}-spans.json", "w") as fh:
            json.dump(traced.pop("spans"), fh)
        detail.update(untraced=metrics, **traced)
    else:
        shown = metrics
    report = {"workload": args.workload, "env": _environment_record(ctx, master), **detail}
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump({"report": report, "metrics": shown}, fh, indent=1)
    print(json.dumps({"report": report}))
    ops = wl.ops
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point: one workload, one run, one JSON line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload wm_roundtrip_gemm --seed 1 --seconds 30 --trace 0

The run starts a ``local[<cores>]`` Spark session, warms up with two
operations on inputs of their own (a small one, then one of the measured
size), then runs operations back to back (a closed loop, one client) until
``--seconds`` have passed; each operation gets a freshly generated input,
written before it is timed, so no cache of the program can answer for it.  Outputs are checked after
every operation.  The last stdout line is ``{"correct", "attempted",
"failed", "metrics"}``: the ``end_to_end`` metrics of ``BENCHMARK.json``
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``.  A traced
run also runs every operation untraced on a copy of the same input, to
report the tracing overhead, to read the Spark counters of the untraced
operation, and to check that the composed layer calls decode exactly what
``embed_watermark``/``extract_watermark`` decode.  Spans are written to
``.perfbench/traces/`` when the run ends.  Per-operation timings go to
stderr.

End-to-end metrics:

- ``setup_s``: process start to the first timed operation: session start,
  warm-up input generation and the warm-up operations.
- ``op_rows_per_s``: median over operations of input rows per second of a
  whole operation (watermark: embed + write-back + blind extract; dedup:
  candidate pairs + connected components, both written).
- ``quality_ratio``: median over operations; watermark: CRC-valid decodes /
  total decodes of the blind extract; dedup: share of the planted
  near-duplicate pairs among the candidates.
- ``ok_op_ratio``: operations whose output checks passed / attempted.
- ``peak_rss_mb``: median over operations of each operation's peak resident
  memory of the process tree (this Python process, the JVM and the Python
  workers), sampled every 0.1 s.  A median, not the run-wide peak: single
  short spikes set that peak, and their height varied 2x between runs.

Per-layer metrics are medians over operations of the traced spans' self
times and of the counters named in ``BENCHMARK.json``; layers a workload
does not run report 0.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import RssSampler, SparkCounters, Tracer, tree_pids  # noqa: E402
from workloads import WORKLOADS, cleanup  # noqa: E402

#: per-layer metrics reported as the value after the last operation, not
#: as a median over operations (they track what the run leaves behind)
LAST_VALUE = ("spark.persisted_rdds_after", "spark.storage_mb_after")

#: set by SIGTERM: the run stops starting operations, cleans up and exits
#: without a result
TERMINATED = threading.Event()


def _terminate(*_) -> None:
    TERMINATED.set()
    raise SystemExit(143)


class Context:
    def __init__(self, seed: int, scale: str, workdir: str, spark=None) -> None:
        self.seed, self.scale, self.workdir, self.spark = seed, scale, workdir, spark
        self.tracer = Tracer()
        self.rss = None

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(workdir: str):
    """``local[<cores>]`` session with every scratch path inside the run's
    work directory.  Only ``extra_conf`` is passed beyond app and master."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    from vectordb_watermark_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            # C1 only: with the C2 tier the JVM kept compiling, and speeding
            # operations up 30-50%, for minutes, longer than a run can wait.
            # C1 alone gets a 48 MB code cache, which filled after ~6
            # operations and flushed (a ~20% slower operation); 240 MB is
            # the size the JVM gives both tiers.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job of a run for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:
        # a run terminated mid-call leaves the gateway connection broken;
        # the JVM is still stopped below
        traceback.print_exc()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run_op(ctx, wl, tag, rows: int, traced: bool) -> dict:
    """One operation on its own input: untraced (timed), then, in a traced
    run, the traced composition on a second copy of the same input."""
    inp = wl.make_input(tag, rows, 2 if traced else 1)
    rec: dict = {}
    try:
        counters = SparkCounters(ctx.spark.sparkContext) if traced else None
        if counters:
            counters.mark()
        ctx.rss.start_window()
        w0, t0 = time.time(), time.perf_counter()
        r = wl.run(inp, inp["paths"][0], ctx.path(f"out-{tag}-0"))
        wall = time.perf_counter() - t0
        rec["peak_rss_mb"] = ctx.rss.window / 1e6
        if counters:
            rec.update(counters.read(w0, time.time()))
        errors = wl.check(inp, r)
        rec.update(wl.measures(inp, r))
        if traced:
            ctx.tracer.op = tag
            with ctx.tracer.span("op"):
                tr = wl.run_traced(inp, inp["paths"][1], ctx.path(f"out-{tag}-1"))
            ctx.tracer.op = None
            rec["trace_overhead_ratio"] = tr.pop("traced_s") / wall
            if tr.pop("decodes") != rec["decodes"]:
                errors.append(f"traced decode counts differ from the untraced run: "
                              f"{rec['decodes']}")
            rec.update(tr)
            rec.update({f"{k}_s": v for k, v in ctx.tracer.self_times(tag).items()})
    except Exception:
        traceback.print_exc()
        errors = [f"operation {tag} raised"]
    finally:
        cleanup(inp["paths"] + [ctx.path(f"out-{tag}-{c}") for c in range(2)])
    rec["errors"] = errors
    print(f"operation {tag}: " + " ".join(
        f"{k}={v:.4g}" for k, v in rec.items() if isinstance(v, float)), file=sys.stderr)
    if errors:
        print(f"operation {tag}: " + "; ".join(errors), file=sys.stderr)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' is for the benchmark's own tests")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)

    if not os.path.isfile(os.path.join(ROOT, "vectordb_watermark_spark", "__init__.py")):
        print(f"no vectordb_watermark_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    traced = bool(args.trace)
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    ctx = Context(args.seed, args.scale, workdir)
    results: list[dict] = []
    extra: dict = {}
    try:
        with RssSampler(interval=0.1) as ctx.rss:
            t0 = time.perf_counter()
            ctx.spark = start_spark(workdir)
            extra["session.get_spark_s"] = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](ctx)
            # warm-up on inputs of their own, not scored: a small one takes
            # the cold start, one of the measured size warms the plan shapes
            # and the JIT state that depend on the input size
            for tag, rows in (("warmup0", wl.warm_rows), ("warmup1", wl.rows)):
                if not TERMINATED.is_set():
                    run_op(ctx, wl, tag, rows, traced)
            setup_s = time.perf_counter() - T_START
            ctx.tracer.spans.clear()

            t_measure = time.perf_counter()
            while not TERMINATED.is_set() and (
                    not results or time.perf_counter() - t_measure < args.seconds):
                results.append(run_op(ctx, wl, len(results), wl.rows, traced))
            if traced and not TERMINATED.is_set():
                ctx.tracer.op = "probe"
                extra.update(wl.probe())
                extra.update({f"{k}_s": v for k, v in ctx.tracer.self_times("probe").items()})
                os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
                ctx.tracer.write(os.path.join(
                    ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    if TERMINATED.is_set():
        return 143

    ok = [r for r in results if not r["errors"]]
    values: dict = {}
    for name in units:
        if name in LAST_VALUE:
            values[name] = float(results[-1].get(name, 0.0)) if results else 0.0
        elif name in extra:
            values[name] = float(extra[name])
        else:
            vals = [r[name] for r in ok if name in r]
            values[name] = float(statistics.median(vals)) if vals else 0.0
    if not traced:
        values["setup_s"] = setup_s
        values["ok_op_ratio"] = len(ok) / len(results)
    print(json.dumps({
        "correct": bool(results) and len(ok) == len(results),
        "attempted": len(results),
        "failed": len(results) - len(ok),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

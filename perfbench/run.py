"""Order-book benchmark: seeded tapes through the public fold operators.

    python3 perfbench/run.py --workload deep_book --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. It makes (or reuses) the seed's tape
under ``.perfbench/``, starts Spark through the package's ``get_spark`` and
sets up ``SETUPS`` times: a session start plus one untimed warm-up
operation, the later ones after stopping the session before. Then it times
``round(--seconds / NOMINAL_OP_SECONDS)`` operations back to back, checks
each one's output against the reference fold in ``reference.py`` and prints
one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times the same
operations, then half as many again with the perf UDF profiler on, reading
the plan metrics after each. It times a scan and the kernel on their own,
writes its spans to ``.perfbench/traces/`` and reports the per-layer
metrics, with the traced operations' slowdown against the untraced ones.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

import layers
from tapes import SPECS, TINY_SPECS, load_or_make
from workloads import BatchFold, StreamFold

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CPUS = 4  # local[4]; the package's session then shuffles to width 8
SETUPS = 2  # session starts per run, each followed by a warm-up operation
# Seconds one timed operation takes on the 4-core box the README's figures
# come from. A run times round(--seconds / this) operations, so every run
# with the same --seconds attempts the same operations, however fast it goes.
NOMINAL_OP_SECONDS = {"deep_book": 2.0, "live_book": 17.0}
# No timed operation starts later than CAP_FACTOR * --seconds after the
# first, which keeps a run of a much slower program within its time limit.
CAP_FACTOR = 4
SCAN_REPEATS = 3
KERNEL_CHUNK = 65_536  # the session's Arrow batch size, for the unkeyed kernel call

END_TO_END = ("events_per_s", "batch_ms.p50", "setup_s", "worker_peak_rss_mb")
UNITS = {
    "events_per_s": "events/s", "batch_ms.p50": "ms", "setup_s": "s",
    "worker_peak_rss_mb": "MB", "session.start_s": "s", "scan.s": "s",
    "scan.rows": "count", "exchange.tasks": "count", "exchange.empty_tasks": "count",
    "exchange.shuffle_bytes": "bytes", "exchange.shuffle_write_ms": "ms", "sort.ms": "ms",
    "sort.peak_mb": "MB", "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.total_ms": "ms", "python.bytes_in": "bytes", "python.bytes_out": "bytes",
    "python.rows_out": "count", "worker.kernel_s": "s", "worker.serde_s": "s",
    "kernel.events_per_s": "events/s", "stream.add_batch_ms.p50": "ms",
    "stream.plan_ms.p50": "ms", "stream.wal_ms.p50": "ms", "state.update_ms": "ms",
    "state.commit_ms": "ms", "state.bytes": "bytes", "state.rows": "count",
    "state.partitions": "count", "trace.overhead_pct": "%",
}
PER_LAYER = tuple(k for k in UNITS if k not in END_TO_END)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("deep_book", "live_book"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="small tapes, for the self-test")
    return p.parse_args(argv)


def configure_env(work: Path) -> None:
    """Keep everything Spark and its workers write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # Every JVM, the launcher's too: no hsperfdata files in the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )))
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def start_session(previous):
    from polars_order_book_spark import get_spark

    if previous is not None:
        previous.stop()
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, its JVM and every process below it, and wait until each
    has ended. Python workers can outlive the JVM for a moment, re-parented
    away from this process, so they are followed by the pids they had."""
    pids = layers.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    layers.wait_ended(pids)


def time_kernel(spec, tape) -> float:
    """Events per second of the fold kernel called in this process on the
    same tape: in Arrow-batch-sized chunks carrying the book across chunks
    for one book, else once per book. 0 when the kernel is not there."""
    import numpy as np

    try:
        from polars_order_book_spark.operators.order_book import _fold_arrays
    except ImportError:
        print("kernel: _fold_arrays not found; kernel.events_per_s reported as 0", file=sys.stderr)
        return 0.0
    if spec.books == 1:
        parts = [np.arange(a, min(a + KERNEL_CHUNK, len(tape["seq"])))
                 for a in range(0, len(tape["seq"]), KERNEL_CHUNK)]
    else:
        order = np.argsort(tape["book"], kind="stable")
        cuts = np.flatnonzero(np.diff(tape["book"][order])) + 1
        parts = np.split(order, cuts)
    calls = [
        (tape["seq"][ix], tape["is_bid"][ix].tolist(), tape["price"][ix].tolist(),
         tape["qty"][ix].tolist())
        for ix in parts
    ]
    t0 = time.perf_counter()
    try:
        bids = asks = None
        for seq, is_bid, price, qty in calls:
            _, _, b, a = _fold_arrays(spec.variant, spec.n, seq, is_bid, price, qty,
                                      None, None, bids=bids, asks=asks)
            if spec.books == 1:
                bids, asks = b, a
    except TypeError as e:
        print(f"kernel: call failed ({e}); kernel.events_per_s reported as 0", file=sys.stderr)
        return 0.0
    return len(tape["seq"]) / (time.perf_counter() - t0)


def time_scan(spark, tape_dir: Path) -> float:
    """Median seconds of a no-op write of the loaded tape."""
    times = []
    for _ in range(SCAN_REPEATS):
        t0 = time.perf_counter()
        spark.read.parquet(str(tape_dir)).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians from ``StreamingQuery.recentProgress`` (batches that
    read input), and the state size after the last batch."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    if not batches:
        return {}

    def med(f):
        return float(statistics.median(f(p) for p in batches))

    def ops(p):
        return p["stateOperators"][0]

    last = ops(batches[-1])
    return {
        "stream.add_batch_ms.p50": med(lambda p: p["durationMs"].get("addBatch", 0)),
        "stream.plan_ms.p50": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
        "stream.wal_ms.p50": med(lambda p: p["durationMs"].get("walCommit", 0)),
        "state.update_ms": med(lambda p: ops(p)["allUpdatesTimeMs"]),
        "state.commit_ms": med(lambda p: ops(p)["commitTimeMs"]),
        "state.bytes": float(last["memoryUsedBytes"]),
        "state.rows": float(last["numRowsTotal"]),
        "state.partitions": float(last.get("numShufflePartitions", 0)),
    }


class Ledger:
    """Operations attempted and failed, and what the timed ones measured."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.op_seconds: list[float] = []
        self.batch_ms: list[float] = []


def run_ops(wl, spark, tracer, ledger: Ledger, count: int, stream: bool, deadline: float,
            on_done=None) -> None:
    """Run ``count`` timed operations (passes, or rounds of micro-batches),
    checking each one's output; start none after ``deadline``, a
    ``time.perf_counter()`` reading."""
    for _ in range(count):
        if time.perf_counter() > deadline:
            print(f"{wl.name}: out of time after {ledger.attempted} operations", file=sys.stderr)
            break
        ops = wl.spec.files if stream else 1
        ledger.attempted += ops
        try:
            with tracer.span("round" if stream else "pass"):
                seconds, table, handle = wl.run(spark)
        except Exception as e:  # a failed operation is counted, and the run goes on
            print(f"{wl.name}: operation failed: {e!r}"[:2000], file=sys.stderr)
            ledger.failed += ops
            continue
        with tracer.span("check"):
            fails = wl.check(table)
        batches = wl.batch_ms(handle) if stream else [seconds * 1000]
        if fails:
            print(f"{wl.name}: output check failed: {'; '.join(fails)}", file=sys.stderr)
            ledger.correct = False
            ledger.failed += ops
        else:
            ledger.failed += ops - len(batches)
            ledger.op_seconds.append(seconds)
            ledger.batch_ms += batches
        if on_done is not None:
            on_done(handle)


def tail_note(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 40:
        return f"micro-batch tail: none supported (n={n} < 40), median only"
    pct = 100 * (1 - 10 / n)
    cut = sorted(samples)[min(n - 1, int(n * pct / 100))]
    return f"micro-batch tail: p{pct:.0f}={cut:.1f} ms (n={n})"


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench"
    configure_env(work)
    # Fails here, before any work, when the package is not beside perfbench/.
    sys.path.insert(0, str(ROOT))
    import polars_order_book_spark  # noqa: F401

    cpu0, t_run = layers.cpu_times(), time.perf_counter()
    tracer = layers.Tracer(bool(args.trace))
    spec = (TINY_SPECS if args.tiny else SPECS)[args.workload]
    stream = args.workload == "live_book"
    with tracer.span("tape"):
        tape_dir, tape = load_or_make(spec, args.seed, work / "tapes")
    with tracer.span("reference"):
        if stream:
            wl = StreamFold(args.workload, spec, tape_dir, tape, args.seed, work=work)
        else:
            wl = BatchFold(args.workload, spec, tape_dir, tape, args.seed)

    spark, setups, starts = None, [], []
    for i in range(SETUPS):
        with tracer.span("setup", index=i):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(spark)
            starts.append(time.perf_counter() - t0)
            with tracer.span("warm_up"):
                wl.run(spark, warm_up=True)
            setups.append(time.perf_counter() - t0)

    ops = max(1, round(args.seconds / NOMINAL_OP_SECONDS[args.workload]))
    deadline = time.perf_counter() + CAP_FACTOR * args.seconds
    untraced = Ledger()
    with tracer.span("timed"):
        run_ops(wl, spark, tracer, untraced, ops, stream, deadline)
    ledgers = [untraced]

    if args.trace:
        traced, plans, progress = Ledger(), [], []
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear()

        def record(handle):
            with tracer.span("plan_metrics"):
                if stream:
                    progress.extend(handle.recentProgress)
                    plan = handle._jsq.streamingQuery().lastExecution().executedPlan()
                else:
                    plan = handle._jdf.queryExecution().executedPlan()
                plans.append(layers.plan_metrics(plan))

        with tracer.span("traced"):
            run_ops(wl, spark, tracer, traced, max(1, ops // 2), stream, deadline, on_done=record)
        ledgers.append(traced)
        worker = layers.profile_split(spark)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        with tracer.span("scan"):
            scan_s = time_scan(spark, tape_dir)
        with tracer.span("kernel"):
            kernel_eps = time_kernel(spec, tape)

    rss = layers.peak_rss_mb(layers.python_workers(os.getpid()))
    shutdown(spark)

    attempted = sum(lg.attempted for lg in ledgers)
    failed = sum(lg.failed for lg in ledgers)
    correct = all(lg.correct for lg in ledgers)

    def events_per_s(lg):
        return wl.events / statistics.median(lg.op_seconds) if lg.op_seconds else 0.0

    if args.trace:
        # Counts and times per operation: per pass, or per micro-batch.
        values = {k: 0.0 for k in PER_LAYER}
        done = max(1, len(traced.batch_ms))
        for k in plans[0] if plans else ():
            values[k] = float(statistics.median(p[k] for p in plans))
        values.update({k: v / done for k, v in worker.items()})
        if stream:
            values.update(stream_layers(progress))
            values["scan.rows"] = float(sum(p["numInputRows"] for p in progress)) / done
        values["session.start_s"] = statistics.median(starts)
        values["scan.s"] = scan_s
        values["kernel.events_per_s"] = kernel_eps
        base, with_trace = events_per_s(untraced), events_per_s(traced)
        values["trace.overhead_pct"] = 100 * (base - with_trace) / base if base else 0.0
        tracer.dump(work / "traces" / f"{args.workload}-seed{args.seed}.json")
    else:
        values = {
            "events_per_s": events_per_s(untraced),
            "batch_ms.p50": statistics.median(untraced.batch_ms) if untraced.batch_ms else 0.0,
            "setup_s": statistics.median(setups),
            "worker_peak_rss_mb": rss,
        }

    steal = layers.steal_share(cpu0, layers.cpu_times())
    load = os.getloadavg()
    print(f"{args.workload} seed={args.seed}: {attempted} operations attempted, {failed} failed; "
          f"{len(untraced.op_seconds)} timed {'rounds' if stream else 'passes'} of "
          f"{wl.events} events ({', '.join(f'{s:.2f}' for s in untraced.op_seconds)} s); "
          f"setups {', '.join(f'{s:.2f}' for s in setups)} s; "
          f"run {time.perf_counter() - t_run:.1f} s")
    print(f"context: cpu steal {100 * steal:.2f}% over the run; "
          f"load average {load[0]:.2f} {load[1]:.2f} {load[2]:.2f}")
    if stream:
        print(f"micro-batches: {', '.join(f'{b:.0f}' for b in untraced.batch_ms)} ms; "
              + tail_note(untraced.batch_ms))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

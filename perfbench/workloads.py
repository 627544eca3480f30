"""The two workloads: how one operation runs and how its output is checked.

``deep_book`` is a batch fold: one operation is one pass that scans the tape,
folds it with ``top_n_levels_from_price_updates`` and collects the snapshots
as Arrow (``DataFrame.toArrow``). Each pass plans from a fresh scan, so no
pass reuses another's shuffle output.

``live_book`` is the streaming fold: one round starts
``top_n_levels_stream`` over the tape directory with a fresh checkpoint,
reads one file per micro-batch into a memory sink and ends when the backlog
is drained (``availableNow``). Each micro-batch starts when the previous one
has committed: a closed loop. One operation is one micro-batch.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

from reference import check_against, check_properties, reference_fold
from tapes import WARM_UP_SUFFIX, TapeSpec

# deep_book compares with the reference a random sample of rows plus the
# rows either side of every multiple of 4096. Power-of-two batch or block
# sizes up to 4096, the 65536-row Arrow batch among them, put their
# boundaries on such rows.
DEEP_RANDOM_ROWS = 1_000
BOUNDARY_STRIDE = 4096
BOUNDARY_HALF_WINDOW = 16


class Fold:
    """A workload over one tape; subclasses run its operations."""

    carried: tuple[str, ...] = ()  # input columns the output repeats

    def __init__(self, name: str, spec: TapeSpec, tape_dir: Path, tape: dict, seed: int):
        self.name, self.spec, self.tape_dir, self.tape = name, spec, tape_dir, tape
        self.events = len(tape["seq"])
        self.expected = self.reference(np.random.default_rng([seed, 7]))

    def reference(self, rng: np.random.Generator) -> dict[int, list]:
        """Reference snapshots of the rows this workload compares, keyed by
        seq (which is also the row's index in the tape)."""
        raise NotImplementedError

    def check(self, out: pa.Table) -> list[str]:
        out = out.sort_by("seq")
        return check_properties(out, self.tape, self.spec.n, self.carried) or check_against(
            out, self.expected, self.spec.n
        )


class BatchFold(Fold):
    carried = ("seq", "is_bid", "price", "qty")

    def reference(self, rng):
        t, m = self.tape, self.events
        rows = set(rng.choice(m, min(m, DEEP_RANDOM_ROWS), replace=False).tolist())
        for b in range(BOUNDARY_STRIDE, m, BOUNDARY_STRIDE):
            rows.update(range(b - BOUNDARY_HALF_WINDOW, min(m, b + BOUNDARY_HALF_WINDOW)))
        return reference_fold(
            self.spec.variant, self.spec.n, t["is_bid"].tolist(), t["price"].tolist(),
            t["qty"].tolist(), rows,
        )

    def run(self, spark, warm_up: bool = False) -> tuple[float, pa.Table, object]:
        """One pass: (seconds, output, the DataFrame whose plan ran). The
        warm-up pass is the same pass."""
        from polars_order_book_spark import top_n_levels_from_price_updates

        t0 = time.perf_counter()
        out = top_n_levels_from_price_updates(spark.read.parquet(str(self.tape_dir)), n=self.spec.n)
        table = out.toArrow()
        return time.perf_counter() - t0, table, out


class StreamFold(Fold):
    carried = ("book", "seq")

    def __init__(self, *args, work: Path):
        super().__init__(*args)
        self.work = work
        self.rounds = 0

    def reference(self, rng):
        """Every row: each book folded on its own, in seq order."""
        t = self.tape
        order = np.argsort(t["book"], kind="stable")
        expected = {}
        for idx in np.split(order, np.flatnonzero(np.diff(t["book"][order])) + 1):
            snaps = reference_fold(
                self.spec.variant, self.spec.n, t["is_bid"][idx].tolist(),
                t["price"][idx].tolist(), t["qty"][idx].tolist(),
            )
            expected.update({int(idx[i]): s for i, s in snaps.items()})
        return expected

    def run(self, spark, warm_up: bool = False) -> tuple[float, pa.Table, object]:
        """One round over the backlog: (seconds from start() until drained,
        output, the finished query). The warm-up round reads only the
        backlog's first files (``TapeSpec.warm_up_files``)."""
        from polars_order_book_spark.functions.runtime import scoped_stream_shuffle
        from polars_order_book_spark.streaming import top_n_levels_stream

        self.rounds += 1
        name = f"live_book_{self.rounds}"
        ckpt = self.work / "checkpoints" / name
        shutil.rmtree(ckpt, ignore_errors=True)
        src_dir = str(self.tape_dir.with_name(self.tape_dir.name + WARM_UP_SUFFIX) if warm_up else self.tape_dir)
        schema = spark.read.parquet(src_dir).schema
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
        snaps = top_n_levels_stream(src, "mutations", by=["book"], n=self.spec.n)
        t0 = time.perf_counter()
        with scoped_stream_shuffle(spark, src_dir):
            query = (
                snaps.writeStream.format("memory").queryName(name)
                .outputMode("update").option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True).start()
            )
        try:
            query.awaitTermination()
            seconds = time.perf_counter() - t0
            table = spark.table(name).toArrow()
        finally:
            query.stop()
            spark.catalog.dropTempView(name)
            shutil.rmtree(ckpt, ignore_errors=True)
        return seconds, table, query

    @staticmethod
    def batch_ms(query) -> list[float]:
        """triggerExecution of each micro-batch that read input."""
        return [
            float(p["durationMs"]["triggerExecution"])
            for p in query.recentProgress if p["numInputRows"] > 0
        ]

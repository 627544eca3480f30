"""Seeded order-book event tapes for the benchmark.

Every tape is a function of its workload and seed alone, built with numpy and
written as parquet. The program under test only ever sees those files.

Two event shapes:

* price updates (``deep_book``): set-level events on fixed 60-tick ladders
  either side of a constant mid. A third of the events carry qty 0 (delete
  the level), so each side keeps about 40 live prices and an n=20 snapshot
  truncates. Updates are valid whatever the history.
* price mutations (``live_book``): signed deltas made from orders. Each
  order adds ``q`` at one price, may later take back part of it, and later
  deletes what is left. A level's qty is the sum of what its resting orders
  still hold, so no delete can miss a level or take more than the level
  holds: the tape is valid by construction.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MID = 10_000


@dataclass(frozen=True)
class TapeSpec:
    """Make-up of one workload's tape."""

    variant: str  # "updates" or "mutations"
    n: int  # snapshot depth the workload folds at
    books: int
    events: int  # target event count; mutation tapes land within ~1% of it
    files: int  # parquet files the tape is split into, in seq order
    warm_up_files: int = 0  # leading files copied to the warm-up directory


SPECS = {
    "deep_book": TapeSpec("updates", 20, 1, 60_000, 4),
    "live_book": TapeSpec("mutations", 3, 30, 15_000, 10, warm_up_files=2),
}

# Smaller tapes of the same make-up, for the self-test.
TINY_SPECS = {
    "deep_book": TapeSpec("updates", 20, 1, 3_000, 2),
    "live_book": TapeSpec("mutations", 3, 5, 1_200, 3, warm_up_files=1),
}

WARM_UP_SUFFIX = ".warm_up"


def updates_tape(rng: np.random.Generator, events: int) -> dict[str, np.ndarray]:
    """One book of set-level updates. Distances from the mid are skewed
    toward the inside (``60 * u**2``), as activity is on real books."""
    is_bid = rng.random(events) < 0.5
    dist = 1 + np.floor(60 * rng.random(events) ** 2).astype(np.int64)
    price = np.where(is_bid, MID - dist, MID + dist)
    qty = rng.integers(1, 101, events)
    qty[rng.random(events) < 1 / 3] = 0
    return {
        "seq": np.arange(events, dtype=np.int64),
        "is_bid": is_bid,
        "price": price.astype(np.int64),
        "qty": qty.astype(np.int64),
    }


def mutations_tape(
    rng: np.random.Generator, books: int, events: int
) -> dict[str, np.ndarray]:
    """Keyed signed-delta events built from orders (see module docstring).

    Times are uniform on [0, 1) over all books; an order lives an
    exponential time (mean 0.15) and half the orders take back part of
    their qty at a point inside that life. Events past t=1 are dropped, so
    orders still resting at the end simply stay on the book. ``seq`` is the
    global time rank, so it orders events within a book and across books.
    """
    # ~2.31 events per order survive the horizon at these rates.
    orders = max(1, round(events / 2.31))
    book = rng.integers(0, books, orders)
    is_bid = rng.random(orders) < 0.5
    dist = 1 + rng.geometric(0.15, orders)
    price = np.where(is_bid, MID - dist, MID + dist).astype(np.int64)
    q = rng.integers(2, 101, orders)
    t0 = rng.random(orders)
    life = rng.exponential(0.15, orders) + 1e-9
    partial = rng.random(orders) < 0.5
    tp = t0 + life * rng.uniform(0.1, 0.9, orders)
    r = np.where(partial, np.floor(rng.random(orders) * (q - 1)) + 1, 0).astype(np.int64)

    t = np.concatenate([t0, tp[partial], t0 + life])
    dq = np.concatenate([q, -r[partial], -(q - r)])
    idx = np.concatenate([np.arange(orders), np.flatnonzero(partial), np.arange(orders)])
    keep = t < 1.0
    t, dq, idx = t[keep], dq[keep], idx[keep]
    order = np.argsort(t, kind="stable")
    idx = idx[order]
    return {
        "book": book[idx].astype(np.int64),
        "seq": np.arange(len(idx), dtype=np.int64),
        "is_bid": is_bid[idx],
        "price": price[idx],
        "qty": dq[order].astype(np.int64),
    }


def make_tape(spec: TapeSpec, seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng([seed, spec.books, spec.events])
    if spec.variant == "updates":
        return updates_tape(rng, spec.events)
    return mutations_tape(rng, spec.books, spec.events)


def write_tape(cols: dict[str, np.ndarray], out_dir: Path, spec: TapeSpec) -> None:
    """Split the tape in seq order into ``spec.files`` parquet files, and
    copy the first ``spec.warm_up_files`` of them to a sibling directory.

    The files get distinct, increasing modification times: the streaming
    file source takes files in that order, one per micro-batch.
    """
    table = pa.table(cols)
    bounds = np.linspace(0, table.num_rows, spec.files + 1).astype(int)
    for d, files in ((out_dir, spec.files), (out_dir.with_name(out_dir.name + WARM_UP_SUFFIX), spec.warm_up_files)):
        if not files:
            continue
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for i in range(files):
            p = tmp / f"part-{i:04d}.parquet"
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
            os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
        os.replace(tmp, d)


def load_or_make(spec: TapeSpec, seed: int, cache: Path) -> tuple[Path, dict[str, np.ndarray]]:
    """The tape's directory and its columns, generating them on a cache
    miss. The cache key holds every field of the spec, so a changed spec
    never reads a stale tape. The tape directory is written last, so its
    presence means the tape is complete."""
    key = (f"{spec.variant}-n{spec.n}-b{spec.books}-e{spec.events}"
           f"-f{spec.files}-w{spec.warm_up_files}-s{seed}")
    out_dir = cache / key
    if not out_dir.is_dir():
        cols = make_tape(spec, seed)
        write_tape(cols, out_dir, spec)
        return out_dir, cols
    table = pa.concat_tables(pq.read_table(p) for p in sorted(out_dir.glob("*.parquet")))
    return out_dir, {c: table.column(c).to_numpy() for c in table.column_names}

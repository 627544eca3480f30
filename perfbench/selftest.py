"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The output checker, without Spark: a snapshot table built by the
   reference fold passes, and the same table with two levels swapped in one
   row, or one quantity changed, is rejected.
2. A tiny-scale run of the benchmark command on every workload, untraced
   and traced, completes, reports every operation correct and names exactly
   the metrics that BENCHMARK.json lists, with their units.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from reference import reference_fold, snapshot_columns  # noqa: E402
from tapes import TINY_SPECS, make_tape  # noqa: E402
from workloads import BatchFold  # noqa: E402


def reference_table(tape: dict, n: int) -> pa.Table:
    """The output an exact fold must produce, every row, built by the
    reference fold."""
    snaps = reference_fold("updates", n, tape["is_bid"].tolist(), tape["price"].tolist(),
                           tape["qty"].tolist())
    rows = [snaps[i] for i in range(len(tape["seq"]))]
    cols = {c: pa.array(v) for c, v in tape.items()}
    for j, c in enumerate(snapshot_columns(n)):
        cols[c] = pa.array([r[j] for r in rows], pa.int64())
    return pa.table(cols)


def corrupt(table: pa.Table, col_values: dict) -> pa.Table:
    for c, (row, value) in col_values.items():
        vals = table.column(c).to_pylist()
        vals[row] = value
        table = table.set_column(table.schema.get_field_index(c), c, pa.array(vals, pa.int64()))
    return table


def check_checker() -> None:
    spec = TINY_SPECS["deep_book"]
    tape = make_tape(spec, seed=1)
    wl = BatchFold("deep_book", spec, Path("unused"), tape, seed=1)
    good = reference_table(tape, spec.n)
    assert wl.check(good) == [], wl.check(good)
    # A row past the first few events, where levels 1 and 2 of the bid side
    # are both present; the row must be one the checker compares.
    row = next(i for i in sorted(wl.expected) if i > 100 and good.column("bid_price_2")[i].is_valid)
    p1, q1 = good.column("bid_price_1")[row].as_py(), good.column("bid_qty_1")[row].as_py()
    p2, q2 = good.column("bid_price_2")[row].as_py(), good.column("bid_qty_2")[row].as_py()
    swapped = corrupt(good, {"bid_price_1": (row, p2), "bid_qty_1": (row, q2),
                             "bid_price_2": (row, p1), "bid_qty_2": (row, q1)})
    wrong_qty = corrupt(good, {"bid_qty_1": (row, q1 + 1)})
    for name, bad in (("swapped levels", swapped), ("wrong quantity", wrong_qty)):
        fails = wl.check(bad)
        assert fails, f"checker accepted a snapshot with {name}"
        print(f"checker rejects {name}: {fails[0]}")
    # Shuffled row order is not a fault: the checker sorts by seq.
    perm = np.random.default_rng(0).permutation(good.num_rows)
    assert wl.check(good.take(perm)) == []


def check_runs() -> None:
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, *bench["command"][1:], "--workload", w["name"], "--seed", "1",
                   "--seconds", "3", "--trace", str(trace), "--tiny"]
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=HERE.parent)
            assert res.returncode == 0, res.stderr[-3000:]
            out = json.loads(res.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            units = {k: v["unit"] for k, v in out["metrics"].items()}
            assert units == wanted[trace], set(units.items()) ^ set(wanted[trace].items())
            print(f"{w['name']} --trace {trace}: {out['attempted']} operations, all correct, "
                  f"{len(out['metrics'])} metrics")


if __name__ == "__main__":
    check_checker()
    check_runs()
    print("selftest passed")

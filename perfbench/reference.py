"""Output checks: an independent top-N fold and per-row snapshot properties.

Nothing here imports the package under test. The reference fold keeps each
side as a plain ``{price: qty}`` dict and takes the top n with ``heapq``; it
shares no code or data structure with the program's fold.
"""

from __future__ import annotations

import heapq

import numpy as np
import pyarrow as pa


def snapshot_columns(n: int) -> list[str]:
    """Output column order of the operators' contract: per level i,
    ``bid_price_i, bid_qty_i, ask_price_i, ask_qty_i``."""
    return [f"{s}_{f}_{i}" for i in range(1, n + 1) for s in ("bid", "ask") for f in ("price", "qty")]


def reference_fold(variant, n, is_bid, price, qty, rows=None) -> dict[int, list]:
    """Fold one book's events in order; return ``{row: snapshot}`` for the
    rows asked for (every row when ``rows`` is None). A snapshot lists the
    4n values in :func:`snapshot_columns` order, None where a level is
    missing. An invalid mutation raises ValueError."""
    sides = {True: {}, False: {}}
    out = {}
    for i, (b, p, q) in enumerate(zip(is_bid, price, qty)):
        lv = sides[b]
        if variant == "updates":
            if q:
                lv[p] = q
            else:
                lv.pop(p, None)
        elif q > 0:
            lv[p] = lv.get(p, 0) + q
        elif q < 0:
            have = lv.get(p)
            if have is None or have < -q:
                raise ValueError(f"invalid delete at row {i}: {-q} from {have}")
            if have == -q:
                del lv[p]
            else:
                lv[p] = have + q
        if rows is None or i in rows:
            bids = heapq.nlargest(n, sides[True])
            asks = heapq.nsmallest(n, sides[False])
            snap = []
            for k in range(n):
                bp = bids[k] if k < len(bids) else None
                ap = asks[k] if k < len(asks) else None
                snap += [bp, sides[True].get(bp), ap, sides[False].get(ap)]
            out[i] = snap
    return out


def _levels(out: pa.Table, n: int, side: str, field: str) -> tuple[np.ndarray, np.ndarray]:
    """(values, null mask), each shaped (rows, n), for one side's field."""
    vals, nulls = [], []
    for i in range(1, n + 1):
        col = out.column(f"{side}_{field}_{i}")
        nulls.append(col.is_null().to_numpy(zero_copy_only=False))
        vals.append(col.fill_null(0).to_numpy())
    return np.stack(vals, axis=1), np.stack(nulls, axis=1)


def check_properties(out: pa.Table, tape: dict[str, np.ndarray], n: int, carried) -> list[str]:
    """Check every output row. ``out`` must already be sorted by seq and
    the tape's seq is 0..m-1; ``carried`` names the input columns the
    output repeats. Returns failure messages, empty when sound."""
    fails = []
    m = len(tape["seq"])
    if out.num_rows != m:
        return [f"{out.num_rows} output rows for {m} input events"]
    if not np.array_equal(out.column("seq").to_numpy(), tape["seq"]):
        return ["output seqs are not the input seqs, one row each"]
    for c in carried:
        if c not in out.column_names or not np.array_equal(out.column(c).to_numpy(), tape[c]):
            fails.append(f"input column {c} not carried through")
    for side, falling in (("bid", True), ("ask", False)):
        p, pn = _levels(out, n, side, "price")
        q, qn = _levels(out, n, side, "qty")
        if (pn != qn).any():
            fails.append(f"{side}: price and qty nulls differ")
        if ((q <= 0) & ~qn).any():
            fails.append(f"{side}: non-positive qty at a present level")
        if n > 1:
            if (pn[:, :-1] & ~pn[:, 1:]).any():
                fails.append(f"{side}: a null level before a present one")
            both = ~pn[:, :-1] & ~pn[:, 1:]
            step = p[:, :-1] > p[:, 1:] if falling else p[:, :-1] < p[:, 1:]
            if (both & ~step).any():
                fails.append(f"{side}: prices not strictly {'falling' if falling else 'rising'}")
    return fails


def check_against(out: pa.Table, expected: dict[int, list], n: int) -> list[str]:
    """Compare output rows (indexed by seq, ``out`` sorted by seq) with the
    reference snapshots."""
    rows = sorted(expected)
    got = out.select(snapshot_columns(n)).take(rows).to_pydict()
    cols = list(got.values())
    bad = [i for k, i in enumerate(rows) if [c[k] for c in cols] != expected[i]]
    if bad:
        return [f"{len(bad)} of {len(expected)} checked rows differ from the reference, first at seq {min(bad)}"]
    return []

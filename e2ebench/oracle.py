"""Expected medallion tables, computed in plain Python from the raw drop.

This is the benchmark's independent reference for one ``run_pipeline``
over a drop written by ``inputs.write_ohlcv_drop``: bronze (typed,
deduplicated rows), silver (valid rows), the rejected keys, gold
(1-day return, 20-row return volatility and average volume) and the
data-quality rows (gap, jump, staleness and the row-count heartbeat).
Floats in derived columns are compared to 9 significant digits, because
Spark's windowed standard deviation sums in another order.
"""

from __future__ import annotations

import datetime as dt
import math
import statistics
from collections import Counter
from pathlib import Path

ROLL = 20
GAP_DAYS, ABS_RETURN, STALE_DAYS = 4, 0.10, 7


def _num(s: str, kind=float):
    try:
        return kind(s)
    except ValueError:
        return None


def expected(raw_dir: Path, today: dt.date) -> dict:
    bronze: dict[tuple, tuple] = {}
    for path in sorted(raw_dir.glob("*.csv")):
        symbol = path.stem.upper()
        lines = path.read_text().splitlines()
        has_volume = lines[0].endswith(",Volume")
        for line in lines[1:]:
            f = line.split(",")
            o, h, lo, c = (_num(x) for x in f[1:5])
            vol = _num(f[5], int) if has_volume else None
            bronze[(symbol, dt.date.fromisoformat(f[0]))] = (o, h, lo, c, vol)
    silver, rejected = {}, set()
    for k, (o, h, lo, c, vol) in bronze.items():
        bad = (
            None in (o, h, lo, c)
            or min(o, h, lo, c) <= 0
            or h < max(o, c, lo)
            or lo > min(o, c, h)
            or (vol is not None and vol < 0)
        )
        if bad:
            rejected.add(k)
        else:
            silver[k] = bronze[k]
    gold, dq = {}, Counter()
    by_symbol: dict[str, list] = {}
    for (sym, d) in sorted(silver):
        by_symbol.setdefault(sym, []).append(d)
    for sym, dates in by_symbol.items():
        rets: list[float | None] = []
        for i, d in enumerate(dates):
            close, vol = silver[(sym, d)][3], silver[(sym, d)][4]
            ret = close / silver[(sym, dates[i - 1])][3] - 1.0 if i else None
            rets.append(ret)
            window = range(max(0, i - ROLL + 1), i + 1)
            rs = [rets[j] for j in window if rets[j] is not None]
            vs = [silver[(sym, dates[j])][4] for j in window]
            vs = [v for v in vs if v is not None]
            gold[(sym, d)] = (
                close, vol, ret,
                statistics.stdev(rs) if len(rs) > 1 else None,
                sum(vs) / len(vs) if vs else None,
            )
            if i and (d - dates[i - 1]).days > GAP_DAYS:
                dq[("silver", "missing_trading_days_gap", sym, float((d - dates[i - 1]).days))] += 1
            if ret is not None and abs(ret) > ABS_RETURN:
                dq[("gold", "sudden_price_jump", sym, sig(abs(ret)))] += 1
        if (today - dates[-1]).days > STALE_DAYS:
            dq[("silver", "stale_data", sym, float((today - dates[-1]).days))] += 1
    counts = f"row counts: bronze={len(bronze)}, gold={len(gold)}, silver={len(silver)}"
    dq[("pipeline", "row_counts", None, counts)] += 1
    return {"bronze": bronze, "silver": silver, "rejected": rejected, "gold": gold, "dq": dq}


def sig(x):
    """A float to 9 significant digits (None and non-floats unchanged)."""
    if isinstance(x, float) and math.isfinite(x):
        return float(f"{x:.9g}")
    return x


def dq_key(row) -> tuple:
    if row["check_name"] == "row_counts":
        return (row["layer"], row["check_name"], None, row["details"])
    return (row["layer"], row["check_name"], row["symbol"], sig(row["metric_value"]))


def compare(name: str, got: dict, want: dict, norm=lambda v: v) -> list[str]:
    """Problems between two key -> values maps; empty when equal."""
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    wrong = [k for k in want.keys() & got.keys() if norm(got[k]) != norm(want[k])]
    problems = []
    if missing or extra or wrong:
        problems.append(
            f"{name}: {len(missing)} rows missing, {len(extra)} unexpected, "
            f"{len(wrong)} with wrong values"
            + (f" (e.g. {sorted(missing or extra or wrong, key=str)[0]})")
        )
    return problems

"""Seeded input generators. The same seed always gives the same bytes.

``medallion_daily`` reads the first and the last, ``query_mix`` the second:

- ``write_ohlcv_drop``: a raw drop of per-symbol OHLCV CSVs, some FX
  symbols without a ``Volume`` column, with a known number of dirty rows
  (rejected by silver) and re-delivered duplicate rows (dropped by
  bronze's in-batch dedup).
- ``write_star_schema``: the TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the registry queries read, with
  the column names, types and value shapes of the project's test data.
- ``write_event_slices``: an ``events`` table cut into event-time ordered
  parquet slices, one file per slice, for the streaming sinks.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class OhlcvDrop:
    rows: int  # data rows written, duplicates and dirty rows included
    dirty: int  # rows silver must reject
    duplicates: int  # exact re-deliveries bronze must drop
    symbols: int
    fx_symbols: int


def write_ohlcv_drop(
    raw_dir: Path,
    seed: int,
    symbols: int,
    fx_symbols: int,
    years: int,
    dirty_frac: float = 0.01,
    dup_frac: float = 0.01,
) -> OhlcvDrop:
    """One CSV per symbol: ``Date,Open,High,Low,Close[,Volume]``.

    Dirty rows come in three kinds, each rejected by a different silver
    predicate: a non-positive price, an OHLC-inconsistent bar and a
    non-numeric price cell. Duplicates copy a clean row verbatim into
    the same file, so which copy bronze keeps cannot change content."""
    rng = np.random.default_rng([seed, 1])
    raw_dir.mkdir(parents=True, exist_ok=True)
    start = dt.date(2014, 1, 1)
    days = [
        start + dt.timedelta(days=i)
        for i in range(365 * years)
        if (start + dt.timedelta(days=i)).weekday() < 5
    ]
    n_rows = n_dirty = n_dups = 0
    for s in range(symbols):
        fx = s < fx_symbols
        name = f"FX{s:02d}USD" if fx else f"SYM{s:03d}"
        vol = 0.003 if fx else 0.012
        rets = rng.normal(0.0002, vol, len(days))
        close = (1.1 if fx else 50.0 + 10 * s) * np.exp(np.cumsum(rets))
        open_ = np.concatenate([[close[0]], close[:-1]])
        wick = np.abs(rng.normal(0, vol / 2, (2, len(days))))
        high = np.maximum(open_, close) * (1 + wick[0])
        low = np.minimum(open_, close) * (1 - wick[1])
        volume = rng.integers(500_000, 5_000_000, len(days))
        kind = rng.random(len(days))
        dup = rng.random(len(days)) < dup_frac
        lines = ["Date,Open,High,Low,Close" + ("" if fx else ",Volume")]
        for i, d in enumerate(days):
            o, h, lo, c = (f"{x:.6f}" for x in (open_[i], high[i], low[i], close[i]))
            dirty = kind[i] < dirty_frac
            if dirty:
                k = int(kind[i] / dirty_frac * 3)
                if k == 0:
                    c = f"{-close[i]:.6f}"  # non_positive_price
                elif k == 1:
                    h, lo = lo, h  # ohlc_inconsistent
                else:
                    o = "n/a"  # non-numeric cell -> missing_prices
            row = f"{d.isoformat()},{o},{h},{lo},{c}" + ("" if fx else f",{volume[i]}")
            lines.append(row)
            n_dirty += dirty
            if dup[i] and not dirty:
                lines.append(row)
                n_dups += 1
        (raw_dir / f"{name}.csv").write_text("\n".join(lines) + "\n")
        n_rows += len(lines) - 1
    return OhlcvDrop(n_rows, int(n_dirty), n_dups, symbols, fx_symbols)


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    base = np.datetime64(lo, "us")
    span = (hi - lo).days + 1
    d = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + d, pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table the query mix reads, at scale factor ``sf`` (sf0.1 is
    600,000 lineitem rows). Vectorised numpy, so generation stays
    well under a second at the benchmark's size."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    t["events"] = _events(rng, n_ev)
    t["documents"] = _documents(rng, n_docs)
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def make_events(seed: int, n: int) -> pa.Table:
    return _events(np.random.default_rng([seed, 3]), n)


def _events(rng, n: int) -> pa.Table:
    """``n`` events over 30 days, strictly increasing ``ts``, about 67
    events per user."""
    gaps = rng.uniform(0.0, 2.0, n)
    us = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 - 60) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n * 3 // 200), n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% re-post an earlier document with
    a trailing ``dup`` token and a few are exact copies, so the dedup
    and retrieval queries have real near-duplicates to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_star_schema(out_dir: Path, seed: int, sf: float) -> dict[str, int]:
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in star_schema_tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def write_event_slices(feed_dir: Path, events: pa.Table, slices: int) -> list[int]:
    """Cut ``events`` (sorted by ``ts``) into ``slices`` equal time-ordered
    files. The file source delivers the oldest modification time first,
    so the mtimes are set in slice order, a second apart."""
    feed_dir.mkdir(parents=True, exist_ok=True)
    n = events.num_rows
    bounds = [round(i * n / slices) for i in range(slices + 1)]
    t0 = 1_700_000_000
    sizes = []
    for i in range(slices):
        path = feed_dir / f"slice-{i:04d}.parquet"
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (t0 + i, t0 + i))
        sizes.append(bounds[i + 1] - bounds[i])
    return sizes

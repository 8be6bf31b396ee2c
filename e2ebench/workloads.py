"""The benchmark's workloads. Each is a closed loop: one client, one Spark
session, the next operation starts when the previous one returns.

``medallion_daily`` is the write path: per cycle one ``run_pipeline``
over a seeded raw OHLCV drop, then one new event slice drained
(availableNow) through the streaming rank sink and the streaming
aggregate sink into the same warehouse. An untimed warm-up cycle first
fills the warehouse, so every measured cycle re-ingests the drop through
bronze's keyed MERGE and upserts its slice into existing stream tables.

``query_mix`` is the read path: passes over a pinned mix of registry
queries (analyst and curation classes) on a seeded star schema, each
forced with ``collect()`` and the cache cleared between calls.

Operations are pipeline runs, micro-batches and query calls. Every one
is checked; an exception or a failed check counts it as failed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import inputs
import oracle
from spans import JobCost, Tracer, cost_of, stream_costs, window_cost

# -- pinned workload definitions -------------------------------------------

MEDALLION = {"symbols": 6, "fx_symbols": 1, "years": 2}
EVENTS_PER_SLICE = 2_000
# one slice for the warm-up cycle, one per measured cycle; a 10 s run
# measures one cycle, and the cap ends longer runs after five
SLICES = 6
INGESTED_AT = dt.datetime(2024, 1, 2, 12, 0)
TODAY = dt.date(2014 + MEDALLION["years"], 1, 8)  # a week after the last bar

QUERY_SF = 0.005
ANALYST = (
    "agg_pricing_summary",
    "window_sessionization",
    "funcs_feature_panel",
    "join_q9_product_type_profit",
)
CURATION = (
    "dedup_minhash_near",
    "text_bm25_topk",
    "vector_ann_near_dup_lsh",
    "graph_part_pagerank",
)
MIX = ANALYST + CURATION

STAGES = ("bronze", "silver", "gold", "quality")
SINKS = ("rank", "aggregate")
PHASES = ("addBatch_s", "latestOffset_s", "queryPlanning_s", "commit_s")

END_TO_END = {"setup_s": "s", "cycle_s": "s"}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric, in print order. A workload that does not
    exercise a layer reports 0 for it."""
    m: dict[str, str] = {}
    for s in STAGES:
        for k, u in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                     ("shuffle_bytes", "B"), ("executor_s", "s")):
            m[f"pipeline.run_{s}.{k}"] = u
    m["sources.writers.bytes_written_per_input_byte"] = "B/B"
    m["sources.writers.files_written"] = "count"
    for q in MIX:
        for k, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "B")):
            m[f"plans.{q}.{k}"] = u
    for c in ("analyst", "curation"):
        for k, u in (("tasks", "count"), ("spill_bytes", "B"), ("executor_s", "s")):
            m[f"plans.{c}.{k}"] = u
    for s in SINKS:
        for p in PHASES:
            m[f"streaming.{s}.{p}"] = "s"
        for k, u in (("jobs_per_batch", "count"), ("tasks_per_batch", "count"),
                     ("bytes_written_per_batch", "B"),
                     ("files_written_per_batch", "count"),
                     ("table_bytes_end", "B")):
            m[f"streaming.{s}.{k}"] = u
    m["trace.cycle_s"] = "s"
    return m


# -- shared helpers ----------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def listing(root: Path) -> dict[str, tuple[int, int]]:
    if not root.exists():
        return {}
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    }


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two listings."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)


@dataclass
class Ops:
    """Attempted and failed operations, with the reasons for failures."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, n: int, problems: list[str]) -> None:
        self.attempted += n
        if problems:
            self.failed += n
            self.problems.extend(problems)


@dataclass
class Phase:
    """What the measured loop produced, per cycle:
    its wall time, and the summed latency of its heavy operations (the
    pipeline run; the curation queries) and of its light ones (the
    micro-batches; the analyst queries)."""

    cycle_s: list[float] = field(default_factory=list)
    heavy_s: list[float] = field(default_factory=list)
    light_s: list[float] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, tmp: Path, seed: int, sabotage: frozenset[str] = frozenset()):
        self.tmp = tmp
        self.seed = seed
        self.sabotage = sabotage
        self.ops = Ops()
        self.notes: dict = {}  # extra figures for the report line

    def generate(self) -> dict:
        """Write the seeded inputs under ``self.tmp``; repeatable."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-off work on the generated inputs before the session is used."""

    def on_session(self, spark) -> None:
        """Called once the session is up."""

    def warm_up(self, spark) -> None:
        """Work that brings the program to the state the measured
        operations start from; timed into ``setup_s``, not ``cycle_s``."""

    def measure(self, spark, tr: Tracer, seconds: float) -> Phase:
        raise NotImplementedError

    def finish(self, spark) -> None:
        """Untimed end-of-run checks."""

    def layers(self, tr: Tracer, jobs) -> dict[str, float]:
        raise NotImplementedError


# -- medallion_daily -----------------------------------------------------------


def batch_listener():
    """A listener that keeps every micro-batch's progress. Defined on call
    so that pyspark is imported only after the run's environment is set."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "id": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


class MedallionDaily(Workload):
    name = "medallion_daily"

    def __init__(self, tmp, seed, sabotage=frozenset()):
        super().__init__(tmp, seed, sabotage)
        self.raw = tmp / "raw"
        self.wh = tmp / "warehouse"
        self.staged = tmp / "slices"
        self.feed = tmp / "feed"
        self.ckpt = {s: tmp / f"ckpt_{s}" for s in SINKS}
        self.tables = {"rank": "events_ranked", "aggregate": "events_agg"}
        self.next_slice = 0
        self.runs_checked = 0
        self.listener = None
        self.seen = 0  # listener progress entries already consumed
        self.batches: list[dict] = []  # every measured micro-batch that read rows
        self.warm_batches: list[dict] = []  # the warm-up's micro-batches
        self.drains: list[dict] = []  # traced drains: sink, span, files, bytes
        self.pipeline_io: list[tuple[int, int]] = []  # traced runs: files, bytes

    def generate(self):
        from market_data_pipeline_databricks_spark.config import PipelineConfig

        self.drop = inputs.write_ohlcv_drop(self.raw, self.seed, **MEDALLION)
        self.cfg = PipelineConfig(raw_dir=str(self.raw), warehouse_dir=str(self.wh))
        self.raw_bytes = sum(p.stat().st_size for p in self.raw.iterdir())
        events = inputs.make_events(self.seed, SLICES * EVENTS_PER_SLICE)
        inputs.write_event_slices(self.staged, events, SLICES)
        self.feed.mkdir()
        return {
            "csv_rows": self.drop.rows, "dirty_rows": self.drop.dirty,
            "duplicate_rows": self.drop.duplicates, "symbols": self.drop.symbols,
            "fx_symbols": self.drop.fx_symbols, "raw_bytes": self.raw_bytes,
            "events_per_slice": EVENTS_PER_SLICE, "slices_staged": SLICES,
        }

    def on_session(self, spark):
        self.listener = batch_listener()
        spark.streams.addListener(self.listener)
        first = next(self.staged.iterdir())
        self.event_schema = spark.read.parquet(str(first)).schema

    # one cycle ---------------------------------------------------------------

    def _pipeline(self, spark, tr: Tracer) -> float:
        from market_data_pipeline_databricks_spark import pipeline as P

        if not tr.enabled:
            t = time.perf_counter()
            P.run_pipeline(spark, self.cfg, ingested_at=INGESTED_AT, today=TODAY)
            return time.perf_counter() - t
        before = listing(self.wh)
        with tr.span("pipeline.run_pipeline") as s:
            with tr.span("pipeline.run_bronze"):
                P.run_bronze(spark, self.cfg, INGESTED_AT)
            with tr.span("pipeline.run_silver"):
                P.run_silver(spark, self.cfg)
            with tr.span("pipeline.run_gold"):
                P.run_gold(spark, self.cfg, INGESTED_AT)
            with tr.span("pipeline.run_quality"):
                P.run_quality(spark, self.cfg, run_ts=INGESTED_AT, today=TODAY)
        after = listing(self.wh)
        mine = {k: v for k, v in after.items() if not self._is_stream_file(k)}
        self.pipeline_io.append(written(before, mine))
        return s.wall_s

    def _is_stream_file(self, path: str) -> bool:
        return any(f"/{t}/" in path for t in self.tables.values())

    def _drain(self, spark, sink: str, tr: Tracer) -> float:
        from market_data_pipeline_databricks_spark.streaming.aggregate import (
            stream_agg_maintenance,
        )
        from market_data_pipeline_databricks_spark.streaming.rank import (
            stream_rank_maintenance,
        )

        feed = (
            spark.readStream.schema(self.event_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(self.feed))
        )
        tdir = self.wh / self.tables[sink]
        before = listing(tdir) if tr.enabled else {}
        t = time.perf_counter()
        with tr.span(f"streaming.{sink}.drain") as s:
            if sink == "rank":
                stream_rank_maintenance(
                    feed.select("event_id", "ts", "user_id"), str(self.wh),
                    table=self.tables[sink], checkpoint_dir=str(self.ckpt[sink]),
                    partition_by_month=True, partition_fmt="yyyy-MM-dd",
                )
            else:
                stream_agg_maintenance(
                    feed.select("event_id", "ts", "user_id", "value"), str(self.wh),
                    table=self.tables[sink], group_cols=["user_id"],
                    sum_cols=["value"], checkpoint_dir=str(self.ckpt[sink]),
                )
        wall = time.perf_counter() - t
        if tr.enabled:
            files, nbytes = written(before, listing(tdir))
            self.drains.append({"sink": sink, "span": s, "files": files, "bytes": nbytes})
        return wall

    def _arrive(self) -> None:
        """The next event slice lands in the feed directory."""
        name = f"slice-{self.next_slice:04d}.parquet"
        (self.staged / name).replace(self.feed / name)
        self.next_slice += 1

    def warm_up(self, spark):
        """One checked cycle, untraced: the first ``run_pipeline`` into the
        empty warehouse and the first slice into each stream table."""
        self._cycle(spark, Tracer())
        self.warm_batches = self._new_batches(len(SINKS))

    def _cycle(self, spark, tr: Tracer) -> tuple[float, float]:
        """Returns (cycle wall, pipeline wall); failures are recorded."""
        self._arrive()
        run_s = self._checked_run(spark, tr)
        drains = 0.0
        for sink in SINKS:
            try:
                drains += self._drain(spark, sink, tr)
            except Exception as e:  # noqa: BLE001
                self.ops.record(1, [f"{sink} drain raised {type(e).__name__}: {e}"])
        return run_s + drains, run_s

    def _checked_run(self, spark, tr: Tracer) -> float:
        try:
            run_s = self._pipeline(spark, tr)
            problems = self._check_pipeline(spark)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            run_s, problems = 0.0, [f"run_pipeline raised {type(e).__name__}: {e}"]
        self.ops.record(1, problems)
        return run_s

    def _sink_of(self) -> dict[str, str]:
        ids = {}
        for sink, ck in self.ckpt.items():
            meta = ck / "metadata"
            if meta.exists():
                ids[json.loads(meta.read_text().splitlines()[0])["id"]] = sink
        return ids

    def _new_batches(self, expect: int) -> list[dict]:
        """Progress entries since the last call. The listener is
        asynchronous, so wait (bounded) for the expected count."""
        deadline = time.time() + 10
        while len(self.listener.progress) - self.seen < expect and time.time() < deadline:
            time.sleep(0.05)
        new = self.listener.progress[self.seen:]
        self.seen += len(new)
        sinks = self._sink_of()
        out = []
        for p in new:
            if p["rows"] > 0:
                out.append({**p, "sink": sinks.get(p["id"], "?")})
        return out

    # checks ---------------------------------------------------------------

    def prepare(self):
        self.want = oracle.expected(self.raw, TODAY)

    def _rows(self, spark, table: str) -> list:
        from market_data_pipeline_databricks_spark.sources import read_table

        return read_table(spark, str(self.wh), table).collect()

    def _check_pipeline(self, spark) -> list[str]:
        """One run's tables against the plain-Python expectation. The
        warehouse starts empty and every run (the warm-up's too)
        re-ingests the same drop, so each run must leave exactly one
        run's data-quality rows more."""
        c, want = self.cfg, self.want
        price = ("open", "high", "low", "close", "volume")
        got = {t: self._rows(spark, t) for t in (
            c.bronze_table, c.silver_table, c.rejected_table, c.gold_table, c.dq_table)}
        gold = got[c.gold_table]
        if "drop_gold_row" in self.sabotage:
            gold = sorted(gold, key=lambda r: (r.symbol, r.date))[1:]
        self.runs_checked += 1
        dq = Counter(oracle.dq_key(r) for r in got[c.dq_table])
        want_dq = Counter({k: n * self.runs_checked for k, n in want["dq"].items()})
        return (
            oracle.compare("bronze", {(r.symbol, r.date): tuple(r[k] for k in price)
                                      for r in got[c.bronze_table]}, want["bronze"])
            + oracle.compare("silver", {(r.symbol, r.date): tuple(r[k] for k in price)
                                        for r in got[c.silver_table]}, want["silver"])
            + oracle.compare("rejected", {(r.symbol, r.date): 1 for r in got[c.rejected_table]},
                             dict.fromkeys(want["rejected"], 1))
            + oracle.compare(
                "gold",
                {(r.symbol, r.date): (r.close, r.volume, r.return_1d, r.vol_20d, r.avg_volume_20d)
                 for r in gold},
                want["gold"], norm=lambda v: tuple(oracle.sig(x) for x in v))
            + oracle.compare("data_quality", dict(dq), dict(want_dq))
        )

    def finish(self, spark):
        """The final stream tables equal the batch computations over every
        slice consumed: ``ROW_NUMBER()`` for rank, ``groupBy`` for the
        aggregate — the equalities the registry drives assert. A failed
        check fails every micro-batch of its sink, and at least one."""
        batches = Counter(b["sink"] for b in self.warm_batches + self.batches)
        for sink, pair in (("rank", self._rank_pair), ("aggregate", self._agg_pair)):
            try:
                got, want = pair(spark)
                diff = got.exceptAll(want).count() + want.exceptAll(got).count()
                problems = [f"{sink} table differs from the batch twin in {diff} rows"] if diff else []
            except Exception as e:  # noqa: BLE001 - a failed check is counted, not fatal
                problems = [f"{sink} table check raised {type(e).__name__}: {e}"]
            self.ops.record(max(1, batches[sink]), problems)

    def _rank_pair(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from market_data_pipeline_databricks_spark.sources import read_table

        ev = spark.read.parquet(str(self.feed))
        w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
        want = ev.select(
            "event_id", "user_id", F.row_number().over(w).cast("long").alias("user_seq")
        )
        got = read_table(spark, str(self.wh), self.tables["rank"]).select(
            "event_id", "user_id", "user_seq"
        )
        if "rank_off_by_one" in self.sabotage:
            victim = got.agg(F.min("event_id")).first()[0]
            got = got.withColumn(
                "user_seq",
                F.when(F.col("event_id") == victim, F.col("user_seq") + 1)
                .otherwise(F.col("user_seq")),
            )
        return got, want

    def _agg_pair(self, spark):
        from pyspark.sql import functions as F

        from market_data_pipeline_databricks_spark.sources import read_table

        want = spark.read.parquet(str(self.feed)).groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.round(F.sum("value"), 6).alias("__sum_value"),
            F.max("ts").alias("__wm"),
        )
        got = read_table(spark, str(self.wh), self.tables["aggregate"]).select(
            "user_id", "__n", F.round("__sum_value", 6).alias("__sum_value"), "__wm"
        )
        return got, want

    # phases -------------------------------------------------------------------

    def measure(self, spark, tr, seconds):
        ph = Phase()
        end = time.perf_counter() + seconds
        while True:
            cyc, run = self._cycle(spark, tr)
            batches = self._new_batches(len(SINKS))
            self.batches += batches
            ph.cycle_s.append(cyc)
            ph.heavy_s.append(run)
            ph.light_s.append(sum(b["ms"].get("triggerExecution", 0) for b in batches) / 1000)
            if time.perf_counter() >= end or self.next_slice >= SLICES:
                break
        rank = [b["ms"]["triggerExecution"] / 1000 for b in batches_of(self.batches, "rank")]
        agg = [b["ms"]["triggerExecution"] / 1000 for b in batches_of(self.batches, "aggregate")]
        ph.extra = {
            "pipeline_run_s": median(ph.heavy_s),
            "rank_batch_p50_s": median(rank),
            "agg_batch_p50_s": median(agg),
            "batches": len(rank) + len(agg),
        }
        return ph

    def layers(self, tr, jobs):
        m: dict[str, float] = {}
        runs = tr.named("pipeline.run_pipeline")
        for s in STAGES:
            spans = tr.named(f"pipeline.run_{s}")
            costs = [cost_of(jobs, sp) for sp in spans]
            m[f"pipeline.run_{s}.wall_s"] = median(sp.wall_s for sp in spans)
            m[f"pipeline.run_{s}.jobs"] = median(c.jobs for c in costs)
            m[f"pipeline.run_{s}.tasks"] = median(c.tasks for c in costs)
            m[f"pipeline.run_{s}.shuffle_bytes"] = median(c.shuffle_bytes for c in costs)
            m[f"pipeline.run_{s}.executor_s"] = median(c.executor_s for c in costs)
        m["sources.writers.bytes_written_per_input_byte"] = median(
            b / self.raw_bytes for _, b in self.pipeline_io
        )
        m["sources.writers.files_written"] = median(f for f, _ in self.pipeline_io)
        self.notes["stage_wall_sum_over_pipeline_wall"] = (
            sum(m[f"pipeline.run_{s}.wall_s"] for s in STAGES) / median(r.wall_s for r in runs)
            if runs else 0.0
        )
        sinks = self._sink_of()
        for sink in SINKS:
            bs = batches_of(self.batches, sink)
            ms = [b["ms"] for b in bs]
            for p, keys in (("addBatch_s", ("addBatch",)), ("latestOffset_s", ("latestOffset",)),
                            ("queryPlanning_s", ("queryPlanning",)),
                            ("commit_s", ("walCommit", "commitOffsets"))):
                m[f"streaming.{sink}.{p}"] = median(sum(d.get(k, 0) for k in keys) / 1000 for d in ms)
            qid = next((q for q, s in sinks.items() if s == sink), None)
            per_batch = stream_costs(jobs, qid) if qid else {}
            wanted = [per_batch[b["batch"]] for b in bs if b["batch"] in per_batch]
            # one new slice per drain, so each drain is one micro-batch
            drains = [d for d in self.drains if d["sink"] == sink]
            if wanted:
                self.notes["stream_job_attribution"] = "batch id job property"
            else:  # Spark recorded no batch id: take each drain's window total
                self.notes["stream_job_attribution"] = "drain time window"
                wanted = [window_cost(jobs, d["span"]) for d in drains]
            m[f"streaming.{sink}.jobs_per_batch"] = median(c.jobs for c in wanted)
            m[f"streaming.{sink}.tasks_per_batch"] = median(c.tasks for c in wanted)
            m[f"streaming.{sink}.bytes_written_per_batch"] = median(d["bytes"] for d in drains)
            m[f"streaming.{sink}.files_written_per_batch"] = median(d["files"] for d in drains)
            m[f"streaming.{sink}.table_bytes_end"] = sum(
                v[0] for v in listing(self.wh / self.tables[sink]).values()
            )
        return m


def batches_of(log: list[dict], sink: str) -> list[dict]:
    return [b for b in log if b["sink"] == sink]


# -- query_mix -------------------------------------------------------------------


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def content_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    floats to 9 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


class QueryMix(Workload):
    name = "query_mix"

    def __init__(self, tmp, seed, sabotage=frozenset()):
        super().__init__(tmp, seed, sabotage)
        self.data = tmp / "star"

    def generate(self):
        rows = inputs.write_star_schema(self.data, self.seed, QUERY_SF)
        return {"scale_factor": QUERY_SF, **{f"{k}_rows": v for k, v in rows.items()}}

    def prepare(self):
        """Pin each query's row count and content digest from its DuckDB
        oracle twin over the same files."""
        import duckdb

        from market_data_pipeline_databricks_spark.plans.registry import all_oracle_sql

        twins = all_oracle_sql()
        con = duckdb.connect()
        for p in self.data.glob("*.parquet"):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        self.pinned = {}
        for q in MIX:
            cur = con.execute(twins[q])
            result = cur.fetchall()
            self.pinned[q] = (len(result), content_digest([d[0] for d in cur.description], result))
        con.close()

    def on_session(self, spark):
        from market_data_pipeline_databricks_spark.plans.registry import all_queries

        self.fns = {q: all_queries()[q] for q in MIX}

    def warm_up(self, spark):
        """Count every input table once, so the session's first jobs and
        the parquet reader's start-up fall in ``setup_s`` and not on
        whichever query comes first; no package code runs here."""
        for p in sorted(self.data.glob("*.parquet")):
            spark.read.parquet(str(p)).count()

    def _call(self, spark, tr: Tracer, q: str) -> float:
        """One timed query call, forced with ``collect()`` so every output
        column is computed; the rows are then checked, untimed, against
        the pinned oracle count and digest."""
        problems = []
        t = time.perf_counter()
        try:
            with tr.span(f"plans.{q}"):
                df = self.fns[q](spark, str(self.data))
                rows = df.collect()
            wall = time.perf_counter() - t
            got = (len(rows), content_digest(df.columns, rows))
            want = self.pinned[q]
            if got[0] != want[0]:
                problems.append(f"{q} returned {got[0]} rows, oracle {want[0]}")
            elif got[1] != want[1]:
                problems.append(f"{q} content differs from its DuckDB oracle")
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            wall = time.perf_counter() - t
            problems.append(f"{q} raised {type(e).__name__}: {e}")
        spark.catalog.clearCache()
        self.ops.record(1, problems)
        return wall

    def measure(self, spark, tr, seconds):
        """Passes over the mix until ``seconds`` have passed, always
        finishing the pass in progress."""
        walls: dict[str, list[float]] = {q: [] for q in MIX}
        ph = Phase()
        end = time.perf_counter() + seconds
        while True:
            for q in MIX:
                walls[q].append(self._call(spark, tr, q))
            ph.light_s.append(sum(walls[q][-1] for q in ANALYST))
            ph.heavy_s.append(sum(walls[q][-1] for q in CURATION))
            ph.cycle_s.append(ph.light_s[-1] + ph.heavy_s[-1])
            if time.perf_counter() >= end:
                break
        ph.extra = {"analyst_pass_s": median(ph.light_s), "curation_pass_s": median(ph.heavy_s),
                    "passes": len(ph.cycle_s),
                    "query_s": {q: median(walls[q]) for q in MIX}}
        return ph

    def layers(self, tr, jobs):
        m: dict[str, float] = {}
        per_call: dict[str, list[JobCost]] = {}
        for q in MIX:
            spans = tr.named(f"plans.{q}")
            per_call[q] = [cost_of(jobs, s) for s in spans]
            m[f"plans.{q}.wall_s"] = median(s.wall_s for s in spans)
            m[f"plans.{q}.jobs"] = median(c.jobs for c in per_call[q])
            m[f"plans.{q}.shuffle_bytes"] = median(c.shuffle_bytes for c in per_call[q])
        for cls, qs in (("analyst", ANALYST), ("curation", CURATION)):
            m[f"plans.{cls}.tasks"] = sum(median(c.tasks for c in per_call[q]) for q in qs)
            m[f"plans.{cls}.spill_bytes"] = sum(median(c.spill_bytes for c in per_call[q]) for q in qs)
            m[f"plans.{cls}.executor_s"] = sum(median(c.executor_s for c in per_call[q]) for q in qs)
        return m


WORKLOADS = {w.name: w for w in (MedallionDaily, QueryMix)}

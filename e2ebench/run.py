"""Run one benchmark workload and print its metrics.

    python3 e2ebench/run.py --workload medallion_daily --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones.
With ``--trace 1`` the same run is traced and the metrics are the
per-layer ones; ``trace.cycle_s`` is the traced run's cycle time. The
lines before it report every metric with its unit, the
workload-specific figures and the host record, and for a traced run the
tracing overhead against this checkout's untraced run of the same seed,
when there is one.

Everything the run writes goes under ``.e2ebench/`` in the checkout:
tables, checkpoints, Spark local dirs and event logs in a per-run
directory removed at exit; span files and run records in
``.e2ebench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "market_data_pipeline_databricks_spark"


def _deployment_env(tmp: Path) -> None:
    """The deployment settings the project's test command sets, and the
    package on the Python workers' path. Must run before the package
    is imported: the session defaults read the environment then."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # keep the JVM's and Python's own temporary files inside the run dir too
    (tmp / "tmp").mkdir()
    os.environ["TMPDIR"] = str(tmp / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def _start(app: str, event_log: Path | None = None):
    from market_data_pipeline_databricks_spark.session import get_spark

    conf = None
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(app_name=app, extra_conf=conf)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _untraced_cycle_s(name: str, seed: int) -> float | None:
    """cycle_s of this checkout's correct untraced run of the same
    workload and seed, or None when there is none."""
    rec = ROOT / ".e2ebench" / "out" / f"run-{name}-seed{seed}-trace0.json"
    if not rec.exists():
        return None
    rec = json.loads(rec.read_text())
    return rec["end_to_end"]["cycle_s"] if rec.get("correct") else None


def execute(name: str, seed: int, seconds: float, trace: bool, tmp: Path,
            sabotage: frozenset[str] = frozenset()) -> dict:
    from host import HostMonitor
    from spans import Tracer, read_event_log
    from workloads import END_TO_END, WORKLOADS, layer_metric_units, median

    monitor = HostMonitor()
    w = WORKLOADS[name](tmp / "work", seed, sabotage)
    log_dir = tmp / "eventlog" if trace else None
    t0 = time.perf_counter()
    spark = _start(f"e2ebench-{name}", log_dir)
    session_s = time.perf_counter() - t0
    try:
        w.tmp.mkdir(parents=True)
        t = time.perf_counter()
        sizes = w.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        w.prepare()
        oracle_s = time.perf_counter() - t
        w.on_session(spark)
        t = time.perf_counter()
        w.warm_up(spark)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warmup_s
        tr = Tracer(spark, enabled=trace)
        phase = w.measure(spark, tr, seconds)
        w.finish(spark)
        e2e = {"setup_s": setup_s, "cycle_s": median(phase.cycle_s)}
        host = monitor.stop()
        layers = {}
        if trace:
            spark.stop()  # flushes the event log
            layers = dict.fromkeys(layer_metric_units(), 0.0)
            layers.update(w.layers(tr, read_event_log(log_dir)))
            layers["trace.cycle_s"] = e2e["cycle_s"]
            base = _untraced_cycle_s(name, seed)
            w.notes["trace_overhead_s"] = (
                e2e["cycle_s"] - base if base is not None else "no untraced run of this seed"
            )
            out = ROOT / ".e2ebench" / "out"
            out.mkdir(parents=True, exist_ok=True)
            tr.write(out / f"spans-{name}-seed{seed}.json")
    finally:
        _stop_jvm(spark)
    report = {
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s,
                  "oracle_s": oracle_s},
        "inputs": sizes,
        "heavy_ops_s": median(phase.heavy_s),
        "light_ops_s": median(phase.light_s),
        **phase.extra,
        **w.notes,
        "host": host,
        "failed_ops_frac": w.ops.failed / w.ops.attempted if w.ops.attempted else 1.0,
        "problems": w.ops.problems[:20],
    }
    units = layer_metric_units() if trace else END_TO_END
    metrics = layers if trace else e2e
    return {
        "correct": w.ops.attempted > 0 and w.ops.failed == 0 and not w.ops.problems,
        "attempted": w.ops.attempted,
        "failed": w.ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "report": report,
        "end_to_end": e2e,
    }


def run_once(name: str, seed: int, seconds: float, trace: bool,
             sabotage: frozenset[str] = frozenset()) -> dict:
    """``execute`` in a fresh per-run directory, removed afterwards."""
    tmp = ROOT / ".e2ebench" / f"run-{name}-{seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    _deployment_env(tmp)
    os.chdir(tmp)  # Spark's default warehouse and metastore dirs land here
    try:
        return execute(name, seed, seconds, trace, tmp, sabotage)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"e2ebench: no {PACKAGE} package under {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    out = ROOT / ".e2ebench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **result}
    (out / f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    print(f"e2ebench {args.workload} seed={args.seed} trace={args.trace}")
    for k, v in result["metrics"].items():
        print(f"  {k:<52} {v['value']:>14.6g} {v['unit']}")
    if args.trace:
        for k, v in result["end_to_end"].items():
            print(f"  traced run's {k:<39} {v:>14.6g}")
    print("report " + json.dumps(result["report"], default=str))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Sabotage self-test: the output checks must flag a wrong result.

    python3 e2ebench/selftest.py

Runs ``medallion_daily`` (its warm-up and one measured cycle) with two
results sabotaged as the checks read them: one gold row dropped, and one
streaming rank off by one. Passes (exit 0) only when both are reported, the run is marked
incorrect and both failed operations count in ``failed_ops_frac``.
"""

from __future__ import annotations

import sys

from run import PACKAGE, ROOT, run_once


def main() -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"selftest: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    result = run_once("medallion_daily", seed=1, seconds=1, trace=False,
                      sabotage=frozenset({"drop_gold_row", "rank_off_by_one"}))
    problems = result["report"]["problems"]
    gold = [p for p in problems if p.startswith("gold:")]
    rank = [p for p in problems if p.startswith("rank table differs")]
    for p in problems:
        print(f"  flagged: {p}")
    print(f"  attempted={result['attempted']} failed={result['failed']} "
          f"failed_ops_frac={result['report']['failed_ops_frac']:.3f}")
    ok = bool(gold and rank) and not result["correct"] and result["failed"] >= 2
    print("selftest " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Capture .explain("formatted") output for named queries into
plans/<round>/<query>_<suffix>.txt — the before/after evidence trail for
an optimization round (plan claims are checked against these files).

Usage: python tools/capture_plans.py <round> <suffix> [sf_dir] <query> [query ...]
       python tools/capture_plans.py <round> <suffix> [sf_dir] --all-bench

``<round>`` names the directory under plans/, e.g. ``r13``.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, suffix = sys.argv[1], sys.argv[2]
    args = sys.argv[3:]
    sf = "/root/testdata/sf0.1"
    if args and args[0].startswith("/"):
        sf = args[0]
        args = args[1:]

    from pydatalake_spark.queries import QUERIES
    from pydatalake_spark.session import get_spark

    if args == ["--all-bench"]:
        import bench

        names = list(bench.BENCH_QUERIES)
    else:
        names = args

    out_dir = Path(__file__).resolve().parent.parent / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans_{rnd}")
    for name in names:
        try:
            df = QUERIES[name](spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - capture what we can
            plan = f"ERROR capturing plan: {type(e).__name__}: {e}"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote plans/{rnd}/{name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

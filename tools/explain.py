"""Capture `.explain("formatted")` for bench headliners into plans/<round>/.

Usage:
    python tools/explain.py r17 before                 # all headliners
    python tools/explain.py r17 after q1 q2 ...        # a subset

Writes plans/<round>/<query>_<tag>.txt — the optimization-round evidence
files the OPTIMIZATION_r<N>.md logs cite. Runs at the bench
configuration (bench.SF_DIR, the engine session) so the captured plans
are the ones the bench times.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    from bench import HEADLINE, SF_DIR
    from usgs_lidar_spark.plans.queries import QUERIES
    from usgs_lidar_spark.session import get_spark

    names = sys.argv[3:] or HEADLINE
    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"explain-{rnd}")
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            txt = (
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as e:  # surface, keep going
            txt = f"ERROR capturing plan: {e}\n"
        (out_dir / f"{name}_{tag}.txt").write_text(txt)
        print(f"wrote {name}_{tag}.txt ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

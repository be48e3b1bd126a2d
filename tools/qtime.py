"""Time registered queries in isolation (guide §1.4), split into plan
CONSTRUCTION and ACTION.

A bench run times ``QUERIES[name](spark, SF_DIR)`` + force, so its wall
is plan construction (Python expression building, py4j round trips,
any eager pins/collects an operator pays at build time) plus the
forced action. This tool attributes the two, so optimization effort
lands where the time goes: a query whose wall is mostly construction
needs fewer py4j calls or fewer eager build-time jobs, not a better
physical plan.

    python tools/qtime.py                        # every bench headliner
    python tools/qtime.py sim_knn_label_gate q1_pricing_summary

After one warmup per query (bench.py convention), each of the
bench.N_RUNS timed runs forces the query twice: with bench-parity
forcing (count / HASH_FORCED aggregate) and with the noop sink (computes
every output column, no sink cost). Every run prints its construction
and action seconds; a closing table, sorted by construction time, holds
the min-of-runs of the bench-forced runs. Scale and run count come from
bench.py's SPARK_GRAFT_SF_DIR and SPARK_GRAFT_BENCH_RUNS.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bench import HEADLINE, N_RUNS, SF_DIR, _force  # noqa: E402
from usgs_lidar_spark.plans.queries import QUERIES  # noqa: E402
from usgs_lidar_spark.session import get_spark  # noqa: E402


def _noop(df, name: str) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark("qtime")
    for name in names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        t0 = time.perf_counter()
        _force(QUERIES[name](spark, SF_DIR), name)
        print(f"{name} warmup: {time.perf_counter() - t0:.3f}s", flush=True)

    best: dict[str, tuple[float, float]] = {}
    for i in range(N_RUNS):
        for name in names:
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            for tag, force in (("bench", _force), ("noop", _noop)):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, SF_DIR)
                t1 = time.perf_counter()
                force(df, name)
                t2 = time.perf_counter()
                print(
                    f"{name} {tag} run {i}: construct {t1 - t0:.3f}s "
                    f"action {t2 - t1:.3f}s",
                    flush=True,
                )
                if tag == "bench":
                    c, a = best.get(name, (t1 - t0, t2 - t1))
                    best[name] = (min(c, t1 - t0), min(a, t2 - t1))

    print(f"{'query':42s} {'construct':>9s} {'action':>9s} {'c_frac':>6s}")
    tot_c = tot_a = 0.0
    for name, (c, a) in sorted(best.items(), key=lambda kv: -kv[1][0]):
        tot_c += c
        tot_a += a
        print(f"{name:42s} {c:9.3f} {a:9.3f} {c / max(c + a, 1e-9):6.0%}")
    print(f"{'TOTAL (min-of-runs)':42s} {tot_c:9.3f} {tot_a:9.3f} "
          f"{tot_c / max(tot_c + tot_a, 1e-9):6.0%}")
    spark.stop()


if __name__ == "__main__":
    main()

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
seconds, py4j calls and jobs, and its action seconds; a closing table,
sorted by construction time, holds the min-of-runs of the bench-forced
runs. Construction py4j calls are those the building thread sends
(py4j's finalizer thread frees dead JVM handles on its own schedule);
construction jobs are the Spark jobs (eager pins, collects) started
under the construction's own job group. Scale and run count come from
bench.py's SPARK_GRAFT_SF_DIR and SPARK_GRAFT_BENCH_RUNS.
"""

from __future__ import annotations

import sys
import threading
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


class _Construction:
    """Builds a query under its own job group and counts the py4j calls
    the building thread sends while it does."""

    def __init__(self, spark) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        self.calls = self.n = 0
        self.counting = None
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.calls += threading.get_ident() == self.counting
            return send(*args, **kwargs)

        client.send_command = counted

    def __call__(self, name: str):
        """(df, seconds, py4j calls, jobs) of one construction."""
        self.n += 1
        group = f"qtime:{name}:{self.n}"
        self.sc.setJobGroup(group, f"qtime:{name}")
        c0, self.counting = self.calls, threading.get_ident()
        t0 = time.perf_counter()
        df = QUERIES[name](self.spark, SF_DIR)
        t1 = time.perf_counter()
        self.counting = None
        calls = self.calls - c0
        self.sc._jsc.clearJobGroup()
        self.sc.setJobDescription(f"qtime:{name}")
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        return df, t1 - t0, calls, jobs


def main() -> None:
    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark("qtime")
    construct = _Construction(spark)
    for name in names:
        t0 = time.perf_counter()
        _force(construct(name)[0], name)
        print(f"{name} warmup: {time.perf_counter() - t0:.3f}s", flush=True)

    best: dict[str, tuple[float, float, int, int]] = {}
    for i in range(N_RUNS):
        for name in names:
            for tag, force in (("bench", _force), ("noop", _noop)):
                df, c, calls, jobs = construct(name)
                t0 = time.perf_counter()
                force(df, name)
                a = time.perf_counter() - t0
                print(
                    f"{name} {tag} run {i}: construct {c:.3f}s "
                    f"({calls} py4j calls, {jobs} jobs) action {a:.3f}s",
                    flush=True,
                )
                if tag == "bench":
                    run = (c, a, calls, jobs)
                    best[name] = tuple(map(min, best.get(name, run), run))

    print(f"{'query':42s} {'construct':>9s} {'action':>9s} {'c_frac':>6s} "
          f"{'py4j':>6s} {'jobs':>4s}")
    tot_c = tot_a = 0.0
    for name, (c, a, calls, jobs) in sorted(best.items(), key=lambda kv: -kv[1][0]):
        tot_c += c
        tot_a += a
        print(f"{name:42s} {c:9.3f} {a:9.3f} {c / max(c + a, 1e-9):6.0%} "
              f"{calls:6d} {jobs:4d}")
    print(f"{'TOTAL (min-of-runs)':42s} {tot_c:9.3f} {tot_a:9.3f} "
          f"{tot_c / max(tot_c + tot_a, 1e-9):6.0%}")
    spark.stop()


if __name__ == "__main__":
    main()

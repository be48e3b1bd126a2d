"""Round-robin spread for map-only Arrow kernels — the shared helper
behind every mapInArrow kernel's input partitioning (7 call sites in
operators/similarity.py and operators/minhash_kernel.py).

Rule (unchanged from optimization round 16): when the pruned input scan
has fewer splits than the cluster has slots, round-robin it to
``defaultParallelism`` so the kernel uses the whole cluster; at real
scale the scan has enough splits and this is a no-op.

Round 17 measured the VERDICT-r16 alternative — gating the spread on
Catalyst's ``optimizedPlan().stats().sizeInBytes`` with a
bytes-per-task floor — and REVERTED it (guide §1.1, measure first):
the kernels' cost is per-ROW (shingling ~0.5 ms/doc, vector argmax
~0.1 ms/row), not per-byte, so a bytes floor starves exactly the
inputs that most need the cores. Isolated A/B at quiet local[32],
sf0.1, 4 MiB floor vs this rule:

    pipe_contamination_fuzzy   0.83 s -> 2.6 s   (255 KB est -> 1 task)
    sim_knn_label_gate         0.55 s -> 0.76 s  (666 KB est -> 1 task)
    pipe_semantic_decon_hotbench 0.71 s -> 0.66 s (within noise)

The same quiet-box bench also shows the r16 kernels at or below their
8-core walls at 32 cores (decon_hotbench 0.65 s vs the driver's noisy
5.78 s reading), i.e. the "kernels regress at high core count" signal
in PERF_r16 was box contention (pre-bench calibration rider 0.912 s =
3.5x the quiet band), not task fan-out. The fan-out cost that IS real
— per-task closure payloads — is addressed by shipping the kernels'
matrices through ``sc.broadcast`` (deserialized once per reused worker,
not once per task) at the call sites that carry non-trivial state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_kernel(df: DataFrame) -> DataFrame:
    """Round-robin-spread ``df`` to ``defaultParallelism`` partitions
    when its scan has fewer splits than the cluster has slots."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    return df

"""Connected components over a pair graph — the cluster-collapse step of
a near-duplicate pipeline (pairs -> clusters -> one representative doc).

Not in the reference (its dedup surface is nonexistent; see
operators/dedup.py); this is the north-star extension that turns pairwise
near-dup output into the thing a training-data pipeline actually keeps:
one canonical document per duplicate cluster.

Spark design — iterative min-label propagation:
  * state is (id, label); label converges to the component's min id;
  * one round = propagate labels across edges (equi-join) + min-agg.
    Rounds needed = component diameter, which for near-dup clusters is
    tiny (duplicates of a common source are mutually similar — diameter
    1-3 in practice). `max_iter` bounds pathological chains;
  * every round ends in localCheckpoint(): iterative DataFrame loops
    otherwise stack exponentially-growing lineage, and the convergence
    check re-executes it. On a cluster with a checkpoint dir configured,
    reliable checkpoint() is the drop-in upgrade;
  * convergence = zero labels changed (one count() action per round —
    the driver only sees a scalar, never the data);
  * the edge list is made undirected + distinct once, up front.

The alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond") drops round count to
O(log^2 n) for high-diameter graphs; min-label propagation is the default
because dedup graphs are shallow and each round is a single cheap
shuffle. ``algorithm="star"`` switches to the alternating form for
high-diameter inputs (long chain-shaped near-dup drift, web link graphs).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usgs_lidar_spark.functions.sqlbuild import qident


class ConvergenceWarning(UserWarning):
    """Raised/warned when an iterative operator hits max_iter unconverged —
    its output labels may be only partially propagated."""


def _sql_ident(name: str) -> str:
    """`qident` with braces doubled, for SQL text that goes through the
    frame-argument formatter of ``spark.sql(text, name=df)``."""
    return qident(name).replace("{", "{{").replace("}", "}}")


def _make_ckpt(checkpoint_mode: str):
    """Checkpoint strategy shared by every iterative operator in this
    module: ``"local"`` materializes to EXECUTOR BLOCKS
    (localCheckpoint — fast, but the blocks die with their executor and
    lineage is severed, so one lost executor fails a multi-hour job with
    nothing to recompute from); ``"reliable"`` uses
    ``DataFrame.checkpoint()`` into the fault-tolerant checkpoint
    directory (caller must have set
    ``spark.sparkContext.setCheckpointDir`` to shared storage) — the
    durability toggle for long multi-tenant 100 TB runs where executor
    loss is routine, at the cost of one distributed write per
    checkpointed frame. Both modes produce identical results
    (`test_connected_components_reliable_checkpoint_parity`)."""
    if checkpoint_mode not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint_mode must be 'local' or 'reliable',"
            f" got {checkpoint_mode!r}"
        )

    def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
        # eager=False defers materialization to the frame's FIRST action
        # (lineage is still severed there): a loop that follows every
        # pin with its own action anyway — the convergence count — can
        # ride both on ONE job instead of paying a separate
        # materialization job per round (guide §2.6: sequential driver
        # round-trips are the iterative tax). Only safe where an action
        # per round is guaranteed; a deferred pin consumed only by the
        # NEXT round's plan would let analysis-time lineage regrow.
        if checkpoint_mode == "reliable":
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    return _ckpt


def _minlabel_rounds(
    labels: DataFrame, bidir: DataFrame, max_iter: int, ckpt,
    steps_per_round: int = 2,
) -> tuple[DataFrame, bool, int]:
    """Min-label propagation until no label changes. Returns
    (labels, converged, rounds_run).

    Each round runs ``steps_per_round`` propagation steps (one hop
    each: join + min-label aggregate) before paying the round tax —
    ONE checkpoint materialization and ONE scalar convergence count
    (optimization round 16; 2 steps halves both the checkpoint writes
    and the sequential driver round-trips for a given diameter, the
    §2.6-class cost an iterative loop pays per action — at scale each
    checkpoint materializes the whole O(V) label frame).

    Convergence is detected WITHIN the round, not by running an extra
    all-no-op round: each row's label from just BEFORE the round's
    final hop rides through that hop as a tagged column (min ignoring
    the message rows' NULLs), and "final hop changed nothing" is
    checked by a filter-count over the already-checkpointed result.
    One propagation hop is a deterministic function of the (id, label)
    state and labels only ever decrease, so a no-op hop means the
    pre-hop state was already a FIXED POINT — every later hop is also
    a no-op, which is exactly label convergence. (The seed label frame
    covers every edge endpoint — connected_components iterates over
    the touched-vertex semi-join — so no id can first appear
    mid-iteration and silently dodge the count; a NULL ``__old`` row,
    were one possible, would keep the pre-r6 "appearing is not
    changing" convention.) A diameter-1 pair graph — the common dedup
    shape: star clusters around their min id — therefore converges in
    ONE round (2 hops, 1 checkpoint, 1 count) where the round-start
    comparison needed two full rounds to see a zero. ``max_iter``
    keeps its meaning of checkpointed rounds (each covering up to
    ``steps_per_round`` hops)."""
    label_type = labels.schema["label"].dataType
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        cur = labels
        for _step in range(steps_per_round - 1):
            msgs = bidir.join(cur, bidir["u"] == cur["id"]).select(
                F.col("v").alias("id"), "label"
            )
            cur = (
                cur.select("id", "label")
                .union(msgs)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
        tagged = cur.select("id", "label", F.col("label").alias("__old"))
        msgs = bidir.join(tagged, bidir["u"] == tagged["id"]).select(
            F.col("v").alias("id"),
            "label",
            F.lit(None).cast(label_type).alias("__old"),
        )
        # Lazy pin: the convergence count below is the round's
        # guaranteed action, so it materializes the checkpoint and
        # counts in ONE job (two jobs per round before).
        new_labels = ckpt(
            tagged.select("id", "label", "__old")
            .union(msgs)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("__old").alias("__old"),
            ),
            eager=False,
        )
        changed = new_labels.filter(
            F.col("__old").isNotNull() & (F.col("label") != F.col("__old"))
        ).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            converged = True
            break
    return labels, converged, rounds


def _star_rounds(
    vertices: DataFrame, bidir: DataFrame, max_iter: int, ckpt
) -> tuple[DataFrame, bool, int]:
    """Alternating large-star/small-star contraction (Kiveris et al. 2014).

    State is the parent-pointer forest as an edge list (u, v) meaning
    "u's neighborhood", kept symmetric-free: each round rewrites edges so
    every vertex points closer to its component minimum.

      * large-star: for each u, connect every STRICTLY LARGER neighbor v
        to m = min(neighborhood(u) ∪ {u});
      * small-star: for each u, connect every neighbor v <= u (and u) to m.

    Both are one groupBy over the current edge list (shuffle keyed by u)
    emitting rewritten edges; components contract to stars around their
    minimum in O(log^2 n) rounds regardless of diameter — the scale path
    for chain-shaped graphs where min-label needs diameter rounds.
    Convergence: the edge multiset stops changing (checked via a count of
    changed edges — scalar-only to the driver, like min-label).
    """
    from pyspark.sql import Window

    # Self-loops carry no information; drop up front. Eager: round 1's
    # delta count references this pin from four branches (both sym
    # orientations, both exceptAll legs) — see the bidir pin note.
    edges = ckpt(bidir.filter(F.col("u") != F.col("v")).distinct())
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star: every neighbor v > u attaches to
        #      m = min(N(u) ∪ {u}). Neighborhood min is a WINDOW MIN over
        #      the symmetric edge list — spillable per-key state, never a
        #      collect_set of a hub's full (possibly 1e8-wide) neighborhood.
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        wu = Window.partitionBy("u")
        m_large = F.least(F.min("v").over(wu), F.col("u"))
        large = (
            sym.withColumn("m", m_large)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        large = ckpt(large, eager=False)
        # ---- small-star: orient every edge to key = max endpoint; all
        #      kept neighbors are < u, and N ∪ {u} attaches to m = min(N).
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        wo = Window.partitionBy("u")
        m_small = F.min("v").over(wo)
        attach = oriented.withColumn("m", m_small)
        # Lazy pin + ONE symmetric-difference count: the union of the
        # two exceptAll legs counts both directions in a single job
        # (sum of counts == count of the unioned multiset), and that
        # job also materializes the checkpoint (three jobs per round
        # before).
        small = ckpt(
            attach.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(attach.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            eager=False,
        )
        delta = small.exceptAll(edges).unionAll(edges.exceptAll(small)).count()
        edges = small
        if delta == 0:
            converged = True
            break
    # Forest -> labels: after convergence every non-root points directly at
    # its component min (star shape); roots are vertices never appearing as
    # a child. One final min-agg collapses any residual two-level chains.
    child_min = edges.groupBy("u").agg(F.min("v").alias("label"))
    labels = (
        vertices.join(child_min, vertices["id"] == child_min["u"], "left")
        .select(
            "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
        )
    )
    return ckpt(labels), converged, rounds


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    algorithm: str = "minlabel",
    on_unconverged: str = "warn",
    stats: dict | None = None,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Label every vertex with the minimum vertex id reachable through
    `edges` (undirected). Output: (id, cluster_id).

    Vertices absent from the edge list keep themselves as cluster_id
    (singleton clusters), so the output has exactly one row per vertex.

    ``algorithm``: "minlabel" (default; rounds = component diameter —
    right for shallow dedup graphs) or "star" (alternating large/small
    star, O(log^2 n) rounds — right for high-diameter graphs).

    ``on_unconverged``: "warn" (default) or "raise" — hitting ``max_iter``
    with labels still changing means the output is PARTIALLY propagated
    (wrong cluster ids on the unfinished components), which previously
    returned silently.

    ``stats``: optional dict populated in place with {"rounds", "converged",
    "algorithm"} — convergence diagnostics for monitoring/experiments
    without an extra action.

    ``checkpoint_mode``: ``"local"`` (default) or ``"reliable"`` — the
    same durability toggle as `pagerank_fixed` (see `_make_ckpt`): CC
    backs the heaviest dedup pass (`collapse_clusters`), and on a real
    long-running cluster an executor loss kills localCheckpoint blocks
    with severed lineage; reliable mode writes every per-round pin to
    the fault-tolerant checkpoint directory instead. Results are
    bit-identical either way.
    """
    ckpt = _make_ckpt(checkpoint_mode)
    labels = vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    )
    fwd = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    rev = edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    # Kept EAGER (round 17 audit): the round-1 count job references
    # this pin from several branches at once (touched, seed's semi
    # join, both hops' message joins); a lazy pin would let those
    # branches race to compute the whole pair-build lineage
    # concurrently before the cache fills — N-times the heaviest
    # subtree for one saved persist job is the wrong trade at every
    # scale.
    bidir = ckpt(fwd.union(rev).distinct())

    if algorithm == "minlabel":
        # Iterate ONLY over vertices with at least one edge: a dedup pair
        # graph touches a tiny fraction of a 100 TB corpus, and dragging
        # the |V|-sized singleton majority through every round's shuffle
        # was pure waste — they are their own components by definition
        # and rejoin map-only at the end. (bidir is symmetric, so "u"
        # covers every endpoint.)
        touched = bidir.select(F.col("u").alias("id")).distinct()
        seed = labels.join(touched, "id", "left_semi")
        iter_labels, converged, rounds = _minlabel_rounds(
            seed, bidir, max_iter, ckpt
        )
        singletons = labels.join(touched, "id", "left_anti")
        labels = iter_labels.unionByName(singletons)
    elif algorithm == "star":
        labels, converged, rounds = _star_rounds(
            vertices.select(F.col(id_col).alias("id")), bidir, max_iter, ckpt
        )
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")

    if stats is not None:
        stats.update(
            {"rounds": rounds, "converged": converged, "algorithm": algorithm}
        )

    if not converged:
        msg = (
            f"connected_components({algorithm}) hit max_iter={max_iter} "
            f"before converging — labels may be partially propagated"
        )
        if on_unconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, ConvergenceWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("cluster_id"))


def collapse_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Near-dup cluster collapse: every document labeled with its cluster
    representative (min doc id in its connected component), plus the
    cluster size. Output: (doc_id, cluster_id, cluster_size, is_kept) —
    `is_kept` marks the representative row a dedup pipeline retains.
    ``checkpoint_mode="reliable"`` passes through to
    `connected_components` — the durability toggle for multi-hour
    cluster runs (this is the heaviest dedup pass; see `_make_ckpt`)."""
    cc = connected_components(
        docs.select(F.col(id_col)), pairs,
        id_col=id_col, src_col=pair_a, dst_col=pair_b, max_iter=max_iter,
        checkpoint_mode=checkpoint_mode,
    ).withColumnRenamed("id", id_col)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias("is_kept"),
        )
    )


def collapse_clusters_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Cluster collapse with QUALITY-AWARE keeper selection: the retained
    document per near-dup cluster is the one maximizing ``score_col``
    (ties -> min id), not the min-id member `collapse_clusters` keeps.
    This is what production dedup actually does — near-dup clusters mix
    truncated scrapes, boilerplate-wrapped copies, and one good version
    of the page, and dropping all but the *first-crawled* (min-id) copy
    throws away quality the cluster already paid to measure (Penedo et
    al. 2024, FineWeb, keeps by quality filters post-dedup; Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    notes the kept-member choice is a free parameter). Any per-doc
    signal plugs in: length, a classifier score, an integer quality
    rank.

    Plan: same min-label-propagation components as `collapse_clusters`
    (labels-only shuffle, per-round checkpoint), then ONE extra
    cluster-keyed reduction — a max_by-style aggregate of the
    (score, -id) pair per cluster joined back on cluster_id (one row
    per cluster, so the join is cluster-count-sized: AQE broadcasts it
    when small, and a singleton-heavy graph where it is corpus-sized
    degrades to an ordinary equi-join, never worse) — instead of a
    per-cluster sort: keeper selection is an O(|cluster|) fold, not an
    O(|cluster| log |cluster|) window sort, and the giant-cluster skew
    case degrades like any other hash aggregate (partial map-side
    combine), not like a single-partition window.

    Output: (id, cluster_id, cluster_size, keeper_id, is_kept).

    ``id_col`` must be SIGNED NUMERIC: the ties->min-id keeper rule is
    implemented as a struct-max over (score, -id), and the min-label
    component propagation already requires ordered numeric labels — a
    string or unsigned-at-the-boundary id would tie-break wrong or fail
    deep inside the plan, so the type is validated loudly up front
    (ADVICE r13)."""
    from pyspark.sql import types as _T

    id_field = docs.schema[id_col].dataType
    if not isinstance(
        id_field, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
                   _T.FloatType, _T.DoubleType, _T.DecimalType)
    ):
        raise TypeError(
            f"collapse_clusters_keep_best: id column {id_col!r} must be "
            f"signed numeric (ties->min-id uses a (score, -id) struct-max "
            f"and min-label CC orders labels), got {id_field.simpleString()}"
        )
    cc = connected_components(
        docs.select(F.col(id_col)), pairs,
        id_col=id_col, src_col=pair_a, dst_col=pair_b, max_iter=max_iter,
        checkpoint_mode=checkpoint_mode,
    ).withColumnRenamed("id", id_col)
    # scored is consumed twice (keeper aggregate + output join); pin it
    # once so the corpus-wide cc x docs join is not re-evaluated per
    # consumer — the `semdedup_flags` assigned-frame convention.
    scored = cc.join(
        docs.select(F.col(id_col), F.col(score_col).alias("__score")),
        id_col,
    ).localCheckpoint(eager=False)
    # argmax(score, tie -> min id) as a struct-max: (score, -id) orders
    # lexicographically, so max() picks the highest score and, within a
    # score, the smallest id — one hash aggregate with map-side combine.
    best = scored.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(
            F.struct(
                F.col("__score").alias("s"),
                (-F.col(id_col)).alias("negid"),
            )
        ).alias("__best"),
    ).select(
        "cluster_id",
        "cluster_size",
        (-F.col("__best.negid")).alias("keeper_id"),
    )
    return scored.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        "keeper_id",
        (F.col(id_col) == F.col("keeper_id")).alias("is_kept"),
    )


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**12,
    edges_materialized: bool = False,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) in EXACT scaled-integer
    arithmetic: ranks live as BIGINT multiples of 1/scale, per-edge
    contributions use integer division (r DIV out_degree), and the
    damped update is (85 * sum) DIV 100 — every intermediate is an
    integer, so sums are partition-order-independent and the whole
    computation is reproducible bit-for-bit in any SQL engine (floating
    PageRank would drift with aggregation order; the ~1/scale rounding
    this buys costs ~1e-12 absolute accuracy per step).

    Each iteration is one equi-join of the rank frame with the edge
    list plus one sum-by-destination — the canonical distributed PR
    step; with the edge list bucketed by src even that join's shuffle
    disappears, and iterations stay O(E) with no driver round-trip
    (node count rides a broadcast one-row frame). Dangling mass:
    callers pass symmetrized edges (every node then has out-degree
    >= 1); true dangling nodes simply leak their mass, the standard
    simplification.

    Returns (node, rank_scaled BIGINT, rank DOUBLE = scaled/scale).

    ``edges_materialized=True`` declares the edge frame already
    materialized on stable storage (e.g. a `write_edge_table` bucketed
    table): the edge localCheckpoint is skipped, so the scan's BUCKETED
    output partitioning survives into every iteration join —
    localCheckpoint would materialize to executor blocks and erase the
    bucketing metadata, re-introducing a per-iteration edge Exchange.

    ``checkpoint_mode``: ``"local"`` (default) materializes the
    iteration-invariant frames to EXECUTOR BLOCKS — fast, but on a real
    cluster those blocks die with their executor, and a lost block
    fails the job (localCheckpoint severs lineage, so there is nothing
    to recompute from). ``"reliable"`` uses `DataFrame.checkpoint()`
    to the fault-tolerant checkpoint directory instead (caller must
    have set ``spark.sparkContext.setCheckpointDir`` to shared
    storage) — the right toggle for long multi-tenant cluster runs
    where executor loss is routine; costs one distributed write per
    checkpointed frame. Both modes produce identical results; this is
    purely a durability/latency trade.
    """
    _ckpt = _make_ckpt(checkpoint_mode)

    # The edge list, node set and degree table feed EVERY iteration:
    # checkpoint them once so the unrolled plan references a
    # materialized scan instead of re-deriving the (possibly expensive)
    # edge construction per iteration — without this, a 3-iteration
    # plan re-expands upstream lineage ~30x (measured 105 shuffle
    # exchanges vs 11 after; same contract as connected_components'
    # per-round checkpointing).
    e = edges.select(F.col(src).alias("__esrc"), F.col(dst).alias("__edst"))
    if not edges_materialized:
        # Eager: e is referenced by the degree aggregate AND every
        # iteration's contribution join — lazy, those branches race to
        # recompute the (possibly expensive) edge build concurrently in
        # the caller's first job before the cache fills.
        e = _ckpt(e)
    # Node set and out-degree in ONE aggregation over ONE pin
    # (optimization round 17, guide §2.3/§2.6): the former plan shuffled
    # the endpoint union twice (a distinct for the node set, a groupBy
    # for degrees) and paid two checkpoint materializations. Tagging
    # each endpoint row (src=1, dst=0) makes one sum-aggregate produce
    # both: every node appears (node set == distinct union), and
    # sum(tag) == the node's out-edge count (0 for sink-only nodes,
    # which the degree join never touches — it probes by __esrc, whose
    # degree is >= 1 by construction). This pin IS safely lazy: its
    # first materialization happens serially inside `nodes`' own
    # construction (the n_row count below runs at nodes' toRdd), so no
    # concurrent consumer can race its lineage.
    dn = _ckpt(
        e.select(F.col("__esrc").alias("node"), F.lit(1).alias("__t"))
        .unionAll(e.select(F.col("__edst").alias("node"), F.lit(0).alias("__t")))
        .groupBy("node")
        .agg(F.sum("__t").alias("__d")),
        eager=False,
    )
    n_row = dn.agg(F.count(F.lit(1)).alias("__n"))
    # nodes stays pinned: un-pinned, the one-row crossJoin re-appears as
    # a BroadcastNestedLoopJoin rider in EVERY iteration's visible plan
    # (the exact rider shape round 16's ivf_assign kernel removed).
    # Lazy is safe here: a racing recompute re-scans dn's cached blocks
    # (map-only) — the n_row shuffle stage already materialized at this
    # pin's own toRdd.
    nodes = _ckpt(
        dn.select("node").crossJoin(F.broadcast(n_row)), eager=False
    )
    deg = dn.filter(F.col("__d") > 0).select("node", "__d")
    ranks = nodes.select(
        "node",
        "__n",
        F.expr(f"CAST({scale} AS BIGINT) div __n").alias("__r"),
    )
    teleport = F.expr(f"CAST({15 * scale} AS BIGINT) div (100 * __n)")
    for _ in range(iterations):
        contrib = (
            e.join(deg, e["__esrc"] == deg["node"])
            .join(
                ranks.select(F.col("node").alias("__rn"), "__r"),
                F.col("__esrc") == F.col("__rn"),
            )
            .select(
                F.col("__edst").alias("node"),
                F.expr("__r div __d").alias("__c"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes.join(incoming, "node", "left")
            .withColumn("__s", F.coalesce("__s", F.lit(0)))
            .select(
                "node",
                "__n",
                (teleport + F.expr("(85 * __s) div 100")).alias("__r"),
            )
        )
    return ranks.select(
        "node",
        F.col("__r").alias("rank_scaled"),
        (F.col("__r").cast("double") / float(scale)).alias("rank"),
    )


def copurchase_edges(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket: int | None = None,
    seed: int = 0,
    keep_support: bool = False,
) -> DataFrame:
    """Co-occurrence edge list from (basket, item) rows: one (src, dst)
    row per unordered item pair sharing >= ``min_support`` baskets, with
    src < dst (``keep_support`` adds the support count column). The within-basket self-join is quadratic in basket size —
    a single hot basket with 10^5 items yields 5*10^9 pairs, the
    superlinear input-construction wall VERDICT r5 measured on the
    pagerank/triangle queries.

    ``max_basket`` caps that: baskets larger than the cap contribute
    only their ``max_basket`` items, chosen by a DETERMINISTIC,
    ORACLE-REPRODUCIBLE rule — rank items within each basket by
    (portable Lehmer hash of the item, item) and keep the first
    ``max_basket``. Hash order (not plain item order) makes the kept
    subset pseudo-random, so the truncation subsamples the basket
    instead of biasing toward low ids, while any ANSI engine replays the
    exact same choice (same two-round Lehmer arithmetic as
    operators/pipeline.portable_hash_long). Per-basket pair fan-out is
    then bounded by C(max_basket, 2) — linear in input rows — at the
    cost of undercounting support for pairs whose co-occurrences sit in
    capped baskets (the standard frequent-itemset truncation trade; cap
    ABOVE the p99.9 basket size so it only touches pathological
    baskets). The capped build is one aggregate per basket (two
    shuffles, no window); its buffer holds ALL of the basket's distinct
    items before the slice, so one basket must fit in a task's memory,
    where the uncapped self-join can spill. Either build is one SQL
    parse over ``df``."""
    from usgs_lidar_spark.operators.pipeline import portable_hash_long_sql

    bk, it = _sql_ident(basket_col), _sql_ident(item_col)
    if max_basket is None:
        li = f"(SELECT DISTINCT {bk} AS k, {it} AS i FROM {{df}})"
        pairs = f"SELECT a.i AS src, b.i AS dst FROM {li} a JOIN {li} b ON a.k = b.k"
    elif max_basket < 2:
        raise ValueError(f"max_basket must be >= 2, got {max_basket}")
    else:
        # The set dedups (basket, item); (hash, item) structs sort nulls
        # first, so a null item takes one of the slots and then drops
        # out of every pair. Pairs come from two explodes and a filter,
        # no lambda: with one, AQE did not reuse the pair stage of a
        # frame referenced more than once and re-ran it per reference.
        h = portable_hash_long_sql(it, seed)
        pairs = f"""SELECT src, explode(__kept) AS dst FROM (
            SELECT __kept, explode(__kept) AS src FROM (
                SELECT {bk}, slice(sort_array(collect_set(
                    struct({h} AS h, {it} AS i))), 1, {int(max_basket)}).i AS __kept
                FROM {{df}} GROUP BY {bk}))"""
    return df.sparkSession.sql(
        f"""SELECT src, dst{", support" if keep_support else ""} FROM (
            SELECT src, dst, count(1) AS support FROM ({pairs})
            WHERE src < dst GROUP BY src, dst)
        WHERE support >= {int(min_support)}""",
        df=df,
    )


def write_edge_table(
    edges: DataFrame,
    table_name: str,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = 32,
    path: str | None = None,
    symmetrize: bool = False,
) -> None:
    """Materialize an edge list as a src-BUCKETED, (src, dst)-sorted
    parquet table — the persisted form that makes iterative graph
    queries cheap to re-run.

    SCALE.md names the co-purchase edge BUILD (a within-basket
    self-join) as the dominant shuffle of the pagerank/triangle queries
    at sf1 (~0.5-1.8 GB); it is also iteration-invariant and shared by
    every graph query over the same edges. Paying it ONCE here converts
    each subsequent `pagerank_fixed(read_edge_table(...),
    edges_materialized=True)` run into: a bucketed scan (zero build
    cost), a shuffle-free degree aggregate (groupBy on the bucket
    column), and per-iteration joins where the edge side needs NO
    Exchange — only the iteration's small rank frame moves
    (`test_edge_table_pagerank_*`). ``symmetrize=True`` stores both
    orientations of each undirected (src < dst) pair, the layout
    pagerank's contribution join wants."""
    from usgs_lidar_spark.sources.writers import write_bucketed

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetrize:
        e = e.unionAll(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    write_bucketed(
        e, table_name, ("src",), n_buckets, sort_cols=("src", "dst"),
        path=path,
    )


def read_edge_table(spark, table_name: str) -> DataFrame:
    """The bucketed edge table back as (src, dst), bucketing metadata
    intact (catalog read — a plain parquet path read would lose it)."""
    return spark.table(table_name).select("src", "dst")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts on an UNDIRECTED graph given as unique
    edges (one row per unordered pair; src < dst by convention, but any
    unique orientation is accepted).

    DEGREE-ORDERED orientation (the standard power-law cap): every edge
    is re-oriented to point from its lower-(degree, id) endpoint to its
    higher one, wedges are pairs of OUT-edges of a shared low node, and
    a semi-join against the oriented closing edge finds each triangle
    {a ≺ b ≺ c} exactly once as (a→b, a→c) + (b→c) — no dedup pass, no
    double counting. Out-degree under this orientation is bounded by
    O(sqrt(m)) on ANY graph (arboricity bound), so total wedge fan-out
    is ≤ m^1.5 even when a hub's raw degree is huge — vs d(b)^2 per hub
    for id-ordering, the superlinear wall VERDICT r5 measured (24.5 s /
    796 MB shuffle at 10x on the dense co-purchase graph).

    The price is one degree window: each edge's two endpoint rows
    (``explode(array(u, v))``) take ``count(1) OVER (PARTITION BY
    node)``, and one regroup per (u, v) puts both degrees back on the
    edge, so the pinned plan holds the edge input once. A hub's endpoint
    rows share one window partition, whose buffer spills past Spark's
    window spill threshold instead of failing. Edges with a null
    endpoint drop out before the degrees. They then count toward no
    node's degree, which changes only the orientation, and any strict
    total order finds each triangle exactly once. Construction is two
    SQL parses, the pin and the query after it (a few dozen py4j calls).
    Returns (node, n_triangles) for every node in at least one
    triangle."""
    u, v = _sql_ident(src), _sql_ident(dst)
    spark = edges.sparkSession
    # Lexicographic (deg, id) structs compare directly — no global rank
    # (a global row_number would funnel every node through one task).
    # The oriented edge list feeds three join legs; checkpoint it once so
    # the (possibly expensive) edge derivation + degree window isn't
    # re-expanded per leg — same lineage contract as pagerank_fixed.
    e = spark.sql(
        f"""SELECT IF(ku < kv, u, v) AS a, IF(ku < kv, v, u) AS b,
                   IF(ku < kv, kv, ku) AS kb
        FROM (SELECT u, v, struct(max(IF(node = u, deg, NULL)) AS d, u AS i) AS ku,
                     struct(max(IF(node = v, deg, NULL)) AS d, v AS i) AS kv
              FROM (SELECT u, v, node, count(1) OVER (PARTITION BY node) AS deg
                    FROM (SELECT u, v, explode(array(u, v)) AS node
                          FROM (SELECT {u} AS u, {v} AS v FROM {{edges}}
                                WHERE {u} IS NOT NULL AND {v} IS NOT NULL)))
              GROUP BY u, v)""",
        edges=edges,
    ).localCheckpoint()
    # Wedges: each unordered out-pair of a shared low node once; the
    # closing edge b—c is then oriented exactly (b -> c) because kb ≺ kc.
    # Corners come from ONE explode over the triangle frame, not a 3-way
    # self-union that would triple the wedge/semi subtree in the plan.
    return spark.sql(
        """SELECT node, count(1) AS n_triangles
        FROM (SELECT explode(array(w.a, w.b, w.c)) AS node
              FROM (SELECT x.a, x.b, y.b AS c FROM {e} x JOIN {e} y ON x.a = y.a
                    WHERE x.kb < y.kb) w
              LEFT SEMI JOIN {e} z ON w.b = z.a AND w.c = z.b)
        GROUP BY node""",
        e=e,
    )


def connected_components_incremental(
    old_labels: DataFrame,
    new_vertices: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    label_col: str = "label",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Incremental CC maintenance: fold newly-arrived vertices and their
    incident edges into an EXISTING labeling without re-clustering the
    base graph.

    The algebra: an old component is already contracted to its min-id
    label, so it can participate in new connectivity as a SINGLE
    super-node. Map each new edge's endpoints through the old labels
    (new vertices map to themselves), run connected_components over
    that contracted graph — whose size is O(touched labels + new
    vertices), independent of the base corpus — and compose the two
    mappings. Because old labels are component-min ids and new ids map
    to themselves, the composed label is the min id of the MERGED
    component: bit-identical to a from-scratch CC over the union graph
    (the parity the oracle checks), while the base side costs one
    equi-join remap and zero re-clustering.

    ``new_edges`` must contain every pair with at least one new
    endpoint (pairwise candidate generators like MinHash banding give
    exactly this: a pair's candidacy depends only on its two rows).
    Returns (id, label) for ALL vertices (base + new).

    Two properties measured at 10x (SCALE.md): (1) the from-scratch
    parity holds EXACTLY when both sides see the same edge set; if the
    candidate generator's df-caps were computed on the base corpus
    alone, a shingle crossing the cap as the corpus grows changes which
    pairs exist at all — a shingling property, not a CC one (the
    clustering of edges-as-discovered-at-ingest is still internally
    consistent). (2) the merge step's win over re-clustering is
    asymptotic: contracted-CC rounds carry the same fixed per-round
    job overhead, so on small/dense graphs full CC can be quicker —
    incremental pays off when the base is large relative to the
    arrival batch, which is the production shape.
    """
    base = old_labels.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    fresh = new_vertices.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    )
    # Pin the combined labeling ONCE (optimization round 16): it feeds
    # both endpoint-remap join legs AND the final composition join, and
    # its lineage contains the caller's ENTIRE base labeling (typically
    # a full CC run over a pair build) — unpinned, that subtree
    # re-expands per consumer (measured: 134 shuffle exchanges -> 10 on
    # dedup_cluster_collapse_incremental). Same for the contracted edge
    # list, consumed by the touched-vertex derivation and the sub-CC.
    label0 = base.unionByName(fresh).localCheckpoint(eager=False)

    lab = label0.select(
        F.col("id").alias("__n"), F.col("label").alias("__l")
    )
    e = (
        new_edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .join(lab, F.col("u") == F.col("__n"))
        .select(F.col("__l").alias("u"), "v")
        .join(lab, F.col("v") == F.col("__n"))
        .select("u", F.col("__l").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    touched = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    sub = connected_components(
        touched,
        e.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        max_iter=max_iter,
        checkpoint_mode=checkpoint_mode,
    ).select(F.col("id").alias("__sl"), F.col("cluster_id").alias("__sc"))
    return (
        label0.join(sub, label0["label"] == F.col("__sl"), "left")
        .select(
            "id",
            F.coalesce(F.col("__sc"), F.col("label")).alias("label"),
        )
    )


def link_prediction_jaccard(
    edges: DataFrame,
    min_common: int = 2,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected (src < dst)
    edge list: for every UNCONNECTED pair sharing >= ``min_common``
    neighbors, the neighborhood Jaccard |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
    (Liben-Nowell & Kleinberg 2003's strongest simple baseline) — the
    "customers who bought X also bought Y" candidate generator over
    the co-purchase graph.

    Plan: candidate pairs come from the WEDGE join (two adjacency rows
    sharing their neighbor endpoint, a < b) — the `triangle_count`
    cost class, quadratic per shared NEIGHBOR's degree, never
    all-pairs; an integer count per pair, an anti-join against the
    edge list (src < dst on both sides, one orientation suffices),
    full degrees joined back, one division. All counts are exact
    BIGINTs; the division is the only double (deterministic).

    ``max_hub_degree`` is the scale guard: wedges THROUGH nodes of
    higher degree are skipped — a hub's wedge fan-out is quadratic in
    its degree while its predictive signal is famously poor
    (Adamic-Adar exists to down-weight exactly these), so the cap
    trades the worthless quadratic term away; full degrees still feed
    the Jaccard denominator. Same knob philosophy as
    `copurchase_edges.max_basket`: deterministic, oracle-replayable,
    cap above the hub tail so only pathological nodes are touched."""
    # Pin the edge list ONCE (optimization round 16): it feeds the two
    # adjacency orientations AND the unconnectedness anti-join, and the
    # adjacency union feeds the degree aggregate plus BOTH wedge legs —
    # without the pins the (possibly expensive — a capped co-purchase
    # window build) edge derivation re-executes per consumer (measured:
    # 30 shuffle exchanges -> 3 on graph_link_prediction). Same
    # consumed-twice convention as triangle_count's oriented frame.
    edges = edges.localCheckpoint(eager=False)
    adj = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
        .unionByName(
            edges.select(F.col("dst").alias("node"), F.col("src").alias("nb"))
        )
        .localCheckpoint(eager=False)
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    wedge_in = adj
    if max_hub_degree is not None:
        if max_hub_degree < 1:
            raise ValueError(
                f"max_hub_degree must be >= 1, got {max_hub_degree}"
            )
        ok_hubs = deg.filter(F.col("degree") <= max_hub_degree).select(
            F.col("node").alias("nb")
        )
        wedge_in = adj.join(ok_hubs, "nb")
    a, b = wedge_in.alias("a"), wedge_in.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.nb") == F.col("b.nb"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("src"), F.col("b.node").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    unlinked = common.join(edges, ["src", "dst"], "left_anti")
    da = deg.select(F.col("node").alias("src"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("dst"), F.col("degree").alias("__db"))
    return (
        unlinked.join(da, "src")
        .join(db, "dst")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("__da") + F.col("__db") - F.col("n_common")),
        )
        .select("src", "dst", "n_common", "jaccard")
    )

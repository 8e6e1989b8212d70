"""Large-star / small-star connected components over an edge DataFrame.

Replaces the reference's hierarchical-clustering view of the pair graph
(linkage dendrogram, reference: src/simages/embeddings.py:20-29) with true
transitive duplicate clusters, per SURVEY.md §2.4 A4 / §4.2.2. Algorithm:
alternating large-star / small-star (Kiveris et al., "Connected Components
in MapReduce and Beyond", public paper) — converges in O(log²) rounds,
each round two shuffles (groupBy min + join).

Driver-side loop with `localCheckpoint` every `cc_checkpoint_every` rounds
to cut lineage (else the plan grows unbounded); convergence detected by an
order-insensitive edge-set fingerprint (count + sum of per-edge hashes),
so no expensive exceptAll. Labels are the component-minimum doc_id —
deterministic regardless of partitioning or parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig


def _normalize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Orient src > dst, drop self-loops; dedup unless told not to.

    Every min/groupBy in the star rounds is multiplicity-invariant, so
    the intermediate dedups are set-semantically redundant — each one
    was a full edge exchange per round (guide §2.4). Only the round's
    FINAL normalize dedups (the fingerprint counts edges there); the
    inputs it feeds tolerate the ≤2× row inflation."""
    out = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    return out.dropDuplicates(["src", "dst"]) if dedup else out


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return _normalize(
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst")),
        dedup=False,
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = _normalize(edges, dedup=False)  # src > dst
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = (
        oriented.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    center = mins.select(F.col("src"), F.col("m").alias("dst"))
    return _normalize(rewired.unionAll(center))


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor over the (deduped) edge set: order-insensitive, overflow-free
    # under ANSI mode (sum of hashes would throw ARITHMETIC_OVERFLOW)
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: collect ≤ cc_driver_threshold normalized
    edges and union-find on the driver. Output is IDENTICAL to the
    distributed rounds by construction (cluster_id = component-min
    doc_id); what changes is only latency — the star rounds cost several
    jobs each, which dominates wall-clock on small graphs the way job
    setup dominates a broadcast-able join. Same engine philosophy as
    `spark.sql.autoBroadcastJoinThreshold`: a size-gated physical
    strategy for the same logical result. At the default 1M-edge bound
    (`cc_driver_threshold`) the collect is ~16 MB of int64 pairs — far
    below any driver-memory concern — and every large input still takes
    the distributed path (asserted by the 20M-edge soaks)."""
    import pandas as pd

    spark = edges.sparkSession
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    # toPandas / createDataFrame(pandas): Arrow-batched both ways — the
    # pickled-Row collect + list-of-tuples createDataFrame measured ~3×
    # slower on 100k edges (guide §6: Arrow for driver
    # transfers). Labels are identical; only the transfer encoding moved.
    pdf = edges.select("src", "dst").toPandas()
    for ra, rb in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        ra, rb = find(ra), find(rb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = set(parent)
    labels: dict[int, int] = {}
    for n in nodes:
        labels[n] = find(n)
    if not nodes:
        return spark.createDataFrame([], "doc_id long, cluster_id long")
    roots = set(labels.values())
    out = pd.DataFrame(
        {
            "doc_id": list(labels.keys()) + list(roots),
            "cluster_id": list(labels.values()) + list(roots),
        },
        dtype="int64",
    )
    return spark.createDataFrame(out, "doc_id long, cluster_id long")


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    round_metrics: list | None = None,
) -> DataFrame:
    """edges(src, dst, ...) → clusters(doc_id, cluster_id).

    cluster_id = min doc_id in the component. Every endpoint of every edge
    receives a label (callers union in singletons if they want all docs).
    Pass a list as `round_metrics` to receive one (round_no, n_edges)
    entry per iteration — the north-rule metrics surface for the only
    iterative stage (rounds ≈ O(log² diameter); see tools/soak_cc.py
    for the measured diameter dependence). Graphs at or below
    `cfg.cc_driver_threshold` edges take the driver union-find fast path
    (round_metrics gets a single (0, n_edges) entry) — identical labels,
    no per-round job latency; set the threshold to 0 to force the
    distributed rounds.
    """
    cfg = cfg or DedupConfig()
    spark = edges.sparkSession
    # LAZY localCheckpoint: the fingerprint aggregate that follows is the
    # materializing action, so lineage-cut + convergence-check share ONE
    # job per round (eager=True would run an extra count() job each round
    # — the rounds are latency-bound, not compute-bound).
    cur = _normalize(edges.select("src", "dst")).localCheckpoint(eager=False)
    prev_fp = _fingerprint(cur)
    if prev_fp[0] <= cfg.cc_driver_threshold:
        if round_metrics is not None:
            round_metrics.append((0, prev_fp[0]))
        return _driver_union_find(cur)
    for round_no in range(1, cfg.cc_max_rounds + 1):
        nxt = _small_star(_large_star(cur))
        # checkpoint every cc_checkpoint_every rounds (default 1): one
        # LS+SS round is already several shuffles deep and Catalyst
        # re-analysis of an uncut lineage gets superlinear fast; raising
        # the cadence trades re-analysis depth for fewer materializations.
        if round_no % cfg.cc_checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=False)
        fp = _fingerprint(nxt)
        cur = nxt
        if round_metrics is not None:
            round_metrics.append((round_no, fp[0]))
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"CC did not converge in {cfg.cc_max_rounds} rounds")
    # converged: `cur` is a star forest (child src → root dst)
    clusters = cur.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    ).unionAll(
        cur.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id"))
    )
    return clusters.dropDuplicates(["doc_id"])

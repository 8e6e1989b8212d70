"""Duplicate groups + dedup policy (SURVEY.md §2.4 A1/A2/A5).

Re-expresses the reference's Mongo aggregation pipeline
(`$group(_id=pair_hash, total, items=$push)` → `$match(total>1)` →
`$sort`, reference: src/simages/duplicate_finder.py:255-283) and the
keep-first delete policy (reference: src/simages/duplicate_finder.py:403-409)
as declarative groupBy/window plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from simages_spark.config import DedupConfig


def duplicate_groups(
    clusters: DataFrame, docs: DataFrame, max_members: int = 1000
) -> DataFrame:
    """clusters(doc_id, cluster_id) × docs metadata → groups.

    groups(cluster_id, total, items array<struct>) — items ordered by the
    keep-first keeper rank (warc_ts asc NULLS LAST, doc_id asc — EXACTLY
    `keep_first_policy`'s window order, so items[0] is always the policy
    keeper and the report highlight can trust it; the previous
    sort_array-over-struct ordering put null warc_ts FIRST and could
    highlight a non-keeper). Mirrors the Mongo `$push` order contract
    (reference: src/simages/duplicate_finder.py:264-272).

    Scale bound: a viral 10⁵-copy cluster must not materialize a
    10⁵-element array in one aggregation row, so only the first
    `max_members` members (by keeper rank) are collected. `total` always
    carries the TRUE member count — `total > size(items)` marks a
    truncated group, and `group_metrics` surfaces how many groups were
    capped (never silent, same contract as the LSH bucket caps). Note
    `same_time_filter` inspects materialized items only; run it on
    groups built with a cap above the largest cluster of interest.
    """
    lead = ["warc_ts"] if "warc_ts" in docs.columns else []
    member_cols = [c for c in docs.columns if c != "doc_id" and c not in lead]
    joined = clusters.join(docs, "doc_id")
    order = []
    if lead:
        order.append(F.col("warc_ts").asc_nulls_last())
    order.append(F.col("doc_id").asc())
    w = Window.partitionBy("cluster_id").orderBy(*order)
    ranked = joined.withColumn("_rk", F.row_number().over(w))
    fields = [*lead, "doc_id", *member_cols]
    # rank leads the collected struct so sort_array orders by it (distinct
    # within a group → deterministic), then the rank field is stripped;
    # collect_list drops the null produced by `when` for rank > cap, so
    # the agg buffer never holds more than max_members members per group
    item = F.struct(F.col("_rk"), *[F.col(c) for c in fields])
    grouped = ranked.groupBy("cluster_id").agg(
        F.count("*").alias("total"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rk") <= max_members, item))
        ).alias("_items"),
    )
    strip = F.transform(
        F.col("_items"), lambda s: F.struct(*[s[c].alias(c) for c in fields])
    )
    return grouped.select(
        "cluster_id", "total", strip.alias("items")
    ).where(F.col("total") > 1)


def group_metrics(groups: DataFrame) -> DataFrame:
    """Truncation visibility for `duplicate_groups` (north_rule: metrics —
    a capped report says so): (n_groups, n_capped_groups, max_total,
    max_materialized)."""
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum((F.col("total") > F.size("items")).cast("long")).alias(
            "n_capped_groups"
        ),
        F.max("total").alias("max_total"),
        F.max(F.size("items")).alias("max_materialized"),
    )


def same_time_filter(groups: DataFrame, ts_field: str = "warc_ts") -> DataFrame:
    """A2: keep a group if all members share one known timestamp, OR if
    ANY member's timestamp is unknown — the reference's "better safe than
    sorry" sentinel rule (reference: src/simages/duplicate_finder.py:243-252:
    `"Time unknown"` present ⇒ keep, even when the known timestamps
    disagree). Null `ts_field` plays the sentinel role: a group with two
    distinct timestamps plus a null member is KEPT."""
    ts_vals = F.expr(f"array_distinct(transform(items, x -> x.{ts_field}))")
    has_unknown = F.exists(ts_vals, lambda t: t.isNull())
    n_known = F.size(F.filter(ts_vals, lambda t: t.isNotNull()))
    return groups.where(has_unknown | (n_known <= 1))


def pairwise_groups(edges: DataFrame) -> DataFrame:
    """A3 debug view: one group per pair, distance attached to both members
    (the reference's pre-clustering group construction,
    reference: src/simages/duplicate_finder.py:158-186). Superseded by true
    transitive clusters (A4); kept for parity/debugging."""
    pair_id = F.xxhash64("src", "dst")
    return edges.select(
        pair_id.alias("group_id"),
        F.array(
            F.struct(F.col("src").alias("doc_id"), F.col("jaccard")),
            F.struct(F.col("dst").alias("doc_id"), F.col("jaccard")),
        ).alias("items"),
    )


def paginate_groups(
    groups: DataFrame, page_size: int = 25, order_col: str = "total"
) -> DataFrame:
    """O3: deterministic pagination of the duplicate-group report — the
    reference chunks its HTML report 25 groups/page (reference:
    src/simages/duplicate_images/duplicate_finder.py:324-329). Adds
    (rank, page) via one row_number window; page is 1-based.

    Scale note: a single global window is fine here because the report is
    over GROUPS (≪ corpus size); it is not applied to row-level data.
    """
    w = Window.orderBy(F.col(order_col).desc(), F.col("cluster_id").asc())
    rank = F.row_number().over(w)
    return groups.withColumn("rank", rank).withColumn(
        "page", ((F.col("rank") - 1) / page_size).cast("long") + 1
    )


def patch_annotations(
    annotations: DataFrame, policy: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Annotation-patch analog (reference `update_annotations`,
    src/simages/duplicate_images/duplicate_finder.py:198-226: when dups are
    deleted, their annotations are re-pointed at the kept copy). Spark
    form: join annotations to the keep-first policy, remap each annotated
    doc to its cluster keeper, pass through docs outside any cluster,
    and dedup identical (keeper, annotation) rows. One broadcast-able
    join on the policy table (clusters ≪ corpus).
    """
    keepers = (
        policy.where(F.col("is_keeper"))
        .select("cluster_id", F.col(id_col).alias("keeper_id"))
    )
    remap = policy.select(id_col, "cluster_id").join(keepers, "cluster_id")
    other_cols = [c for c in annotations.columns if c != id_col]
    return (
        annotations.join(remap, id_col, "left")
        .select(
            F.coalesce("keeper_id", F.col(id_col)).alias(id_col), *other_cols
        )
        .dropDuplicates()
    )


def keep_first_policy(
    clusters: DataFrame, docs: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """A5: per cluster keep one deterministic keeper, mark the rest for
    deletion. Returns (doc_id, cluster_id, is_keeper). The `to_delete`
    view is `where(~is_keeper)` — the analog of moving files to Trash
    (reference: src/simages/duplicate_finder.py:286-301) becomes an ACID
    `DELETE FROM` on the corpus table.
    """
    order = []
    if "warc_ts" in docs.columns:
        order.append(F.col("warc_ts").asc_nulls_last())
    order.append(F.col("doc_id").asc())
    w = Window.partitionBy("cluster_id").orderBy(*order)
    joined = clusters.join(docs, "doc_id")
    return joined.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def keep_best_policy(
    clusters: DataFrame,
    docs: DataFrame,
    score: Column | str = "n_chars",
) -> DataFrame:
    """Quality-aware keeper election: per cluster keep the member with
    the HIGHEST score (default n_chars — "keep the longest copy", the
    standard web-pipeline refinement of keep-first when near-dups are
    truncated/boilerplate-padded variants of one page). Deterministic
    tie-break: min doc_id. Returns (doc_id, cluster_id, is_keeper) —
    drop-in interchangeable with keep_first_policy, so every downstream
    consumer (DELETE policy, annotation patching, tier summary) takes
    either.

    Same plan shape as keep_first_policy: one per-cluster window — the
    partition key is the cluster, whose size the pipeline already bounds
    (groups.py collect caps / CC star edges), so no skew risk beyond
    what keep_first already accepts.
    """
    score_col = F.col(score) if isinstance(score, str) else score
    w = Window.partitionBy("cluster_id").orderBy(
        score_col.desc_nulls_last(), F.col("doc_id").asc()
    )
    joined = clusters.join(docs, "doc_id")
    return joined.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def dedup_tier_summary(
    clusters: DataFrame, docs: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """Tier attribution for the dedup decision (the tier-dedup report):
    every clustered doc is counted as

      - 'keeper' — survives the keep-first policy,
      - 'exact'  — a byte-identical doc with smaller doc_id exists
                   (tier 1, the sha-256 layer alone catches it), or
      - 'near'   — its text is unique; only the near-dup tier
                   (MinHash/SimHash + verify) could catch it.

    Returns (tier, n_docs), the per-tier workload split — at web scale
    this is the number that says how much the cheap tier saves the
    expensive one. One extra shuffle on the content hash; the policy
    window is reused from keep_first_policy.
    """
    from simages_spark.operators.exact import with_content_hash

    policy = keep_first_policy(clusters, docs, cfg)
    hashed = with_content_hash(docs).select("doc_id", "text_sha")
    sha_min = hashed.groupBy("text_sha").agg(F.min("doc_id").alias("sha_min"))
    tiered = (
        policy.join(hashed, "doc_id")
        .join(sha_min, "text_sha")
        .select(
            F.when(F.col("is_keeper"), F.lit("keeper"))
            .when(F.col("sha_min") < F.col("doc_id"), F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("tier")
        )
    )
    return tiered.groupBy("tier").agg(F.count("*").alias("n_docs"))

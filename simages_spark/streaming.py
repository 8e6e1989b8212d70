"""Structured Streaming incremental ingest + signature maintenance.

The reference's batch pipeline is resumable-batch by design (SURVEY.md
§2.6 keeps streaming out of core scope), but the incremental-add workflow
(`simages add`, reference: src/simages/duplicate_finder.py:130-139) has a
natural streaming form: new corpus files land in a directory, and each
micro-batch is folded into state that later batches dedup against.

Every stream here that keeps state writes it to ACID `SnapshotTable`s
through `foreachBatch` + `append_exactly_once`; none uses a file sink
except the `stream_windowed_event_counts` watermark demo.

- `stream_signatures_to_table`: signatures per micro-batch, one table
  version per batch.
- `stream_near_dedup_to_tables` / `process_near_dedup_batch_tables`: the
  continuous-crawl near-dup probe; its signature, probe-index and edge
  state are three tables under its root (`sig_table`, `idx_table`,
  `edges_table`).
- `stream_crawl_dedup`: the keep-first exact tier and that probe in ONE
  streaming query with ONE checkpoint (`<root>/ckpt`); the exact tier's
  doc → keeper lineage is a fourth table (`lineage_table`).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _streaming_incarnation_id(
    spark: SparkSession, checkpoint_dir: str, fallback: str
) -> str:
    """The streaming query id from `<checkpoint_dir>/metadata` (written
    by Structured Streaming at query start, before any batch runs) —
    unique per checkpoint INCARNATION. The exactly-once watermark must
    key on this, not the checkpoint path: a wiped-and-rebuilt checkpoint
    restarts batch ids at 0, and a path-keyed watermark would silently
    SKIP every restarted batch (data loss); keyed on the incarnation id,
    a rebuild re-appends its re-processed input instead — the duplicate
    delivery a checkpoint wipe genuinely implies, and the benign failure
    mode for a signature store. Read through the Hadoop FS API so any
    Spark-visible filesystem works; falls back for direct
    batch-processor calls with no streaming checkpoint."""
    from simages_spark.fsutil import hadoop_fs

    fs, jpath, jvm = hadoop_fs(spark, f"{checkpoint_dir}/metadata")
    if not fs.exists(jpath):
        return fallback  # no streaming checkpoint (direct batch caller)
    # metadata EXISTS: a read/parse failure must FAIL the batch, not fall
    # back — a path-keyed watermark silently re-enables the
    # skip-on-rebuild data loss this id exists to prevent. One bulk read
    # (commons-io ships with Hadoop), not a byte-per-py4j-call loop.
    stream = fs.open(jpath)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    import json

    return str(json.loads(raw)["id"])


def stream_signatures_to_table(
    spark: SparkSession,
    input_dir: str,
    table_root: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    schema: str = DOCS_SCHEMA,
) -> StreamingQuery:
    """Watch `input_dir` for new parquet files and append their
    signatures to the ACID `SnapshotTable` at `table_root`: each
    micro-batch commits as ONE atomic snapshot version tagged with
    its stream batch id (`append_exactly_once`), so the signature state
    lands in the versioned table with full per-batch lineage — the
    north rule's "checkpoints per-partition signature state to Iceberg"
    for the STREAMING path (TableCheckpointStore covers the batch
    stages).

    Exactly-once end to end: foreachBatch is at-least-once on retry, but
    a replayed batch id is ≤ the table's recorded high-water mark for
    this stream and is skipped with one manifest read; the file source's
    checkpointed file log makes each input file one batch's, once.
    History doubles as the ingest audit log
    (`history()` → one manifest per batch, with `sources` watermarks);
    time travel reads the corpus as of any batch."""
    from simages_spark.table import SnapshotTable

    cfg = cfg or DedupConfig()
    incoming = spark.readStream.schema(schema).parquet(input_dir)
    state: dict[str, str] = {}

    def process(batch_df, batch_id: int) -> None:
        ss = batch_df.sparkSession
        if "sid" not in state:
            # resolved at first batch (the metadata file exists by then):
            # watermarks key on the checkpoint INCARNATION, not its path
            state["sid"] = "stream_signatures:" + _streaming_incarnation_id(
                ss, checkpoint_dir, checkpoint_dir
            )
        sigs = compute_signatures(batch_df.select("doc_id", "text"), cfg).withColumn(
            "batch_id", F.lit(batch_id)
        )
        SnapshotTable(ss, table_root).append_exactly_once(
            sigs, source_id=state["sid"], seq=batch_id
        )

    return (
        incoming.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _table_has_batches_below(table, batch_id: int) -> bool:
    """Does the table hold any rows with batch_id < `batch_id`? Answered
    from the manifest's per-group batch_id [min,max] stats — zero Spark
    jobs. Groups without stats for the column count as 'yes'
    (conservative: the probe then runs and finds whatever is there)."""
    v = table.current_version()
    if v is None:
        return False
    man = table.manifest(v)
    stats = man.get("group_stats") or {}
    for g in man["data_groups"]:
        st = stats.get(g) or {}
        if st.get("rows") == 0:
            continue  # empty group (zero-row batch) — no column stats,
            # but provably no prior rows either; without this, replaying
            # a zero-row FIRST batch would take the probe branch and
            # publish the spurious empty edges version the stats check
            # exists to prevent
        rng = (st.get("columns") or {}).get("batch_id")
        if rng is None or rng[0] < batch_id:
            return True
    return False


def process_near_dedup_batch_tables(
    batch_df,
    batch_id: int,
    root: str,
    cfg: DedupConfig,
    include_within_batch: bool = False,
    source_id: str | None = None,
) -> None:
    """One micro-batch of the continuous-crawl loop: the batch is probed
    against the maintained probe index (operators/sig_index.py — NOT a
    store-wide band-key recompute), matching edges are committed, then
    the batch's signatures and index keys. The crawl's
    signature, probe-index, and edge state live in three ACID
    `SnapshotTable`s under `root/` (`sig_table`, `idx_table`,
    `edges_table`) — the north rule's "checkpoints per-partition
    signature and edge state to Iceberg" for the STREAMING loop, with
    every micro-batch an atomic, audited table version.

    Retry safety (effectively exactly-once): each append is tagged
    (stream, batch_id) via `append_exactly_once`, so a replayed batch
    skips whichever of the three commits already landed, and the store
    reads take only `batch_id < current` — `scan` on the batch_id
    [min,max] stats, which prune to exactly the prior batches' groups
    with zero jobs (each group holds one batch, so min=max and the
    prune is precise). A crash between the three commits replays into
    the same end state.

    Maintenance inherits the table layer wholesale: `compact()` folds
    per-batch groups (`compact --crawl-tables`),
    `expire_snapshots` + `vacuum` reclaim, history is the crawl's audit
    log, and any past batch boundary is time-travelable."""
    from simages_spark.operators.incremental import (
        incremental_dedup_edges,
        within_batch_edges,
    )
    from simages_spark.operators.sig_index import probe_keys
    from simages_spark.table import SnapshotTable

    spark = batch_df.sparkSession
    # the streaming wrapper passes the checkpoint-incarnation id (see
    # _streaming_incarnation_id); the root-path default serves direct
    # batch-sequenced callers (tests, soaks) with no streaming checkpoint
    sid = source_id or f"crawl:{root}"
    sig_t = SnapshotTable(spark, f"{root}/sig_table")
    idx_t = SnapshotTable(spark, f"{root}/idx_table")
    edges_t = SnapshotTable(spark, f"{root}/edges_table")

    new_sig = compute_signatures(batch_df.select("doc_id", "text"), cfg).persist()
    try:
        if not new_sig.head(1):
            # an empty micro-batch (zero-row
            # trigger or a replay whose input vanished) must not commit
            # three empty stats-less groups + spurious table versions per
            # occurrence — empty groups are unprunable by batch_id stats
            # and would accumulate in every future probe scan until a
            # compact (round-5 review). Skipping keeps the exactly-once
            # bookkeeping correct: a replay of the skip re-skips.
            return
        prior = [("batch_id", None, batch_id - 1)]
        # "has prior batches" from manifest batch_id stats, zero jobs —
        # NOT just table existence: a replay of the FIRST batch finds its
        # own commit in sig_table and must still take the first-batch
        # branch, or it would probe an empty store and publish a spurious
        # empty edges version the original execution never created
        if _table_has_batches_below(sig_t, batch_id):
            edges = incremental_dedup_edges(
                None,
                sig_t.scan(prior),
                cfg,
                new_signatures=new_sig,
                existing_index=(
                    idx_t.scan(prior)
                    if idx_t.current_version() is not None
                    else None
                ),
                include_within_batch=include_within_batch,
            )
        elif include_within_batch:
            edges = within_batch_edges(new_sig, cfg)
        else:
            edges = None
        if edges is not None:
            edges_t.append_exactly_once(
                edges.withColumn("batch_id", F.lit(batch_id)), sid, batch_id
            )
        sig_t.append_exactly_once(
            new_sig.withColumn("batch_id", F.lit(batch_id)), sid, batch_id
        )
        idx_t.append_exactly_once(
            probe_keys(new_sig, cfg).withColumn("batch_id", F.lit(batch_id)),
            sid,
            batch_id,
        )
    finally:
        new_sig.unpersist()


def stream_near_dedup_to_tables(
    spark: SparkSession,
    input_dir: str,
    root: str,
    cfg: DedupConfig | None = None,
    schema: str = DOCS_SCHEMA,
    include_within_batch: bool = False,
) -> StreamingQuery:
    """Streaming continuous-crawl NEAR-dup: each micro-batch of incoming
    docs is probed against the probe index maintained so far, matching
    edges land in `root/edges_table`, and the batch's signatures + index
    keys are appended (`root/sig_table`, `root/idx_table`) so later
    batches dedup against everything before them. With
    `include_within_batch`, batch-internal near-dup pairs are emitted
    too, so the cumulative edge set over all batches equals a
    from-scratch run on the union. See `process_near_dedup_batch_tables`
    for the retry-safety contract; watermarks key on the incarnation of
    the `root/ckpt` streaming checkpoint, so a rebuilt checkpoint
    re-appends instead of skipping.

    Exact-copy floods (one page arriving from 10⁵ URLs over many
    batches) would make the probe's store join quadratic in the copy
    count, since every new copy matches all prior copies. The deployment
    recipe is `stream_crawl_dedup`, which runs the keep-first lineage
    operator UPSTREAM in the same query, so the probe sees each distinct
    text once, exactly like `representative_docs` at batch scale."""
    cfg = cfg or DedupConfig()
    incoming = spark.readStream.schema(schema).parquet(input_dir)
    state: dict[str, str] = {}

    def process(batch_df, batch_id: int) -> None:
        if "sid" not in state:
            state["sid"] = "crawl:" + _streaming_incarnation_id(
                batch_df.sparkSession, f"{root}/ckpt", root
            )
        process_near_dedup_batch_tables(
            batch_df, batch_id, root, cfg, include_within_batch,
            source_id=state["sid"],
        )

    return (
        incoming.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(events, window_duration: str = "1 hour"):
    """Tumbling event-time window aggregation — the batch twin of
    `stream_windowed_event_counts` (same plan minus the watermark).
    Window bounds surface as epoch seconds: timezone-independent, so the
    values replay identically in any session TZ and in the DuckDB oracle."""
    return (
        events.groupBy(
            F.window("ts", window_duration).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "1 minute",
    schema: str = EVENTS_SCHEMA,
) -> StreamingQuery:
    """Watermarked tumbling-window aggregation over an event stream with
    late-data handling: append mode emits a window only once its end has
    passed the watermark (max event time − delay, checkpointed across
    restarts), and events arriving below the watermark are DROPPED rather
    than silently mutating an already-emitted window — exactly-once
    finalized windows. This is the streaming-agg shape the dedup metrics
    feeds use (per-window ingest/dup counts at the stream edge).

    The aggregation IS the batch twin (`windowed_event_counts`) applied
    to the watermarked stream — one body, no drift; only the watermark
    and the sink differ."""
    incoming = spark.readStream.schema(schema).parquet(input_dir)
    counts = windowed_event_counts(
        incoming.withWatermark("ts", watermark_delay), window_duration
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _keep_first_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per text_sha: emit the first-seen doc (min doc_id within the batch,
    stream order across batches), suppress every later copy. State is one
    flag per content hash — the streaming form of the keep-first policy."""
    if state.exists:
        return  # this content hash already emitted its keeper
    best_id, best_row = None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        i = pdf["doc_id"].idxmin()
        if best_id is None or pdf["doc_id"][i] < best_id:
            best_id = pdf["doc_id"][i]
            best_row = pdf.loc[[i], ["doc_id", "text_sha"]]
    if best_row is not None:
        state.update((True,))
        yield best_row


LINEAGE_SCHEMA = "doc_id long, text_sha string, keeper_id long, text string"


def _keep_first_lineage_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per text_sha: emit EVERY doc with its keeper attribution — the
    exact-copy lineage `stream_crawl_dedup` folds into jaccard-1.0 star
    edges. State is the keeper's doc_id. Exactly one row across the
    whole stream carries non-null text (the keeper, in the batch that
    minted it) — that row is what feeds the near-dup stage, so a flood
    of 10⁵ copies contributes 10⁵ tiny lineage rows but ONE probe doc."""
    sha = key[0]
    keeper = state.get[0] if state.exists else None
    id_chunks: list[pd.Series] = []
    best_id, best_text = None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        id_chunks.append(pdf["doc_id"])
        i = pdf["doc_id"].idxmin()
        if best_id is None or pdf["doc_id"][i] < best_id:
            best_id = int(pdf["doc_id"][i])
            best_text = pdf["text"][i]
    if not id_chunks:
        return
    minted = keeper is None
    if minted:
        keeper = best_id
        state.update((keeper,))
    ids = pd.concat(id_chunks, ignore_index=True)
    out = pd.DataFrame(
        {
            "doc_id": ids,
            "text_sha": sha,
            "keeper_id": keeper,
            "text": pd.Series([None] * len(ids), dtype=object),
        }
    )
    if minted:
        out.loc[out["doc_id"] == keeper, "text"] = best_text
    yield out


def _hashed_docs(incoming):
    """Docs with non-empty text, keyed by content hash — the exact tier's
    input (null/empty text never reaches the state store)."""
    return incoming.where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).withColumn("text_sha", F.sha2("text", 256))


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = DOCS_SCHEMA,
) -> StreamingQuery:
    """Streaming exact dedup — the custom stateful operator the batch
    pipeline can't express: as docs arrive, emit the first occurrence
    of each content hash (keeper) and drop all later exact copies,
    across micro-batch boundaries.

    `applyInPandasWithState` keyed on sha2(text): keyed state is
    checkpointed with the stream, so a restart resumes with the same
    dedup history — the keep-first policy
    (reference: src/simages/duplicate_finder.py:403-409) as a streaming
    operator. At cluster scale the state store shards by key across
    executors (RocksDB-backed state store in production configs).
    `stream_crawl_dedup` runs the same keying with a lineage output
    (every doc with its keeper) instead.
    """
    incoming = spark.readStream.schema(schema).parquet(input_dir)
    keepers = _hashed_docs(incoming).groupBy("text_sha").applyInPandasWithState(
        _keep_first_state_fn,
        outputStructType="doc_id long, text_sha string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        keepers.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _star_edges(lineage):
    """(src, dst) copy → keeper edges of lineage rows."""
    return lineage.where(F.col("doc_id") != F.col("keeper_id")).select(
        F.col("doc_id").alias("src"), F.col("keeper_id").alias("dst")
    )


# directories of the earlier three-query crawl layout (partition-dir
# stores, the lineage file sink and its per-stage checkpoints)
_OLD_CRAWL_DIRS = (
    "sig", "idx", "edges", "lineage", "ckpt_exact", "ckpt_near", "ckpt_star"
)


def stream_crawl_dedup(
    spark: SparkSession,
    input_dir: str,
    root: str,
    cfg: DedupConfig | None = None,
    schema: str = DOCS_SCHEMA,
) -> dict:
    """The composed continuous-crawl recipe: exact keep-first dedup and
    the near-dup probe in ONE `foreachBatch` query over the keep-first
    stateful output, checkpointed at `root/ckpt`.

        incoming → keep-first lineage (keyed state on sha2(text))
          per micro-batch:
            every row (doc → keeper)       → root/lineage_table
            keeper rows (text != null)     → near-dup probe
                                             → root/edges_table,
                                               root/sig_table, root/idx_table

    Both writes are `append_exactly_once` under the checkpoint's
    incarnation id, so a replayed micro-batch skips whatever already
    committed. The micro-batch frame is persisted and materialized once
    before either write: the keyed state only advances when that frame
    executes, so it must run exactly once per batch even when the lineage
    append is skipped as a replay. All four tables share the retry and
    maintenance contract of `process_near_dedup_batch_tables`
    (`compact --crawl-tables`).

    An exact-copy flood (one page from 10⁵ URLs across many batches)
    stays LINEAR end-to-end: each copy is one keyed-state lookup + one
    (doc_id, keeper_id, batch_id) lineage row, and exactly one doc per
    distinct text ever reaches the probe — the probe's store join never
    sees two rows of the same text, so the quadratic copy-vs-copy
    candidate explosion is structurally impossible
    (tests/test_streaming.py asserts the probe-side signature store holds
    one row per distinct text; BENCH/flood_r05_final.json is the
    at-scale linearity run of the retired tools/soak_flood.py, last at
    583afd2).

    Full duplicate clusters: after the query, every micro-batch of this
    checkpoint incarnation that the labeling under `root/clusters` has
    not folded yet — up to `lineage_table`'s high-water mark, which
    advances on batches of copies only too — is folded into it as that
    batch's near edges ∪ star edges (doc → keeper), contracted through
    the existing labels (operators/cluster_state.py). Read it with
    `crawl_clusters(spark, root)` — equal to a from-scratch
    `connected_components(crawl_edges(spark, root))`. The fold is
    idempotent, so a crash in it heals on the next call. Call again as
    new files land: the query resumes from `root/ckpt`.

    Returns `lineage_rows` and `probe_docs`, read from manifest stats
    (no Spark job). A root holding the earlier layout (partition-dir
    stores, the `lineage/` file sink or its per-stage checkpoints) is
    refused.
    """
    from simages_spark.operators.cluster_state import ClusterState
    from simages_spark.table import SnapshotTable

    cfg = cfg or DedupConfig()
    old = [d for d in _OLD_CRAWL_DIRS if os.path.isdir(f"{root}/{d}")]
    if old:
        raise ValueError(
            f"crawl root {root} holds {', '.join(d + '/' for d in old)} "
            "from an earlier crawl layout, which this build no longer "
            "reads — start the crawl under a fresh root"
        )
    ckpt = f"{root}/ckpt"
    lineage = (
        _hashed_docs(spark.readStream.schema(schema).parquet(input_dir))
        .groupBy("text_sha")
        .applyInPandasWithState(
            _keep_first_lineage_fn,
            outputStructType=LINEAGE_SCHEMA,
            stateStructType="keeper_id long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    state: dict[str, str] = {}

    def process(batch_df, batch_id: int) -> None:
        ss = batch_df.sparkSession
        if "sid" not in state:
            state["sid"] = "crawl:" + _streaming_incarnation_id(ss, ckpt, root)
        rows = batch_df.persist()
        try:
            if rows.count() == 0:
                return
            SnapshotTable(ss, f"{root}/lineage_table").append_exactly_once(
                rows.select(
                    "doc_id", "keeper_id", F.lit(batch_id).alias("batch_id")
                ),
                state["sid"],
                batch_id,
            )
            process_near_dedup_batch_tables(
                rows.where(F.col("text").isNotNull()),
                batch_id,
                root,
                cfg,
                include_within_batch=True,
                source_id=state["sid"],
            )
        finally:
            rows.unpersist()

    (
        lineage.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    lineage_t = SnapshotTable(spark, f"{root}/lineage_table")
    sig_t = SnapshotTable(spark, f"{root}/sig_table")
    cstate = ClusterState(spark, f"{root}/clusters")
    sid = "crawl:" + _streaming_incarnation_id(spark, ckpt, root)
    v = lineage_t.current_version()
    last = (
        int((lineage_t.manifest(v).get("sources") or {}).get(sid, -1))
        if v is not None
        else -1
    )
    # keyed on the incarnation: a rebuilt ckpt (batch ids restart at 0)
    # folds its batches instead of skipping them as old
    wm = cstate.watermark(sid)
    if last > wm:
        edges_t = SnapshotTable(spark, f"{root}/edges_table")
        has_near = edges_t.current_version() is not None
        pending = lineage_t.scan([("batch_id", wm + 1, last)])
        batch_ids = pending.select("batch_id").distinct().collect()
        for b in sorted(r["batch_id"] for r in batch_ids):
            batch = [("batch_id", b, b)]
            edges = _star_edges(lineage_t.scan(batch))
            if has_near:
                near = edges_t.scan(batch).select("src", "dst")
                edges = near.unionByName(edges)
            cstate.update(edges, b, source_id=sid, cfg=cfg)
            cstate.set_watermark(sid, b)
        cstate.set_watermark(sid, last)
    return {
        "lineage_rows": lineage_t.manifest_row_count() or 0,
        "probe_docs": sig_t.manifest_row_count() or 0,
    }


def crawl_edges(spark: SparkSession, root: str):
    """Edge set of the composed crawl: the probe's verified near edges ∪
    the lineage's jaccard-1.0 star edges (copy → keeper) — the streaming
    twin of the batch pipeline's exact-first edge union."""
    from simages_spark.table import SnapshotTable

    parts = []
    for name in ("edges_table", "lineage_table"):
        # isdir first: opening a SnapshotTable creates its layout, and a
        # read must not fabricate an empty table on a fresh root
        if not os.path.isdir(f"{root}/{name}"):
            continue
        t = SnapshotTable(spark, f"{root}/{name}")
        if t.current_version() is None:
            continue
        if name == "edges_table":
            parts.append(t.read().select("src", "dst", "jaccard"))
        else:
            parts.append(
                _star_edges(t.read()).withColumn("jaccard", F.lit(1.0))
            )
    if not parts:
        return spark.createDataFrame([], "src long, dst long, jaccard double")
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def crawl_clusters(spark: SparkSession, root: str):
    """(doc_id, cluster_id) from the crawl's INCREMENTALLY maintained
    labeling (root/clusters, operators/cluster_state.py) — one members
    scan + a broadcast forward join, instead of re-running connected
    components over `crawl_edges`' full history. Equal by construction
    (and by tests/soaks) to
    `connected_components(crawl_edges(spark, root))`."""
    from simages_spark.operators.cluster_state import ClusterState

    return ClusterState(spark, f"{root}/clusters").clusters()

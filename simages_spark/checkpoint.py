"""Stage checkpointing — the analog of the reference's .npy signature cache
(reference: src/simages/extractor.py:179-189: reload ⇒ skip recompute).

Each pipeline stage can persist its output and be skipped on resume.
A stage is an ACID `SnapshotTable` (simages_spark/table.py) at
`<root>/<stage>/`, and every write of it is one new table version whose
manifest carries the stage metrics as commit properties. The commit
point is the table's single atomic hardlink, so a killed write leaves
the previous version readable. A rerun keeps the earlier versions
(`history`, `read(version=...)`) until the workdir is cleared.

Lineage (north_rule): every checkpointed row carries `part_id`
(producing partition) and `stage_run_id`, so a resumed run can attribute
every row to the task that wrote it.

Staleness guard: `get_or_compute` takes an optional `fingerprint`
(e.g. a hash of the DedupConfig fields). It is stored in the stage's
commit properties; a rerun under a different config recomputes the
stage (a new version) instead of silently returning results computed
under the old knobs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


# storage-layout knobs that cannot change a stage's OUTPUT — hashing
# them into the fingerprint would mark every existing checkpoint stale
# on a workdir move (silent full recompute)
_STORAGE_KNOBS = {"checkpoint_dir"}

# execution-only knobs with the same contract: provably output-neutral
# (shuffle_partitions is pure parallelism; cc_checkpoint_every is the CC
# loop's lineage-truncation cadence; cc_driver_threshold picks between
# two physical CC strategies). cc_driver_threshold's exclusion RELIES on
# the two strategies being output-identical — that equivalence is
# enforced by a dedicated test gate,
# tests/test_cc.py::test_fast_path_equals_distributed_random_graph
# (byte-identical labels on a messy random graph); if a change ever makes
# the paths diverge, that gate fails and the knob must move INTO the
# hash before the change lands (one visible recompute is the price).
# Hashing these would turn a performance-tuning change into a silent
# full-pipeline recompute. cc_max_rounds stays IN the hash: if it ever
# binds, convergence (and thus output) differs.
_EXECUTION_KNOBS = {
    "shuffle_partitions",
    "cc_checkpoint_every",
    "cc_driver_threshold",
}

# Per-stage output-NEUTRAL knobs: fields of DedupConfig that provably
# cannot change THAT stage's output (they only bind downstream). Keyed
# by stage name; exclusion-based on purpose — a NEW config knob defaults
# to "included in every stage's hash" (safe over-invalidation), never to
# "silently ignored". The dependency facts, by code:
#   * compute_signatures (functions/signatures.py) reads shingle_size,
#     num_perm, seed, simhash_bits, max_shingles_per_doc — never the
#     band/bucket/threshold/CC knobs; exact_first picks WHICH docs are
#     signed, so it stays in.
#   * probe_keys (operators/sig_index.py) adds lsh_bands/lsh_rows and
#     simhash_blocks/simhash_max_hamming (the key families); bucket caps
#     apply at candidate generation, not key generation.
#   * build_candidates adds max_bucket_size/bucket_salt; the verify
#     threshold binds only in build_edges; cc_max_rounds only in CC.
# Without this, rerunning with only --threshold changed recomputed the
# (expensive, threshold-independent) signature pass.
_STAGE_NEUTRAL_KNOBS: dict[str, set[str]] = {
    "signatures": {
        "lsh_bands", "lsh_rows", "simhash_blocks", "simhash_max_hamming",
        "jaccard_threshold", "max_bucket_size", "bucket_salt",
        "cc_max_rounds",
    },
    "sig_index": {
        "jaccard_threshold", "max_bucket_size", "bucket_salt",
        "cc_max_rounds",
    },
    "candidates": {"jaccard_threshold", "cc_max_rounds"},
    "edges": {"cc_max_rounds"},
    "clusters": set(),
}


def config_fingerprint(cfg, stage: str | None = None) -> str:
    """Stable hash of a dataclass-like config's RESULT-affecting public
    fields; storage knobs (where/how stages are stored) are excluded.
    With `stage`, knobs that provably cannot affect that stage's output
    (`_STAGE_NEUTRAL_KNOBS`) are excluded too, so e.g. a threshold-only
    rerun reuses the signature checkpoint instead of recomputing it.

    Migration note: stages written by builds that still hashed the
    storage knobs carry a fingerprint this function can no longer
    reproduce, so their first resume after upgrading recomputes once
    (the stale-checkpoint path, loud in the stage metrics' run_id).
    The alternative — keeping storage knobs in the hash — silently
    invalidates every checkpoint on every workdir move, forever; one
    visible recompute at upgrade is the cheaper contract. The same
    one-visible-recompute applies when a stage first moves from
    whole-config to per-stage fingerprints."""
    neutral = _STAGE_NEUTRAL_KNOBS.get(stage, set()) if stage else set()
    items = sorted(
        (k, repr(v))
        for k, v in vars(cfg).items()
        if not k.startswith("_")
        and k not in _STORAGE_KNOBS
        and k not in _EXECUTION_KNOBS
        and k not in neutral
    )
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()[:16]


def _check_fingerprint(name: str, stored, expected: str) -> None:
    """Consumer-side staleness guard: a downstream stage that READS a
    stored stage (cli `cluster` reading `signatures`/`candidates`) must
    refuse output computed under other config knobs — without this,
    get_or_compute's producer-side guard could be bypassed by running
    stages across config changes and silently mixing them."""
    if stored != expected:
        raise ValueError(
            f"checkpoint stage '{name}' was computed under a different "
            f"config (stored fingerprint {stored!r} != expected "
            f"{expected!r}) — re-run the producing stage with the current "
            f"config (or pass the config it was computed under)"
        )


def _refuse_legacy_stage(root: str, name: str) -> None:
    """A stage path holding a `<name>.meta.json` sidecar was written by
    the old directory-swap store. Opening it as a table would miss it
    and recompute into a directory that still holds its parquet files,
    so it is refused with the fix instead."""
    if os.path.exists(os.path.join(root, f"{name}.meta.json")):
        raise ValueError(
            f"checkpoint stage '{name}' under {root} is in the old "
            f"directory layout, which this build no longer reads — run "
            f"`clear --workdir {root}` and recompute the stages"
        )


def _props(table, version: int) -> dict:
    """The stage metrics committed with `version` of a stage table."""
    return table.manifest(version).get("props") or {}


class TableCheckpointStore:
    """Checkpoint stages as versions of an ACID `SnapshotTable`
    (north_rule: "checkpoints per-partition signature and edge state to
    Iceberg ... resumes with full lineage and metrics").

    Layout: one SnapshotTable per stage at `<root>/<name>/`. Each write
    is a new table VERSION whose manifest carries the stage metrics
    (run_id, fingerprint, rows, per-partition lineage) as commit
    properties — the same shape as Iceberg snapshot summary properties,
    so on a real catalog this maps 1:1 onto `table.snapshots()`.

    What the table form gives a stage:
      * the commit point is ONE atomic+exclusive hardlink — a killed
        write never leaves "no stage at all";
      * every rerun of a stage is preserved as history: `history(name)`
        is the stage's full lineage, `read(name, version=...)` time-
        travels to any prior run's output, and a config-fingerprint
        change is an auditable new version, not an in-place replace;
      * concurrent writers of the same stage serialize through optimistic
        commits instead of last-writer-wins.

    Metrics are computed from the staged files BEFORE the commit is
    published, so a version's manifest always describes exactly the data
    it references (never a post-hoc sidecar that can diverge).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _table(self, name: str):
        from simages_spark.table import SnapshotTable

        _refuse_legacy_stage(self.root, name)
        return SnapshotTable(self.spark, os.path.join(self.root, name))

    def _current(self, name: str):
        """(table, current version) of stage `name`: one table handle and
        one version listing; (None, None) when the stage was never
        written."""
        if not os.path.isdir(os.path.join(self.root, name)):
            return None, None
        t = self._table(name)
        return t, t.current_version()

    def exists(self, name: str) -> bool:
        return self._current(name)[1] is not None

    def write(
        self,
        name: str,
        df: DataFrame,
        run_id: str | None = None,
        fingerprint: str | None = None,
    ) -> DataFrame:
        run_id = run_id or f"run-{int(time.time())}-{uuid.uuid4().hex[:8]}"
        t = self._table(name)
        with_lineage = df.withColumn("part_id", F.spark_partition_id()).withColumn(
            "stage_run_id", F.lit(run_id)
        )
        # stage first, derive the metrics from the staged bytes, then
        # commit a manifest that carries them — one Spark write total
        gid, gstats = t._stage_group_with_stats(with_lineage)
        staged = self.spark.read.parquet(t._group_path(gid))
        schema = staged.schema.simpleString()
        # rows from the footer stats, partitions from the file count —
        # ZERO extra Spark jobs; the staged bytes were scanned exactly
        # once, by the write itself. Caveat recorded honestly: file
        # count equals producing-partition count for the default write
        # (one task = one file); empty tasks' schema-only files or a
        # maxRecordsPerFile split make it an upper bound, while the
        # exact per-row lineage stays in the part_id column itself
        n_files = sum(
            1
            for f in os.listdir(t._group_path(gid))
            if f.endswith(".parquet")
        )
        props = {
            "name": name,
            "run_id": run_id,
            "fingerprint": fingerprint,
            "rows": gstats["rows"],
            "partitions": n_files,
            "written_at_unix": time.time(),
            "schema": schema,
        }
        try:
            t._commit_with_retry(
                lambda base: ([gid], {gid: gstats}, schema),
                "checkpoint",
                props=props,
            )
        except Exception:
            # never-referenced staged group — reclaim the full stage
            # output now (nothing vacuums checkpoint tables automatically)
            import shutil

            shutil.rmtree(t._group_path(gid), ignore_errors=True)
            raise
        return staged.drop("part_id", "stage_run_id")

    def read(
        self,
        name: str,
        version: int | None = None,
        expected_fingerprint: str | None = None,
    ) -> DataFrame:
        t, current = self._current(name)
        if current is None:
            raise FileNotFoundError(
                f"checkpoint stage '{name}' not found under {self.root} — "
                f"run the producing stage first"
            )
        v = current if version is None else version
        if expected_fingerprint is not None:
            _check_fingerprint(
                name, _props(t, v).get("fingerprint"), expected_fingerprint
            )
        return t.read(v).drop("part_id", "stage_run_id")

    def metrics(self, name: str, version: int | None = None) -> dict:
        t = self._table(name)
        return _props(t, t.current_version() if version is None else version)

    def history(self, name: str) -> list[dict]:
        """Full stage lineage: every run's commit properties, oldest
        first — the audit trail a directory swap discards."""
        t = self._table(name)
        return [
            {"version": m["version"], **(m.get("props") or {})}
            for m in t.history()
        ]

    def get_or_compute(
        self,
        name: str,
        compute,
        run_id: str | None = None,
        fingerprint: str | None = None,
    ) -> DataFrame:
        # a resume hit opens the stage's table once: one version listing,
        # one manifest parse (the table caches it for the read)
        t, v = self._current(name)
        if v is not None:
            stored = _props(t, v).get("fingerprint")
            if fingerprint is None or stored == fingerprint:
                return t.read(v).drop("part_id", "stage_run_id")
        return self.write(name, compute(), run_id=run_id, fingerprint=fingerprint)


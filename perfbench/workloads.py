"""The benchmark's workloads: one pass, its traced twin, and the output
checks.

Each workload exposes

  * `run_pass(docs)`    - one pass through the public API, materialized;
                          returns the output digest;
  * `traced_pass(docs, tracer)` - the same work, one layer at a time,
                          materialized at every layer boundary; returns
                          the digest, which must equal `run_pass`'s;
  * `prepare_check()`   - untimed work `check` needs, run before the
                          timed passes;
  * `check(docs, table)` - the recall / precision gates, run once
                          after the timed passes, against the
                          generator's truth;
  * `counters(tracer)`  - the per-layer counters of the last traced
                          pass, computed after its timing.
  * `crawl`             - a `CrawlTables` step the traced run adds,
                          or None.

Only public `simages_spark` functions are called.
"""

from __future__ import annotations

import hashlib
import math
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.exact import exact_dup_edges
from simages_spark.operators.groups import keep_first_policy
from simages_spark.operators.incremental import (
    incremental_dedup_edges,
    probe_metrics,
    within_batch_edges,
)
from simages_spark.operators.line_dedup import line_deduped_corpus, line_dup_stats
from simages_spark.operators.lsh import candidate_pairs, lsh_metrics
from simages_spark.operators.sig_index import probe_keys
from simages_spark.operators.simhash_join import simhash_candidates
from simages_spark.operators.suffix import (
    anchored_windows,
    strip_duplicate_spans,
    substring_dup_spans,
    suffix_metrics,
)
from simages_spark.operators.verify import verify_pairs
from simages_spark.pipeline import find_duplicates, representative_docs
from simages_spark.streaming import process_near_dedup_batch_tables
from simages_spark.table import SnapshotTable

from corpus import GROUP, planted_triples, write
from procstat import current_rss_mb, reset_peak_rss, window_peak_rss_mb

RECALL_GATE = 0.99
# the recall estimate pools the corpus's groups with this many extra
# base / copy / near-dup triples, so its standard error is ~0.00075
RECALL_GROUPS = 12000
# the gate fails when recall + this many standard errors < RECALL_GATE:
# an allowance of ~0.003. The program's recall on this recipe is about
# 0.990 (run means 0.9888-0.9916), on the gate itself, so a bare cut
# would fail about half the runs; at 4 standard errors a true recall
# of 0.9895 still fails fewer than 1 run in 2000.
RECALL_GATE_SIGMAS = 4.0
MAX_DOCS_PER_WINDOW = 1000  # substring_dup_spans default
# what every pass reads from the staged parquet; warc_ts orders keep-first
DOC_COLUMNS = ["doc_id", "text", "warc_ts"]


class CheckFailed(Exception):
    pass


def stage(spark, table, path: Path, n_files: int = 4) -> DataFrame:
    """Write `table` as parquet under `path` and read back the columns a
    pass may see: the program only ever reads the staged parquet."""
    write(table, str(path), n_files)
    return spark.read.parquet(str(path)).select(*DOC_COLUMNS)


def _ck(df: DataFrame) -> DataFrame:
    """Materialize every column of `df` once; later layers read the
    result instead of recomputing it."""
    return df.localCheckpoint(eager=True)


def _agg_digest(df: DataFrame) -> str:
    """Digest over every row and column of `df`, computed by Spark: the
    row count, and an order-independent xor and sum of a 64-bit hash of
    each row. Hashing every column keeps any of them from being pruned."""
    h = F.xxhash64(*df.columns)
    row = df.select(h.alias("h")).agg(
        F.count("*").alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['x']}:{row['s']}"


def assert_recomputes(df: DataFrame, label: str) -> None:
    """The executed plan must still run the Arrow UDF: a plan served from
    a cached copy would time a cache scan, not the program."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "MapInPandas" not in plan:
        raise CheckFailed(f"{label}: executed plan has no MapInPandas")


def assert_cache_empty(spark) -> None:
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise CheckFailed("CacheManager holds data left by an earlier pass")


def _group_hits(doc_ids, cluster_ids, n_docs: int, group_size: int) -> np.ndarray:
    """(3, n_groups) bool: are roles 0-1, 0-2, 1-2 of each group in one
    cluster, given the clustered docs' (doc_id, cluster_id)."""
    cluster = -1 - np.arange(n_docs, dtype=np.int64)  # singletons: unique
    cluster[np.asarray(doc_ids)] = np.asarray(cluster_ids)
    c = cluster.reshape(-1, group_size)
    return np.stack([c[:, 0] == c[:, 1], c[:, 0] == c[:, 2], c[:, 1] == c[:, 2]])


def _components(src: np.ndarray, dst: np.ndarray, n_docs: int) -> np.ndarray:
    """Connected-component label of every doc under the given edges."""
    parent = np.arange(n_docs)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n_docs)])


def _recall_gate(per_group: np.ndarray, label: str) -> float:
    """Mean of per-group recall; fails when it is significantly below
    RECALL_GATE."""
    recall = float(per_group.mean())
    se = float(per_group.std()) / math.sqrt(len(per_group))
    if recall + RECALL_GATE_SIGMAS * se < RECALL_GATE:
        raise CheckFailed(
            f"{label}: pair_recall {recall:.4f} (se {se:.4f}) is below {RECALL_GATE}"
        )
    return recall


class BatchDedup:
    """find_duplicates + keep_first_policy over the whole corpus."""

    name = "batch_dedup"
    default_docs = 4000
    warm_passes = 0  # prepare_check's recall run warms up instead

    def __init__(self, spark, n_docs: int, seed: int, work: Path):
        self.spark = spark
        self.n_docs = n_docs
        self.seed = seed
        self.work = work
        self.cfg = DedupConfig()
        self.crawl = CrawlTables(spark, self.cfg, work)
        self.last_output = None
        self._traced: dict = {}

    def run_pass(self, docs: DataFrame) -> str:
        assert_cache_empty(self.spark)
        res = find_duplicates(docs, self.cfg)
        plan = keep_first_policy(res.clusters, docs, self.cfg)
        out = plan.toPandas()
        assert_recomputes(res.signatures, "signatures")
        # find_duplicates persists signatures and edges; the next pass
        # must compute them again
        res.signatures.unpersist()
        res.edges.unpersist()
        self.last_output = out
        return self._digest(out)

    @staticmethod
    def _digest(out) -> str:
        out = out.sort_values("doc_id")
        h = hashlib.sha256()
        for col in ("doc_id", "cluster_id", "is_keeper"):
            h.update(out[col].to_numpy().tobytes())
        return f"{len(out)}:{h.hexdigest()[:16]}"

    def traced_pass(self, docs: DataFrame, tracer) -> str:
        cfg = self.cfg
        with tracer.span("exact", "representative_docs") as s:
            reps = s.frame = _ck(representative_docs(docs))
        with tracer.span("exact", "exact_dup_edges") as s:
            stars = s.frame = _ck(exact_dup_edges(docs))
        with tracer.span("signatures", "compute_signatures") as s:
            sig = s.frame = _ck(compute_signatures(reps, cfg))
        with tracer.span("lsh", "candidate_pairs") as s:
            lsh = s.frame = _ck(candidate_pairs(sig, cfg, dedup=False))
        with tracer.span("simhash_join", "simhash_candidates") as s:
            sh = s.frame = _ck(
                simhash_candidates(sig, cfg, dedup=False).select("src", "dst")
            )
        # the union + pair dedup of pipeline.build_candidates
        with tracer.span("candidates", "build_candidates") as s:
            cand = s.frame = _ck(lsh.unionByName(sh).dropDuplicates(["src", "dst"]))
        with tracer.span("verify", "build_edges") as s:
            verified = _ck(verify_pairs(cand, sig, cfg))
            # pipeline.build_edges: verified pairs plus exact star edges
            edges = s.frame = _ck(
                verified.unionByName(stars.select("src", "dst", "jaccard"))
            )
        rss_before = current_rss_mb()
        reset_peak_rss()
        with tracer.span("connected_components", "connected_components") as s:
            clusters = s.frame = _ck(connected_components(edges, cfg))
        cc_rss_delta = window_peak_rss_mb() - rss_before
        with tracer.span("groups", "keep_first_policy") as s:
            out = keep_first_policy(clusters, docs, cfg).toPandas()
            s.rows = len(out)
        self._traced = dict(
            reps=reps, sig=sig, lsh=lsh, sh=sh, cand=cand, verified=verified,
            cc_rss_delta=cc_rss_delta,
        )
        return self._digest(out)

    def counters(self, tracer) -> dict[str, float]:
        """Counters of the last traced pass, computed after its timing."""
        t = self._traced
        sig_rows = t["sig"].count()
        sig_cpu = sum(s.cpu_s for s in tracer.spans if s.layer == "signatures")
        lm = lsh_metrics(t["sig"], self.cfg).collect()[0]
        return {
            "exact.rep_ratio": t["reps"].count() / self.n_docs,
            "signatures.docs_per_cpu_s": sig_rows / max(sig_cpu, 1e-9),
            "lsh.pairs": t["lsh"].count(),
            "lsh.truncated_members": int(lm["n_truncated_members"] or 0),
            "simhash_join.pairs": t["sh"].count(),
            "verify.yield": t["verified"].count() / max(t["cand"].count(), 1),
            "connected_components.driver_rss_delta_mb": t["cc_rss_delta"],
        }

    def prepare_check(self) -> None:
        """Deduplicate the RECALL_GROUPS extra triples `check` pools with
        the corpus. Runs before the timed passes: its signatures are
        over six passes' worth, so it also takes the JIT further towards
        plateau than a warm pass would."""
        triples = planted_triples(RECALL_GROUPS, self.seed)
        res = find_duplicates(stage(self.spark, triples, self.work / "recall"), self.cfg)
        clusters = res.clusters.select("doc_id", "cluster_id").toPandas()
        # the truth columns only: the texts need not outlive the run
        self._extra = (triples.select(["role", "group"]), clusters)
        res.signatures.unpersist()
        res.edges.unpersist()

    def check(self, docs: DataFrame, table) -> dict[str, float]:
        """Recall over planted pairs (roles 0-1, 0-2, 1-2 of each group)
        by cluster co-membership, pooled over the corpus and
        RECALL_GROUPS extra triples deduplicated on their own; exact
        copies must all be found, and no cluster may join docs of two
        groups or non-planted docs."""
        out = self.last_output
        hits = _group_hits(out["doc_id"], out["cluster_id"], table.num_rows, GROUP)
        _check_clusters(out, table, hits, self.name)
        keepers = out.groupby("cluster_id")["is_keeper"].sum()
        if (keepers != 1).any():
            raise CheckFailed("batch_dedup: a cluster has no single keeper")

        triples, extra = self._extra
        t_hits = _group_hits(extra["doc_id"], extra["cluster_id"], triples.num_rows, 3)
        _check_clusters(extra, triples, t_hits, f"{self.name} recall triples")
        per_group = np.concatenate([hits.mean(axis=0), t_hits.mean(axis=0)])
        return {"pair_recall": _recall_gate(per_group, self.name)}


def _check_clusters(out, table, hits: np.ndarray, label: str) -> None:
    """Every exact copy clustered with its base; no cluster joins a
    non-planted doc or docs of two planted groups."""
    if not hits[0].all():
        raise CheckFailed(f"{label}: an exact copy was not clustered")
    role = table.column("role").to_numpy()
    group = table.column("group").to_numpy()
    clustered = out["doc_id"].to_numpy()
    if (role[clustered] > 2).any():
        raise CheckFailed(f"{label}: a non-planted doc joined a cluster")
    groups_per_cluster = out.assign(g=group[clustered]).groupby("cluster_id")["g"].nunique()
    if (groups_per_cluster > 1).any():
        raise CheckFailed(f"{label}: a cluster joins two planted groups")


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class CrawlTables:
    """The corpus arriving as N_BATCHES crawl batches, each through
    process_near_dedup_batch_tables(include_within_batch=True) into a
    fresh table root, with one compact() of the three tables after
    COMPACT_AFTER batches. Batch i holds the docs with doc_id % N_BATCHES
    == i, so a group's base, exact copy and near-dup arrive in batches
    0, 1 and 2 and are found by probing the store, not within a batch.

    Runs in the traced run of `batch_dedup`: once through the public
    entry point (timing each call, `batch_s_p50`) and once layer by
    layer; both must commit the same edges, and those edges must
    cluster every planted group exactly as the batch pass did."""

    N_BATCHES = 3
    COMPACT_AFTER = 2
    TABLES = ("sig_table", "idx_table", "edges_table")

    def __init__(self, spark, cfg: DedupConfig, work: Path):
        self.spark = spark
        self.cfg = cfg
        self.work = work
        self.roots = 0
        self.batch_walls: list[float] = []
        self.stored_bytes = 0
        self._traced: dict = {}

    def _fresh_root(self) -> Path:
        # a reused root would skip every batch append_exactly_once has
        # already marked
        self.roots += 1
        return self.work / f"crawl-{self.roots}"

    def _batches(self, docs: DataFrame) -> list[DataFrame]:
        return [
            docs.where(F.col("doc_id") % self.N_BATCHES == i)
            for i in range(self.N_BATCHES)
        ]

    def _tables(self, root: Path) -> list:
        return [SnapshotTable(self.spark, str(root / t)) for t in self.TABLES]

    def run(self, docs: DataFrame) -> str:
        """The public entry point, batch by batch; returns the digest of
        the committed edges."""
        assert_cache_empty(self.spark)
        root = self._fresh_root()
        self.batch_walls = []
        for i, batch in enumerate(self._batches(docs)):
            t0 = time.perf_counter()
            process_near_dedup_batch_tables(
                batch, i, str(root), self.cfg, include_within_batch=True
            )
            self.batch_walls.append(time.perf_counter() - t0)
            if i + 1 == self.COMPACT_AFTER:
                for t in self._tables(root):
                    t.compact()
        self.stored_bytes = _dir_bytes(root)
        self.edges = self._tables(root)[2].read().toPandas()
        return _agg_digest(self._tables(root)[2].read())

    def traced(self, docs: DataFrame, tracer) -> str:
        """The body of process_near_dedup_batch_tables, one layer at a
        time, materialized at each boundary."""
        cfg = self.cfg
        root = self._fresh_root()
        sig_t, idx_t, edges_t = self._tables(root)
        sid = f"crawl:{root}"
        probes = []
        written = rewritten = 0
        for i, batch in enumerate(self._batches(docs)):
            with tracer.span("signatures", "compute_signatures") as s:
                new_sig = s.frame = _ck(compute_signatures(batch.select("doc_id", "text"), cfg))
            if i == 0:
                with tracer.span("incremental", "within_batch_edges") as s:
                    edges = s.frame = _ck(within_batch_edges(new_sig, cfg))
            else:
                prior = [("batch_id", None, i - 1)]
                with tracer.span("table", "scan") as s:
                    store_sig = _ck(sig_t.scan(prior))
                    store_idx = s.frame = _ck(idx_t.scan(prior))
                with tracer.span("incremental", "incremental_dedup_edges") as s:
                    edges = s.frame = _ck(incremental_dedup_edges(
                        None, store_sig, cfg, new_signatures=new_sig,
                        existing_index=store_idx, include_within_batch=True,
                    ))
                probes.append((new_sig, store_idx))
            with tracer.span("sig_index", "probe_keys") as s:
                keys = s.frame = _ck(probe_keys(new_sig, cfg))
            before = _dir_bytes(root) if root.exists() else 0
            with tracer.span("table", "append_exactly_once"):
                for t, df in ((edges_t, edges), (sig_t, new_sig), (idx_t, keys)):
                    t.append_exactly_once(df.withColumn("batch_id", F.lit(i)), sid, i)
            written += _dir_bytes(root) - before
            if i + 1 == self.COMPACT_AFTER:
                before = _dir_bytes(root)
                with tracer.span("table", "compact") as s:
                    for t in (sig_t, idx_t, edges_t):
                        t.compact()
                rewritten += _dir_bytes(root) - before
                compact_s = s.wall_s
        self._traced = dict(
            probes=probes, edges=edges_t, written=written, rewritten=rewritten,
            compact_s=compact_s,
        )
        return _agg_digest(edges_t.read())

    def check(self, batch_output, table) -> float:
        """The committed edges must cluster each planted group exactly as
        the batch pass did (detection does not depend on arrival order),
        join no docs of two groups, and find every exact copy. Returns
        the pair recall of the committed edges."""
        n = table.num_rows
        comp = _components(self.edges["src"].to_numpy(), self.edges["dst"].to_numpy(), n)
        crawl_hits = _group_hits(np.arange(n), comp, n, GROUP)
        batch_hits = _group_hits(
            batch_output["doc_id"], batch_output["cluster_id"], n, GROUP
        )
        linked = np.flatnonzero(np.bincount(comp, minlength=n)[comp] > 1)
        _check_clusters(
            pd.DataFrame({"doc_id": linked, "cluster_id": comp[linked]}),
            table, crawl_hits, "crawl_tables",
        )
        differ = np.flatnonzero((crawl_hits != batch_hits).any(axis=0))
        if len(differ):
            raise CheckFailed(
                f"crawl_tables: groups {differ[:10].tolist()} cluster otherwise "
                "than in the batch pass"
            )
        return float(crawl_hits.mean())

    def counters(self, tracer, input_bytes: int) -> dict[str, float]:
        """Counters of the crawl, computed after its timing."""
        t = self._traced
        cand = matched = 0
        for new_sig, store_idx in t["probes"]:
            pm = probe_metrics(new_sig, store_idx, self.cfg).collect()[0]
            cand += int(pm["n_candidate_pairs"] or 0)
            matched += int(pm["n_matched_store_docs"] or 0)
        e = self.edges
        across = int(((e["src"] % self.N_BATCHES) != (e["dst"] % self.N_BATCHES)).sum())
        return {
            "incremental.candidate_pairs": cand,
            "incremental.matched_store_docs": matched,
            "incremental.yield": across / max(cand, 1),
            "table.bytes_written": t["written"],
            "table.bytes_rewritten": t["rewritten"],
            "table.compact_s": t["compact_s"],
            "crawl_tables.batch_s_p50": statistics.median(self.batch_walls),
            "crawl_tables.stored_bytes_per_input_byte": self.stored_bytes / input_bytes,
        }


class SpanDedup:
    """strip_duplicate_spans, then line_deduped_corpus over its output."""

    name = "span_dedup"
    default_docs = 2000
    # untimed, after the cold pass: more would bring the timed passes
    # nearer the JIT plateau, but do not fit the run-time budget
    warm_passes = 1

    crawl = None

    def __init__(self, spark, n_docs: int, seed: int, work: Path):
        self.spark = spark
        self._traced: dict = {}

    def prepare_check(self) -> None:
        pass

    def run_pass(self, docs: DataFrame) -> str:
        assert_cache_empty(self.spark)
        out = line_deduped_corpus(strip_duplicate_spans(docs))
        digest = _agg_digest(out)
        assert_recomputes(out, "span pass")
        return digest

    def traced_pass(self, docs: DataFrame, tracer) -> str:
        with tracer.span("suffix", "substring_dup_spans") as s:
            spans = s.frame = _ck(substring_dup_spans(docs))
        with tracer.span("suffix", "strip_duplicate_spans") as s:
            cleaned = s.frame = _ck(strip_duplicate_spans(docs, spans=spans))
        with tracer.span("line_dedup", "line_deduped_corpus") as s:
            out = s.frame = _ck(line_deduped_corpus(cleaned))
            digest = _agg_digest(out)
        self._traced = dict(docs=docs, spans=spans, cleaned=cleaned)
        return digest

    def counters(self, tracer) -> dict[str, float]:
        """Counters of the last traced pass, computed after its timing."""
        t = self._traced
        sm = suffix_metrics(t["docs"]).collect()[0]
        viral = (
            anchored_windows(t["docs"])
            .groupBy("h1", "h2")
            .agg(F.count_distinct("doc_id").alias("n"))
            .where(F.col("n") > MAX_DOCS_PER_WINDOW)
            .count()
        )
        seg = line_dup_stats(t["cleaned"]).agg(
            F.sum("n_dup_segments").alias("d"), F.sum("n_segments").alias("n")
        ).collect()[0]
        removed = t["cleaned"].agg(F.sum("n_chars_removed")).collect()[0][0]
        return {
            "suffix.anchor_rows": int(sm["n_anchor_rows"]),
            "suffix.spans": t["spans"].count(),
            "suffix.viral_windows": viral,
            "suffix.chars_removed": int(removed or 0),
            "line_dedup.dup_segment_ratio": (seg["d"] or 0) / max(seg["n"] or 0, 1),
        }

    def check(self, docs: DataFrame, table) -> dict[str, float]:
        """Recall of planted role-3/base pairs among the spans
        `substring_dup_spans` finds; the generator guarantees each pair
        shares a run of at least 64 chars, and the method is exact."""
        pairs = substring_dup_spans(docs).select("src", "dst").distinct().toPandas()
        found = set(zip(pairs["src"].tolist(), pairs["dst"].tolist()))
        role = table.column("role").to_numpy()
        bases = np.flatnonzero(role == 0)
        hit = np.array([(int(b), int(b) + 3) in found for b in bases], dtype=float)
        recall = float(hit.mean())
        if recall < 1.0:
            raise CheckFailed(
                f"span_dedup: {int((1 - hit).sum())} planted role-3/base pairs missed"
            )
        return {"pair_recall": recall}


WORKLOADS = {w.name: w for w in (BatchDedup, SpanDedup)}

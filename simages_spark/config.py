"""Pipeline configuration.

Mirrors the reference's knob surface (reference: src/simages/extractor.py:45-95,
src/simages/main.py:52-133) re-targeted at the MinHash/SimHash config fixed by
BASELINE.json: 5-gram shingles, 128 permutations, LSH b=16 r=8, SimHash
(60 effective bits — the portable shingle-hash width, see simhash_bits).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- signature config (BASELINE.json north_star; analog of z_dim,
    #     reference: src/simages/extractor.py:55) ---
    shingle_size: int = 5  # tokens per shingle (5-gram)
    num_perm: int = 128  # MinHash permutations
    lsh_bands: int = 16  # b
    lsh_rows: int = 8  # r  (b*r must equal num_perm)
    # 60, not 64: shingle hashes are 60-bit md5 prefixes (portable to the
    # DuckDB oracle, see functions/shingles.py), so SimHash has 60
    # meaningful bits and the packed value stays non-negative in a long
    simhash_bits: int = 60
    # Hamming-ball join keys on every (blocks - max_hamming)-subset of
    # pieces (Manku-style combination blocks): with 6 pieces and d=3 that
    # is C(6,3)=20 keys/doc of ~30 bits — buckets stay near-singleton at
    # any corpus size (16-bit single blocks go quadratic past ~10^5 docs)
    simhash_blocks: int = 6  # pieces the 64-bit simhash is split into
    simhash_max_hamming: int = 3  # d: max Hamming distance for simhash edges
    seed: int = 42  # permutation seed; analog of torch seed

    # --- similarity thresholds (analog of `n`/`quantile`,
    #     reference: src/simages/extractor.py:321-342) ---
    jaccard_threshold: float = 0.5  # tau for verified edges

    # Run the near-dup machinery (signatures/LSH/SimHash/verify) on ONE
    # representative per distinct text; exact copies attach via the
    # linear exact-hash star layer. Web crawls are 30-50% exact dups, so
    # this cuts signature compute proportionally and removes
    # identical-content floods from LSH entirely (a 100k-copy viral page
    # contributes ONE signature instead of one 100k-member hot bucket).
    # Cluster output is provably identical; the edge set becomes the
    # minimal connectivity certificate (star + rep-level near-dup edges)
    # instead of all ~quadratic within-group pairs.
    exact_first: bool = True

    # --- scale / skew knobs (north_rule: explicit partitioning & skew) ---
    shuffle_partitions: int | None = None  # None = leave session setting
    max_bucket_size: int = 200  # LSH buckets larger than this are capped
    bucket_salt: int = 8  # salt factor for oversized-bucket sampling
    max_shingles_per_doc: int = 8192  # bound verify-join payload per doc

    # --- checkpointing (analog of the .npy signature cache,
    #     reference: src/simages/extractor.py:179-189) ---
    # each stage is a version of an ACID SnapshotTable under this root
    # (checkpoint.TableCheckpointStore)
    checkpoint_dir: str | None = None
    # lineage-cut cadence in CC rounds. 1 = every round (measured best:
    # one LS+SS round is already ~6 shuffles deep and uncut Catalyst
    # re-analysis grows superlinearly); raise to trade analysis depth for
    # fewer materializations on very fast rounds
    cc_checkpoint_every: int = 1
    cc_max_rounds: int = 50
    # edge-count bound for the CC driver union-find fast path (identical
    # labels; ~16 B/edge collected, so 1M ≈ 16 MB — the same size-gated
    # physical-strategy idea as autoBroadcastJoinThreshold). 0 disables.
    # Crossover measured in round 6 on a realistic dedup-shaped graph
    # (300k edges / 417k nodes, clean-steal reps): driver union-find
    # ~2.0 s vs ~4.4-5.7 s distributed, identical labels — the driver
    # path stays cheaper until well past 1M edges, and 1M keeps the
    # collect (16 MB) and the transient Python dicts (~150 MB) far from
    # any driver-memory concern at the default heap (a quarter of the
    # host's memory, capped at 24g: ~4g on a 16 GB host). The default
    # assumes such a multi-GB driver heap; lower it on a small driver.
    # Every genuinely large graph still takes the distributed rounds
    # (asserted by the 20M-edge soaks); the label-equality gate
    # (test_fast_path_equals_distributed_random_graph) pins identity.
    cc_driver_threshold: int = 1_000_000

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.simhash_max_hamming >= self.simhash_blocks:
            raise ValueError(
                "simhash_max_hamming must be < simhash_blocks "
                "(pigeonhole needs at least one unchanged piece subset)"
            )


DEFAULT_CONFIG = DedupConfig()

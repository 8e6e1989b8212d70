"""Seeded page corpus with planted duplicate structure and ground truth.

Same recipe as `simages_spark.sources.corpus`, generated in the driver
with numpy so the program under test only ever sees the staged parquet:

  * pages come in groups of 8 (role = index % 8);
  * role 1 is an exact copy of role 0;
  * role 2 replaces max(1, len/100) of role 0's 40-120 tokens, i.e.
    one token, with another word (shingle Jaccard 0.76-0.92);
  * role 3 is 30 fresh tokens followed by the first half of role 0,
    so it shares one verbatim run of at least `MIN_SHARED_CHARS` chars;
  * roles 4-7 are unrelated;
  * ~0.6 % of pages (roles ≥ 3, index % 97 == 0) end in one hot
    boilerplate footer.

`planted_triples` draws roles 0-2 alone, for a recall estimate over
many more planted pairs than the corpus holds.

`warc_ts` is a seeded random crawl time (so keep-first does not simply
pick the smallest doc_id), `lang` is en-skewed, and `role` / `group`
are the truth columns the checks use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "data", "query", "table", "row", "column", "scan", "filter", "join",
    "group", "sort", "hash", "merge", "spark", "batch", "stream", "window",
    "agg", "key", "value", "part", "small", "big", "fast", "slow", "the",
    "a", "order", "line", "customer", "vector",
])
VOCAB_INDEX = {w: i for i, w in enumerate(VOCAB)}
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
FOOTER = ["copyright", "footer", "nav", "menu", "cookie", "policy"] * 3
MIN_SHARED_CHARS = 64
GROUP = 8


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return VOCAB[rng.integers(0, len(VOCAB), n)].tolist()


def _base_and_near(rng: np.random.Generator) -> tuple[list[str], list[str]]:
    """A base page of 40-120 tokens and its near-dup, which replaces
    max(1, len/100) tokens with another word."""
    base = _words(rng, 40 + int(rng.integers(0, 80)))
    near = list(base)
    for pos in rng.integers(0, len(near), max(1, len(near) // 100)):
        # always a different word, so the near-dup is never an exact copy
        shift = 1 + rng.integers(0, len(VOCAB) - 1)
        near[int(pos)] = VOCAB[(VOCAB_INDEX[near[int(pos)]] + shift) % len(VOCAB)]
    return base, near


def _table(texts: list[str], group_size: int, seed: int, rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    idx = np.arange(n, dtype=np.int64)
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 86_400 * 365, n).astype("timedelta64[s]"))
    return pa.table({
        "doc_id": pa.array(idx),
        "url": pa.array([f"https://example-{seed}.org/page/{i}" for i in range(n)]),
        "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(LANGS[idx % len(LANGS)]),
        "role": pa.array((idx % group_size).astype(np.int8)),
        "group": pa.array(idx // group_size),
    })


def generate(n_docs: int, seed: int) -> pa.Table:
    """`n_docs` pages (rounded up to whole groups of 8) as an Arrow table
    with columns doc_id, url, warc_ts, text, lang, role, group."""
    rng = np.random.default_rng(seed)
    n_groups = -(-n_docs // GROUP)
    texts: list[str] = []
    for g in range(n_groups):
        base, near = _base_and_near(rng)
        shared = base[: max(25, len(base) // 2)]
        members = [base, base, near, _words(rng, 30) + shared]
        members += [_words(rng, 30 + int(rng.integers(0, 90))) for _ in range(4)]
        for role, toks in enumerate(members):
            idx = g * GROUP + role
            if role >= 3 and idx % 97 == 0:
                toks = toks + FOOTER
            texts.append(" ".join(toks))
        if len(" ".join(shared)) < MIN_SHARED_CHARS:
            raise AssertionError("generator broke the shared-run guarantee")
    return _table(texts, GROUP, seed, rng)


def planted_triples(n_groups: int, seed: int) -> pa.Table:
    """Roles 0-2 of `generate` alone (base, exact copy, near-dup) for
    `n_groups` groups, from a random stream apart from `generate(seed)`'s:
    many planted pairs at a third of the pages, for a recall estimate
    with a small standard error."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for _ in range(n_groups):
        base, near = _base_and_near(rng)
        texts += [" ".join(base), " ".join(base), " ".join(near)]
    return _table(texts, 3, seed, rng)


def write(table: pa.Table, path: str, n_files: int) -> None:
    """Stage `table` as `n_files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))

"""Text-analysis functions + ANN + multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simages_spark.functions.multimodal import decode_image, media_metadata, sniff_magic
from simages_spark.functions.text_stats import (
    doc_fingerprint,
    quality_columns,
    quality_filter,
    repetition_stats,
)
from simages_spark.operators.ann import (
    ann_cosine_pairs,
    bruteforce_cosine_pairs,
    cosine_topk,
)


def test_quality_columns(spark):
    docs = spark.createDataFrame(
        [(1, "The cat and the dog"), (2, ""), (3, "a-b c! d?")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in quality_columns(docs).collect()}
    assert got[1]["n_tokens"] == 5
    assert got[1]["lang_pred"] == "en"  # 'the' + 'and' hits
    assert got[1]["stopword_ratio"] == pytest.approx(2 / 5)  # distinct hits: the, and
    assert got[2]["n_tokens"] == 0 and got[2]["lang_pred"] == "und"
    assert got[3]["symbol_ratio"] == pytest.approx(3 / 9, abs=1e-6)


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),      # 1 distinct token, 1 distinct 2-gram
            (2, "all words here differ"),    # no repetition at all
            (3, "a b a b a"),                # alternating: dup tokens + dup 2-grams
            (4, None),                       # null text
            (5, "solo"),                     # 1 token, no 2-grams
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["dup_token_ratio"] == 0.75
    assert got[1]["top_token_ratio"] == 1.0
    # 3 windows "spam spam", all equal → 1 - 1/3
    assert got[1]["dup_2gram_ratio"] == round(1 - 1 / 3, 6)
    assert got[2]["dup_token_ratio"] == 0.0 and got[2]["dup_2gram_ratio"] == 0.0
    assert got[2]["top_token_ratio"] == 0.25
    # a:3 b:2 of 5 tokens; 4 2-grams, 2 distinct ("a b", "b a")
    assert got[3]["dup_token_ratio"] == 0.6
    assert got[3]["top_token_ratio"] == 0.6
    assert got[3]["dup_2gram_ratio"] == 0.5
    assert got[4]["n_tokens"] == 0 and got[4]["dup_token_ratio"] == 0.0
    assert got[4]["top_token_ratio"] == 0.0 and got[4]["dup_2gram_ratio"] == 0.0
    assert got[5]["n_tokens"] == 1 and got[5]["dup_2gram_ratio"] == 0.0
    assert got[5]["top_token_ratio"] == 1.0


def test_quality_filter_reasons(spark):
    """First-failing-rule precedence: a doc that is BOTH short and
    repetitive reports too_short; rules fire independently otherwise."""
    long_ok = " ".join(f"w{i}" for i in range(20))
    repetitive = " ".join(["spam"] * 10 + [f"u{i}" for i in range(10)])
    dominant = " ".join(["the"] * 6 + [f"v{i}" for i in range(14)])
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam"),  # short AND repetitive → too_short
            (2, long_ok),           # keep
            (3, repetitive),        # dup_token_ratio 9/20=0.45... make it fail
            (4, dominant),          # top_token_ratio 6/20=0.3 > 0.25
            (5, None),              # null → 0 tokens → too_short
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert got[1]["reason"] == "too_short" and not got[1]["keep"]
    assert got[2]["reason"] == "keep" and got[2]["keep"]
    assert got[4]["reason"] == "dominant_token"
    assert got[5]["reason"] == "too_short"
    # explicit threshold override: doc 3 (dup ratio 0.45) fails at 0.4
    strict = {
        r["doc_id"]: r
        for r in quality_filter(docs, max_dup_token_ratio=0.4).collect()
    }
    assert strict[3]["reason"] == "repetitive_tokens"
    # at defaults doc 3 passes the dup rule (0.45 ≤ 0.6) and falls to the
    # NEXT rule (top token 10/20 = 0.5 > 0.25) — precedence is ordered
    assert got[3]["reason"] == "dominant_token"


def test_repetition_stats_long_pages(spark):
    """Pages of thousands of tokens: the 2-gram windows read tokens
    bound once per page, O(L) (re-splitting the page per window was
    O(L²)); values equal a plain-Python count."""
    import random

    from simages_spark.functions.shingles import tokenize

    rng = random.Random(9)
    texts = [
        " ".join(rng.choices(["a", "b", "c", "dd", "e"], k=n)) for n in (2, 3000, 15000)
    ]
    texts.append(" ".join(["spam"] * 20000))
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    for i, t in enumerate(texts):
        toks = tokenize(t)
        g2 = {(toks[j], toks[j + 1]) for j in range(len(toks) - 1)}
        assert got[i]["n_tokens"] == len(toks)
        assert got[i]["dup_2gram_ratio"] == pytest.approx(
            1 - len(g2) / (len(toks) - 1), abs=1.1e-6
        ), i


def test_repetition_stats_matches_python_reference(spark):
    """200 seeded-random texts (skewed token distributions, whitespace
    runs, empties) through ONE Spark job vs a plain-Python reference
    built on the canonical `tokenize` (the same function `tokens_col`
    is pinned to). Tolerance 1.1e-6: Spark F.round is HALF_UP, Python
    round is half-even — they may differ at exact .5e-7 boundaries."""
    import random
    from collections import Counter

    from simages_spark.functions.shingles import tokenize

    rng = random.Random(42)
    vocab = ["spam", "a", "b", "the", "x1", "yy", "z"]
    texts: list[str | None] = [None, "", "   ", "\t\n", "one"]
    for _ in range(195):
        n = rng.randint(1, 30)
        words = [vocab[min(rng.randint(0, 6), rng.randint(0, 6))] for _ in range(n)]
        sep = rng.choice([" ", "  ", " \t "])
        texts.append(sep.join(words))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def ref(t: str | None):
        toks = tokenize(t) if t is not None else []
        n = len(toks)
        if not n:
            return (0, 0.0, 0.0, 0.0)
        c = Counter(toks)
        g2 = [" ".join(toks[i : i + 2]) for i in range(n - 1)]
        return (
            n,
            1 - len(c) / n,
            max(c.values()) / n,
            (1 - len(set(g2)) / len(g2)) if g2 else 0.0,
        )

    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        n, dup_tok, top, dup_g2 = ref(t)
        r = got[i]
        assert r["n_tokens"] == n, (i, t)
        assert abs(r["dup_token_ratio"] - dup_tok) <= 1.1e-6, (i, t)
        assert abs(r["top_token_ratio"] - top) <= 1.1e-6, (i, t)
        assert abs(r["dup_2gram_ratio"] - dup_g2) <= 1.1e-6, (i, t)


def test_fingerprint_deterministic_and_content_defined(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "h i j k l m n")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert got[1] == got[2] != got[3]
    assert len(got[1]) == 32  # md5 hex


def test_bruteforce_cosine(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.001]),
            (3, [0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r["src"], r["dst"]): r["cosine"]
        for r in bruteforce_cosine_pairs(emb, 0.9).collect()
    }
    assert set(pairs) == {(1, 2)}
    topk = cosine_topk(emb, 1).collect()
    assert (topk[0]["src"], topk[0]["dst"]) == (1, 2)


def test_ann_lsh_recall_on_planted_vectors(spark):
    """Planted near-dup vectors (cosine ≥ 0.95): banded hyperplane LSH +
    exact re-rank must recover them; exact re-rank ⇒ no false positives."""
    import numpy as np

    rng = np.random.default_rng(0)
    dim = 32
    rows = []
    vid = 0
    for g in range(20):
        base = rng.standard_normal(dim)
        near = base + 0.05 * rng.standard_normal(dim)  # cosine ≈ 0.999
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        vid += 2
    for _ in range(60):  # unrelated noise vectors
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["src"], r["dst"]) for r in bruteforce_cosine_pairs(emb, 0.95).collect()
    }
    approx = {
        (r["src"], r["dst"])
        for r in ann_cosine_pairs(emb, 0.95, dim, bands=16, bits=8).collect()
    }
    assert approx <= exact  # exact re-rank ⇒ no false positives
    assert len(exact) >= 20
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95, f"ANN recall {recall}"


def test_ivf_recall_and_determinism(spark):
    """IVF cells (deterministic lowest-id codebook, nprobe=2) + exact
    re-rank: planted near-dups recovered, no false positives, identical
    output across partitionings."""
    from simages_spark.operators.ivf import ivf_cosine_pairs, ivf_metrics

    rng = np.random.default_rng(7)
    dim = 32
    rows = []
    vid = 0
    for g in range(15):
        base = rng.standard_normal(dim)
        near = base + 0.05 * rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in near]))
        vid += 2
    for _ in range(50):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["src"], r["dst"]) for r in bruteforce_cosine_pairs(emb, 0.95).collect()
    }
    approx = {
        (r["src"], r["dst"])
        for r in ivf_cosine_pairs(emb, 0.95, n_cells=8, nprobe=3).collect()
    }
    assert approx <= exact  # exact re-rank ⇒ no false positives
    assert len(exact) >= 15
    recall = len(approx & exact) / len(exact)
    # planted near-dups have cosine ≈ 0.999: their integer-dot scores
    # against every centroid are near-identical, so nprobe cells overlap
    assert recall >= 0.9, f"IVF recall {recall}"

    again = {
        (r["src"], r["dst"])
        for r in ivf_cosine_pairs(
            emb.repartition(7), 0.95, n_cells=8, nprobe=3
        ).collect()
    }
    assert again == approx  # partitioning-independent

    m = ivf_metrics(emb, n_cells=8, nprobe=3).collect()[0]
    assert m["n_nonempty_cells"] <= 8 and m["max_cell_n"] >= 1


def test_sniff_magic():
    assert sniff_magic(b"\x89PNG\r\n") == "png"
    assert sniff_magic(b"\xff\xd8\xff\xe0") == "jpeg"
    assert sniff_magic(b"<html><body>") == "html"
    assert sniff_magic(b"") == "empty"
    assert sniff_magic(b"\x00\x01") == "unknown"


def test_decode_image_stub():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    a = decode_image(b"payload", fake=True)
    b = decode_image(b"payload", fake=True)
    assert np.array_equal(a, b) and a.shape == (8, 8, 3)


def test_ivf_knn_vs_bruteforce(spark):
    """Per-query top-k: IVF-probed search finds the planted nearest
    neighbor for every query; output ⊆ candidates re-ranked exactly."""
    from simages_spark.operators.ivf import ivf_knn, knn_bruteforce

    rng = np.random.default_rng(3)
    dim = 16
    rows = []
    for vid in range(60):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
    # plant: vec 100+i ≈ vec i for i in 0..9 (each query's true NN)
    for i in range(10):
        near = np.asarray(rows[i][1]) + 0.02 * rng.standard_normal(dim)
        rows.append((100 + i, [float(x) for x in near]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id >= 100")

    exact = {
        r["q_id"]: r["vec_id"]
        for r in knn_bruteforce(queries, emb, k=1).collect()
    }
    assert exact == {100 + i: i for i in range(10)}  # sanity: NN is planted

    approx = ivf_knn(queries, emb, k=3, n_cells=8, nprobe=3).collect()
    got_top = {r["q_id"]: r["vec_id"] for r in approx if r["rank"] == 1}
    hits = sum(got_top.get(q) == v for q, v in exact.items())
    assert hits >= 9, f"IVF kNN top-1 recall {hits}/10"
    assert all(1 <= r["rank"] <= 3 and r["q_id"] != r["vec_id"] for r in approx)


def test_resize_featurize_and_frame_sampling(spark):
    """Multimodal plumbing: decode(stub)→resize→features in one Arrow
    pass; frame sampling emits every_n-th fixed-size segment."""
    from simages_spark.functions.multimodal import (
        image_features,
        resize_and_featurize,
        resize_image,
        sample_frames,
    )

    # resize math is real: 8x8 -> 4x4 nearest-neighbor samples even rows/cols
    src = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    out = resize_image(src, 4, 4)
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out[0, 0], src[0, 0]) and np.array_equal(
        out[3, 3], src[6, 6]
    )
    assert image_features(out).shape == (6,)  # mean+std per channel

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 200)), (2, bytearray(b"y" * 65))],
        "doc_id long, html binary",
    )
    feat = {r["doc_id"]: r for r in resize_and_featurize(df, 4, 4).collect()}
    assert len(feat[1]["pixels"]) == 4 * 4 * 3
    assert len(feat[1]["features"]) == 6
    # deterministic: same payload -> same features
    feat2 = {r["doc_id"]: r for r in resize_and_featurize(df, 4, 4).collect()}
    assert feat[1]["features"] == feat2[1]["features"]

    frames = sample_frames(df, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # doc 1: 200//64 = 3 frames -> sampled idx 0, 2; doc 2: 1 frame -> 0
    assert sorted(by_doc[1]) == [0, 2]
    assert by_doc[2] == [0]


def test_media_metadata_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"<html><body>x</body></html>")), (2, bytearray(b"\x89PNG1234"))],
        "doc_id long, html binary",
    )
    got = {r["doc_id"]: r.asDict() for r in media_metadata(df).collect()}
    assert got[1]["magic"] == "html" and got[2]["magic"] == "png"
    assert got[1]["width"] == 8 and got[1]["channels"] == 3
    assert got[1]["n_bytes"] == 27


def test_ivf_hot_cell_absolute_bound(spark):
    """A degenerate cell (all vectors identical → one hot inverted list)
    expands to at most nsalt*C(cap,2) pairs, and the cap is surfaced."""
    import numpy as np

    from simages_spark.operators.ivf import ivf_cosine_pairs, ivf_metrics

    vec = (np.ones(64) / 8.0).tolist()
    emb = spark.createDataFrame(
        [(i, vec) for i in range(200)], ["vec_id", "embedding"]
    )
    pairs = ivf_cosine_pairs(
        emb, 0.5, n_cells=4, nprobe=1, max_cell_size=10, cell_salt=4
    )
    n = pairs.count()
    assert 0 < n <= 4 * 10 * 9 // 2
    m = ivf_metrics(emb, n_cells=4, nprobe=1, max_cell_size=10).collect()[0]
    assert m["n_capped_cells"] >= 1
    assert m["max_cell_n"] == 200


def test_null_text_oracle_parity(spark, tmp_path):
    """doc_quality / binary_metadata Spark-vs-DuckDB parity on a corpus
    CONTAINING a null-text doc — the driver testdata has none, so the
    null-semantics mirrors (F.size()=-1, payload NULL → b'') would
    otherwise go unexercised by the gate."""
    import duckdb
    import numpy as np

    import __spark_entry__ as entry

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", 19),
            (2, None, "en", 0),
            (3, "", "en", 0),
        ],
        "doc_id long, text string, lang string, n_chars int",
    ).write.parquet(f"{sf}/documents.parquet")

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("doc_quality", "binary_metadata"):
        sdf = (
            qs[name](spark, sf)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        ddf = (
            con.sql(oracles[name])
            .df()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(sdf.columns) == sorted(sdf.columns) or set(
            sdf.columns
        ) == set(ddf.columns)
        for c in sorted(sdf.columns):
            a, b = sdf[c], ddf[c]
            if a.dtype.kind in "fc":
                assert np.allclose(
                    a.astype(float), b.astype(float), equal_nan=True
                ), f"{name}.{c}: {list(a)} vs {list(b)}"
            else:
                aa = a.where(a.notna(), None).tolist()
                bb = b.where(b.notna(), None).tolist()
                assert [str(x) for x in aa] == [
                    str(x) for x in bb
                ], f"{name}.{c}: {aa} vs {bb}"

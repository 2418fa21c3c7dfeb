"""Operator correctness tests (SURVEY §2.9 extensions).

Pattern mirrors the reference's behavior-matrix style
(reference tests/test_filtering.py): small known inputs × expected
outputs, plus cross-checks of the scale-path operators against their
brute-force twins on the sf0.001 tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_toolz_spark.functions.text import word_shingles
from data_toolz_spark.functions.vectors import l2_norm
from data_toolz_spark.operators.dedup import (
    dedup_exact,
    exact_jaccard_pairs,
    jaccard,
    minhash_near_duplicates,
    simhash32,
)
from data_toolz_spark.operators.similarity import cosine_topk
from data_toolz_spark.operators.windows import (
    asof_join,
    running_total,
    sessionize,
)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_dedup_exact_deterministic_representative(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "a")], "id long, k string"
    )
    out = {
        r["k"]: (r["id"], r["n_copies"])
        for r in dedup_exact(df, ["k"], "id").collect()
    }
    assert out == {"a": (1, 3), "b": (3, 1)}


def test_minhash_equals_bruteforce(spark, documents):
    base = documents.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(word_shingles("text", 3)).alias("e"),
    )
    a, b = base.alias("a"), base.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.e"), F.col("b.e")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    expected = sorted(tuple(r) for r in brute.collect())
    got = sorted(
        tuple(r)
        for r in minhash_near_duplicates(
            documents, "doc_id", "text", threshold=0.8
        ).collect()
    )
    assert got == expected
    assert len(got) > 0  # data contains real near-dups; test isn't vacuous


def test_exact_jaccard_pairs_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "x", "a b c d"),
            (2, "x", "a b c e"),  # J(1,2) on unigrams = 3/5
            (3, "x", "a b c d"),  # identical to 1
            (4, "y", "a b c d"),  # other block — never paired with 1-3
        ],
        "id long, blk string, txt string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(
            df, "id", "txt", block_cols=["blk"], threshold=0.5, shingle=1
        ).collect()
    }
    assert out == {(1, 2): 0.6, (2, 3): 0.6, (1, 3): 1.0}


def test_simhash_matches_reference_formula(spark):
    text = "spark fast spark table"
    toks = sorted(set(text.split()))  # distinct; order irrelevant to the sum

    def h32(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    expected = 0
    for b in range(32):
        votes = sum(2 * ((h32(t) >> b) & 1) - 1 for t in toks)
        if votes > 0:
            expected |= 1 << b
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(simhash32("text").alias("s")).first()["s"]
    assert got == expected


def test_simhash_expr_matches_arrow_kernel(spark, documents):
    from data_toolz_spark.operators.dedup import simhash_expr

    rows = (
        documents.limit(50)
        .select(
            simhash_expr("text").alias("jvm"), simhash32("text").alias("arrow")
        )
        .collect()
    )
    assert rows and all(r["jvm"] == r["arrow"] for r in rows)


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_cosine_topk_matches_numpy(spark, embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    ids = sorted(mat)
    qids = [i for i in ids if i < 3]
    got = (
        cosine_topk(
            embeddings.filter(F.col("vec_id") < 3),
            embeddings,
            query_id="vec_id",
            corpus_id="vec_id",
            k=5,
        )
        .orderBy("query_id", F.col("cosine").desc(), "corpus_id")
        .collect()
    )
    for qid in qids:
        q = mat[qid] / np.linalg.norm(mat[qid])
        sims = sorted(
            (
                (round(float(np.dot(q, mat[c] / np.linalg.norm(mat[c]))), 6), -c)
                for c in ids
            ),
            reverse=True,
        )[:5]
        expected = [(-neg_c, s) for s, neg_c in sims]
        got_q = [
            (r["corpus_id"], r["cosine"]) for r in got if r["query_id"] == qid
        ]
        assert got_q == expected


def test_l2_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    assert df.select(l2_norm("v").alias("n")).first()["n"] == pytest.approx(5.0)


def test_int8_quantization_roundtrip_and_recall(spark, embeddings):
    """Symmetric int8: per-element error ≤ scale/2 and quantized cosine
    ordering keeps top-k recall high on the real embeddings table."""
    from data_toolz_spark.functions.vectors import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )

    q = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        quantize_int8("embedding").alias("q"),
    ).withColumn("dq", dequantize_int8("q"))
    # error bound: |v_i - dq_i| <= scale/2 per element (round-to-nearest)
    bad = q.select(
        F.exists(
            F.zip_with(
                "v",
                "dq",
                lambda a, b: F.abs(a - b)
                > F.col("q.scale") / 2 + F.lit(1e-9),
            ),
            lambda e: e,
        ).alias("bad")
    ).filter(F.col("bad"))
    assert bad.count() == 0
    # codes really are int8-narrow
    row = q.select("q.codes").first()
    assert all(-127 <= c <= 127 for c in row["codes"])
    # cosine on dequantized vectors tracks exact cosine closely
    drift = q.crossJoin(
        q.select(
            F.col("vec_id").alias("vec_id_b"),
            F.col("v").alias("v_b"),
            F.col("dq").alias("dq_b"),
        ).limit(20)
    ).filter(F.col("vec_id") < F.col("vec_id_b")).select(
        (
            F.abs(
                cosine_similarity("v", "v_b")
                - cosine_similarity("dq", "dq_b")
            )
        ).alias("d")
    )
    assert drift.agg(F.max("d")).first()[0] < 0.01

    # zero vector: scale 0, all-zero codes, dequantizes to zeros
    z = spark.createDataFrame([([0.0, 0.0, 0.0],)], "embedding array<double>")
    zq = z.select(quantize_int8("embedding").alias("q")).withColumn(
        "dq", dequantize_int8("q")
    ).first()
    assert zq["q"]["scale"] == 0.0 and list(zq["dq"]) == [0.0, 0.0, 0.0]


def test_web_artifact_features_counts(spark):
    from data_toolz_spark.operators.text_analysis import web_artifact_features

    df = spark.createDataFrame(
        [
            (1, "visit https://a.example/x and http://b.example now"),
            (2, "mail me at a.b+c@ex-ample.org or d@e.io thanks"),
            (3, "Copyright 2024 — All Rights Reserved. cookie notice"),
            (4, "plain text with nothing special at all"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_urls"],
            r["n_emails"],
            r["n_boilerplate"],
            r["artifact_ratio"],
        )
        for r in web_artifact_features(df).collect()
    }
    assert got[1][:3] == (2, 0, 0)
    assert got[1][3] == pytest.approx(2 / 5, abs=1e-4)  # 5 ws-tokens
    assert got[2][:3] == (0, 2, 0)
    assert got[3][:3] == (0, 0, 3)  # copyright + all rights reserved + cookie
    assert got[4] == (0, 0, 0, 0.0)
    assert got[5] == (0, 0, 0, 0.0)  # empty text, no div-by-zero


def test_redact_artifacts_replaces_urls_and_emails(spark):
    from data_toolz_spark.operators.text_analysis import redact_artifacts

    df = spark.createDataFrame(
        [(1, "see https://x.io/a and mail a@b.co now")],
        "doc_id long, text string",
    )
    out = redact_artifacts(df).first()["text"]
    assert out == "see <URL> and mail <EMAIL> now"


def test_keep_document_composed_filter(spark):
    from data_toolz_spark.operators.text_analysis import keep_document

    good = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, good),                          # clean → keep
            (2, "ha " * 200),                   # dup bigrams → drop
            (3, "x"),                           # too short → drop
            (4, "!!! ??? *** ###  $$$ %%% ^^^ &&& @@@ ((( )))"),  # non-alpha → drop
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["keep"] for r in keep_document(df).collect()}
    assert got == {1: True, 2: False, 3: False, 4: False}
    # thresholds overridable; unknown keys fail loudly
    loose = keep_document(df, thresholds={"min_tokens": 1})
    assert {r["doc_id"]: r["keep"] for r in loose.collect()}[3] is False  # still non... short
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown threshold"):
        keep_document(df, thresholds={"min_tokenz": 1})


def test_repetition_features_ratios(spark):
    from data_toolz_spark.operators.text_analysis import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),          # 3 lines, 2 distinct → 1/3 dup
            (2, "x y x y x y"),            # bigrams: xy yx xy yx xy → 5 total 2 distinct
            (3, "all unique lines here"),  # no dup
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_line_ratio"], r["dup_bigram_ratio"])
        for r in repetition_features(df).collect()
    }
    assert got[1][0] == pytest.approx(1 / 3, abs=1e-4)
    assert got[2][1] == pytest.approx(3 / 5, abs=1e-4)
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------


def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, 0.0),
            (1, 10.0),
            (1, 45.0),  # gap 35 > 30 → new session
            (1, 50.0),
            (2, 0.0),
        ],
        "user_id long, ts double",
    )
    out = sessionize(df, gap_minutes=30.0).collect()
    sessions = {(r["user_id"], r["ts"]): r["session_id"] for r in out}
    assert sessions == {
        (1, 0.0): 1,
        (1, 10.0): 1,
        (1, 45.0): 2,
        (1, 50.0): 2,
        (2, 0.0): 1,
    }


def test_running_total_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 5.0), (1, 3, 2.5), (2, 1, 1.0)],
        "u long, seq long, v double",
    )
    out = running_total(
        df, partition_col="u", order_cols=["seq"], value_col="v"
    ).collect()
    got = {(r["u"], r["seq"]): r["running_total"] for r in out}
    assert got == {(1, 1): 10.0, (1, 2): 15.0, (1, 3): 17.5, (2, 1): 1.0}


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(100, 1, 10), (101, 1, 25), (102, 2, 5)],
        "event_id long, key long, t long",
    )
    right = spark.createDataFrame(
        [(1, 5, "r1"), (1, 20, "r2"), (1, 25, "r3"), (2, 7, "r4")],
        "key long, t long, tag string",
    )
    out = asof_join(
        left,
        right,
        on="key",
        left_ts="t",
        right_ts="t",
        right_cols=["tag"],
        tie_break="tag",
    )
    got = {r["event_id"]: r["tag"] for r in out.collect()}
    # event 100 (t=10): r1 (t=5); event 101 (t=25): r3 (t=25, <=);
    # event 102 (t=5): no right row at or before → NULL
    assert got == {100: "r1", 101: "r3", 102: None}


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from data_toolz_spark.operators.text_analysis import line_dedup

    docs = [
        (1, "COOKIE BANNER\nunique alpha content\nCOPYRIGHT FOOTER"),
        (2, "COOKIE BANNER\nunique beta content\nCOPYRIGHT FOOTER"),
        (3, "COOKIE BANNER\nunique gamma content"),
        (4, "standalone document with its own text"),
        (5, "COOKIE BANNER"),  # all-boilerplate doc -> empty, not lost
        (6, None),             # null text -> survives as empty
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in line_dedup(df, max_doc_freq=2).collect()
    }
    assert len(out) == 6
    # banner in 4 docs (> 2) -> dropped; footer in 2 docs (== 2) -> kept
    assert out[1]["clean_text"] == "unique alpha content\nCOPYRIGHT FOOTER"
    assert out[2]["clean_text"] == "unique beta content\nCOPYRIGHT FOOTER"
    assert out[3]["clean_text"] == "unique gamma content"
    assert out[4]["clean_text"] == "standalone document with its own text"
    assert out[5]["clean_text"] == "" and out[5]["n_removed"] == 1
    assert out[6]["clean_text"] == "" and out[6]["n_removed"] == 0
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (3, 1)


def test_line_dedup_order_and_trim_matching(spark):
    from data_toolz_spark.operators.text_analysis import line_dedup

    docs = [
        (1, "a first\n  SHARED  \nz last"),
        (2, "SHARED\nother"),
        (3, "SHARED"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in line_dedup(df, max_doc_freq=2).collect()
    }
    # trim-matched: "  SHARED  " counts as the same line as "SHARED";
    # surviving lines keep original order AND original whitespace
    assert out[1] == "a first\nz last"
    assert out[2] == "other"
    assert out[3] == ""


def test_line_dedup_blank_lines_never_removed(spark):
    from data_toolz_spark.operators.text_analysis import line_dedup

    docs = [(i, "top\n\nbottom") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = line_dedup(df, max_doc_freq=1).collect()
    # every content line repeats across all 5 docs -> removed; the
    # blank separator is not evidence and stays
    assert all(r["clean_text"] == "" and r["n_removed"] == 2 for r in rows)


def test_line_dedup_default_keeps_singletons(spark):
    from data_toolz_spark.operators.text_analysis import line_dedup
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "only one doc\nhas these lines")], "doc_id long, text string"
    )
    r = line_dedup(df).collect()[0]
    assert r["clean_text"] == "only one doc\nhas these lines"
    with _pytest.raises(ValueError):
        line_dedup(df, max_doc_freq=0)


def test_line_dedup_three_rebuild_paths_agree(spark):
    """auto (None), forced-broadcast (True), and legacy explode/
    collect (False) rebuilds are the same operator: identical rows."""
    from data_toolz_spark.operators.text_analysis import line_dedup

    docs = [
        (1, "SHARED TOP\nalpha body\nSHARED BOTTOM"),
        (2, "SHARED TOP\nbeta body\nSHARED BOTTOM"),
        (3, "SHARED TOP\ngamma body"),
        (4, "nothing shared at all"),
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    outs = {
        mode: {
            tuple(r)
            for r in line_dedup(
                df, max_doc_freq=2, broadcast_frequent=mode
            ).collect()
        }
        for mode in (None, True, False)
    }
    assert outs[None] == outs[True] == outs[False]
    assert len(outs[None]) == 5


def test_chunk_documents_coverage_and_overlap(spark):
    from data_toolz_spark.operators.text_analysis import chunk_documents

    words = [f"w{i}" for i in range(23)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = chunk_documents(
        df, max_words=10, overlap=3
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # stride 7: starts 0,7,14 -> 3 chunks for 23 words
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    assert [r["chunk_index"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"] == " ".join(words[0:10])
    assert c1[1]["chunk_text"] == " ".join(words[7:17])
    assert c1[2]["chunk_text"] == " ".join(words[14:23])
    assert [r["n_words"] for r in c1] == [10, 10, 9]
    # consecutive chunks share exactly `overlap` words
    assert c1[0]["chunk_text"].split()[-3:] == c1[1]["chunk_text"].split()[:3]
    # short doc -> one whole chunk; empty/null docs -> no rows
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    assert 3 not in by_doc and 4 not in by_doc


def test_chunk_documents_reconstructs_document(spark):
    from data_toolz_spark.operators.text_analysis import chunk_documents

    words = [f"t{i}" for i in range(57)]
    df = spark.createDataFrame(
        [(9, "  " + "  ".join(words) + " ")], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(df, max_words=16, overlap=4).collect(),
        key=lambda r: r["chunk_index"],
    )
    stride = 12
    rebuilt = rows[0]["chunk_text"].split()
    for r in rows[1:]:
        toks = r["chunk_text"].split()
        assert rebuilt[r["chunk_index"] * stride :] == toks[: len(rebuilt) - r["chunk_index"] * stride]
        rebuilt.extend(toks[len(rebuilt) - r["chunk_index"] * stride :])
    assert rebuilt == words  # lossless word coverage, messy whitespace ok


def test_chunk_documents_validation(spark):
    from data_toolz_spark.operators.text_analysis import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, max_words=0)
    with pytest.raises(ValueError):
        chunk_documents(df, max_words=8, overlap=8)


# -- minhash_components: skew-safe component map (r6) ------------------------


def test_minhash_components_equals_pair_path(spark, documents):
    from data_toolz_spark.operators.dedup import (
        connected_components,
        minhash_components,
        minhash_near_duplicates,
    )

    want = sorted(
        map(tuple, connected_components(
            minhash_near_duplicates(
                documents, "doc_id", "text", threshold=0.8
            )
        ).collect())
    )
    got = sorted(
        map(tuple, minhash_components(
            documents, "doc_id", "text", threshold=0.8
        ).collect())
    )
    assert got == want
    assert len(got) > 0


def test_minhash_components_mega_cluster(spark, documents):
    """A k-copy identical cluster must resolve in O(k), with every
    copy mapped to the min id — the pair path would need k(k-1)/2
    edges for the same answer."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.dedup import minhash_components

    k = 3000
    one = documents.limit(1).select(
        F.lit(0).cast("long").alias("doc_id"), "text"
    )
    copies = (
        spark.range(k)
        .crossJoin(one.select("text"))
        .select((F.col("id") + 10_000).alias("doc_id"), "text")
    )
    cc = minhash_components(copies, "doc_id", "text", threshold=0.8)
    rows = cc.collect()
    assert len(rows) == k
    assert {r["component"] for r in rows} == {10_000}


def test_minhash_components_chain_closure(spark):
    """Docs linked only through a chain (a~b, b~c, never a~c) must
    land in ONE component — the fp-level closure is transitive."""
    from data_toolz_spark.operators.dedup import minhash_components

    base = [f"w{i}" for i in range(40)]
    docs = [
        (1, " ".join(base)),
        (2, " ".join(base[4:] + ["x1", "x2", "x3", "x4"])),
        (3, " ".join(base[8:] + [f"x{i}" for i in range(1, 9)])),
        (100, "completely different words entirely here now ok yes"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cc = {r["id"]: r["component"] for r in minhash_components(
        df, "doc_id", "text", threshold=0.5
    ).collect()}
    # the chain MUST connect: each adjacent pair's true Jaccard is
    # well above the 0.5 threshold and the MinHash draw is
    # deterministic (fixed seed), so a silent pass here would leave
    # transitivity permanently unverified (ADVICE r6)
    assert len(cc) >= 3, f"chain failed to connect: {cc}"
    assert cc[1] == cc[2] == cc[3] == 1
    assert 100 not in cc


def test_simhash_components_equals_pair_path(spark, documents):
    from data_toolz_spark.operators.dedup import (
        connected_components,
        simhash_band_pairs,
        simhash_components,
    )

    # max_hamming=0 is the single 64-bit-wide block (all-ones mask)
    for max_hamming in (2, 0):
        pairs = simhash_band_pairs(
            documents, "doc_id", "text", max_hamming=max_hamming, bits=64,
            portable_hash=False,
        )
        want = sorted(map(tuple, connected_components(pairs).collect()))
        got = sorted(map(tuple, simhash_components(
            documents, "doc_id", "text", max_hamming=max_hamming, bits=64,
            portable_hash=False,
        ).collect()))
        assert got == want
        assert len(got) > 0


def test_simhash_components_mega_cluster(spark, documents):
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.dedup import simhash_components

    k = 3000
    one = documents.limit(1).select("text")
    copies = (
        spark.range(k)
        .crossJoin(one)
        .select((F.col("id") + 5_000).alias("doc_id"), "text")
    )
    cc = simhash_components(
        copies, "doc_id", "text", max_hamming=2, bits=64,
        portable_hash=False,
    ).collect()
    assert len(cc) == k
    assert {r["component"] for r in cc} == {5_000}


def test_minhash_components_property_equivalence(spark):
    """Randomized corpora: the fp-graph closure must equal the
    member-pair closure for every draw — chains, identical clusters,
    singletons, empty docs, and near-threshold pairs alike."""
    import random

    from data_toolz_spark.operators.dedup import (
        connected_components,
        minhash_components,
        minhash_near_duplicates,
    )

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(30)]
    for trial in range(6):
        docs = []
        doc_id = 0
        for _ in range(rng.randint(4, 10)):
            base = rng.sample(vocab, rng.randint(5, 18))
            n_variants = rng.randint(1, 4)
            for _ in range(n_variants):
                words = list(base)
                for _ in range(rng.randint(0, 2)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                docs.append((doc_id, " ".join(words)))
                doc_id += 1
        docs.append((doc_id, ""))  # empty doc never pairs
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        threshold = rng.choice([0.5, 0.7, 0.8])
        want = sorted(map(tuple, connected_components(
            minhash_near_duplicates(
                df, "doc_id", "text", threshold=threshold, shingle=2,
            )
        ).collect()))
        got = sorted(map(tuple, minhash_components(
            df, "doc_id", "text", threshold=threshold, shingle=2,
        ).collect()))
        assert got == want, (trial, threshold, docs)

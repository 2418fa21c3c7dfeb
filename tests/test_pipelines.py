"""End-to-end training-corpus pipeline: stage composition, leakage
safety, determinism, and the shared-CC coupling between dedup and
split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_toolz_spark.pipelines import prepare_training_corpus, stage_counts

FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def corpus(spark):
    """Synthetic corpus with every hazard the pipeline must handle:
    a near-dup cluster, shared boilerplate, a benchmark leak, junk."""
    def body(tag: str) -> str:
        return " ".join(f"{tag}{i % 37} w{tag}{i % 11}" for i in range(60))

    near_a = "the quick brown fox " + body("na")
    near_b = "the quick brown fox " + body("na") + " extra tail words here"
    banner = "SHARED COOKIE BANNER LINE"
    rows = [
        (1, near_a),
        (2, near_b),                       # near-dup of 1
        (3, banner + "\nalpha document body " + body("al")),
        (4, banner + "\nbeta document body " + body("be")),
        (5, banner + "\ngamma document body " + body("ga")),
        (6, "leaky document containing the benchmark passage about rivers "
            "and maps " + body("lk")),
        (7, "x"),                          # fails quality (too short)
        (8, "standalone healthy document " + body("sa")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_df(spark):
    return spark.createDataFrame(
        [(100, "an essay: the benchmark passage about rivers and maps")],
        "doc_id long, text string",
    )


def test_full_pipeline_stages_compose(spark, corpus, eval_df):
    out = prepare_training_corpus(
        corpus,
        eval_df,
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 7 not in rows            # quality-dropped
    assert 6 not in rows            # decontaminated (5-gram leak)
    assert not ({1, 2} <= set(rows))  # near-dup cluster: one survivor
    survivor = 1 if 1 in rows else 2
    assert rows[survivor]["split"] in FRACS
    # boilerplate banner removed from the 3-doc sharers, bodies kept
    for i in (3, 4, 5):
        assert "SHARED COOKIE BANNER LINE" not in rows[i]["text"]
        assert "document body" in rows[i]["text"]
    assert set(out.columns) == set(corpus.columns) | {"split"}


def test_pipeline_is_deterministic(spark, corpus, eval_df):
    kwargs = dict(
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    a = sorted(
        (r["doc_id"], r["split"])
        for r in prepare_training_corpus(corpus, eval_df, **kwargs).collect()
    )
    b = sorted(
        (r["doc_id"], r["split"])
        for r in prepare_training_corpus(corpus, eval_df, **kwargs).collect()
    )
    assert a == b


def test_near_dups_never_straddle_splits(spark, documents):
    """On the real testdata: every minhash near-dup pair of the
    SURVIVING corpus must sit inside one split (the shared-CC
    coupling working end-to-end)."""
    from data_toolz_spark.operators.dedup import minhash_near_duplicates

    out = prepare_training_corpus(
        documents,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        fractions=FRACS,
    ).select("doc_id", "split", "text")
    pairs = minhash_near_duplicates(out, "doc_id", "text", threshold=0.8)
    sa = out.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = out.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    straddling = (
        pairs.join(sa, on="id_a").join(sb, on="id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddling == 0


def test_pipeline_chunking_and_packing(spark, corpus):
    out = prepare_training_corpus(
        corpus,
        None,
        quality_thresholds={"min_tokens": 5},
        near_dup_threshold=None,
        chunk_max_words=16,
        chunk_overlap=4,
        pack_budget=64,
        fractions=FRACS,
    )
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["n_words"] <= 16
        assert len(r["chunk_text"].split()) == r["n_words"]
        assert r["split"] in FRACS
        assert r["pack_bin"]["shard"] is not None
    # a document's chunks all inherit its split
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_doc.values())


def test_pack_requires_chunking(spark, corpus):
    with pytest.raises(ValueError, match="pack_budget"):
        prepare_training_corpus(corpus, None, pack_budget=64)


def test_stage_counts_monotonic(spark, corpus, eval_df):
    counts = stage_counts(
        corpus,
        eval_df,
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    assert counts["raw"] == 8
    order = [
        counts["raw"],
        counts["quality"],
        counts["near_dup"],
        counts["decontaminated"],
        counts["final"],
    ]
    assert order == sorted(order, reverse=True)
    assert counts["final"] >= 1


def test_span_dedup_stage_composes(spark):
    """span_dedup_n cuts a shared passage from all but one doc before
    near-dup detection; the pipeline still emits one row per survivor
    with a split column."""
    from data_toolz_spark.pipelines import prepare_training_corpus

    passage = " ".join(f"p{i}" for i in range(6))
    rows = [
        (
            i,
            f"unique{i} {passage} tail{i} "
            + " ".join(f"filler{i}x{j}" for j in range(10)),
        )
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 2},
        span_dedup_n=6,
        near_dup_threshold=None,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert len(got) == 6 and "split" in out.columns
    # doc 0 keeps the passage; every other doc lost it
    assert passage in got[0]
    assert all(passage not in got[i] for i in range(1, 6))


def test_pipeline_media_dedup_tiers(spark):
    """r10: image/audio content near-dup tiers compose into the
    end-to-end pipeline — planted cross-modality dups drop to their
    min-id representative while the text-only config is unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.image_dedup import png_neardup_table
    from data_toolz_spark.operators.multimodal import encode_wav
    from data_toolz_spark.pipelines import prepare_training_corpus

    n = 9
    imgs = png_neardup_table(spark, n, group_size=3).withColumnRenamed(
        "media_id", "doc_id"
    ).withColumnRenamed("content", "img")

    def wav(seed: int) -> bytes:
        s = (
            np.sin(np.arange(65 * 10, dtype=np.float64) * (0.05 + seed))
            * 3000
        ).astype(np.int16)
        return encode_wav(s, 8000)

    # audio dup pair SPANS image groups: doc 0 (group 0) and doc 6
    # (group 2) share identical audio; everyone else is unique
    rows = [
        (
            i,
            f"document body number {i} with enough distinct tokens "
            f"alpha{i} beta{i} gamma{i} delta{i}",
            bytearray(wav(0 if i in (0, 6) else i + 1)),
        )
        for i in range(n)
    ]
    base = spark.createDataFrame(
        rows, "doc_id long, text string, aud binary"
    )
    docs = base.join(imgs, on="doc_id")
    media = [
        {"kind": "image", "col": "img", "max_hamming": 3},
        {
            "kind": "audio",
            "col": "aud",
            "frame_len": 10,
            "n_frames": 65,
            "max_hamming": 0,
        },
    ]
    kw = dict(
        quality_thresholds={"min_tokens": 1},
        line_dedup_max_doc_freq=None,
        span_dedup_n=None,
        near_dup_threshold=None,
    )
    out = prepare_training_corpus(docs, None, media_dedup=media, **kw)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    # image tier: groups {0,1,2},{3,4,5},{6,7,8} → reps {0,3,6};
    # audio tier then drops 6 (dup of surviving 0) → {0,3}
    assert got == {0, 3}
    assert "split" in out.columns
    # text-only config unchanged: nothing drops
    plain = prepare_training_corpus(docs, None, **kw)
    assert {r["doc_id"] for r in plain.select("doc_id").collect()} == set(
        range(n)
    )
    # precomputed-fingerprint escape hatch + unknown kind validation
    fp_docs = docs.withColumn("fp", F.col("doc_id") % 4)
    fp_out = prepare_training_corpus(
        fp_docs, None,
        media_dedup=[{"kind": "fingerprint", "col": "fp",
                      "max_hamming": 0}],
        **kw,
    )
    assert {r["doc_id"] for r in fp_out.select("doc_id").collect()} == {
        0, 1, 2, 3
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown media_dedup kind"):
        prepare_training_corpus(
            docs, None, media_dedup=[{"kind": "webp", "col": "img"}], **kw
        )


def test_pipeline_trained_quality_and_lang_gates(spark):
    """r10: trained models compose as pipeline gates — a logreg
    quality filter distilled from keep_document labels and the
    multiclass LID classifier; only keep_langs survivors above the
    probability floor reach the later stages."""
    import random

    from pyspark.sql import functions as F

    from data_toolz_spark.operators.classifier import (
        logreg_fit,
        multiclass_fit,
    )
    from data_toolz_spark.operators.text_analysis import (
        keep_document,
        quality_features,
        web_artifact_features,
    )
    from data_toolz_spark.pipelines import prepare_training_corpus

    rng = random.Random(31)
    vocab = {
        "en": ["the", "and", "that", "with", "from"],
        "fr": ["le", "et", "que", "avec", "dans"],
    }
    rows = []
    for i in range(80):
        lang = "en" if i % 2 == 0 else "fr"
        words = [rng.choice(vocab[lang]) for _ in range(30)]
        rows.append((i, " ".join(words), lang))
    # a junk doc that the TRAINED quality filter must drop (all
    # boilerplate-free but absurdly short after the heuristic floor)
    rows.append((900, "x", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    feats = keep_document(
        web_artifact_features(quality_features(docs))
    ).withColumn("label", F.col("keep").cast("int"))
    qmodel = logreg_fit(
        feats,
        ["mean_tok_len", "alpha_ratio", "stop_ratio", "quality_score",
         "artifact_ratio"],
        "label",
        n_iter=8,
    )
    lmodel = multiclass_fit(
        docs, "text", "lang", id_col="doc_id", n_buckets=256,
        n_iter=6, portable=True,
    )
    kw = dict(
        quality_thresholds={"min_tokens": 1},
        line_dedup_max_doc_freq=None,
        span_dedup_n=None,
        near_dup_threshold=None,
    )
    out = prepare_training_corpus(
        docs, None,
        quality_model=qmodel, quality_min_prob=0.5,
        lang_model=lmodel, keep_langs=["en"],
        **kw,
    )
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got  # en docs survive
    assert got <= {i for i in range(80) if i % 2 == 0}  # fr + junk gone
    assert 900 not in got
    # lang gate requires keep_langs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_langs"):
        prepare_training_corpus(docs, None, lang_model=lmodel, **kw)


# ---------------------------------------------------------------------------
# r10 session-2 tiers: domain cap, quality-aware keep, perplexity strata
# ---------------------------------------------------------------------------


def test_pipeline_domain_cap_stage(spark):
    """The cap runs FIRST: a template-heavy site shrinks to its quota
    before any content stage sees it; no-URL docs pass uncapped."""
    body = " ".join(f"unique{i} token{i % 13} word{i % 7}"
                    for i in range(40))
    rows = [
        (i, f"spam farm page {i} " + body,
         f"https://farm.example/p/{i}")
        for i in range(30)
    ] + [
        (100 + i, f"healthy site doc {i} " + body, None)
        for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string"
    )
    out = prepare_training_corpus(
        docs,
        None,
        domain_cap={"url_col": "url", "max_per_domain": 5},
        near_dup_threshold=None,
        fractions=FRACS,
    )
    got = [r["doc_id"] for r in out.collect()]
    assert sum(1 for i in got if i < 100) == 5  # farm capped to 5
    assert sum(1 for i in got if i >= 100) == 3  # NULL-url uncapped
    # deterministic under repartitioning
    got2 = [
        r["doc_id"]
        for r in prepare_training_corpus(
            docs.repartition(7),
            None,
            domain_cap={"url_col": "url", "max_per_domain": 5},
            near_dup_threshold=None,
            fractions=FRACS,
        ).collect()
    ]
    assert sorted(got) == sorted(got2)


def test_pipeline_near_dup_keep_longest(spark, corpus, eval_df):
    """near_dup_keep='longest': the near-dup cluster {1, 2} keeps 2
    (the longer member) where the min-id policy keeps 1; split
    leakage-safety still holds (only one member survives at all)."""
    base = dict(fractions=FRACS, line_dedup_max_doc_freq=3)
    kept_min = {
        r["doc_id"]
        for r in prepare_training_corpus(
            corpus, eval_df, **base
        ).collect()
    }
    kept_long = {
        r["doc_id"]
        for r in prepare_training_corpus(
            corpus, eval_df, near_dup_keep="longest", **base
        ).collect()
    }
    assert 1 in kept_min and 2 not in kept_min
    assert 2 in kept_long and 1 not in kept_long
    assert kept_min - {1} == kept_long - {2}
    with pytest.raises(ValueError):
        prepare_training_corpus(corpus, None, near_dup_keep="best")


def test_pipeline_ppl_strata_stage(spark):
    """ppl_strata labels the doc-level output head/middle/tail by the
    self-trained bigram LM; docs with < 2 tokens carry NULL."""
    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rng_rows = []
    for i in range(30):
        # mostly-distinct 3-letter words; overlap across docs varies
        # with i so the LM scores spread
        words = " ".join(
            w3(i * 61 + j * (1 + i % 5)) for j in range(30)
        )
        rng_rows.append((i, "common prefix words " + words))
    docs = spark.createDataFrame(rng_rows, "doc_id long, text string")
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=None,
        ppl_strata={},
        fractions=FRACS,
    )
    rows = out.collect()
    assert "ppl_bucket" in out.columns
    buckets = {r["ppl_bucket"] for r in rows}
    assert buckets <= {"head", "middle", "tail"}
    counts = {
        b: sum(1 for r in rows if r["ppl_bucket"] == b)
        for b in ("head", "middle", "tail")
    }
    # rank-threshold invariants (exact under ties, which pull tied
    # scores into the LOWER bucket): head covers at least ceil(n/3),
    # head+middle at least ceil(2n/3), everything is labeled
    n = len(rows)
    assert counts["head"] >= (n + 2) // 3, counts
    assert counts["head"] + counts["middle"] >= (2 * n + 2) // 3, counts
    assert sum(counts.values()) == n, counts
    # custom labels + quartiles
    out4 = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=None,
        ppl_strata={
            "qs": ((1, 4), (1, 2), (3, 4)),
            "labels": ("q1", "q2", "q3", "q4"),
            "out_col": "ppl_q",
        },
        fractions=FRACS,
    )
    assert {r["ppl_q"] for r in out4.collect()} <= {
        "q1", "q2", "q3", "q4"
    }


def test_pipeline_clean_stage(spark):
    """clean=True repairs text BEFORE the quality gate: a doc whose
    alpha ratio only passes after control-char stripping survives,
    and the output text is the repaired form."""
    body = " ".join(f"alpha beta gamma delta{i}" for i in range(20))
    dirty = "\r\nL INE​ one\r\n" + body + "\x07\x07  "
    docs = spark.createDataFrame(
        [(1, dirty), (2, body)], "doc_id long, text string"
    )
    out = prepare_training_corpus(
        docs, None, clean=True, near_dup_threshold=None,
        fractions=FRACS,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert got[1].startswith("L INE one\n")
    assert "\r" not in got[1] and "\x07" not in got[1]
    # Mapping form passes kwargs through
    out2 = prepare_training_corpus(
        docs, None, clean={"nfc": False}, near_dup_threshold=None,
        fractions=FRACS,
    )
    assert out2.count() == 2


def test_pipeline_all_session2_stages_compose(spark):
    """Kitchen sink: domain cap + text repair + quality-aware keep +
    per-group perplexity strata all enabled at once, over a corpus
    with every hazard — the stages interact correctly and the output
    carries split + strata."""
    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rows = []
    for i in range(24):
        body = " ".join(w3(i * 53 + j * (1 + i % 7)) for j in range(40))
        text = "L1\r\nL2  " + body  # needs repair
        url = (
            f"https://farm.example/p/{i}" if i < 16
            else f"https://ok{i}.org/x"
        )
        lang = "aa" if i % 2 == 0 else "bb"
        rows.append((i, text, url, lang))
    # a near-dup pair: 100 is a truncated copy of 101 (101 longer)
    base = "shared dup words " + " ".join(
        w3(7000 + j) for j in range(40)
    )
    rows.append((100, base, "https://dup.site/a", "aa"))
    rows.append((101, base + " longer tail", "https://dup.site/b", "aa"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string, lang string"
    )
    out = prepare_training_corpus(
        docs,
        None,
        domain_cap={"url_col": "url", "max_per_domain": 6},
        clean=True,
        quality_thresholds={"min_tokens": 5},
        near_dup_threshold=0.8,
        near_dup_keep="longest",
        ppl_strata={"group_col": "lang"},
        fractions=FRACS,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # farm capped 16 → 6; ok-sites and dup.site uncapped
    assert sum(1 for i in got if i < 16) == 6
    # quality-aware keep: the LONGER dup (101) survives
    assert 101 in got and 100 not in got
    # repair ran before everything: no CR/NBSP in any output text
    assert all(
        "\r" not in r["text"] and " " not in r["text"]
        for r in got.values()
    )
    # strata labeled per language; every surviving doc gets a bucket
    assert all(
        r["ppl_bucket"] in ("head", "middle", "tail")
        for r in got.values()
    )
    # per-group thirds: each lang's head count >= ceil(n_lang/3)
    for lg in ("aa", "bb"):
        docs_lg = [r for r in got.values() if r["lang"] == lg]
        heads = sum(1 for r in docs_lg if r["ppl_bucket"] == "head")
        assert heads >= (len(docs_lg) + 2) // 3 - 1  # ties tolerance
    assert all(r["split"] in FRACS for r in got.values())


def test_pipeline_token_pack_end_to_end(spark):
    """token_pack: raw docs → cleaned corpus → unigram token ids →
    split-pure packed sequences, one call."""
    from data_toolz_spark.operators.unigram import (
        unigram_train,
        unigram_word_table,
    )

    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rows = [
        (i, " ".join(w3(i * 31 + j) for j in range(25)))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_train(
        unigram_word_table(docs), vocab_size=64, n_iter=2,
        max_piece_len=4, seed_size=512, min_count=1,
    )
    eos = model.size  # first free id
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        token_pack={
            "model": model, "seq_len": 32, "eos_id": eos,
            "n_shards": 4, "drop_last": False,
        },
        fractions=FRACS,
    )
    seqs = out.collect()
    assert seqs and set(out.columns) == {
        "split", "shard", "seq_index", "input_ids"
    }
    # every full sequence is exactly seq_len; drop_last=False keeps
    # shard-final partials
    per_key = {}
    for r in seqs:
        assert r["split"] in FRACS
        per_key.setdefault((r["split"], r["shard"]), []).append(r)
    for (s, sh), rs in per_key.items():
        rs = sorted(rs, key=lambda r: r["seq_index"])
        for r in rs[:-1]:
            assert len(r["input_ids"]) == 32
        assert 1 <= len(rs[-1]["input_ids"]) <= 32
    # token conservation: stream length == sum of (ids + eos) per doc
    n_stream = sum(len(r["input_ids"]) for r in seqs)
    from data_toolz_spark.operators.unigram import unigram_encode

    kept = prepare_training_corpus(
        docs, None, quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8, fractions=FRACS,
    )
    enc = unigram_encode(kept, model).collect()
    assert n_stream == sum(len(r["ids"]) + 1 for r in enc)
    with pytest.raises(ValueError, match="exclusive"):
        prepare_training_corpus(
            docs, None, chunk_max_words=8,
            token_pack={"model": model, "seq_len": 8, "eos_id": eos},
        )
    with pytest.raises(ValueError, match="model"):
        prepare_training_corpus(
            docs, None, token_pack={"seq_len": 8, "eos_id": eos},
        )


def test_pipeline_token_pack_wordpiece(spark):
    """token_pack with a trained WordPiece vocab (the r12 wp_vocab
    arm): cleaned corpus -> greedy wp ids -> split-pure packing; the
    stream conserves exactly the standalone encode's tokens + eos."""
    from data_toolz_spark.operators.bpe import bpe_word_table
    from data_toolz_spark.operators.wordpiece import (
        wordpiece_base_pieces,
        wordpiece_encode,
        wordpiece_train,
        wordpiece_vocab,
    )

    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rows = [
        (i, " ".join(w3(i * 17 + j) for j in range(20)))
        for i in range(16)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wt = bpe_word_table(docs)
    merges = wordpiece_train(wt, n_merges=8, min_count=2)
    vocab = wordpiece_vocab(merges, wordpiece_base_pieces(wt))
    eos = len(vocab)
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        token_pack={
            "wp_vocab": vocab, "seq_len": 16, "eos_id": eos,
            "n_shards": 2, "drop_last": False,
        },
        fractions=FRACS,
    )
    seqs = out.collect()
    assert seqs and set(out.columns) == {
        "split", "shard", "seq_index", "input_ids"
    }
    valid = set(vocab.values()) | {eos}
    for r in seqs:
        assert set(r["input_ids"]) <= valid
    kept = prepare_training_corpus(
        docs, None, quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8, fractions=FRACS,
    )
    enc = wordpiece_encode(kept, vocab).collect()
    assert sum(len(r["input_ids"]) for r in seqs) == sum(
        len(r["ids"]) + 1 for r in enc
    )


def test_pipeline_token_pack_with_spans(spark):
    """r11 (VERDICT task 3): with_spans threads through the pipeline —
    doc_spans tile every packed sequence and stay split-pure."""
    from data_toolz_spark.operators.unigram import (
        unigram_train,
        unigram_word_table,
    )

    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rows = [
        (i, " ".join(w3(i * 17 + j) for j in range(20)))
        for i in range(16)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_train(
        unigram_word_table(docs), vocab_size=64, n_iter=2,
        max_piece_len=4, seed_size=512, min_count=1,
    )
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        token_pack={
            "model": model, "seq_len": 24, "eos_id": model.size,
            "n_shards": 2, "drop_last": False, "with_spans": True,
        },
        fractions=FRACS,
    )
    seqs = out.collect()
    assert seqs and set(out.columns) == {
        "split", "shard", "seq_index", "input_ids", "doc_spans"
    }
    doc_split = {}
    for r in seqs:
        pos = 0
        for s in r["doc_spans"]:
            assert s["start"] == pos
            pos += s["len"]
            # split purity: a document's spans live in ONE split
            assert doc_split.setdefault(s["doc_id"], r["split"]) == r["split"]
        assert pos == len(r["input_ids"])


def test_pipeline_materialize_resume_after_crash(spark, corpus, eval_df, monkeypatch):
    """r11 (VERDICT task 4): materialize_to writes each stage as a
    table + manifest row; a run that dies mid-pipeline resumes WITHOUT
    recomputing completed stages and reproduces the unmaterialized
    result exactly; a config change invalidates exactly the changed
    stage onward."""
    from data_toolz_spark.catalog import drop_stale_table

    prefix = "t_pipe_mat"

    def cleanup():
        for t in [
            r["tableName"]
            for r in spark.sql("SHOW TABLES").collect()
            if r["tableName"].startswith(prefix)
        ]:
            drop_stale_table(spark, t)

    cleanup()
    kw = dict(
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    key = lambda df: sorted(
        (r["doc_id"], r["split"], r["text"]) for r in df.collect()
    )
    want = key(prepare_training_corpus(corpus, eval_df, **kw))
    kw4 = dict(kw, decontaminate_n=6)
    want4 = key(prepare_training_corpus(corpus, eval_df, **kw4))

    # run 1: decontamination explodes mid-pipeline
    import data_toolz_spark.operators.decontamination as dc

    real_decon = dc.ngram_decontaminate

    def boom(*a, **k):
        raise RuntimeError("injected decontamination crash")

    monkeypatch.setattr(dc, "ngram_decontaminate", boom)
    with pytest.raises(RuntimeError, match="injected"):
        prepare_training_corpus(
            corpus, eval_df, materialize_to=prefix, **kw
        ).collect()
    monkeypatch.setattr(dc, "ngram_decontaminate", real_decon)
    done = {
        r["stage"] for r in spark.table(f"{prefix}_manifest").collect()
    }
    assert {"gates", "text_dedup", "near_dup", "near_dup_cc"} <= done
    assert "decontaminate" not in done and "split" not in done

    # run 2 resumes: completed stages must NOT recompute — the minhash
    # CC loop raising proves the near-dup stage loads from its table
    import data_toolz_spark.operators.dedup as dd

    real_mc = dd.minhash_components
    monkeypatch.setattr(
        dd,
        "minhash_components",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("near_dup stage recomputed on resume")
        ),
    )
    got = key(
        prepare_training_corpus(
            corpus, eval_df, materialize_to=prefix, **kw
        )
    )
    assert got == want
    done2 = {
        r["stage"] for r in spark.table(f"{prefix}_manifest").collect()
    }
    assert {"decontaminate", "split"} <= done2

    # run 3: full resume — every stage loads, result identical
    got3 = key(
        prepare_training_corpus(
            corpus, eval_df, materialize_to=prefix, **kw
        )
    )
    assert got3 == want

    # run 4: a changed decontaminate_n invalidates decon + split but
    # still resumes the (unchanged) stages before it
    spy = {"n": 0}

    def counting_decon(*a, **k):
        spy["n"] += 1
        return real_decon(*a, **k)

    monkeypatch.setattr(dc, "ngram_decontaminate", counting_decon)
    got4 = key(
        prepare_training_corpus(
            corpus, eval_df, materialize_to=prefix, **kw4
        )
    )
    assert spy["n"] == 1 and got4 == want4
    monkeypatch.setattr(dd, "minhash_components", real_mc)
    cleanup()


def test_pipeline_materialize_retention_and_integrity(
    spark, corpus, eval_df, monkeypatch
):
    """r12 (VERDICT r11 task 4): (a) a completed run prunes manifest
    rows from superseded configs and DROPS their orphaned stage
    tables; (b) a corrupted stage table (row count != the audited
    manifest count) is detected on resume and recomputed instead of
    trusted; (c) the standalone list/drop helpers report and clean a
    prefix."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.pipelines import (
        drop_stale_pipeline_stages,
        list_pipeline_stages,
    )

    prefix = "t_pipe_ret"

    def tables():
        return {
            r["tableName"]
            for r in spark.sql("SHOW TABLES").collect()
            if r["tableName"].startswith(prefix)
        }

    for t in tables():
        drop_stale_table(spark, t)

    kw = dict(
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    key = lambda df: sorted(
        (r["doc_id"], r["split"], r["text"]) for r in df.collect()
    )
    want = key(
        prepare_training_corpus(corpus, eval_df, materialize_to=prefix, **kw)
    )
    manifest = lambda: {
        r["stage"]: r["table"]
        for r in spark.table(f"{prefix}_manifest").collect()
    }
    m1 = manifest()
    assert {"near_dup", "near_dup_cc", "decontaminate", "split"} <= set(m1)
    inv = {s["stage"]: s for s in list_pipeline_stages(spark, prefix)}
    assert all(s["table_exists"] and s["intact"] for s in inv.values())

    # (b) corrupt the decontaminate table: truncate it to one row —
    # resume must detect the count mismatch and recompute EXACTLY that
    # stage (split's chain fp is unchanged and still hits)
    tb = m1["decontaminate"]
    schema = spark.table(tb).schema
    one = spark.table(tb).limit(1).collect()
    spark.createDataFrame(one, schema).write.mode("overwrite").saveAsTable(tb)
    inv = {s["stage"]: s for s in list_pipeline_stages(spark, prefix)}
    assert not inv["decontaminate"]["intact"]
    import data_toolz_spark.operators.decontamination as dc

    real_decon = dc.ngram_decontaminate
    spy = {"n": 0}

    def counting_decon(*a, **k):
        spy["n"] += 1
        return real_decon(*a, **k)

    monkeypatch.setattr(dc, "ngram_decontaminate", counting_decon)
    got = key(
        prepare_training_corpus(corpus, eval_df, materialize_to=prefix, **kw)
    )
    assert spy["n"] == 1 and got == want
    inv = {s["stage"]: s for s in list_pipeline_stages(spark, prefix)}
    assert inv["decontaminate"]["intact"]

    # (a) a config that REMOVES the near-dup stage: the completed run
    # finalizes — near_dup rows leave the manifest and their tables
    # are dropped from the warehouse, not accumulated forever
    kw2 = dict(kw, near_dup_threshold=None)
    prepare_training_corpus(
        corpus, eval_df, materialize_to=prefix, **kw2
    ).collect()
    m2 = manifest()
    assert "near_dup" not in m2 and "near_dup_cc" not in m2
    left = tables()
    assert m1["near_dup"] not in left and m1["near_dup_cc"] not in left
    # every surviving table is manifest-referenced (+ the manifest)
    assert left == set(m2.values()) | {f"{prefix}_manifest"}

    # (c) drop_stale_pipeline_stages: plant an orphan table in the
    # prefix namespace and delete a referenced table behind the
    # manifest's back — the helper drops the orphan and prunes the row
    orphan = f"{prefix}_s99_zombie"
    spark.createDataFrame([(1,)], "x long").write.mode(
        "overwrite"
    ).saveAsTable(orphan)
    victim_stage, victim_table = sorted(m2.items())[0]
    drop_stale_table(spark, victim_table)
    dropped = drop_stale_pipeline_stages(spark, prefix)
    assert orphan in dropped
    assert victim_stage not in manifest()
    assert orphan not in tables()

    for t in tables():
        drop_stale_table(spark, t)
    assert list_pipeline_stages(spark, prefix) == []


def test_pipeline_retention_keep_and_stage_counts_safety(
    spark, corpus, eval_df
):
    """Review fixes (r12): (a) materialize_retention="keep" lets a
    deliberate SUBSET run (decontaminate disabled) fetch its result
    without destroying the skipped stage's expensive table; the
    default "prune" still cleans it; (b) stage_counts strips
    materialization kwargs — its truncated sub-runs must never prune
    a real run's tables; (c) _fp_token accepts value-typed params
    whose text happens to contain ' at 0x'."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.pipelines import _fp_token, stage_counts

    prefix = "t_pipe_keep"

    def tables():
        return {
            r["tableName"]
            for r in spark.sql("SHOW TABLES").collect()
            if r["tableName"].startswith(prefix)
        }

    for t in tables():
        drop_stale_table(spark, t)
    kw = dict(
        quality_thresholds={"min_tokens": 5},
        near_dup_threshold=0.8,
        decontaminate_n=5,
        fractions=FRACS,
    )
    prepare_training_corpus(
        corpus, eval_df, materialize_to=prefix, **kw
    ).collect()
    full = tables()
    decon_tbls = {t for t in full if t.endswith("_decontaminate")}
    assert decon_tbls

    # (b) stage_counts with materialize kwargs passed through must
    # leave the materialized run untouched (kwargs are stripped)
    stage_counts(corpus, None, materialize_to=prefix, **kw)
    assert tables() == full

    # (a) subset run with retention="keep": decontaminate skipped,
    # its table SURVIVES
    kw2 = dict(kw, decontaminate_n=None)
    prepare_training_corpus(
        corpus, None, materialize_to=prefix,
        materialize_retention="keep", **kw2
    ).collect()
    assert decon_tbls <= tables()
    # default "prune" drops it
    prepare_training_corpus(
        corpus, None, materialize_to=prefix, **kw2
    ).collect()
    assert not (decon_tbls & tables())

    # (c) value-typed params with ' at 0x' in their TEXT are stable
    assert "0xdeadbeef" in _fp_token("calibrated at 0xdeadbeef")
    with pytest.raises(ValueError, match="process-local repr"):
        _fp_token(object())
    with pytest.raises(ValueError):
        prepare_training_corpus(
            corpus, None, materialize_retention="nope", **kw2
        )
    for t in tables():
        drop_stale_table(spark, t)


def test_pipeline_per_language_quality_gate(spark):
    """r12 (VERDICT r11 task 5): quality_rank_gate cuts a DATA-DERIVED
    quality threshold PER LANGUAGE when lang_col is set — each language
    (NULL included) loses its own bottom fraction by the gated feature,
    where a global cut would drop the short-doc language wholesale."""

    def text(n, tag):
        return " ".join(
            f"w{tag}{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}"
            for i in range(n)
        )

    rows = []
    did = 0
    for lang, scale in (("aa", 1), ("bb", 5), (None, 1)):
        for n in (8, 8, 12, 12, 16, 16, 20, 20):
            rows.append((did, lang, text(n * scale, lang or "nn")))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kw = dict(
        quality_thresholds={"min_tokens": 5},
        quality_rank_gate={"col": "n_tokens", "q": (1, 2), "keep": "ge"},
        near_dup_threshold=None,
        fractions=None,
    )
    per_lang = prepare_training_corpus(docs, None, lang_col="lang", **kw)
    surv = {
        (r["lang"], r["doc_id"]) for r in per_lang.collect()
    }
    by_lang = {}
    for lang, i in surv:
        by_lang.setdefault(lang, set()).add(i)
    # every language — NULL included — keeps exactly its own upper 6
    # of 8 (threshold = the group's rank-⌈N/2⌉ value = 2nd length)
    assert {len(v) for v in by_lang.values()} == {6}
    assert set(by_lang) == {"aa", "bb", None}
    # the dropped docs are each group's two SHORTEST
    kept_ids = {i for v in by_lang.values() for i in v}
    assert kept_ids == {
        i for i, (d, lang, t) in enumerate(rows) if len(t.split()) not in
        (8, 40)
    }

    # global cut (no lang_col): one threshold over all 24 docs — the
    # short-doc languages lose MORE than their own half, bb loses none
    global_cut = prepare_training_corpus(docs, None, **kw)
    gby = {}
    for r in global_cut.collect():
        gby.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(gby.get("bb", set())) == 8
    assert len(gby.get("aa", set())) < 6

    # validation
    with pytest.raises(ValueError, match="'ge' or 'le'"):
        prepare_training_corpus(
            docs, None,
            quality_rank_gate={"col": "n_tokens", "keep": "between"},
        ).collect()


def test_fp_token_canonical_and_guarded():
    """r12 ADVICE fix: sets fingerprint order-independently; objects
    with the default address-bearing repr are rejected (their token
    would differ every process, silently defeating resume)."""
    from data_toolz_spark.pipelines import _fp_token

    assert _fp_token({3, 1, 2}) == _fp_token({2, 3, 1})
    assert _fp_token(frozenset("ba")) == _fp_token(set("ab"))
    assert _fp_token({"k": [1, (2, 3)]}) == _fp_token({"k": [1, (2, 3)]})

    class Opaque:
        pass

    with pytest.raises(ValueError, match="process-local repr"):
        _fp_token(Opaque())
    with pytest.raises(ValueError, match="process-local repr"):
        _fp_token({"model": Opaque()})


def test_pipeline_per_language_strata(spark):
    """r11 (VERDICT task 5): lang_col threads CCNet per-language
    conditioning through the pipeline — the LM trains per language and
    the head/middle/tail cut points differ per language, so each
    language gets its own ~1/3 strata instead of one language landing
    wholesale in 'tail' (Wenzek et al. 2020 §4.3)."""
    import random

    from data_toolz_spark.operators.text_analysis import (
        bigram_logprob,
        build_bigram_counts,
        build_vocab,
        rank_thresholds,
    )

    rng = random.Random(5)
    # per-language word POOLS (Zipf-ish draws → per-doc score spread):
    # language A is small-pool/repetitive (low NLL), B wide (high NLL)
    pool = {
        "aa": [f"a{i}" for i in range(6)],
        "bb": [f"wordbb{i}" for i in range(40)],
    }
    rows = []
    for i in range(90):
        lang = "aa" if i % 2 == 0 else "bb"
        words = [
            pool[lang][min(int(rng.expovariate(0.4)), len(pool[lang]) - 1)]
            for _ in range(12)
        ]
        rows.append((i, lang, " ".join(words)))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    out = prepare_training_corpus(
        docs,
        None,
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=None,
        ppl_strata={},
        lang_col="lang",
        fractions=FRACS,
    )
    got = out.collect()
    assert set(out.columns) >= {"doc_id", "lang", "ppl_bucket", "split"}
    by_lang: dict = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r["ppl_bucket"])
    # each language splits into its own three strata (~1/3 each) —
    # with one GLOBAL cut the low-NLL language would be all-head and
    # the high-NLL language all-tail
    for lang, buckets in by_lang.items():
        assert {"head", "middle", "tail"} <= set(buckets), (
            lang, buckets
        )
    # and the cut points themselves differ between the languages
    scored = bigram_logprob(
        docs,
        build_bigram_counts(docs, group_col="lang"),
        build_vocab(docs, group_col="lang"),
        group_col="lang",
    ).join(docs.select("doc_id", "lang"), on="doc_id")
    thr = {
        (r["lang"], r["q_num"]): r["threshold"]
        for r in rank_thresholds(
            scored, "bg_nll", [(1, 3), (2, 3)], group_cols=["lang"]
        ).collect()
    }
    assert thr[("aa", 1)] != thr[("bb", 1)]
    assert thr[("aa", 2)] != thr[("bb", 2)]


def test_pipeline_token_pack_materialize_resume(spark, monkeypatch):
    """r11: the token_pack stage materializes too — a resume loads the
    packed sequences without re-encoding (unigram_encode patched to
    prove it), and a changed seq_len invalidates the stage."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.unigram import (
        unigram_train,
        unigram_word_table,
    )

    prefix = "t_pipe_tpmat"

    def cleanup():
        for t in [
            r["tableName"]
            for r in spark.sql("SHOW TABLES").collect()
            if r["tableName"].startswith(prefix)
        ]:
            drop_stale_table(spark, t)

    cleanup()
    rows = [
        (i, " ".join(f"w{(i * 13 + j) % 9}" for j in range(15)))
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = unigram_train(
        unigram_word_table(docs), vocab_size=32, n_iter=1,
        max_piece_len=3, seed_size=256, min_count=1,
    )
    kw = dict(
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        fractions=FRACS,
    )
    tp = {"model": model, "seq_len": 16, "eos_id": model.size,
          "n_shards": 2, "drop_last": False}
    key = lambda df: sorted(
        (r["split"], r["shard"], r["seq_index"], tuple(r["input_ids"]))
        for r in df.collect()
    )
    want = key(
        prepare_training_corpus(docs, None, token_pack=tp, **kw)
    )
    got_cold = key(
        prepare_training_corpus(
            docs, None, token_pack=tp, materialize_to=prefix, **kw
        )
    )
    assert got_cold == want

    import data_toolz_spark.operators.unigram as um

    real_enc = um.unigram_encode
    monkeypatch.setattr(
        um,
        "unigram_encode",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("token_pack stage re-encoded on resume")
        ),
    )
    got = key(
        prepare_training_corpus(
            docs, None, token_pack=tp, materialize_to=prefix, **kw
        )
    )
    assert got == want
    # config change (seq_len) invalidates: the encode runs again
    monkeypatch.setattr(um, "unigram_encode", real_enc)
    tp2 = dict(tp, seq_len=8)
    got2 = key(
        prepare_training_corpus(
            docs, None, token_pack=tp2, materialize_to=prefix, **kw
        )
    )
    want2 = key(
        prepare_training_corpus(docs, None, token_pack=tp2, **kw)
    )
    assert got2 == want2
    cleanup()


def test_pipeline_materialize_id_text_col_in_fingerprint(spark, monkeypatch):
    """r11 review fix: switching text_col (or id_col) must invalidate
    the stage tables — the chain seeds on both columns."""
    from data_toolz_spark.catalog import drop_stale_table

    prefix = "t_pipe_colfp"
    for t in [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith(prefix)
    ]:
        drop_stale_table(spark, t)
    rows = [
        (i, f"text a{i % 5} " + " ".join(f"w{j}" for j in range(8)),
         f"body b{i % 3} " + " ".join(f"u{j}" for j in range(8)))
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, body string")
    kw = dict(
        quality_thresholds={"min_tokens": 1},
        near_dup_threshold=0.8,
        fractions=FRACS,
    )
    prepare_training_corpus(
        docs, None, materialize_to=prefix, **kw
    ).collect()
    # same prefix, different text_col: the near-dup CC MUST recompute
    # (fingerprint mismatch), not resume the 'text'-built tables
    calls = {"n": 0}
    import data_toolz_spark.operators.dedup as dd

    real = dd.minhash_components

    def spy(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(dd, "minhash_components", spy)
    prepare_training_corpus(
        docs, None, text_col="body", materialize_to=prefix, **kw
    ).collect()
    assert calls["n"] == 1
    for t in [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith(prefix)
    ]:
        drop_stale_table(spark, t)


def test_pipeline_ppl_strata_lm_prune(spark):
    """ppl_strata's lm_prune knob (X97): epsilon=0 keeps every bigram
    (divergence >= 0) so the buckets are IDENTICAL to the unpruned
    run; a prune-everything epsilon still labels every doc (the
    scorer degrades to pure backoff, ranks still cut thirds)."""
    def w3(n):
        return (
            chr(97 + (n // 676) % 26)
            + chr(97 + (n // 26) % 26)
            + chr(97 + n % 26)
        )

    rows = []
    for i in range(24):
        words = " ".join(
            w3(i * 61 + j * (1 + i % 5)) for j in range(30)
        )
        rows.append((i, "common prefix words " + words))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(spec):
        out = prepare_training_corpus(
            docs,
            None,
            quality_thresholds={"min_tokens": 1},
            near_dup_threshold=None,
            ppl_strata=spec,
            fractions=FRACS,
        )
        return {r["doc_id"]: r["ppl_bucket"] for r in out.collect()}

    base = run({})
    keep_all = run({"lm_prune": {"epsilon": 0.0}})
    assert keep_all == base

    pure_backoff = run({"lm_prune": {"epsilon": 1e18}})
    assert set(pure_backoff) == set(base)
    n = len(pure_backoff)
    counts = {
        b: sum(1 for v in pure_backoff.values() if v == b)
        for b in ("head", "middle", "tail")
    }
    assert counts["head"] >= (n + 2) // 3, counts
    assert sum(counts.values()) == n, counts


def test_stage_counts_counts_documents_under_token_pack(spark):
    """stage_counts' per-stage keys count DOCUMENTS: a token_pack
    config must not turn the sub-run counts into packed-sequence
    counts (only ``final`` carries the packing)."""
    words = "river stone maple cloud amber field north quiet ember " \
        "harbor lantern meadow orchard".split()
    rows = [
        (i, " ".join(words[(i * 7 + j) % 13] for j in range(12)))
        for i in range(32)
    ] + [(100 + i, "too short") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        quality_thresholds={"min_tokens": 5},
        near_dup_threshold=None,
        fractions=FRACS,
    )
    tp = {
        "ids_expr": F.transform(
            F.split(F.col("text"), " "), lambda w: F.length(w)
        ),
        "seq_len": 4,
        "eos_id": 0,
        "n_shards": 2,
        "drop_last": False,
    }
    gated = prepare_training_corpus(docs, None, **kw).count()
    packed = prepare_training_corpus(docs, None, token_pack=tp, **kw)
    counts = stage_counts(docs, None, token_pack=tp, **kw)
    assert gated == 32
    assert counts["quality"] == gated
    assert counts["final"] == packed.count() > gated


def test_pipeline_config_errors_raise_before_any_stage(
    spark, corpus, monkeypatch
):
    """Invalid configs raise before any stage runs or writes: the
    near-dup CC loop (patched to explode) never starts, and no stage
    table lands under the materialization prefix."""
    import data_toolz_spark.operators.dedup as dd

    monkeypatch.setattr(
        dd,
        "minhash_components",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("a stage ran before the config check")
        ),
    )
    prefix = "t_pipe_cfgerr"
    ids = F.transform(F.split(F.col("text"), " "), lambda w: F.length(w))
    bad = [
        ("pack_budget", dict(pack_budget=64)),
        (
            "exclusive",
            dict(
                chunk_max_words=8,
                token_pack={"ids_expr": ids, "seq_len": 4, "eos_id": 0},
            ),
        ),
        ("token_pack: pass", dict(token_pack={"seq_len": 4, "eos_id": 0})),
        ("keep_langs", dict(lang_model=object())),
        (
            "keep must be",
            dict(quality_rank_gate={"col": "n_tokens", "keep": "gt"}),
        ),
    ]
    for match, cfg in bad:
        with pytest.raises(ValueError, match=match):
            prepare_training_corpus(
                corpus,
                None,
                near_dup_threshold=0.8,
                materialize_to=prefix,
                **cfg,
            )
    assert not [
        r["tableName"]
        for r in spark.sql("SHOW TABLES").collect()
        if r["tableName"].startswith(prefix)
    ]


def test_pipeline_materialize_manifest_pinned(spark, corpus, eval_df):
    """Warehouses written by earlier releases must keep resuming: every
    stage the corpus supports, materialized, yields exactly these
    manifest rows — stage table names and the fingerprint chain."""
    from data_toolz_spark.catalog import drop_stale_table

    prefix = "t_pipe_pin"

    def cleanup():
        for t in [
            r["tableName"]
            for r in spark.sql("SHOW TABLES").collect()
            if r["tableName"].startswith(prefix)
        ]:
            drop_stale_table(spark, t)

    cleanup()
    prepare_training_corpus(
        corpus,
        eval_df,
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=2,
        near_dup_threshold=0.8,
        decontaminate_n=5,
        ppl_strata={},
        fractions=FRACS,
        materialize_to=prefix,
    ).collect()
    got = sorted(
        (r["stage"], r["table"], r["fp"])
        for r in spark.table(f"{prefix}_manifest").collect()
    )
    assert got == [
        ("decontaminate", "t_pipe_pin_s04_decontaminate",
         "92b24abeed5e13c1a63ad202dab013f72564cd6c728b07ccf6f7bb0d32e51327"),
        ("gates", "t_pipe_pin_s01_gates",
         "9e7cd364e29485f6b748f560a65b02ff470fb5767e3b3fcecb8d796a2b102a6a"),
        ("near_dup", "t_pipe_pin_s03_near_dup",
         "e961a24e437d7cbe07a31c3f5d79525f47f7d3437381f4595de0f45c5b2f8b7a"),
        ("near_dup_cc", "t_pipe_pin_s03_near_dup_cc",
         "e961a24e437d7cbe07a31c3f5d79525f47f7d3437381f4595de0f45c5b2f8b7a"),
        ("split", "t_pipe_pin_s06_split",
         "c1fb431c7a4d3b4c2c5ecf7adf7ecd7da43a15549f8fb1120223452f0ae3894f"),
        ("strata", "t_pipe_pin_s05_strata",
         "c29644c1dc0a8463c38519331286f6c9f4daa113a90ff7f203e72020b6853bd3"),
        ("text_dedup", "t_pipe_pin_s02_text_dedup",
         "77918bcf2b1203beb5a73a0005dcfd09d06f7426c8fff8747029e5311aa6d9d6"),
    ]
    cleanup()

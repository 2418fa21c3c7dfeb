"""Distributed BPE-merge training (operators/bpe.py).

The driver qid (text_bpe_tokens' bpe_vocab_tokens fold) value-attests
the full 32-merge training loop against DuckDB; these tests pin the
operator against an INDEPENDENT pure-Python Sennrich reference —
merge sequence, tie-breaks, overlap counting, greedy application,
early exhaustion, and the separator-safety filter.
"""

from collections import Counter

import pytest


def _ref_train(word_freq: dict, n_merges: int, min_count: int = 2):
    """Pure-Python Sennrich BPE: overlapping pair counts weighted by
    word frequency, ties broken (count DESC, left ASC, right ASC),
    greedy left-to-right merge application."""
    state = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        cands = [(c, p) for p, c in pc.items() if c >= min_count]
        if not cands:
            break
        c, (l, r) = sorted(cands, key=lambda t: (-t[0], t[1][0], t[1][1]))[0]
        merges.append((rank, l, r, l + r, c))
        new = {}
        for syms, f in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        state = new
    return merges


def _ref_apply(word: str, merges) -> int:
    syms = list(word)
    for _, l, r, mg, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(mg)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def _train_on(spark, corpus, n_merges, min_count=2):
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = bpe_train(
        bpe_word_table(docs), n_merges=n_merges, min_count=min_count
    )
    wf = Counter(w for line in corpus for w in line.split())
    want = _ref_train(wf, n_merges, min_count)
    return docs, got, want, wf


def test_bpe_train_matches_reference_with_overlaps_and_ties(spark):
    """Overlapping pairs ('aaa' counts (a,a) twice), deterministic
    tie-breaks, and the merged-symbol cascade all match the
    reference."""
    corpus = [
        "low lower lowest low low",
        "newer newest new news low",
        "aaa aaab ab ab ab",
    ]
    _, got, want, _ = _train_on(spark, corpus, 12)
    gm = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in got
    ]
    assert gm == want
    # exhaustion: 12 requested, reference stops earlier
    assert len(got) < 12


def test_bpe_train_randomized_differential(spark):
    """Seeded random corpus over a small alphabet (dense collisions
    force real tie-breaking) — merges match rank for rank."""
    import random

    rng = random.Random(17)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
        for _ in range(120)
    ]
    corpus = [" ".join(words[i::4]) for i in range(4)]
    _, got, want, _ = _train_on(spark, corpus, 20)
    gm = [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in got
    ]
    assert gm == want


def test_bpe_token_count_expr_matches_reference(spark):
    """Applying the trained merges per doc = greedy per-word reference
    segmentation lengths, summed."""
    from data_toolz_spark.operators.bpe import bpe_token_count_expr

    corpus = [
        "banana bandana and sand anna",
        "nan an banana band",
        "",
    ]
    docs, got, want, _ = _train_on(spark, corpus, 10)
    rows = docs.select(
        "doc_id", bpe_token_count_expr("text", got).alias("n")
    ).collect()
    for r in rows:
        expect = sum(_ref_apply(w, want) for w in corpus[r["doc_id"]].split())
        assert r["n"] == expect
    assert {r["doc_id"]: r["n"] for r in rows}[2] == 0  # empty doc


def test_bpe_word_table_drops_separator_words(spark):
    from data_toolz_spark.operators.bpe import BPE_SEP, bpe_word_table

    docs = spark.createDataFrame(
        [(0, f"ok als{BPE_SEP}o ok")], "doc_id long, text string"
    )
    rows = {r["word"]: r["freq"] for r in bpe_word_table(docs).collect()}
    assert rows == {"ok": 2}


def test_bpe_single_char_words_no_merges(spark):
    """A corpus of 1-symbol words has no adjacent pairs — training
    returns [] instead of erroring on the empty pair frame."""
    corpus = ["a b c a b", "c a b"]
    _, got, want, _ = _train_on(spark, corpus, 5)
    assert got == [] and want == []


# ---------------------------------------------------------------------------
# bpe_encode_expr — token-id export (X61b)
# ---------------------------------------------------------------------------


def _ref_apply_syms(word: str, merges) -> list:
    syms = list(word)
    for _, l, r, mg, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(mg)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_reference_ids(spark):
    """Encoded id arrays == reference segmentation mapped through the
    canonical id space (sorted base chars, then merges by rank);
    out-of-alphabet symbols take unk_id; ids are flat across words."""
    from data_toolz_spark.operators.bpe import (
        bpe_base_chars,
        bpe_encode_expr,
        bpe_vocab,
        bpe_word_table,
    )

    corpus = [
        "banana bandana and sand anna",
        "nan an banana band",
        "zebra!",  # z, e, r, !  unseen? (z/e/r/! appear only here)
    ]
    docs, got, want, _ = _train_on(spark, corpus, 8)
    word_table = bpe_word_table(docs)
    base = bpe_base_chars(word_table)
    vocab = bpe_vocab(got, base)
    # reference vocab built the same way from the same alphabet
    ref_vocab = {ch: i for i, ch in enumerate(sorted(base))}
    for rank, _l, _r, mg, _c in want:
        ref_vocab[mg] = len(base) + rank
    rows = docs.select(
        "doc_id", bpe_encode_expr("text", got, vocab).alias("ids")
    ).collect()
    for r in rows:
        expect = [
            ref_vocab.get(s, -1)
            for w in corpus[r["doc_id"]].split()
            for s in _ref_apply_syms(w, want)
        ]
        assert list(r["ids"]) == expect, r["doc_id"]


def test_bpe_encode_count_consistency_and_unk(spark):
    """len(encode(text)) == bpe_token_count_expr(text) for in-alphabet
    text; symbols outside the vocab map to unk_id."""
    from data_toolz_spark.operators.bpe import (
        bpe_base_chars,
        bpe_encode_expr,
        bpe_token_count_expr,
        bpe_vocab,
        bpe_word_table,
    )

    corpus = ["aa ab ba aa", "abba baab"]
    docs, got, _, _ = _train_on(spark, corpus, 4)
    vocab = bpe_vocab(got, bpe_base_chars(bpe_word_table(docs)))
    rows = docs.select(
        bpe_encode_expr("text", got, vocab).alias("ids"),
        bpe_token_count_expr("text", got).alias("n"),
    ).collect()
    for r in rows:
        assert len(r["ids"]) == r["n"]
        assert all(i >= 0 for i in r["ids"])
    oov = spark.createDataFrame([("aa zz",)], "text string")
    ids = oov.select(
        bpe_encode_expr("text", got, vocab, unk_id=-7).alias("ids")
    ).collect()[0]["ids"]
    assert -7 in ids  # 'z' never seen by the alphabet


def test_bpe_encode_validation():
    import pytest as _pytest

    from data_toolz_spark.operators.bpe import bpe_encode_expr

    with _pytest.raises(ValueError, match="empty vocab"):
        bpe_encode_expr("text", [], {})


# ---------------------------------------------------------------------------
# r10: byte-fallback export — lossless id space, exact decode inverse
# ---------------------------------------------------------------------------


def _bytes_setup(spark):
    from data_toolz_spark.operators.bpe import (
        bpe_base_chars,
        bpe_train,
        bpe_vocab_bytes,
        bpe_word_table,
    )

    corpus = spark.createDataFrame(
        [
            ("low lower lowest newest widest",),
            ("the newest low wide news",),
        ],
        "text string",
    )
    wt = bpe_word_table(corpus)
    merges = bpe_train(wt, n_merges=8, min_count=2)
    vocab = bpe_vocab_bytes(merges, bpe_base_chars(wt))
    return merges, vocab


def test_bytes_vocab_layout():
    from data_toolz_spark.operators.bpe import bpe_vocab_bytes

    merges = [
        {"rank": 0, "left": "a", "right": "b", "merged": "ab"},
        {"rank": 1, "left": "ab", "right": "c", "merged": "abc"},
    ]
    v = bpe_vocab_bytes(merges, ["c", "a", "b"])
    # base chars sorted at 256.., merges after the alphabet by rank
    assert v == {"a": 256, "b": 257, "c": 258, "ab": 259, "abc": 260}
    assert min(v.values()) >= 256  # never collides with the byte ids


def test_bytes_roundtrip_fuzz(spark):
    """encode ∘ decode == identity over adversarial unicode: every
    UTF-8 length class, the separator byte itself, whitespace runs
    with newlines/tabs, empty strings, unseen alphabets."""
    import random

    from data_toolz_spark.operators.bpe import (
        bpe_decode_expr,
        bpe_encode_bytes_expr,
    )
    from pyspark.sql import functions as F

    merges, vocab = _bytes_setup(spark)
    rng = random.Random(20251015)
    pool = (
        "abcdefgh lowestnew é€中文😀\x1f\t\n "
        "ДЖ ქართული ωφ   ￿\U0001f9ea"
    )
    cases = [""] + [
        "".join(rng.choice(pool) for _ in range(rng.randrange(0, 40)))
        for _ in range(120)
    ] + ["\x1f\x1f\x1f", "   \n\t  ", "low\x1flower", "😀😀", "￿"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "i long, text string")
    out = df.select(
        "i", "text",
        bpe_encode_bytes_expr("text", merges, vocab).alias("ids"),
    ).select(
        "i", "text", "ids", bpe_decode_expr("ids", vocab).alias("back")
    ).collect()
    assert len(out) == len(cases)
    for r in out:
        assert r["back"] == r["text"], (r["i"], repr(r["text"]), r["ids"])
        assert all(i >= 0 for i in r["ids"])  # NO unk in the byte space


def test_bytes_encode_known_ids(spark):
    """Byte-fallback arms produce exactly the RFC 3629 bytes and vocab
    symbols keep their ids — checked against Python's own encoder."""
    from data_toolz_spark.operators.bpe import bpe_encode_bytes_expr
    from pyspark.sql import functions as F

    merges, vocab = _bytes_setup(spark)
    df = spark.createDataFrame([("é€ 😀",)], "text string")
    [row] = df.select(
        bpe_encode_bytes_expr("text", merges, vocab).alias("ids")
    ).collect()
    want = list("é".encode()) + list("€".encode()) + [32] + list(
        "😀".encode()
    )
    assert row["ids"] == want
    # a fully in-vocab word emits vocab ids only (all >= 256)
    df2 = spark.createDataFrame([("low",)], "text string")
    [r2] = df2.select(
        bpe_encode_bytes_expr("text", merges, vocab).alias("ids")
    ).collect()
    assert all(i >= 256 for i in r2["ids"])


def test_bytes_decode_unknown_id_raises(spark):
    from data_toolz_spark.operators.bpe import bpe_decode_expr
    from pyspark.sql import functions as F

    merges, vocab = _bytes_setup(spark)
    bad = spark.createDataFrame([([99999],)], "ids array<int>")
    with pytest.raises(Exception, match="token id outside"):
        bad.select(bpe_decode_expr("ids", vocab).alias("t")).collect()
    neg = spark.createDataFrame([([-1],)], "ids array<int>")
    with pytest.raises(Exception, match="token id outside"):
        neg.select(bpe_decode_expr("ids", vocab).alias("t")).collect()


def test_bytes_validation(spark):
    from data_toolz_spark.operators.bpe import (
        bpe_decode_expr,
        bpe_encode_bytes_expr,
        bpe_vocab,
    )

    merges, vocab = _bytes_setup(spark)
    # a char-offset vocab (ids from 0) collides with the byte space
    legacy = {"a": 0, "b": 1}
    with pytest.raises(ValueError, match="byte id space"):
        bpe_encode_bytes_expr("text", merges, legacy)
    with pytest.raises(ValueError, match="byte id space"):
        bpe_decode_expr("ids", legacy)
    with pytest.raises(ValueError, match="empty vocab"):
        bpe_encode_bytes_expr("text", merges, {})
    with pytest.raises(ValueError, match="non-\\\\s ASCII"):
        bpe_encode_bytes_expr("text", merges, vocab, sep=" ")


def test_bpe_model_save_load_roundtrip(spark):
    """r10: the tokenizer persists like every other trained artifact —
    merges + id space round-trip through one catalog table, and the
    rehydrated model encodes identically."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.bpe import (
        bpe_encode_bytes_expr,
        load_bpe_model,
        save_bpe_model,
    )

    merges, vocab = _bytes_setup(spark)
    table = "dtz_test_bpe_model"
    drop_stale_table(spark, table)
    save_bpe_model(spark, merges, vocab, table)
    m2, v2 = load_bpe_model(spark, table)
    assert m2 == merges
    assert v2 == vocab
    df = spark.createDataFrame([("low lower é",)], "text string")
    a = df.select(bpe_encode_bytes_expr("text", merges, vocab).alias("i"))
    b = df.select(bpe_encode_bytes_expr("text", m2, v2).alias("i"))
    assert a.collect() == b.collect()
    drop_stale_table(spark, table)
    # a non-model table fails loudly
    spark.createDataFrame(
        [("merge", 5, "a", "b", "ab", 1, None)],
        "kind string, rank int, left string, right string, "
        "merged string, pair_count long, token_id long",
    ).write.mode("overwrite").saveAsTable(table)
    with pytest.raises(ValueError, match="not 0..K-1"):
        load_bpe_model(spark, table)
    drop_stale_table(spark, table)


# ---------------------------------------------------------------------------
# batched training (r11, VERDICT task 1): batch_size > 1 must be
# BIT-IDENTICAL to sequential for every corpus and every B
# ---------------------------------------------------------------------------


def _batch_train_on(spark, corpus, n_merges, batch_size, min_count=2):
    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    # both caps at 0 pin these differentials to the DISTRIBUTED loop
    # with the DataFrame pair table — its top-C collect drives the
    # truncation-floored acceptance bound of _accept_batch (small
    # tables otherwise go to the driver-local trainer, which has its
    # own differentials below)
    caps = bpemod._LOCAL_UNIT_CAP, bpemod._DRIVER_PAIR_CAP
    bpemod._LOCAL_UNIT_CAP = bpemod._DRIVER_PAIR_CAP = 0
    try:
        return bpe_train(
            bpe_word_table(docs),
            n_merges=n_merges,
            min_count=min_count,
            batch_size=batch_size,
        )
    finally:
        bpemod._LOCAL_UNIT_CAP, bpemod._DRIVER_PAIR_CAP = caps


def _as_tuples(merges):
    return [
        (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
        for m in merges
    ]


def test_bpe_batched_new_pair_overtake_guard(spark):
    """The case plain conflict-free batching gets WRONG: after merging
    the top pair, a surviving pair that was REJECTED for conflict
    ((x,a) shares 'a') is still sequential's next pick and must not be
    skipped over for the disjoint (c,d).  The prefix rule stops the
    batch instead."""
    corpus = [" ".join(["ab"] * 170 + ["xa"] * 70 + ["cd"] * 60)]
    wf = Counter(w for line in corpus for w in line.split())
    want = _ref_train(wf, 4, 2)
    for b in (2, 4, 8):
        got = _batch_train_on(spark, corpus, 4, b)
        assert _as_tuples(got) == want, f"batch_size={b}"
    # and the sequence really does interleave: (x,a) lands before (c,d)
    assert [m[1:3] for m in want[:3]] == [("a", "b"), ("x", "a"), ("c", "d")]


def test_bpe_batched_merged_symbol_boost_guard(spark):
    """Adversarial overlap: a merge whose MERGED symbol already exists
    ('a'+'b' while symbol 'ab' is alive from the word table) can boost
    existing (x, ab) pairs — the batch must hard-stop after that pick
    and still match sequential exactly."""
    corpus = [
        " ".join(
            ["ab"] * 50          # word 'ab' → symbols a,b
            + ["xab xab"] * 20   # (x,a),(a,b) contenders
            + ["qq rr ss"] * 30  # disjoint tail candidates
        )
    ]
    wf = Counter(w for line in corpus for w in line.split())
    want = _ref_train(wf, 6, 2)
    for b in (2, 6):
        got = _batch_train_on(spark, corpus, 6, b)
        assert _as_tuples(got) == want, f"batch_size={b}"


def test_bpe_batched_randomized_differential(spark):
    """Seeded random corpora over tiny alphabets (dense symbol reuse =
    maximum interference, the adversarial regime for batching) —
    batched output equals sequential bit for bit, several B values."""
    import random

    for seed, alpha in ((17, "abc"), (23, "abcd"), (5, "ab")):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in range(150)
        ]
        corpus = [" ".join(words[i::5]) for i in range(5)]
        wf = Counter(w for line in corpus for w in line.split())
        want = _ref_train(wf, 24, 2)
        got = _batch_train_on(spark, corpus, 24, 8)
        assert _as_tuples(got) == want, f"seed={seed}"


def test_accept_batch_top_c_prefix_property():
    """Spark-free: over random pair tables, acceptance on any top-C
    prefix with its truncation bound is a PREFIX of acceptance on the
    full live list with ``min_count - 1`` — over-approximating the
    rule-3 bound only shrinks the batch, never changes a pick."""
    import random

    from data_toolz_spark.operators.bpe import _accept_batch

    rng = random.Random(2020)
    for trial in range(3000):
        alpha = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 2)))
            for _ in range(rng.randint(2, 8))
        ]
        min_count = rng.randint(1, 4)
        table = {
            (rng.choice(alpha), rng.choice(alpha)): rng.randint(1, 30)
            for _ in range(rng.randint(1, 40))
        }
        live = sorted(
            ((l, r, c) for (l, r), c in table.items() if c >= min_count),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        if not live:
            continue
        prior = {
            s for s in alpha if len(s) > 1 and rng.random() < 0.5
        }
        limit = rng.randint(1, 12)
        full = _accept_batch(live, min_count - 1, prior, limit)
        assert full and full[0] == live[0]
        for c in range(1, len(live) + 1):
            top = live[:c]
            trunc = top[-1][2] if c < len(live) else min_count - 1
            got = _accept_batch(top, trunc, prior, limit)
            assert got == full[: len(got)], (trial, c, got, full)
            assert got[0] == live[0]


# ---------------------------------------------------------------------------
# delta-maintained pair table (r12, VERDICT r11 task 1): the
# distributed loop must be BIT-IDENTICAL to the Python reference
# ---------------------------------------------------------------------------


def test_bpe_train_validation(spark):
    """Arguments are checked at entry like the sibling trainers:
    ``min_count < 1`` and ``batch_size < 1`` raise; ``n_merges <= 0``
    returns ``[]`` without training."""
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    wt = bpe_word_table(
        spark.createDataFrame([("aa ab aa",)], "text string")
    )
    with pytest.raises(ValueError, match="min_count"):
        bpe_train(wt, n_merges=2, min_count=0)
    with pytest.raises(ValueError, match="batch_size"):
        bpe_train(wt, n_merges=2, batch_size=0)
    assert bpe_train(wt, n_merges=0) == []
    assert bpe_train(wt, n_merges=-1) == []


def test_bpe_delta_vs_recount_differential(spark, monkeypatch):
    """Randomized corpora over tiny alphabets (dense reuse = maximum
    delta churn) — the delta-maintained pair table yields the
    reference merge list across batch sizes and min_counts
    (min_count=1 exercises sub-threshold pairs the table must keep:
    their counts can GROW when a merged symbol already exists)."""
    import random

    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)

    for seed, alpha, b, mc in (
        (11, "ab", 1, 2),
        (29, "abc", 8, 1),
        (41, "abcd", 16, 2),
    ):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in range(140)
        ]
        corpus = [" ".join(words[i::5]) for i in range(5)]
        docs = spark.createDataFrame(
            [(t,) for t in corpus], "text string"
        )
        wt = bpe_word_table(docs)
        got_d = bpe_train(wt, n_merges=20, min_count=mc, batch_size=b)
        wf = Counter(w for line in corpus for w in line.split())
        assert _as_tuples(got_d) == _ref_train(wf, 20, mc), (seed, b, mc)


def test_bpe_delta_boost_case(spark, monkeypatch):
    """The count-INCREASE path: merging a+b while symbol 'ab' already
    exists boosts (x, ab) pairs — the delta table must fold positive
    corrections onto existing rows, not just decrements."""
    corpus = [
        " ".join(["ab"] * 50 + ["xab xab"] * 20 + ["qq rr ss"] * 30)
    ]
    wf = Counter(w for line in corpus for w in line.split())
    want = _ref_train(wf, 6, 2)
    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    for b in (1, 4):
        got = bpe_train(bpe_word_table(docs), n_merges=6, batch_size=b)
        assert _as_tuples(got) == want, f"batch_size={b}"


def test_bpe_delta_driver_vs_distributed_arms(spark, monkeypatch):
    """r12 optimization round: the distributed loop holds the pair
    table on the driver under ``_DRIVER_PAIR_CAP`` (exact acceptance
    bounds, zero-Spark candidate selection) and falls back to the
    persisted DataFrame above it.  Both arms must produce the same
    merge list as each other and as the Python reference — the cap is
    monkeypatched to force each arm on the same corpus."""
    import random

    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    rng = random.Random(97)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
        for _ in range(160)
    ]
    corpus = [" ".join(words[i::4]) for i in range(4)]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    wt = bpe_word_table(docs)

    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    stats_drv: dict = {}
    got_drv = bpe_train(wt, n_merges=18, batch_size=8, stats=stats_drv)
    assert stats_drv["pair_table"] == "driver"

    monkeypatch.setattr(bpemod, "_DRIVER_PAIR_CAP", 0)
    stats_dst: dict = {}
    got_dst = bpe_train(wt, n_merges=18, batch_size=8, stats=stats_dst)
    assert stats_dst["pair_table"] == "distributed"

    assert _as_tuples(got_drv) == _as_tuples(got_dst)
    wf = Counter(w for line in corpus for w in line.split())
    assert _as_tuples(got_drv) == _ref_train(wf, 18, 2)
    # the exact bound can only ACCEPT MORE per round, never fewer
    assert stats_drv["rounds"] <= stats_dst["rounds"]


def test_bpe_ngram_unit_table(spark):
    """Trigram units match a Python twin; docs shorter than n emit
    nothing (the descending-sequence guard); separator tokens drop."""
    from data_toolz_spark.operators.bpe import (
        BPE_SEP,
        bpe_bigram_unit_table,
        bpe_ngram_unit_table,
    )

    corpus = ["a b c d", "a b", f"x y{BPE_SEP}z w q", ""]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = {
        r["word"]: r["freq"]
        for r in bpe_ngram_unit_table(docs, 3).collect()
    }
    # doc 2's separator token drops FIRST, then trigrams form over the
    # remaining [x, w, q]
    assert got == {"a_b_c": 1, "b_c_d": 1, "x_w_q": 1}
    bi = {
        r["word"]: r["freq"]
        for r in bpe_bigram_unit_table(docs).collect()
    }
    assert bi == {
        "a_b": 2, "b_c": 1, "c_d": 1, "x_w": 1, "w_q": 1
    }
    with pytest.raises(ValueError, match="n must be >= 2"):
        bpe_ngram_unit_table(docs, 1)


def test_bpe_batched_wide_alphabet_batches_fat(spark):
    """Disjoint-symbol corpora are the friendly regime: many merges
    per round, still identical output — and the accept rule really
    does take more than one per round (job-count sanity via equality
    at a batch size larger than the merge count)."""
    pairs = [f"{chr(97 + i)}{chr(110 + i)}" for i in range(12)]
    corpus = [" ".join(w for i, w in enumerate(pairs) for _ in range(100 - 3 * i))]
    wf = Counter(w for line in corpus for w in line.split())
    want = _ref_train(wf, 12, 2)
    got = _batch_train_on(spark, corpus, 12, 16)
    assert _as_tuples(got) == want
    assert len(got) == 12


# ---------------------------------------------------------------------------
# r12: driver-side exact trainer over the collected unit table
# ---------------------------------------------------------------------------


def test_bpe_local_differential(spark, monkeypatch):
    """bpe_train_local is bit-identical to the distributed trainer AND
    the pure-Python Sennrich reference on randomized dense-reuse
    corpora — min_count=1 includes the count-INCREASE regime (merged
    string colliding with an existing symbol)."""
    import random

    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import (
        bpe_train,
        bpe_train_local,
        bpe_word_table,
    )

    # pin the comparison to the DISTRIBUTED trainer (below the cap
    # bpe_train delegates right back to bpe_train_local)
    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    for seed, alpha, mc in ((5, "ab", 2), (17, "abc", 1), (23, "abcd", 2)):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
            for _ in range(140)
        ]
        corpus = [" ".join(words[i::5]) for i in range(5)]
        docs = spark.createDataFrame(
            [(t,) for t in corpus], "text string"
        )
        wt = bpe_word_table(docs)
        got = bpe_train_local(wt, n_merges=24, min_count=mc)
        assert got == bpe_train(wt, n_merges=24, min_count=mc), (seed, mc)
        wf = Counter(w for line in corpus for w in line.split())
        assert _as_tuples(got) == _ref_train(wf, 24, mc), (seed, mc)


def test_bpe_local_boost_case(spark):
    """The count-increase path driver-side: merging a+b while symbol
    'ab' already exists boosts (x, ab) — the eager heap re-push must
    surface the raised count, not leave it buried under a stale
    entry."""
    from data_toolz_spark.operators.bpe import (
        bpe_train_local,
        bpe_word_table,
    )

    corpus = [
        " ".join(["ab"] * 50 + ["xab xab"] * 20 + ["qq rr ss"] * 30)
    ]
    wf = Counter(w for line in corpus for w in line.split())
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_train_local(bpe_word_table(docs), n_merges=6, min_count=2)
    assert _as_tuples(got) == _ref_train(wf, 6, 2)


def test_bpe_local_truncation_and_stats(spark, monkeypatch):
    """max_units keeps the top-N units by (freq DESC, word ASC) and
    reports the dropped tail; training on the truncated table equals
    the distributed trainer run on the explicit top-N sub-table."""
    from pyspark.sql import functions as F

    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import (
        bpe_train,
        bpe_train_local,
        bpe_word_table,
    )

    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    corpus = ["aa ab aa ab ac ba bb zz", "aa ab ba bb qq aa"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    wt = bpe_word_table(docs)
    st: dict = {}
    got = bpe_train_local(
        wt, n_merges=8, min_count=1, max_units=3, stats=st
    )
    top3 = wt.orderBy(F.col("freq").desc(), F.col("word")).limit(3)
    assert got == bpe_train(top3, n_merges=8, min_count=1)
    assert st["units_kept"] == 3
    assert st["units_total"] == wt.count()
    assert st["freq_total"] > st["freq_kept"]
    assert st["merges"] == len(got)


def test_bpe_auto_local_arm_parity(spark, monkeypatch):
    """r12 optimization round: ``bpe_train`` delegates under-cap unit
    tables to the driver-local exact trainer.  It must (a) actually
    take the local arm, (b) equal the forced-distributed loop bit for
    bit, and (c) keep the distributed loop when the cap is
    exceeded."""
    import random

    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import bpe_train, bpe_word_table

    rng = random.Random(61)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
        for _ in range(160)
    ]
    corpus = [" ".join(words[i::4]) for i in range(4)]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    wt = bpe_word_table(docs)

    st_local: dict = {}
    got_local = bpe_train(
        wt, n_merges=18, batch_size=8, stats=st_local
    )
    assert st_local["pair_table"] == "local"

    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    st_dist: dict = {}
    got_dist = bpe_train(wt, n_merges=18, batch_size=8, stats=st_dist)
    assert st_dist["pair_table"] == "driver"

    assert _as_tuples(got_local) == _as_tuples(got_dist)
    wf = Counter(w for line in corpus for w in line.split())
    assert _as_tuples(got_local) == _ref_train(wf, 18, 2)


def test_bpe_local_validation(spark):
    from data_toolz_spark.operators.bpe import (
        bpe_train_local,
        bpe_word_table,
        collect_unit_table,
    )

    docs = spark.createDataFrame([("a b",)], "text string")
    wt = bpe_word_table(docs)
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train_local(wt, n_merges=-1)
    with pytest.raises(ValueError, match="min_count"):
        bpe_train_local(wt, n_merges=1, min_count=0)
    with pytest.raises(ValueError, match="max_units"):
        collect_unit_table(wt, max_units=0)


def test_collect_unit_table_folds_duplicates(spark):
    """An UNGROUPED input (duplicate words) folds frequencies
    driver-side — the trainers always see a true frequency map."""
    from data_toolz_spark.operators.bpe import collect_unit_table

    df = spark.createDataFrame(
        [("ab", 2), ("ab", 3), ("cd", 1)], "word string, freq long"
    )
    assert collect_unit_table(df) == [("ab", 5), ("cd", 1)]


def test_collect_unit_table_folds_before_truncation(spark):
    """Review fix: the max_units top-N cut ranks by TRUE folded
    frequency — duplicate rows of one word must fold before the cut,
    not be ranked individually."""
    from data_toolz_spark.operators.bpe import collect_unit_table

    df = spark.createDataFrame(
        [("ab", 3), ("ab", 3), ("cd", 5)], "word string, freq long"
    )
    st: dict = {}
    got = collect_unit_table(df, max_units=1, stats=st)
    assert got == [("ab", 6)]
    assert st["units_total"] == 2 and st["freq_total"] == 11
    assert collect_unit_table(df, max_units=2) == [("ab", 6), ("cd", 5)]


def test_bpe_local_hypothesis_differential(spark):
    """Property: for ANY word-frequency table, bpe_train_local equals
    the pure-Python Sennrich reference — hypothesis explores corpora
    the fixed-seed differentials cannot (shrunk counterexamples would
    be minimal)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_toolz_spark.operators.bpe import bpe_train_local

    word = st.text(alphabet="abc", min_size=1, max_size=6)

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture,
            HealthCheck.too_slow,
        ],
    )
    @given(
        wf=st.dictionaries(
            word, st.integers(min_value=1, max_value=50),
            min_size=1, max_size=24,
        ),
        mc=st.sampled_from([1, 2]),
    )
    def prop(wf, mc):
        df = spark.createDataFrame(
            sorted(wf.items()), "word string, freq long"
        )
        got = bpe_train_local(df, n_merges=12, min_count=mc)
        assert _as_tuples(got) == _ref_train(dict(wf), 12, mc)

    prop()


def test_window_delta_rows_equal_full_signed_recount(spark):
    """r13: the merge-adjacent WINDOW recount (_window_delta_rows) must
    aggregate to exactly the full signed recount (old pairs at -f, new
    pairs at +f) for random words and random disjoint batches -- the
    exactness property both delta arms now rely on.  Covers multi-char
    symbols, l == r self-overlap runs, adjacent occurrences, and word
    boundaries."""
    import random

    from pyspark.sql import functions as F

    from data_toolz_spark.operators.bpe import (
        BPE_SEP,
        _fold_replaces,
        _pairs_arr,
        _window_alt_pattern,
        _window_delta_rows,
    )

    sep = BPE_SEP
    rng = random.Random(1301)
    pool = list("abcdef") + ["ab", "cd", "ef", "abc"]
    for _ in range(8):
        words = []
        for _i in range(24):
            syms = [rng.choice(pool) for _j in range(rng.randint(1, 12))]
            words.append(
                ("".join(sep + s + sep for s in syms), rng.randint(1, 5))
            )
        batch, used = [], set()
        for _k in range(rng.randint(1, 4)):
            for _try in range(20):
                l, r = rng.choice(pool), rng.choice(pool)
                if {l, r, l + r} & used:
                    continue
                batch.append((l, r, l + r))
                used |= {l, r, l + r}
                break
        df = spark.createDataFrame(words, "s string, f long")
        pats = [sep + l + sep + sep + r + sep for l, r, _ in batch]
        reps = [sep + m + sep for _, _, m in batch]
        expr = _fold_replaces(F.col("s"), list(zip(pats, reps)))
        full = {
            (rw["l"], rw["r"]): rw["cnt"]
            for rw in df.select(
                F.explode(
                    F.concat(
                        _pairs_arr(F.col("s"), sep, -F.col("f")),
                        _pairs_arr(expr, sep, F.col("f")),
                    )
                ).alias("p")
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("p.w").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .collect()
        }
        alt = _window_alt_pattern(sep, batch)
        win = {
            (rw["l"], rw["r"]): rw["cnt"]
            for rw in df.select(
                "f",
                F.regexp_extract_all(
                    F.col("s"), F.lit(alt), F.lit(0)
                ).alias("__m"),
                F.split(F.col("s"), alt, -1).alias("__p"),
            )
            .select(
                F.explode(
                    _window_delta_rows(
                        F.col("__m"), F.col("__p"), sep, batch, F.col("f")
                    )
                ).alias("p")
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("p.w").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .collect()
        }
        assert win == full, (batch, {
            k: (full.get(k), win.get(k))
            for k in set(full) | set(win)
            if full.get(k) != win.get(k)
        })


def test_bpe_window_recount_toggle_parity(spark, monkeypatch):
    """r13: the distributed trainers produce the identical merge list
    with the windowed recount and the r12 full signed recount -- the
    _WINDOW_MIN_AVG_LEN gate picks a cost, never a semantics switch
    (0.0 forces the window arm on these short demo words, inf the
    full recount)."""
    import math

    import data_toolz_spark.operators.bpe as bpemod

    rows = [
        ("banana", 40), ("bandana", 30), ("cabana", 22),
        ("ananas", 18), ("nab", 11), ("abba", 7), ("baobab", 5),
    ]
    words = spark.createDataFrame(rows, "word string, freq long")
    monkeypatch.setattr(bpemod, "_LOCAL_UNIT_CAP", 0)
    out = {}
    for gate in (0.0, math.inf):
        monkeypatch.setattr(bpemod, "_WINDOW_MIN_AVG_LEN", gate)
        out[gate] = bpemod.bpe_train(
            words, n_merges=12, min_count=2, batch_size=4
        )
    assert out[0.0] == out[math.inf]

    from data_toolz_spark.operators.wordpiece import wordpiece_train

    wp = {}
    for gate in (0.0, math.inf):
        monkeypatch.setattr(bpemod, "_WINDOW_MIN_AVG_LEN", gate)
        wp[gate] = wordpiece_train(words, n_merges=8, min_count=2)
    assert wp[0.0] == wp[math.inf]

"""Integer-exact hard-sigmoid logistic regression: differential vs a
pure-Python twin, repartition invariance, learning sanity (separable
data), scoring contract, validation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_toolz_spark.operators.classifier import (
    P_SCALE,
    logreg_fit,
    logreg_score,
)


def _ref_fit(X, y, *, n_iter, lr_num=1, lr_den=2, fscale=1024):
    """Pure-Python integer twin of logreg_fit."""
    n, k = len(X), len(X[0]) + 1
    fx = [[fscale] + [int(np.floor(v * fscale)) for v in row] for row in X]
    w = [0] * k
    for _ in range(n_iter):
        g = [0] * k
        for row, label in zip(fx, y):
            m = sum(w[j] * row[j] for j in range(k))
            p = min(max((m - m % (4 * fscale)) // (4 * fscale)
                        + P_SCALE // 2, 0), P_SCALE)
            e = p - label * P_SCALE
            for j in range(k):
                g[j] += e * row[j]
        for j in range(k):
            w[j] -= (g[j] * lr_num) // (lr_den * n * fscale)
    return w


def _ref_score(w, row, fscale=1024):
    fx = [fscale] + [int(np.floor(v * fscale)) for v in row]
    m = sum(w[j] * fx[j] for j in range(len(w)))
    p = min(max((m - m % (4 * fscale)) // (4 * fscale)
                + P_SCALE // 2, 0), P_SCALE)
    return p / P_SCALE


def _data(seed=3, n=200):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 3))
    # separable-ish: label from a noisy linear rule
    y = ((X[:, 0] - 0.5 * X[:, 1] + 0.2 * rng.normal(size=n)) > 0).astype(
        int
    )
    return X, y


def _frame(spark, X, y):
    rows = [
        (i, float(a), float(b), float(c), int(lbl))
        for i, ((a, b, c), lbl) in enumerate(zip(X.tolist(), y.tolist()))
    ]
    return spark.createDataFrame(
        rows, "id long, f1 double, f2 double, f3 double, label int"
    )


def test_fit_and_score_match_python_reference(spark):
    X, y = _data()
    df = _frame(spark, X, y)
    model = logreg_fit(
        df, ["f1", "f2", "f3"], "label", n_iter=10, persist=False
    )
    ref_w = _ref_fit(X.tolist(), y.tolist(), n_iter=10)
    assert list(model.weights) == ref_w
    got = {
        r["id"]: r["quality_prob"]
        for r in logreg_score(df, model).collect()
    }
    for i, row in enumerate(X.tolist()):
        assert got[i] == pytest.approx(_ref_score(ref_w, row), abs=0)


def test_repartition_invariance(spark):
    X, y = _data(seed=9, n=150)
    df = _frame(spark, X, y)
    models = [
        logreg_fit(
            d, ["f1", "f2", "f3"], "label", n_iter=6, persist=False
        ).weights
        for d in (df.repartition(1), df.repartition(17))
    ]
    assert models[0] == models[1]


def test_learns_separable_rule(spark):
    X, y = _data(seed=5, n=300)
    df = _frame(spark, X, y)
    model = logreg_fit(df, ["f1", "f2", "f3"], "label", n_iter=30)
    scored = logreg_score(df, model)
    acc = (
        scored.filter(
            ((F.col("quality_prob") >= 0.5) & (F.col("label") == 1))
            | ((F.col("quality_prob") < 0.5) & (F.col("label") == 0))
        ).count()
        / 300
    )
    assert acc >= 0.9


def test_null_and_offlabel_rows(spark):
    df = spark.createDataFrame(
        [
            (1.0, 1),
            (None, 0),  # NULL feature reads as 0
            (2.0, None),  # NULL label dropped from training
            (0.5, 7),  # off-domain label dropped
            (-1.0, 0),
        ],
        "f1 double, label int",
    )
    model = logreg_fit(df, ["f1"], "label", n_iter=3, persist=False)
    assert len(model.weights) == 2
    scored = logreg_score(df, model)
    assert scored.count() == 5  # scoring never drops rows


def test_zero_weights_score_half(spark):
    from data_toolz_spark.operators.classifier import LogRegModel

    df = spark.createDataFrame([(3.7,)], "f1 double")
    m = LogRegModel(
        weights=(0, 0), feature_cols=("f1",), feature_scale=1024,
        n_iter=0,
    )
    assert logreg_score(df, m).collect()[0]["quality_prob"] == 0.5


def test_validation(spark):
    df = spark.createDataFrame([(1.0, 1)], "f1 double, label int")
    with pytest.raises(ValueError, match="n_iter"):
        logreg_fit(df, ["f1"], "label", n_iter=0)
    with pytest.raises(ValueError, match="lr_num"):
        logreg_fit(df, ["f1"], "label", lr_num=0)
    with pytest.raises(ValueError, match="feature_scale"):
        logreg_fit(df, ["f1"], "label", feature_scale=0)
    with pytest.raises(ValueError, match="at least one"):
        logreg_fit(df, [], "label")
    with pytest.raises(ValueError, match="no labeled rows"):
        logreg_fit(
            df.filter("label = 5"), ["f1"], "label", persist=False
        )


def test_model_save_load_roundtrip(spark):
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.classifier import (
        load_logreg_model,
        save_logreg_model,
    )

    X, y = _data(seed=2, n=60)
    df = _frame(spark, X, y)
    model = logreg_fit(
        df, ["f1", "f2", "f3"], "label", n_iter=4, persist=False
    )
    table = "t_logreg_model"
    drop_stale_table(spark, table)
    save_logreg_model(spark, model, table)
    back = load_logreg_model(spark, table)
    assert back == model  # frozen dataclass equality: every field
    a = {r["id"]: r["quality_prob"]
         for r in logreg_score(df, model).collect()}
    b = {r["id"]: r["quality_prob"]
         for r in logreg_score(df, back).collect()}
    assert a == b
    drop_stale_table(spark, table)


def test_gradient_overflow_guard(spark):
    """r10 (ADVICE): the per-iteration gradient SUM is bounded by
    n·P_SCALE·max|__f| — a feature_scale big enough to push that past
    2^62 must raise up front (ANSI would abort mid-train; non-ANSI
    would silently wrap) instead of training on wrapped sums."""
    df = spark.createDataFrame(
        [(1.0, 1), (0.5, 0)], "x double, label int"
    )
    with pytest.raises(ValueError, match="overflow int64"):
        logreg_fit(
            df, ["x"], "label", n_iter=1, feature_scale=1 << 42,
        )
    # the same data at a sane scale trains fine
    m = logreg_fit(df, ["x"], "label", n_iter=2, feature_scale=1024)
    assert len(m.weights) == 2


def test_learning_rate_bound(spark, monkeypatch):
    """A learning rate above ``n·feature_scale`` (lr_num > lr_den·n·
    feature_scale) makes the exact weight update exceed int64, which
    the local arms would hit as an OverflowError mid-fit: both fits
    reject it up front, in both arms, with a ValueError naming the
    bound; the bound itself still trains."""
    import data_toolz_spark.operators.classifier as clfmod
    from data_toolz_spark.operators.classifier import multiclass_fit

    df = spark.createDataFrame([(1.0, 1)], "x double, label int")
    docs = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c d", "y")],
        "doc_id long, text string, lang string",
    )
    big = 1 << 62
    for cap in (clfmod._LOCAL_FIT_CAP, 0):
        monkeypatch.setattr(clfmod, "_LOCAL_FIT_CAP", cap)
        with pytest.raises(ValueError, match="lr_den·n·feature_scale"):
            logreg_fit(
                df, ["x"], "label", n_iter=1, lr_num=big, lr_den=1,
                feature_scale=1,
            )
        with pytest.raises(ValueError, match="lr_den·n·feature_scale"):
            multiclass_fit(
                docs, "text", "lang", id_col="doc_id", n_buckets=32,
                n_iter=1, lr_num=big, lr_den=1, feature_scale=1,
            )
        # lr_num == lr_den·n·feature_scale is the largest accepted
        m = logreg_fit(
            df, ["x"], "label", n_iter=1, lr_num=2, lr_den=1,
            feature_scale=2,
        )
        assert len(m.weights) == 2


# ---------------------------------------------------------------------------
# r10: multiclass integer-exact linear classifier (fastText-shaped)
# ---------------------------------------------------------------------------


def _mc_ref_buckets(text, n_buckets, *, lowercase=True, bigrams=True):
    import hashlib

    toks = [t for t in (text.lower() if lowercase else text).split() if t]
    feats = list(toks)
    if bigrams:
        feats += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [
        int(hashlib.md5(x.encode()).hexdigest()[:15], 16) % n_buckets
        for x in feats
    ]


def _mc_ref_features(rows, n_buckets, fscale, mode="presence"):
    """(doc -> {bucket: f}) with the bias row at bucket n_buckets."""
    from collections import Counter

    out = {}
    for doc_id, text, _ in rows:
        c = Counter(_mc_ref_buckets(text, n_buckets))
        tot = sum(c.values())
        if mode == "presence":
            f = {b: fscale for b in c}
        else:
            f = (
                {b: (n * fscale) // tot for b, n in c.items()}
                if tot
                else {}
            )
        f[n_buckets] = fscale
        out[doc_id] = f
    return out

def _mc_ref_fit(rows, classes, *, n_buckets, n_iter, fscale=1024,
                lr_num=1, lr_den=2, mode="presence"):
    P = 1 << 20
    feats = _mc_ref_features(rows, n_buckets, fscale, mode)
    labels = {doc_id: lab for doc_id, _, lab in rows}
    n = len(rows)
    w = [[0] * (n_buckets + 1) for _ in classes]

    def p(m):
        return max(0, min(P, m // (4 * fscale) + P // 2))

    for _ in range(n_iter):
        g = [[0] * (n_buckets + 1) for _ in classes]
        for doc_id, f in feats.items():
            for i, cls in enumerate(classes):
                m = sum(fv * w[i][b] for b, fv in f.items())
                e = p(m) - (P if labels[doc_id] == cls else 0)
                for b, fv in f.items():
                    g[i][b] += e * fv
        for i in range(len(classes)):
            for b in range(n_buckets + 1):
                w[i][b] -= (g[i][b] * lr_num) // (lr_den * n * fscale)
    return w


def _mc_ref_pred(rows, classes, w, n_buckets, fscale, mode="presence"):
    feats = _mc_ref_features(rows, n_buckets, fscale, mode)
    out = {}
    for doc_id, f in feats.items():
        margins = [
            sum(fv * w[i][b] for b, fv in f.items())
            for i in range(len(classes))
        ]
        out[doc_id] = classes[margins.index(max(margins))]
    return out


def _mc_corpus(seed=11, n=120, n_classes=3):
    import random

    rng = random.Random(seed)
    vocab = {
        "de": ["der", "und", "nicht", "das", "zu"],
        "en": ["the", "and", "not", "that", "to"],
        "fr": ["le", "et", "pas", "que", "de"],
    }
    classes = list(vocab)[:n_classes]
    shared = ["data", "table", "spark", "row", "key"]
    rows = []
    for i in range(n):
        lang = classes[i % n_classes]
        words = [rng.choice(vocab[lang] + shared) for _ in range(10)]
        rows.append((i, " ".join(words), lang))
    return rows, classes


def test_multiclass_matches_python_reference(spark):
    """Weights AND predictions are bit-identical to an independent
    pure-Python twin of the integer GD — the kmeans/logreg posture."""
    from data_toolz_spark.operators.classifier import (
        multiclass_fit,
        multiclass_score,
    )

    rows, classes = _mc_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    for mode in ("presence", "tf"):
        m = multiclass_fit(
            df, "text", "lang", id_col="doc_id", n_buckets=64,
            n_iter=4, portable=True, feature_mode=mode,
        )
        assert list(m.classes) == classes
        want_w = _mc_ref_fit(
            rows, classes, n_buckets=64, n_iter=4, mode=mode
        )
        assert [list(h) for h in m.weights] == want_w, mode
        scored = multiclass_score(
            df, m, text_col="text", id_col="doc_id", out_col="pred"
        )
        got = {r["doc_id"]: r["pred"] for r in scored.collect()}
        want = _mc_ref_pred(rows, classes, want_w, 64, 1024, mode)
        assert got == want, mode


def test_fit_local_vs_distributed_arms(spark, monkeypatch):
    """r12 optimization round: below ``_LOCAL_FIT_CAP`` both GD loops
    run on one bounded Arrow collect with int64 numpy sums.  Weights
    must be bit-identical to the forced-distributed loops (integer
    sums are associative; the hard sigmoid and the floor-division
    update are the same integer ops)."""
    import data_toolz_spark.operators.classifier as clfmod
    from data_toolz_spark.operators.classifier import (
        logreg_fit,
        multiclass_fit,
    )

    rows, _ = _mc_corpus(seed=11, n=80)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m_local = multiclass_fit(
        df, "text", "lang", id_col="doc_id", n_buckets=64,
        n_iter=4, portable=True,
    )
    # logreg on derived numeric features + a 0/1 label
    lr_df = df.select(
        F.col("doc_id"),
        (F.length("text") / 100.0).alias("f1"),
        (F.col("doc_id") % 7 / 7.0).alias("f2"),
        (F.col("doc_id") % 2).alias("label"),
    )
    l_local = logreg_fit(lr_df, ["f1", "f2"], "label", n_iter=6)

    monkeypatch.setattr(clfmod, "_LOCAL_FIT_CAP", 0)
    m_dist = multiclass_fit(
        df, "text", "lang", id_col="doc_id", n_buckets=64,
        n_iter=4, portable=True,
    )
    l_dist = logreg_fit(lr_df, ["f1", "f2"], "label", n_iter=6)

    assert m_local.weights == m_dist.weights
    assert m_local == m_dist
    assert l_local.weights == l_dist.weights
    assert l_local == l_dist


def test_multiclass_repartition_invariance(spark):
    from data_toolz_spark.operators.classifier import multiclass_fit

    rows, _ = _mc_corpus(seed=5, n=60)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = multiclass_fit(
        df.repartition(1), "text", "lang", id_col="doc_id",
        n_buckets=32, n_iter=3, portable=True,
    )
    b = multiclass_fit(
        df.repartition(13), "text", "lang", id_col="doc_id",
        n_buckets=32, n_iter=3, portable=True,
    )
    assert a.weights == b.weights


def test_multiclass_beats_stopword_heuristic(spark):
    """On a separable corpus the TRAINED classifier must be at least
    as accurate as the stopword-overlap heuristic it retires."""
    from data_toolz_spark.operators.classifier import (
        multiclass_fit,
        multiclass_score,
    )
    from data_toolz_spark.operators.text_analysis import language_id

    rows, _ = _mc_corpus(seed=23, n=180)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m = multiclass_fit(
        df, "text", "lang", id_col="doc_id", n_buckets=256, n_iter=8,
        portable=True,
    )
    scored = multiclass_score(
        df, m, text_col="text", id_col="doc_id", out_col="pred"
    )
    clf_acc = scored.filter(F.col("pred") == F.col("lang")).count()
    sw_acc = (
        language_id(df)
        .filter(F.col("lang_pred") == F.col("lang"))
        .count()
    )
    assert clf_acc >= sw_acc
    assert clf_acc >= 0.95 * len(rows)


def test_multiclass_zero_token_docs_still_score(spark):
    from data_toolz_spark.operators.classifier import (
        multiclass_fit,
        multiclass_score,
    )

    rows, _ = _mc_corpus(seed=3, n=60)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m = multiclass_fit(
        df, "text", "lang", id_col="doc_id", n_buckets=32, n_iter=2,
        portable=True,
    )
    empty = spark.createDataFrame(
        [(900, ""), (901, "   ")], "doc_id long, text string"
    )
    got = multiclass_score(
        empty, m, text_col="text", id_col="doc_id", out_col="pred"
    ).collect()
    assert all(r["pred"] in m.classes for r in got)  # bias-only argmax


def test_multiclass_save_load_roundtrip(spark):
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.classifier import (
        load_multiclass_model,
        multiclass_fit,
        save_multiclass_model,
    )

    rows, _ = _mc_corpus(seed=9, n=60)
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    m = multiclass_fit(
        df, "text", "lang", id_col="doc_id", n_buckets=32, n_iter=3,
        portable=True,
    )
    table = "dtz_test_mc_model"
    drop_stale_table(spark, table)
    save_multiclass_model(spark, m, table)
    back = load_multiclass_model(spark, table)
    assert back == m
    drop_stale_table(spark, table)


def test_multiclass_validation(spark):
    from data_toolz_spark.operators.classifier import (
        hashed_text_features,
        multiclass_fit,
    )

    df = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c d", "x")],
        "doc_id long, text string, lang string",
    )
    with pytest.raises(ValueError, match="at least 2 classes"):
        multiclass_fit(df, "text", "lang", id_col="doc_id", n_buckets=32)
    with pytest.raises(ValueError, match="n_iter"):
        multiclass_fit(
            df, "text", "lang", id_col="doc_id", n_buckets=32, n_iter=0
        )
    with pytest.raises(ValueError, match="n_buckets"):
        hashed_text_features(df, "text", "doc_id", n_buckets=4)

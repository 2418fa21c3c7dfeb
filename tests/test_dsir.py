"""dsir_logweights: exact differential vs a pure-Python twin (portable
hashing), target-affinity ordering, smoothing defaults, validation."""

from __future__ import annotations

import hashlib
import math

import pytest

from data_toolz_spark.operators.sampling import dsir_logweights


def _bucket(feat: str, n_buckets: int) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:15], 16) % n_buckets


def _feats(text: str, *, lowercase=True, bigrams=True):
    toks = (text.lower() if lowercase else text).split()
    out = list(toks)
    if bigrams:
        out += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return out


def _ref(corpus, target, *, n_buckets=256, alpha=1.0):
    tc: dict = {}
    for t in target:
        for f in _feats(t):
            b = _bucket(f, n_buckets)
            tc[b] = tc.get(b, 0) + 1
    sc: dict = {}
    feats_per_doc = {}
    for i, t in corpus:
        fs = [_bucket(f, n_buckets) for f in _feats(t)]
        feats_per_doc[i] = fs
        for b in fs:
            sc[b] = sc.get(b, 0) + 1
    nt, ns = sum(tc.values()), sum(sc.values())
    dt, ds = nt + alpha * n_buckets, ns + alpha * n_buckets
    out = {}
    for i, fs in feats_per_doc.items():
        if not fs:
            continue
        s = sum(
            math.log(tc.get(b, 0) + alpha)
            - math.log(sc.get(b, 0) + alpha)
            - (math.log(dt) - math.log(ds))
            for b in fs
        )
        out[i] = math.floor(s * 10000) / 10000
    return out


def test_matches_python_reference(spark):
    corpus = [
        (1, "the cat sat on the mat"),
        (2, "stock market prices fell sharply today"),
        (3, "a cat and a dog played"),
        (4, ""),
        (5, "cat cat cat"),
    ]
    target = ["the cat sat quietly", "a small cat and dog"]
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    tdf = spark.createDataFrame(
        [(t,) for t in target], "text string"
    )
    got = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_logweights(
            cdf, tdf, n_buckets=256, portable=True
        ).collect()
    }
    ref = _ref(corpus, target, n_buckets=256)
    assert set(got) == set(ref)  # empty doc absent
    for k in ref:
        assert got[k] == pytest.approx(ref[k], abs=1e-9), k


def test_target_like_docs_rank_higher(spark, documents):
    """Docs sharing the target's vocabulary must outrank unrelated
    ones: use half the corpus as target, score everything — the target
    members themselves should sit at the top of the weight order."""
    target = documents.filter("doc_id % 7 = 0").select("text")
    got = dsir_logweights(
        documents, target, n_buckets=4096
    ).collect()
    w = {r["doc_id"]: r["dsir_logw"] for r in got}
    in_t = [v for k, v in w.items() if k % 7 == 0]
    out_t = [v for k, v in w.items() if k % 7 != 0]
    # mean separation, not per-doc domination (short docs are noisy)
    assert sum(in_t) / len(in_t) > sum(out_t) / len(out_t)


def test_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="alpha"):
        dsir_logweights(df, df, alpha=0.0)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_logweights(df, df, n_buckets=4)
    with pytest.raises(ValueError, match="empty target"):
        dsir_logweights(df, df.filter("doc_id < 0"))


# ---------------------------------------------------------------------------
# gumbel_topk_sample — softmax resampling without replacement
# ---------------------------------------------------------------------------


def test_gumbel_k1_is_softmax_sampling(spark):
    """For k=1 the Gumbel-argmax law says P(pick i) = softmax(logw)_i
    EXACTLY; check empirical frequencies over many trials against the
    analytic softmax.  One frame of trial × id is perturbed in one
    call (the hash keys on both columns, so every trial draws fresh
    noise) and each trial's argmax is one aggregate — a single job."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.sampling import gumbel_topk_sample

    logw = {1: 0.0, 2: math.log(3.0), 3: math.log(6.0)}
    df = spark.createDataFrame(
        [(i, w) for i, w in logw.items()], "id long, w double"
    )
    n_trials = 4000
    draws = spark.range(n_trials).withColumnRenamed("id", "trial")
    draws = draws.crossJoin(df)
    scored = gumbel_topk_sample(
        draws, "w", k=len(logw) * n_trials, key_cols=["trial", "id"],
        score_col="g",
    )
    winners = scored.groupBy("trial").agg(F.max_by("id", "g").alias("id"))
    wins = {1: 0, 2: 0, 3: 0}
    for r in winners.groupBy("id").count().collect():
        wins[r["id"]] = r["count"]
    assert sum(wins.values()) == n_trials, wins
    z = 1 + 3 + 6
    for i, weight in ((1, 1), (2, 3), (3, 6)):
        p = weight / z
        se = math.sqrt(p * (1 - p) / n_trials)
        assert abs(wins[i] / n_trials - p) < 5 * se, (i, wins)


def test_gumbel_deterministic_and_partition_invariant(spark):
    from data_toolz_spark.operators.sampling import gumbel_topk_sample

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(200)], "id long, w double"
    )
    a = {r["id"] for r in gumbel_topk_sample(
        df.repartition(1), "w", k=25, key_cols=["id"], seed=7
    ).collect()}
    b = {r["id"] for r in gumbel_topk_sample(
        df.repartition(16), "w", k=25, key_cols=["id"], seed=7
    ).collect()}
    assert a == b and len(a) == 25


def test_gumbel_null_weights_and_validation(spark):
    import pytest as _pytest

    from data_toolz_spark.operators.sampling import gumbel_topk_sample

    df = spark.createDataFrame(
        [(1, None), (2, 5.0)], "id long, w double"
    )
    got = gumbel_topk_sample(df, "w", k=2, key_cols=["id"]).collect()
    assert [r["id"] for r in got] == [2]
    with _pytest.raises(ValueError, match="k must"):
        gumbel_topk_sample(df, "w", k=0, key_cols=["id"])
    with _pytest.raises(ValueError, match="key_cols"):
        gumbel_topk_sample(df, "w", k=1, key_cols=[])


def test_gumbel_plan_is_take_ordered(spark):
    from data_toolz_spark.operators.sampling import gumbel_topk_sample

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, w double"
    )
    plan = (
        gumbel_topk_sample(df, "w", k=5, key_cols=["id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan

"""HLL sketch surface: accuracy, and the incremental-rollup contract —
union over the same HLL-mode part-sketches is order- and
staging-independent (what makes stored per-day sketch rows safe to
fold).  Union is NOT bit-identical to a one-shot sketch (dense
promotion differs); both must stay inside the sketch's error bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_toolz_spark.functions.sketches import (
    approx_distinct,
    distinct_sketch_table,
    hll_estimate,
    hll_merge,
    hll_sketch,
    rollup_sketches,
)


def test_hll_estimate_within_tolerance(spark, documents):
    exact = documents.select("doc_id").distinct().count()
    est = documents.agg(
        hll_estimate(hll_sketch("doc_id")).alias("e")
    ).collect()[0]["e"]
    # lg_k=12 → ~1.6 % RSE; allow 5 sigma
    assert abs(est - exact) <= max(5, 0.08 * exact)


def test_approx_distinct_within_tolerance(spark, documents):
    exact = documents.select("lang").distinct().count()
    est = documents.agg(approx_distinct("lang").alias("e")).collect()[0]["e"]
    assert abs(est - exact) <= max(1, 0.1 * exact)


def test_union_grouping_invariance(spark, documents):
    """The incremental contract: the SAME 7 part-sketches give the same
    estimate whether unioned flat or in two stages (parts 0-3 first,
    then that sketch ∪ parts 4-6), in any physical layout — folding
    daily vs weekly cannot drift.  Each part holds 1,000 keys, past the
    SET→HLL promotion, so the union is a register max.  Below that
    boundary DataSketches inserts coupons in arrival order and the
    estimate can move by one or two; different part boundaries over the
    documents (2-way vs 7-way splits) are therefore held to the error
    bound only."""
    keys = spark.range(7000).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(7)).alias("part")
    )
    t = distinct_sketch_table(keys, ["part"], "k").cache()
    try:
        stage = F.when(F.col("part") <= 3, 0).otherwise(F.col("part"))
        ests = set()
        for layout in (t, t.repartition(5), t.coalesce(1)):
            ests.add(rollup_sketches(layout, []).collect()[0][1])
            staged = rollup_sketches(
                layout.withColumn("stage", stage), ["stage"]
            )
            ests.add(rollup_sketches(staged, []).collect()[0][1])
        assert len(ests) == 1, ests
        assert abs(ests.pop() - 7000) <= 0.08 * 7000
    finally:
        t.unpersist()

    exact = documents.select("doc_id").distinct().count()
    for parts in (2, 7):
        t = distinct_sketch_table(
            documents.withColumn(
                "part", F.pmod(F.col("doc_id"), F.lit(parts))
            ),
            ["part"],
            "doc_id",
        )
        est = rollup_sketches(t, []).collect()[0]["approx_distinct"]
        assert abs(est - exact) <= max(5, 0.08 * exact), (parts, est)


def test_rollup_is_order_independent(spark, documents):
    """Same part-sketches, different physical layout → same estimates."""
    fine = distinct_sketch_table(
        documents.withColumn("half", F.pmod(F.col("doc_id"), F.lit(2))),
        ["lang", "half"],
        "doc_id",
    ).cache()
    try:
        a = {
            r["lang"]: r["approx_distinct"]
            for r in rollup_sketches(fine, ["lang"]).collect()
        }
        b = {
            r["lang"]: r["approx_distinct"]
            for r in rollup_sketches(
                fine.repartition(13).sortWithinPartitions("half"), ["lang"]
            ).collect()
        }
        assert a == b
    finally:
        fine.unpersist()


def test_incremental_fold_matches_full_rebuild(spark, documents):
    """Fold an increment's sketch into a stored corpus sketch: the
    estimate tracks a from-scratch build within the error bound, and
    folding the same parts in either order is identical."""
    corpus = documents.filter(F.col("doc_id") % 5 != 0)
    incr = documents.filter(F.col("doc_id") % 5 == 0)
    stored = corpus.agg(hll_sketch("doc_id").alias("sketch"))
    incr_sk = incr.agg(hll_sketch("doc_id").alias("sketch"))
    folded = (
        stored.unionByName(incr_sk)
        .agg(hll_estimate(hll_merge("sketch")).alias("e"))
        .collect()[0]["e"]
    )
    folded_rev = (
        incr_sk.unionByName(stored)
        .agg(hll_estimate(hll_merge("sketch")).alias("e"))
        .collect()[0]["e"]
    )
    assert folded == folded_rev
    exact = documents.select("doc_id").distinct().count()
    assert abs(folded - exact) <= max(5, 0.08 * exact)


def test_sketch_agg_is_partial_aggregable(spark, documents):
    """The plan must show two-phase aggregation (partial sketches cross
    the shuffle), not a raw-row exchange."""
    plan = (
        documents.groupBy("lang")
        .agg(hll_sketch("doc_id").alias("s"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_lg_k_validation():
    with pytest.raises(ValueError):
        hll_sketch("x", lg_k=2)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _token_counts(documents):
    """Exact per-token occurrence counts over a small doc sample."""
    return (
        documents.limit(60)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .count()
    )


def test_cms_never_underestimates_and_exact_when_wide(spark, documents):
    from data_toolz_spark.functions.sketches import (
        cms_estimate,
        cms_sketch_table,
    )

    toks = (
        documents.limit(60)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    exact = {r["tok"]: r["count"] for r in _token_counts(documents).collect()}
    for w, d in ((16, 4), (1 << 16, 4)):
        sketch = cms_sketch_table(toks, "tok", d=d, w=w)
        est = {
            r["tok"]: r["cms_count"]
            for r in cms_estimate(
                sketch, toks.select("tok"), "tok", d=d, w=w
            ).collect()
        }
        assert est.keys() == exact.keys()
        # the one-sided CMS guarantee, at any width
        assert all(est[t] >= exact[t] for t in exact)
        if w == 1 << 16:
            # 64k cells vs a few thousand keys: collisions are rare
            # enough that at least 99% of keys estimate exactly
            exact_frac = sum(est[t] == exact[t] for t in exact) / len(exact)
            assert exact_frac >= 0.99, exact_frac


def test_cms_merge_matches_full_rebuild(spark, documents):
    """Incremental contract: sketches of three arbitrary increments
    fold (GROUP BY SUM) into EXACTLY the full-corpus sketch — same
    cells, same counts — so stored increments never drift."""
    from data_toolz_spark.functions.sketches import (
        cms_merge,
        cms_sketch_table,
    )

    toks = (
        documents.limit(60)
        .select(
            F.col("doc_id"),
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    full = {
        (r["row"], r["cell"]): r["count"]
        for r in cms_sketch_table(toks, "tok", d=4, w=64).collect()
    }
    parts = [
        cms_sketch_table(toks.filter(F.pmod("doc_id", F.lit(3)) == i), "tok", d=4, w=64)
        for i in range(3)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    folded = {
        (r["row"], r["cell"]): r["count"] for r in cms_merge(u).collect()
    }
    assert folded == full


def test_cms_portable_hash_matches_python_reference(spark):
    """portable=True cells must equal a pure-Python md5 reference —
    the property that makes the sketch reproducible in ANY engine with
    md5 (this is what the DuckDB oracle relies on)."""
    import hashlib

    from data_toolz_spark.functions.sketches import _cms_cell

    keys = ["the", "quick", "brown", "fox", "zh-字"]
    w, d = 1024, 4
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        (r["k"], r["row"]): r["cell"]
        for row in range(d)
        for r in df.select(
            "k",
            F.lit(row).alias("row"),
            _cms_cell(F.col("k"), row, w, True).alias("cell"),
        ).collect()
    }
    for k in keys:
        for row in range(d):
            h = int(
                hashlib.md5(f"{k}|{row}".encode("utf-8")).hexdigest()[:15], 16
            )
            assert got[(k, row)] == h % w


def test_cms_weighted_build(spark):
    """weight_col: building from pre-aggregated (key, n) rows must
    equal building from the exploded raw occurrences."""
    from data_toolz_spark.functions.sketches import cms_sketch_table

    raw = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    agg = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 1)], "k string, n int"
    )
    s_raw = {
        (r["row"], r["cell"]): r["count"]
        for r in cms_sketch_table(raw, "k", d=3, w=32).collect()
    }
    s_agg = {
        (r["row"], r["cell"]): r["count"]
        for r in cms_sketch_table(agg, "k", d=3, w=32, weight_col="n").collect()
    }
    assert s_raw == s_agg


def test_cms_null_keys_excluded_and_unseen_estimates_zero(spark):
    from data_toolz_spark.functions.sketches import (
        cms_estimate,
        cms_sketch_table,
    )

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",)], "k string"
    )
    sketch = cms_sketch_table(df, "k", d=4, w=1024)
    probe = spark.createDataFrame(
        [("a",), ("zzz-unseen",), (None,)], "k string"
    )
    est = {
        r["k"]: r["cms_count"]
        for r in cms_estimate(sketch, probe, "k", d=4, w=1024).collect()
    }
    assert est == {"a": 2, "zzz-unseen": 0}


def test_cms_validation():
    from data_toolz_spark.functions.sketches import (
        cms_estimate,
        cms_sketch_table,
    )

    with pytest.raises(ValueError, match="d"):
        cms_sketch_table(None, "k", d=0)
    with pytest.raises(ValueError, match="w"):
        cms_sketch_table(None, "k", w=1)


def test_cms_grouped_build_and_estimate(spark):
    """Grouped sketches: each group's keys estimate against that
    group's own cells — a key frequent in one group must not inflate
    its estimate in another (w wide enough that cross-key collisions
    don't mask the separation)."""
    from data_toolz_spark.functions.sketches import (
        cms_estimate,
        cms_sketch_table,
    )

    df = spark.createDataFrame(
        [("en", "a")] * 7 + [("en", "b")] * 2 + [("de", "a")] * 3,
        "lang string, k string",
    )
    sketch = cms_sketch_table(df, "k", ["lang"], d=4, w=4096)
    est = {
        (r["lang"], r["k"]): r["cms_count"]
        for r in cms_estimate(
            sketch,
            df.select("lang", "k"),
            "k",
            d=4,
            w=4096,
            group_cols=["lang"],
        ).collect()
    }
    assert est == {("en", "a"): 7, ("en", "b"): 2, ("de", "a"): 3}


# ---------------------------------------------------------------------------
# Dyadic quantile sketch (dcs_*)
# ---------------------------------------------------------------------------


def _dcs_rows(sketch_df):
    return {
        (r["level"], r["row"], r["cell"], r["count"])
        for r in sketch_df.collect()
    }


def test_dcs_rank_never_underestimates_and_exact_when_wide(spark):
    """CMS inheritance, summed over ≤ bits dyadic nodes: every rank
    estimate ≥ the true rank, and with w ≫ live keys per level there
    are no collisions, so ranks — and therefore quantiles — are EXACT."""
    from data_toolz_spark.functions.sketches import (
        dcs_quantiles,
        dcs_rank_leq,
        dcs_sketch_table,
    )

    vals = list(range(100))  # 0..99 once each
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = dcs_sketch_table(df, "v", bits=7, d=2, w=4096)
    probes = spark.createDataFrame(
        [(x,) for x in (0, 1, 49, 63, 99, 127)], "v long"
    )
    got = {
        r["v"]: r["dcs_rank_leq"]
        for r in dcs_rank_leq(sk, probes, "v", bits=7, d=2, w=4096).collect()
    }
    true = {x: sum(1 for v in vals if v <= x) for x in got}
    assert got == true, (got, true)

    q = dcs_quantiles(sk, [0.25, 0.5, 0.9, 1.0], bits=7, d=2, w=4096)
    got_q = {r["q"]: r["value"] for r in q.collect()}
    # smallest x with rank(≤x) ≥ ceil(q·100)
    assert got_q == {0.25: 24, 0.5: 49, 0.9: 89, 1.0: 99}, got_q


def test_dcs_rank_overshoot_bounded_when_narrow(spark):
    """A deliberately narrow sketch (w=64) over 5k uniform values:
    estimates stay ≥ true and within the bits·(e/w)·N analytic bound."""
    import math

    from data_toolz_spark.functions.sketches import (
        dcs_rank_leq,
        dcs_sketch_table,
    )

    n, bits, w, d = 5000, 10, 64, 4
    vals = [(i * 2654435761) % 1024 for i in range(n)]  # uniform-ish
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = dcs_sketch_table(df, "v", bits=bits, d=d, w=w)
    probes = spark.createDataFrame(
        [(x,) for x in (100, 400, 700, 1023)], "v long"
    )
    got = {
        r["v"]: r["dcs_rank_leq"]
        for r in dcs_rank_leq(
            sk, probes, "v", bits=bits, d=d, w=w
        ).collect()
    }
    bound = bits * (math.e / w) * n
    for x, est in got.items():
        true = sum(1 for v in vals if v <= x)
        assert est >= true, (x, est, true)
        assert est <= true + bound, (x, est, true, bound)


def test_dcs_merge_order_invariance_is_exact(spark):
    """The reason this construction was chosen over KLL: sketch state
    is a pure SUM, so ANY split/merge grouping of the same data yields
    the IDENTICAL sketch rows — not just close estimates — and the
    merged sketch equals a one-shot rebuild bit-for-bit."""
    from data_toolz_spark.functions.sketches import (
        dcs_merge,
        dcs_sketch_table,
    )

    vals = [(i * 7 + 3) % 256 for i in range(999)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    full = dcs_sketch_table(df, "v", bits=8, d=3, w=128)

    parts3 = [
        dcs_sketch_table(
            df.filter(F.col("v") % 3 == i), "v", bits=8, d=3, w=128
        )
        for i in range(3)
    ]
    parts2 = [
        dcs_sketch_table(
            df.filter(F.col("v") % 2 == i), "v", bits=8, d=3, w=128
        )
        for i in range(2)
    ]
    m3 = dcs_merge(parts3[2].unionByName(parts3[0]).unionByName(parts3[1]))
    m2 = dcs_merge(parts2[1].unionByName(parts2[0]))
    assert _dcs_rows(m3) == _dcs_rows(full)
    assert _dcs_rows(m2) == _dcs_rows(full)


def test_dcs_portable_matches_python_reference_and_quantiles(spark):
    """portable=True cells derive from md5 exactly like the CMS row —
    verified against a pure-Python md5 twin — and the portable
    quantile walk agrees with the relational rank definition."""
    import hashlib

    from data_toolz_spark.functions.sketches import (
        dcs_quantiles,
        dcs_sketch_table,
        dcs_total,
    )

    vals = [1, 1, 2, 3, 5, 8, 13, 21, 34, 55]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    bits, d, w = 6, 2, 512
    sk = dcs_sketch_table(df, "v", bits=bits, d=d, w=w, portable=True)
    rows = sk.collect()

    def py_cell(prefix, level, r):
        return (
            int(
                hashlib.md5(
                    f"{prefix}@{level}|{r}".encode()
                ).hexdigest()[:15],
                16,
            )
            % w
        )

    # rebuild the expected sketch in pure python
    from collections import Counter

    expect = Counter()
    for v in vals:
        for level in range(bits + 1):
            for r in range(d):
                expect[(level, r, py_cell(v >> level, level, r))] += 1
    got = {
        (r["level"], r["row"], r["cell"]): r["count"] for r in rows
    }
    assert got == dict(expect)

    total = dcs_total(sk, bits=bits).collect()[0]["dcs_total"]
    assert total == len(vals)
    q = dcs_quantiles(sk, [0.5], bits=bits, d=d, w=w, portable=True)
    # ceil(0.5·10)=5 → smallest x with rank ≥ 5 is 5 (ranks: 1→2,2→3,
    # 3→4,5→5)
    assert q.collect()[0]["value"] == 5


def test_dcs_weighted_equals_per_row_and_grouped(spark):
    """weight_col pre-aggregation builds the IDENTICAL sketch (additive
    increments — the same contract as the CMS weight_col), and grouped
    builds answer grouped quantiles."""
    from data_toolz_spark.functions.sketches import (
        dcs_quantiles,
        dcs_sketch_table,
    )

    rows = [("a", v) for v in (1, 1, 1, 2, 9)] + [
        ("b", v) for v in (4, 4, 6)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    per_row = dcs_sketch_table(
        df, "v", ["g"], bits=4, d=2, w=256, portable=True
    )
    agg = df.groupBy("g", "v").agg(F.count("*").alias("n"))
    weighted = dcs_sketch_table(
        agg, "v", ["g"], bits=4, d=2, w=256, portable=True,
        weight_col="n",
    )
    a = {
        (r["g"], r["level"], r["row"], r["cell"], r["count"])
        for r in per_row.collect()
    }
    b = {
        (r["g"], r["level"], r["row"], r["cell"], r["count"])
        for r in weighted.collect()
    }
    assert a == b

    q = dcs_quantiles(
        per_row, [0.5], bits=4, d=2, w=256, portable=True,
        group_cols=["g"],
    )
    got = {(r["g"], r["q"]): r["value"] for r in q.collect()}
    assert got == {("a", 0.5): 1, ("b", 0.5): 4}, got


def test_dcs_domain_and_validation(spark):
    """NULL and out-of-domain values are excluded from build and rank
    probes (documented contract); parameter validation raises."""
    import pytest as _pytest

    from data_toolz_spark.functions.sketches import (
        dcs_rank_leq,
        dcs_sketch_table,
        dcs_total,
    )

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (-5,), (1 << 40,)], "v long"
    )
    sk = dcs_sketch_table(df, "v", bits=4, d=2, w=64)
    assert dcs_total(sk, bits=4).collect()[0]["dcs_total"] == 2
    probes = spark.createDataFrame([(2,), (None,), (99,)], "v long")
    got = dcs_rank_leq(sk, probes, "v", bits=4, d=2, w=64).collect()
    assert {r["v"] for r in got} == {2}

    with _pytest.raises(ValueError, match="bits"):
        dcs_sketch_table(df, "v", bits=0)
    with _pytest.raises(ValueError, match="d \\(hash rows\\)"):
        dcs_sketch_table(df, "v", bits=4, d=0)


# ---------------------------------------------------------------------------
# Bloom filter — membership state
# ---------------------------------------------------------------------------


def _bloom_mods():
    from data_toolz_spark.functions.sketches import (
        bloom_filter_column,
        bloom_maybe_contains,
        bloom_merge,
        bloom_sketch_table,
    )

    return (
        bloom_sketch_table,
        bloom_merge,
        bloom_maybe_contains,
        bloom_filter_column,
    )


def test_bloom_no_false_negatives_both_hashes(spark):
    """Every inserted key must test 'maybe' — the structural guarantee,
    for both the JVM xxhash64 and the portable md5 position hash."""
    build, _, contains, _ = _bloom_mods()
    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(300)], "k string"
    )
    for portable in (False, True):
        sk = build(keys, "k", k=4, m=4096, portable=portable)
        got = contains(sk, keys, "k", k=4, m=4096, portable=portable)
        assert got.filter(~F.col("bloom_maybe")).count() == 0
        assert got.count() == 300


def test_bloom_absent_is_certain_and_fp_rate_sane(spark):
    """'false' verdicts are never wrong; at m=10n the false-positive
    rate over a disjoint probe set stays far under 10 %."""
    build, _, contains, _ = _bloom_mods()
    inserted = spark.createDataFrame(
        [(f"in-{i}",) for i in range(400)], "k string"
    )
    probes = spark.createDataFrame(
        [(f"out-{i}",) for i in range(400)], "k string"
    )
    sk = build(inserted, "k", k=5, m=4096, portable=True)
    got = contains(sk, probes, "k", k=5, m=4096, portable=True)
    fp = got.filter(F.col("bloom_maybe")).count()
    assert fp < 40  # expected ~1-2 % at these parameters


def test_bloom_merge_idempotent_and_matches_full_rebuild(spark):
    """BIT_OR state: merging part-filters (in any grouping, with
    replays) equals the one-shot filter over the union — bitwise OR is
    associative, commutative, AND idempotent."""
    build, merge, _, _ = _bloom_mods()
    a = spark.createDataFrame([(f"a-{i}",) for i in range(150)], "k string")
    b = spark.createDataFrame([(f"b-{i}",) for i in range(150)], "k string")
    full = build(a.union(b), "k", k=4, m=2048, portable=True)
    ska, skb = (build(d, "k", k=4, m=2048, portable=True) for d in (a, b))
    merged = merge(ska.union(skb).union(skb))  # skb folded TWICE
    assert {
        (r["word"], r["mask"]) for r in full.collect()
    } == {(r["word"], r["mask"]) for r in merged.collect()}


def test_bloom_row_level_column_matches_set_variant(spark):
    """bloom_filter_column (k broadcast joins, no regroup) gives the
    same verdict per key as bloom_maybe_contains; NULL keys get NULL;
    scratch columns do not leak; the probe side never shuffles."""
    build, _, contains, row_col = _bloom_mods()
    inserted = spark.createDataFrame(
        [(f"in-{i}",) for i in range(100)], "k string"
    )
    sk = build(inserted, "k", k=3, m=1024, portable=True)
    probes = spark.createDataFrame(
        [(1, "in-5"), (2, "definitely-not-here-xyz"), (3, None)],
        "id int, k string",
    )
    flagged = row_col(probes, "k", sk, k=3, m=1024, portable=True)
    assert set(flagged.columns) == {"id", "k", "bloom_maybe"}
    rows = {r["id"]: r["bloom_maybe"] for r in flagged.collect()}
    assert rows[1] is True
    assert rows[3] is None
    ref = {
        r["k"]: r["bloom_maybe"]
        for r in contains(
            sk, probes, "k", k=3, m=1024, portable=True
        ).collect()
    }
    assert rows[2] == ref["definitely-not-here-xyz"]
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # one per hash probe (AQE prints initial + final plan, so ≥)
    assert plan.count("BroadcastHashJoin") >= 3
    # the filter BUILD may exchange its (tiny) word rows; the PROBE
    # side must never shuffle — no hash partitioning on its columns
    import re as _re

    assert not _re.search(r"Exchange hashpartitioning\([^)]*\b(k|id)#", plan)


def test_bloom_validation():
    import pytest as _pytest

    from data_toolz_spark.functions.sketches import bloom_sketch_table

    with _pytest.raises(ValueError, match="k \\(hash probes\\)"):
        bloom_sketch_table(None, "k", k=0)
    with _pytest.raises(ValueError, match="m \\(bits\\)"):
        bloom_sketch_table(None, "k", m=32)


def test_novel_documents_bloom_split_matches_plain(spark, documents):
    """novel_documents(bloom=…) returns exactly the unfiltered answer
    (no false negatives → the split is result-invariant)."""
    import tempfile

    from data_toolz_spark.operators.incremental import (
        build_fingerprint_catalog,
        catalog_bloom,
        novel_documents,
    )

    table = "dtz_test_bloom_catalog"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = tempfile.mkdtemp(prefix="dtz_bloomcat_") + "/catalog"
    history = documents.filter(F.col("doc_id") % 2 == 0)
    increment = documents.filter(F.col("doc_id") % 2 == 1)
    build_fingerprint_catalog(history, table, n_buckets=4, path=path)
    plain = novel_documents(spark, increment, table)
    bloom = catalog_bloom(spark, table, m=1024, k=3, portable=True)
    split = novel_documents(
        spark, increment, table,
        bloom=bloom, bloom_m=1024, bloom_k=3, bloom_portable=True,
    )
    assert {r["doc_id"] for r in plain.select("doc_id").collect()} == {
        r["doc_id"] for r in split.select("doc_id").collect()
    }


def test_bloom_filter_column_folds_unmerged_sketch_rows(spark):
    """r10 (ADVICE): duplicate word rows (several increments' bloom
    tables unioned without bloom_merge) must not multiply probe rows —
    the merge now happens inside both probe variants."""
    build, _, contains, row_col = _bloom_mods()
    inserted = spark.createDataFrame(
        [(f"in-{i}",) for i in range(100)], "k string"
    )
    sk = build(inserted, "k", k=3, m=1024, portable=True)
    unmerged = sk.union(sk).union(sk)  # three replays of the same rows
    probes = spark.createDataFrame(
        [(i, f"in-{i}") for i in range(50)], "id int, k string"
    )
    flagged = row_col(probes, "k", unmerged, k=3, m=1024, portable=True)
    assert flagged.count() == 50
    assert flagged.filter(~F.col("bloom_maybe")).count() == 0
    got = contains(unmerged, probes, "k", k=3, m=1024, portable=True)
    assert got.count() == 50
    assert got.filter(~F.col("bloom_maybe")).count() == 0


def test_novel_documents_bloom_null_text_matches_plain(spark):
    """r10 (ADVICE): NULL-text rows have NULL fingerprints — the plain
    anti-join returns them as novel (NULL never equi-matches), so the
    bloom split must route its NULL verdicts into the novel branch,
    not silently drop them between the two filters."""
    import tempfile

    from data_toolz_spark.operators.incremental import (
        build_fingerprint_catalog,
        catalog_bloom,
        novel_documents,
    )

    table = "dtz_test_bloom_null_catalog"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = tempfile.mkdtemp(prefix="dtz_bloomnull_") + "/catalog"
    history = spark.createDataFrame(
        [(1, "seen before")], "doc_id long, text string"
    )
    build_fingerprint_catalog(history, table, n_buckets=2, path=path)
    increment = spark.createDataFrame(
        [(101, None), (102, "brand new"), (103, "seen before")],
        "doc_id long, text string",
    )
    bloom = catalog_bloom(spark, table, m=1024, k=3, portable=True)
    plain = novel_documents(spark, increment, table)
    split = novel_documents(
        spark, increment, table,
        bloom=bloom, bloom_m=1024, bloom_k=3, bloom_portable=True,
    )
    want = {r["doc_id"] for r in plain.select("doc_id").collect()}
    assert 101 in want  # NULL text is novel under the plain path
    assert want == {
        r["doc_id"] for r in split.select("doc_id").collect()
    }

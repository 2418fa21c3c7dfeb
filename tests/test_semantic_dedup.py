"""semantic_dedup: equivalence to the exact blocked path at one
cluster, keep-policy semantics, determinism, and validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_toolz_spark.operators.dedup import near_duplicate_drop_list
from data_toolz_spark.operators.similarity import (
    cosine_near_duplicates,
    semantic_dedup,
)


def test_single_cell_equals_exact_blocked_path(spark, embeddings):
    """With one cluster every pair is compared, so the drop set must
    equal exact-pairs → connected-components → keep-min-id."""
    pairs = cosine_near_duplicates(
        embeddings.withColumn("b", F.lit(1)),
        id_col="vec_id",
        threshold=0.4,
        block_cols=["b"],
    )
    expected = {
        r["drop_id"]
        for r in near_duplicate_drop_list(pairs).collect()
    }
    assert expected  # testdata must actually contain near-dups
    got = semantic_dedup(
        embeddings,
        id_col="vec_id",
        threshold=0.4,
        n_centroids=1,
    )
    assert {r["drop_id"] for r in got.collect()} == expected
    # rep_id is always a kept (never dropped) member
    reps = {r["rep_id"] for r in got.collect()}
    assert not (reps & expected)


def test_layout_invariance_and_determinism(spark, embeddings):
    a = semantic_dedup(
        embeddings, id_col="vec_id", threshold=0.4, n_centroids=4
    ).collect()
    b = semantic_dedup(
        embeddings.repartition(17),
        id_col="vec_id",
        threshold=0.4,
        n_centroids=4,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_more_cells_never_add_drops(spark, embeddings):
    """Clustering only SPLITS comparison scope: the 4-cell drop set
    must be a subset of the single-cell (exhaustive) one."""
    full = {
        r["drop_id"]
        for r in semantic_dedup(
            embeddings, id_col="vec_id", threshold=0.4, n_centroids=1
        ).collect()
    }
    clustered = {
        r["drop_id"]
        for r in semantic_dedup(
            embeddings, id_col="vec_id", threshold=0.4, n_centroids=4
        ).collect()
    }
    assert clustered <= full


def test_centroid_far_policy(spark):
    """Three near-identical vectors + the cluster shaped so vec 3 is
    least centroid-similar: centroid_far must keep 3, min_id keeps 1."""
    rows = [
        (1, [1.0, 0.02] + [0.0] * 62),
        (2, [1.0, 0.01] + [0.0] * 62),
        (3, [1.0, -0.30] + [0.0] * 62),
        # far-away mass pulls the centroid toward +y
        (4, [0.2, 1.0] + [0.0] * 62),
        (5, [0.3, 1.0] + [0.0] * 62),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(id_col="vec_id", threshold=0.95, n_centroids=1)
    # dup groups: {1,2,3} and {4,5} (cos(4,5) ≈ 0.996)
    far = {
        r["drop_id"]: r["rep_id"]
        for r in semantic_dedup(df, keep="centroid_far", **kw).collect()
    }
    # centroid is +y-pulled: 3 is least central in {1,2,3}, 4 in {4,5}
    assert far == {1: 3, 2: 3, 5: 4}
    byid = {
        r["drop_id"]: r["rep_id"]
        for r in semantic_dedup(df, keep="min_id", **kw).collect()
    }
    assert byid == {2: 1, 3: 1, 5: 4}


def test_validation():
    with pytest.raises(ValueError):
        semantic_dedup(None, id_col="x", keep="random")
    with pytest.raises(ValueError):
        semantic_dedup(None, id_col="x", train_sample=0)


def test_single_shuffle_plan(spark, embeddings):
    plan = (
        semantic_dedup(
            embeddings, id_col="vec_id", threshold=0.4, n_centroids=4
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one exchange for the groupBy(cell); no sort-merge join, no
    # corpus-wide sort
    assert plan.count("Exchange") <= 2  # hashpartition (+AQE read)
    assert "SortMergeJoin" not in plan


def test_string_ids_preserved(spark, embeddings):
    """String ids must flow through with their OWN type (lexicographic
    min-id keep), never a silent/failing cast to long."""
    tagged = embeddings.select(
        F.concat(F.lit("doc-"), F.format_string("%05d", "vec_id")).alias(
            "sid"
        ),
        "embedding",
    )
    got = semantic_dedup(
        tagged, id_col="sid", threshold=0.4, n_centroids=1
    )
    assert dict(got.dtypes)["drop_id"] == "string"
    rows = got.collect()
    assert rows  # testdata has near-dups
    # zero-padded string order == numeric order, so the drop set must
    # mirror the numeric-id run exactly
    num = {
        r["drop_id"]
        for r in semantic_dedup(
            embeddings, id_col="vec_id", threshold=0.4, n_centroids=1
        ).collect()
    }
    assert {int(r["drop_id"][4:]) for r in rows} == num


def test_unorderable_id_type_raises(spark, embeddings):
    import pytest

    bad = embeddings.select(
        F.array("vec_id").alias("aid"), "embedding"
    )
    with pytest.raises(ValueError, match="integer or string"):
        semantic_dedup(bad, id_col="aid", threshold=0.4, n_centroids=1)

"""Round-2 scale paths: connected components, band/LSH blocking.

Each scale-path operator is checked against its brute-force twin on
real test data — same contract the DuckDB oracle enforces at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_toolz_spark.operators import dedup as dedupmod
from data_toolz_spark.operators.dedup import (
    connected_components,
    near_duplicate_drop_list,
    simhash32,
    simhash64,
    simhash_band_pairs,
    simhash_near_duplicates,
)
from data_toolz_spark.operators.similarity import (
    cosine_near_duplicates,
    cosine_near_duplicates_lsh,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _cc_map(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus separate pair 10-11: two components
    cc = _cc_map(
        connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]))
    )
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_merge(spark):
    # (1,3),(2,3): 1 and 2 only connected THROUGH 3 — the case greedy
    # drop-id_b gets wrong (it would keep both 1 and 2)
    cc = _cc_map(connected_components(_pairs(spark, [(1, 3), (2, 3)])))
    assert cc == {1: 1, 2: 1, 3: 1}


def test_connected_components_deep_chain(spark):
    # long path exercises multiple large-star/small-star rounds
    edges = [(i, i + 1) for i in range(30)]
    cc = _cc_map(connected_components(_pairs(spark, edges)))
    assert set(cc.values()) == {0}
    assert len(cc) == 31


def test_connected_components_local_vs_distributed_parity(
    spark, monkeypatch
):
    # r12: small edge lists take a driver-side union-find fast path;
    # _LOCAL_CC_CAP = 0 forces the distributed star loop on the same
    # input — both must yield the identical (id, component) map.
    # Covers chains (multi-round contraction), a separate component,
    # self-pairs (isolated nodes), and negative ids (fingerprint
    # graphs are xxhash64 values).
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(40)]          # chain
    edges += [(100, 103), (101, 103), (102, 101)]    # star merge
    edges += [(-8, -3), (-3, 5000)]                  # negative ids
    edges += [(777, 777), (-99, -99)]                # isolated selfs
    edges += [
        (rng.randrange(2000, 2050), rng.randrange(2000, 2050))
        for _ in range(60)
    ]
    pairs = _pairs(spark, edges)
    local = _cc_map(connected_components(pairs))
    monkeypatch.setattr(dedupmod, "_LOCAL_CC_CAP", 0)
    dist = _cc_map(connected_components(pairs))
    assert local == dist
    assert local[777] == 777 and local[-99] == -99


def test_drop_list_is_transitive_closure(spark):
    # chain 1~3, 2~3: dropping every id_b would drop only 3; the
    # closure keeps only the component minimum 1
    pairs = _pairs(spark, [(1, 3), (2, 3)])
    dropped = {
        r["drop_id"] for r in near_duplicate_drop_list(pairs).collect()
    }
    assert dropped == {2, 3}


def test_simhash_band_pairs_equal_bruteforce(spark, documents):
    sample = documents.limit(120).cache()
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_duplicates(
            sample, "doc_id", "text", max_hamming=2, block_cols=["lang"]
        ).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(
            sample, "doc_id", "text", max_hamming=2
        ).collect()
    }
    # band blocking is EXACT (pigeonhole) and unblocked, so it must be a
    # superset of the lang-blocked brute force with identical distances
    for key, ham in brute.items():
        assert banded[key] == ham
    # and every banded pair must verify against a direct recompute
    sh = {
        r["doc_id"]: r["s"]
        for r in sample.select("doc_id", simhash32("text").alias("s")).collect()
    }
    for (ia, ib), ham in banded.items():
        assert bin(sh[ia] ^ sh[ib]).count("1") == ham <= 2


def test_simhash_band_pairs_rejects_lossy_blocks(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_band_pairs(df, "doc_id", "text", max_hamming=3, n_blocks=2)


def test_simhash_band_pairs_rejects_zero_width_blocks(spark):
    # n_blocks > bits would make every block width 0 / value 0 — all
    # docs collide and the join silently degrades to O(n²)
    import pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_blocks must be <= bits"):
        simhash_band_pairs(df, "doc_id", "text", max_hamming=40, bits=32)


def test_simhash64_band_pairs_equal_bruteforce(spark, documents):
    # 64-bit scale fingerprint, both token-hash variants, vs a direct
    # xor/bit_count self-join on the same fingerprints; max_hamming=0
    # is the single 64-bit-wide block (all-ones mask)
    sample = documents.limit(120).cache()
    for portable in (True, False):
        fp = sample.select(
            F.col("doc_id").alias("id"),
            simhash64("text", portable_hash=portable).alias("sh"),
        )
        a, b = fp.alias("a"), fp.alias("b")
        for max_hamming in (3, 0):
            brute = {
                (r["id_a"], r["id_b"]): r["hamming"]
                for r in a.join(b, F.col("a.id") < F.col("b.id"))
                .select(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.bit_count(
                        F.col("a.sh").bitwiseXOR(F.col("b.sh"))
                    ).alias("hamming"),
                )
                .filter(F.col("hamming") <= max_hamming)
                .collect()
            }
            banded = {
                (r["id_a"], r["id_b"]): r["hamming"]
                for r in simhash_band_pairs(
                    sample,
                    "doc_id",
                    "text",
                    max_hamming=max_hamming,
                    bits=64,
                    portable_hash=portable,
                ).collect()
            }
            assert banded == brute


def test_simhash64_vote_sanity(spark):
    # single-token doc: fingerprint == the token's 64-bit hash pattern
    # (every bit vote is that token's bit); empty doc → 0
    df = spark.createDataFrame(
        [(1, "hello"), (2, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", simhash64("text", portable_hash=True).alias("sh")
        ).collect()
    }
    import hashlib

    h = int(hashlib.md5(b"hello").hexdigest()[:16], 16)
    if h >= 1 << 63:
        h -= 1 << 64
    assert got[1] == h
    assert got[2] == 0


def test_connected_components_raises_on_iteration_exhaustion(
    spark, monkeypatch
):
    import pytest

    edges = [(i, i + 1) for i in range(30)]
    # _LOCAL_CC_CAP = 0: the exhaustion guard lives in the distributed
    # star loop; the r12 local fast path always converges in one pass
    monkeypatch.setattr(dedupmod, "_LOCAL_CC_CAP", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs(spark, edges), max_iterations=1)


def test_cosine_lsh_equal_bruteforce(spark, embeddings):
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_duplicates(
            embeddings.withColumn("__b", F.lit(1)),
            id_col="vec_id",
            threshold=0.4,
            block_cols=["__b"],
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_duplicates_lsh(
            embeddings,
            id_col="vec_id",
            threshold=0.4,
            dim=64,
            n_bits=4,
            n_tables=64,
        ).collect()
    }
    # verify stage makes precision exactly 1.0; OR-amplified tables give
    # recall 1.0 on this corpus (deterministic seeded hyperplanes)
    assert lsh == brute
    assert len(brute) > 0


def test_cosine_lsh_scale_config_finds_planted_pairs(spark):
    """The bench's ``x_dedup_embedding_lsh_nbits12`` config (θ = 0.9,
    12-bit signatures, 8 tables) returns exactly the exact join's pairs.

    The bench's ``embeddings`` table has no pair that close, so there
    the entry emits nothing; here pairs at cosine 0.99, 0.98 and 0.97
    are planted among random vectors, with a decoy at 0.85 that the
    verify must drop."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 64
    vecs = [rng.standard_normal(dim) for _ in range(40)]

    def at_cosine(v, cos):
        u = v / np.linalg.norm(v)
        w = rng.standard_normal(dim)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        return cos * u + np.sqrt(1.0 - cos * cos) * w

    planted = {}
    for src, cos in zip((3, 11, 25, 30), (0.99, 0.98, 0.97, 0.85)):
        planted[(src, len(vecs))] = cos
        vecs.append(at_cosine(vecs[src], cos))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_duplicates(
            df, id_col="vec_id", threshold=0.9
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_duplicates_lsh(
            df, id_col="vec_id", threshold=0.9,
            dim=dim, n_bits=12, n_tables=8,
        ).collect()
    }
    assert set(exact) == {p for p, c in planted.items() if c >= 0.9}
    assert lsh == exact


def test_ivf_topk_exact_when_probing_all_cells(spark, embeddings):
    # n_probe == n_centroids probes every inverted-file cell, so IVF
    # must return EXACTLY the brute-force top-k (same tie-break)
    from data_toolz_spark.operators.similarity import cosine_topk, ivf_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    ivf = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in ivf_topk(
            q,
            embeddings,
            query_id="vec_id",
            corpus_id="vec_id",
            k=5,
            dim=64,
            n_centroids=8,
            n_probe=8,
        ).collect()
    }
    assert ivf == exact
    assert len(exact) == 15  # 3 queries x k=5


def test_ivf_topk_probe_subset_recall(spark, embeddings):
    # realistic setting (n_probe < n_centroids): every returned row must
    # be genuinely among the exact top-k candidates' scores, k rows per
    # query, and recall should be high on this corpus
    from data_toolz_spark.operators.similarity import cosine_topk, ivf_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    rows = ivf_topk(
        q,
        embeddings,
        query_id="vec_id",
        corpus_id="vec_id",
        k=5,
        dim=64,
        n_centroids=8,
        n_probe=4,
    ).collect()
    got = {(r["query_id"], r["corpus_id"]) for r in rows}
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query_id"], 0)
        per_query[r["query_id"]] += 1
    assert all(n == 5 for n in per_query.values())
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall


def test_ivf_training_sample_unbiased_on_clustered_corpus(spark, embeddings):
    """r3 VERDICT fix: the quantizer trained on ``limit(n)`` — a prefix
    of the first partitions — so a corpus whose physical layout is
    clustered/sorted fed k-means a skewed density.  The hash-ordered
    sample must keep recall pinned even when the corpus arrives sorted
    by a cluster-correlated key and the sample is smaller than the
    corpus (forcing a genuine subsample)."""
    from data_toolz_spark.operators.similarity import cosine_topk, ivf_topk

    # adversarial layout: sort by label (cluster-correlated) into few
    # partitions so any prefix sample would see only one cluster family
    clustered = embeddings.orderBy("label").repartition(1).sortWithinPartitions("label")

    def run(corpus, train_sample):
        rows = ivf_topk(
            embeddings.filter(F.col("vec_id") < 3),
            corpus,
            query_id="vec_id",
            corpus_id="vec_id",
            k=5,
            dim=64,
            n_centroids=8,
            n_probe=4,
            train_sample=train_sample,
        ).collect()
        return {(r["query_id"], r["corpus_id"]) for r in rows}

    # the de-biasing property itself: a hash-ordered sample is a pure
    # function of ids, so physical layout cannot change the quantizer
    # (a prefix limit() gave a different, single-cluster sample here)
    small = 64  # far below |corpus| → genuine subsample
    assert run(clustered, small) == run(embeddings, small)

    # and with a quantizer-sized sample the clustered layout keeps the
    # subset-recall bar of the realistic-config test
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            embeddings.filter(F.col("vec_id") < 3),
            embeddings,
            query_id="vec_id",
            corpus_id="vec_id",
            k=5,
        ).collect()
    }
    got = run(clustered, 100_000)  # >= |corpus|: full-density training
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall


def test_ivf_topk_rejects_falsy_train_sample(spark, embeddings):
    """ADVICE r4 (medium): train_sample=0/None used to collect the
    ENTIRE corpus to the driver — now it raises."""
    import pytest

    from data_toolz_spark.operators.similarity import ivf_topk

    q = embeddings.limit(2)
    for bad in (0, None):
        with pytest.raises(ValueError, match="train_sample"):
            ivf_topk(
                q, embeddings, query_id="vec_id", corpus_id="vec_id",
                k=2, train_sample=bad,
            )


# ---------------------------------------------------------------------------
# IVF-PQ (product-quantized candidates)
# ---------------------------------------------------------------------------


def test_ivfpq_exact_in_degenerate_config(spark, embeddings):
    """PQ's pinned exactness property: with ks >= |distinct
    sub-vectors| and a corpus-covering training sample, every codebook
    converges onto the actual sub-vectors, ADC is the exact inner
    product, and full probing + exact re-rank reproduces brute-force
    top-k bit-for-bit (same rounding, same tie-break)."""
    from data_toolz_spark.operators.similarity import cosine_topk, ivfpq_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    pq = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in ivfpq_topk(
            q,
            embeddings,
            query_id="vec_id",
            corpus_id="vec_id",
            k=5,
            dim=64,
            n_centroids=8,
            n_probe=8,       # probe every cell
            m=8,
            ks=512,          # >= 500 corpus rows -> codebooks cover
            refine=2,
            train_sample=1_000,  # >= corpus -> sample covers
        ).collect()
    }
    assert pq == exact


def test_ivfpq_adc_scores_are_exact_in_degenerate_config(spark, embeddings):
    """refine=0 returns the raw ADC estimate; in the degenerate config
    it must equal the true cosine (unrounded) for every returned pair
    — this pins the LUT gather itself, independent of re-ranking."""
    import numpy as np

    from data_toolz_spark.operators.similarity import ivfpq_topk

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in embeddings.collect()
    }

    def cos(a, b):
        ua, ub = a / np.linalg.norm(a), b / np.linalg.norm(b)
        return float(ua @ ub)

    rows = ivfpq_topk(
        embeddings.filter(F.col("vec_id") < 3),
        embeddings,
        query_id="vec_id",
        corpus_id="vec_id",
        k=5,
        dim=64,
        n_centroids=8,
        n_probe=8,
        m=8,
        ks=512,
        refine=0,
        train_sample=1_000,
    ).collect()
    assert len(rows) == 15  # 3 queries x k=5
    for r in rows:
        true = cos(vecs[r["query_id"]], vecs[r["corpus_id"]])
        assert abs(r["adc_ip"] - true) < 1e-9, (r, true)


def test_ivfpq_probe_subset_recall(spark, embeddings):
    """Realistic lossy config (n_probe < n_centroids, classic PQ8x8:
    eight 256-entry codebooks -> 8 B per corpus vector instead of
    256 B): k rows per query, every returned cosine is the true exact
    cosine (re-rank contract), recall holds the same bar as IVF-Flat.
    Synthetic near-uniform embeddings are PQ's worst case (no low-dim
    structure to exploit), so the 8-bit-per-subspace config is the
    honest floor here."""
    from data_toolz_spark.operators.similarity import cosine_topk, ivfpq_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    rows = ivfpq_topk(
        q,
        embeddings,
        query_id="vec_id",
        corpus_id="vec_id",
        k=5,
        dim=64,
        n_centroids=8,
        n_probe=4,
        m=8,
        ks=256,
        refine=2,
    ).collect()
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert all(n == 5 for n in per_query.values())
    got = {(r["query_id"], r["corpus_id"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall


def test_ivfpq_validation(spark, embeddings):
    import pytest

    from data_toolz_spark.operators.similarity import ivfpq_topk

    q = embeddings.limit(2)
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            dim=64, m=7,
        )
    with pytest.raises(ValueError, match="refine"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            refine=-1,
        )
    with pytest.raises(ValueError, match="train_sample"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            train_sample=0,
        )


def test_pq_codebook_shapes_and_determinism():
    """Driver-side trainer invariants: (m, min(ks, n), dim/m) shape,
    identical output for identical (sample, seed), distinct codebooks
    per subspace (independent derived seeds)."""
    import numpy as np

    from data_toolz_spark.operators.similarity import _train_pq_codebooks

    rng = np.random.RandomState(7)
    sample = rng.randn(100, 16)
    a = _train_pq_codebooks(sample, 4, 8, seed=42, max_iter=5)
    b = _train_pq_codebooks(sample, 4, 8, seed=42, max_iter=5)
    assert a.shape == (4, 8, 4)
    assert np.array_equal(a, b)
    assert not np.array_equal(a[0], a[1])
    big = _train_pq_codebooks(sample, 4, 256, seed=42, max_iter=5)
    assert big.shape[1] == 100  # ks' = min(ks, n)


def test_ivfpq_nan_corpus_vector_excluded(spark, embeddings):
    """Review r7: Spark SQL's NaN != 0.0 is TRUE, so a NaN-bearing
    vector passes the raw non-zero prefilter; the driver-side sample
    normalization must drop it (mirroring the unitize UDF's norm>0
    semantics) instead of crashing k-means++ with NaN probabilities —
    and the NaN row must not appear in results."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.similarity import ivfpq_topk

    bad = spark.createDataFrame(
        [(999_999, [float("nan")] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = embeddings.unionByName(bad)
    rows = ivfpq_topk(
        embeddings.filter(F.col("vec_id") < 2), corpus,
        query_id="vec_id", corpus_id="vec_id",
        k=5, dim=64, n_centroids=4, n_probe=4, m=8, ks=64, refine=2,
    ).collect()
    assert len(rows) == 10
    assert all(r["corpus_id"] != 999_999 for r in rows)


def test_ivfpq_m_zero_raises_value_error(spark, embeddings):
    import pytest

    from data_toolz_spark.operators.similarity import ivfpq_topk

    with pytest.raises(ValueError, match="m must be >= 1"):
        ivfpq_topk(
            embeddings.limit(2), embeddings,
            query_id="vec_id", corpus_id="vec_id", dim=64, m=0,
        )


def test_ivfpq_by_residual_exact_in_degenerate_config(spark, embeddings):
    """by_residual=True preserves the pinned exactness property: with a
    corpus-covering sample and ks >= |corpus|, residual codebooks
    converge onto the actual residuals, ADC's ``q·c_cell + LUT`` sum is
    the exact inner product, and full probe + re-rank reproduces
    brute-force top-k bit-for-bit (vectors in different cells may share
    a residual code — the added-back cell term keeps their scores
    distinct, which is exactly what this pins)."""
    from data_toolz_spark.operators.similarity import cosine_topk, ivfpq_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    pq = {
        (r["query_id"], r["corpus_id"], r["cosine"])
        for r in ivfpq_topk(
            q, embeddings,
            query_id="vec_id", corpus_id="vec_id",
            k=5, dim=64, n_centroids=8, n_probe=8,
            m=8, ks=512, refine=2, train_sample=1_000,
            by_residual=True,
        ).collect()
    }
    assert pq == exact


def test_ivfpq_by_residual_adc_scores_exact_in_degenerate_config(
    spark, embeddings
):
    """refine=0 + by_residual: the raw ADC estimate must equal the true
    cosine — this pins the ``q·c_cell`` term's row lookup (a wrong cell
    index or a stale sims matrix would shift every score)."""
    import numpy as np

    from data_toolz_spark.operators.similarity import ivfpq_topk

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in embeddings.collect()
    }

    def cos(a, b):
        ua, ub = a / np.linalg.norm(a), b / np.linalg.norm(b)
        return float(ua @ ub)

    rows = ivfpq_topk(
        embeddings.filter(F.col("vec_id") < 3), embeddings,
        query_id="vec_id", corpus_id="vec_id",
        k=5, dim=64, n_centroids=8, n_probe=8,
        m=8, ks=512, refine=0, train_sample=1_000,
        by_residual=True,
    ).collect()
    assert len(rows) == 15
    for r in rows:
        true = cos(vecs[r["query_id"]], vecs[r["corpus_id"]])
        assert abs(r["adc_ip"] - true) < 1e-9, (r, true)


def test_ivfpq_by_residual_lossy_recall_and_rerank_contract(
    spark, embeddings
):
    """Lossy by-residual config: k rows per query and the same recall
    bar as the non-residual path (synthetic near-uniform embeddings are
    PQ's worst case either way; the clustered-corpus gain is measured
    in tools/pq_probe.py, not asserted here)."""
    from data_toolz_spark.operators.similarity import cosine_topk, ivfpq_topk

    q = embeddings.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id", k=5
        ).collect()
    }
    rows = ivfpq_topk(
        q, embeddings,
        query_id="vec_id", corpus_id="vec_id",
        k=5, dim=64, n_centroids=8, n_probe=4,
        m=8, ks=256, refine=2, by_residual=True,
    ).collect()
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert all(n == 5 for n in per_query.values())
    got = {(r["query_id"], r["corpus_id"]) for r in rows}
    assert len(got & exact) / len(exact) >= 0.6


def test_ivfpq_injected_model_bit_equal_to_self_trained(spark, embeddings):
    """train_ivfpq_model + centers=/codebooks= injection reproduces the
    self-training call bit-for-bit (same sample path, same k-means) —
    the VERDICT r7 item-5 contract that lets repeated batch calls skip
    per-call training; checked in both residual modes."""
    from data_toolz_spark.operators.similarity import (
        ivfpq_topk,
        train_ivfpq_model,
    )

    q = embeddings.filter(F.col("vec_id") < 3)
    for by_res in (False, True):
        cfg = dict(
            query_id="vec_id", corpus_id="vec_id",
            k=5, dim=64, n_centroids=8, n_probe=4,
            m=8, ks=64, refine=2, by_residual=by_res,
        )
        self_trained = {
            tuple(r) for r in ivfpq_topk(q, embeddings, **cfg).collect()
        }
        centers, codebooks = train_ivfpq_model(
            embeddings, corpus_id="vec_id", dim=64,
            n_centroids=8, m=8, ks=64, by_residual=by_res,
        )
        injected = {
            tuple(r)
            for r in ivfpq_topk(
                q, embeddings, centers=centers, codebooks=codebooks, **cfg
            ).collect()
        }
        assert injected == self_trained, by_res


def test_ivfpq_injection_validation(spark, embeddings):
    import numpy as np
    import pytest

    from data_toolz_spark.operators.similarity import ivfpq_topk

    q = embeddings.limit(2)
    with pytest.raises(ValueError, match="together"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            centers=np.zeros((4, 64)),
        )
    with pytest.raises(ValueError, match="centers must be"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            dim=64, m=8,
            centers=np.zeros((4, 32)), codebooks=np.zeros((8, 16, 8)),
        )
    with pytest.raises(ValueError, match="codebooks must be"):
        ivfpq_topk(
            q, embeddings, query_id="vec_id", corpus_id="vec_id",
            dim=64, m=8,
            centers=np.zeros((4, 64)), codebooks=np.zeros((4, 16, 8)),
        )


def test_ivf_topk_injected_centers_bit_equal(spark, embeddings):
    """ivf_topk with injected centers (from train_ivfpq_model) equals
    the self-trained call — the coarse quantizer is the shared half of
    the model."""
    from data_toolz_spark.operators.similarity import (
        ivf_topk,
        train_ivfpq_model,
    )

    q = embeddings.filter(F.col("vec_id") < 3)
    cfg = dict(
        query_id="vec_id", corpus_id="vec_id",
        k=5, dim=64, n_centroids=8, n_probe=4,
    )
    self_trained = {
        tuple(r) for r in ivf_topk(q, embeddings, **cfg).collect()
    }
    centers, _ = train_ivfpq_model(
        embeddings, corpus_id="vec_id", dim=64, n_centroids=8, m=8, ks=16
    )
    injected = {
        tuple(r)
        for r in ivf_topk(q, embeddings, centers=centers, **cfg).collect()
    }
    assert injected == self_trained


def test_spread_deficit_guard(spark, tmp_path):
    """r13 cost guard: the conditional width-fix round-robin fires only
    when the input covers under ~1/8 of the cores (max(2, cores//8)
    files); at or above that the one-pass shuffle of the full payload
    cannot be repaid by the <=8x stage-speedup ceiling, so spread() is
    a plan no-op (guide 2.4 -- no repartition "for parallelism")."""
    from data_toolz_spark.operators._util import spread

    target = spark.sparkContext.defaultParallelism
    cutoff = max(2, target // 8)

    wide_dir = str(tmp_path / "wide.parquet")
    spark.range(1000).repartition(cutoff).write.parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    assert len(wide.inputFiles()) >= cutoff
    assert spread(wide) is wide  # no-op: deficit too small to repay

    narrow_dir = str(tmp_path / "narrow.parquet")
    spark.range(1000).coalesce(1).write.parquet(narrow_dir)
    narrow = spark.read.parquet(narrow_dir)
    assert len(narrow.inputFiles()) == 1
    out = spread(narrow)
    assert out is not narrow
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan

"""Incremental dedup catalog: correctness over successive increments +
the no-exchange-on-catalog plan property that makes it scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_toolz_spark.operators.incremental import (
    append_to_catalog,
    build_fingerprint_catalog,
    novel_documents,
)


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "delta epsilon"),
        (3, "alpha beta gamma"),  # dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_over_two_increments(spark, corpus, tmp_path):
    table = "fp_catalog_t1"
    build_fingerprint_catalog(
        corpus, table, n_buckets=4, path=str(tmp_path / "cat")
    )
    # catalog holds DISTINCT content with min-id representative
    cat = {r["fingerprint"]: r["first_id"] for r in spark.table(table).collect()}
    assert len(cat) == 2 and 1 in cat.values() and 2 in cat.values()

    inc1 = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # known content → not novel
            (11, "zeta eta"),           # novel
            (12, "zeta eta"),           # dup-within-increment of 11
            (13, "theta iota"),         # novel
        ],
        "doc_id long, text string",
    )
    novel = novel_documents(spark, inc1, table)
    got = {r["doc_id"] for r in novel.collect()}
    assert got == {11, 13}  # 10 known, 12 collapsed to 11

    append_to_catalog(novel, table)
    # an identical second increment is now fully known
    again = novel_documents(spark, inc1, table)
    assert again.count() == 0
    # but new content still surfaces
    inc2 = spark.createDataFrame(
        [(20, "kappa lambda")], "doc_id long, text string"
    )
    assert novel_documents(spark, inc2, table).count() == 1
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_minhash_equals_batch_on_touching_pairs(
    spark, documents, tmp_path
):
    """The contract: incremental mining over a persisted index returns
    EXACTLY the pairs a batch run over (corpus ∪ increment) emits that
    touch an increment document — same ids, same jaccard values."""
    from data_toolz_spark.operators.dedup import minhash_near_duplicates
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_near_duplicates,
    )

    cut = 400
    old = documents.filter(F.col("doc_id") < cut)
    new = documents.filter(F.col("doc_id") >= cut)
    n_new = new.count()
    assert n_new > 0

    build_minhash_index(
        old, "mhidx_t1", threshold=0.8, n_buckets=8,
        path=str(tmp_path / "idx"),
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_near_duplicates(
            spark, new, "mhidx_t1"
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    batch = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates(
            documents, "doc_id", "text", threshold=0.8
        ).collect()
    }
    expected = {
        p for p in batch if p[0] in new_ids or p[1] in new_ids
    }
    assert got == expected
    assert expected, "test corpus must contain cross-increment near-dups"

    # fold the increment in: a re-run of the same increment now also
    # surfaces increment-internal pairs through the index (as identity
    # content), and the index answers for future increments
    append_to_minhash_index(spark, new, "mhidx_t1")
    again = {
        (r["id_a"], r["id_b"])
        for r in incremental_near_duplicates(
            spark, new, "mhidx_t1"
        ).collect()
    }
    # every previously-found pair is still discoverable via the index
    assert {(a, b) for a, b, _ in expected} <= again
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS mhidx_t1_{t}")


def test_incremental_minhash_index_side_reads_in_place(
    spark, documents, tmp_path
):
    """Scale property: with broadcast off, no Exchange sits above any
    index-table scan — only increment-derived frames shuffle."""
    from data_toolz_spark.operators.incremental import (
        build_minhash_index,
        incremental_near_duplicates,
    )

    build_minhash_index(
        documents.filter(F.col("doc_id") < 100), "mhidx_t2",
        n_buckets=8, path=str(tmp_path / "idx"),
    )
    inc = documents.filter(F.col("doc_id") >= 480)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            incremental_near_duplicates(spark, inc, "mhidx_t2")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    lines = plan.splitlines()
    idx_scans = [
        i for i, l in enumerate(lines) if "FileScan" in l and "mhidx_t2" in l
    ]
    assert idx_scans, plan
    for i in idx_scans:
        above = "\n".join(lines[max(0, i - 4): i])
        assert "Exchange" not in above, above
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS mhidx_t2_{t}")


def test_minhash_append_crash_detected_and_repaired(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 item 4: a job death BETWEEN the index's three table
    writes must be (a) detected — the journal holds a begin with no
    commit, mining refuses the index, validate reports the orphan
    band rows — and (b) recoverable — repair_minhash_index with the
    same increment converges the tables and the repaired index mines
    identically to one that was appended without a crash.  Repair is
    also a no-op on a healthy index (no duplicate members)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_near_duplicates,
        minhash_index_open_txns,
        repair_minhash_index,
        validate_minhash_index,
    )

    for prefix in ("mhidx_crash", "mhidx_crashref"):
        for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
                  "mh_journal"):
            drop_stale_table(spark, f"{prefix}_{t}")

    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # identical to 1
            (11, "one two three four five six eight"),    # near-dup of 2
            (12, "totally different content entirely new"),
        ],
        "doc_id long, text string",
    )
    inc2 = spark.createDataFrame(
        [(20, "totally different content entirely new")],  # identical to 12
        "doc_id long, text string",
    )

    # reference: the same build → append → mine with no crash
    build_minhash_index(
        old, "mhidx_crashref", threshold=0.8, n_buckets=4,
        path=str(tmp_path / "ref"),
    )
    append_to_minhash_index(spark, inc, "mhidx_crashref")
    ref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_near_duplicates(
            spark, inc2, "mhidx_crashref"
        ).collect()
    }
    assert ref, "reference mine must find the identical pair"

    # crash the append between the bands and sets writes
    build_minhash_index(
        old, "mhidx_crash", threshold=0.8, n_buckets=4,
        path=str(tmp_path / "idx"),
    )
    orig = DataFrameWriter.insertInto

    def dying(self, tableName, overwrite=None):
        if str(tableName).startswith("mhidx_crash_") and str(
            tableName
        ).endswith("_mh_sets"):
            raise RuntimeError("simulated job death mid-append")
        if overwrite is None:
            return orig(self, tableName)
        return orig(self, tableName, overwrite)

    monkeypatch.setattr(DataFrameWriter, "insertInto", dying)
    with pytest.raises(RuntimeError, match="simulated job death"):
        append_to_minhash_index(spark, inc, "mhidx_crash")
    monkeypatch.setattr(DataFrameWriter, "insertInto", orig)

    # detection: open txn, structural orphans, mining refuses
    open_txns = minhash_index_open_txns(spark, "mhidx_crash")
    assert len(open_txns) == 1
    report = validate_minhash_index(spark, "mhidx_crash")
    assert not report["consistent"], report
    assert report["bands_orphan_fps"] > 0, report
    with pytest.raises(RuntimeError, match="dirty"):
        incremental_near_duplicates(spark, inc, "mhidx_crash")
    # the escape hatch still mines (documented as possibly partial)
    incremental_near_duplicates(
        spark, inc, "mhidx_crash", allow_dirty=True
    ).count()

    # recovery: idempotent re-append of the SAME increment
    assert repair_minhash_index(spark, inc, "mhidx_crash") == open_txns
    report2 = validate_minhash_index(spark, "mhidx_crash")
    assert report2["consistent"], report2
    assert minhash_index_open_txns(spark, "mhidx_crash") == []
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_near_duplicates(
            spark, inc2, "mhidx_crash"
        ).collect()
    }
    assert got == ref

    # repair on a HEALTHY index writes nothing (no duplicate members)
    n_members = spark.table("mhidx_crashref_mh_members").count()
    assert repair_minhash_index(spark, inc, "mhidx_crashref") == []
    assert spark.table("mhidx_crashref_mh_members").count() == n_members

    for prefix in ("mhidx_crash", "mhidx_crashref"):
        for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
                  "mh_journal"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_incremental_near_dup_no_self_pairs(spark, tmp_path):
    """ADVICE r7: an increment that re-contains an already-indexed id
    must NOT emit (id, id, 1.0) self-pairs — id_a < id_b is strict.
    Exact copies under DIFFERENT ids still pair."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        build_minhash_index,
        incremental_near_duplicates,
    )

    prefix = "mhidx_selfpair"
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
              "mh_journal"):
        drop_stale_table(spark, f"{prefix}_{t}")
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    build_minhash_index(
        seed, prefix, threshold=0.8, n_buckets=4,
        path=str(tmp_path / "sp_idx"),
    )
    # re-deliver the indexed doc (same id) + an exact copy (new id)
    inc = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (9, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    rows = incremental_near_duplicates(spark, inc, prefix).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows), rows
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 9) in got, rows
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
              "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_compact_minhash_journal(spark, tmp_path, monkeypatch):
    """ADVICE r7: the journal grows two rows per append forever; the
    compactor rewrites closed txns away when (and only when) the index
    is clean — a dirty journal is left untouched so the crash record
    can never be destroyed."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_journal,
        minhash_index_open_txns,
    )

    prefix = "mhidx_compact"
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
              "mh_journal"):
        drop_stale_table(spark, f"{prefix}_{t}")
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    build_minhash_index(
        seed, prefix, threshold=0.8, n_buckets=4,
        path=str(tmp_path / "cj_idx"),
    )
    for i in range(3):
        inc = spark.createDataFrame(
            [(100 + i, f"unique content number {i} here today")],
            "doc_id long, text string",
        )
        append_to_minhash_index(spark, inc, prefix)
    jt = f"{prefix}_mh_journal"
    assert spark.table(jt).count() == 6  # 3 × (begin + commit)
    assert compact_minhash_journal(spark, prefix) is True
    assert spark.table(jt).count() == 0
    assert minhash_index_open_txns(spark, prefix) == []

    # dirty journal: crash an append, compaction must refuse
    orig = DataFrameWriter.insertInto

    def dying(self, tableName, overwrite=None):
        if str(tableName).startswith(f"{prefix}_") and str(
            tableName
        ).endswith("_mh_sets"):
            raise RuntimeError("simulated job death mid-append")
        if overwrite is None:
            return orig(self, tableName)
        return orig(self, tableName, overwrite)

    monkeypatch.setattr(DataFrameWriter, "insertInto", dying)
    with pytest.raises(RuntimeError, match="simulated"):
        append_to_minhash_index(
            spark,
            spark.createDataFrame(
                [(200, "more words never indexed before now")],
                "doc_id long, text string",
            ),
            prefix,
        )
    monkeypatch.setattr(DataFrameWriter, "insertInto", orig)
    n_rows = spark.table(jt).count()
    assert n_rows == 1  # the orphan begin
    assert compact_minhash_journal(spark, prefix) is False
    assert spark.table(jt).count() == n_rows  # untouched
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
              "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_minhash_repair_itself_crashing_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 item 7: repair must be idempotent under the SAME
    failure model it fixes — kill the repair between ITS per-table
    re-appends, verify the journal stays open (the half-repair never
    masks the dirt), then run repair again and get a converged index
    that mines identically to the no-crash reference."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_near_duplicates,
        minhash_index_open_txns,
        repair_minhash_index,
        validate_minhash_index,
    )

    for prefix in ("mhidx_rcrash", "mhidx_rcrashref"):
        for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
                  "mh_journal"):
            drop_stale_table(spark, f"{prefix}_{t}")

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "totally different content entirely new"),
        ],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(20, "totally different content entirely new")],
        "doc_id long, text string",
    )

    # no-crash reference
    build_minhash_index(
        old, "mhidx_rcrashref", threshold=0.8, n_buckets=4,
        path=str(tmp_path / "rr_ref"),
    )
    append_to_minhash_index(spark, inc, "mhidx_rcrashref")
    ref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_near_duplicates(
            spark, probe, "mhidx_rcrashref"
        ).collect()
    }
    assert ref

    build_minhash_index(
        old, "mhidx_rcrash", threshold=0.8, n_buckets=4,
        path=str(tmp_path / "rr_idx"),
    )
    orig = DataFrameWriter.insertInto

    def die_on(suffix):
        def dying(self, tableName, overwrite=None):
            if str(tableName).startswith("mhidx_rcrash_") and str(
                tableName
            ).endswith(suffix):
                raise RuntimeError(f"simulated death on {suffix}")
            if overwrite is None:
                return orig(self, tableName)
            return orig(self, tableName, overwrite)

        return dying

    # 1. the APPEND dies between bands and sets
    monkeypatch.setattr(DataFrameWriter, "insertInto", die_on("_mh_sets"))
    with pytest.raises(RuntimeError, match="simulated"):
        append_to_minhash_index(spark, inc, "mhidx_rcrash")
    open_txns = minhash_index_open_txns(spark, "mhidx_rcrash")
    assert len(open_txns) == 1

    # 2. the REPAIR dies between sets and members re-appends
    monkeypatch.setattr(
        DataFrameWriter, "insertInto", die_on("_mh_members")
    )
    with pytest.raises(RuntimeError, match="simulated"):
        repair_minhash_index(spark, inc, "mhidx_rcrash")
    monkeypatch.setattr(DataFrameWriter, "insertInto", orig)

    # the half-repair must NOT have closed the journal or masked dirt
    assert minhash_index_open_txns(spark, "mhidx_rcrash") == open_txns
    assert not validate_minhash_index(spark, "mhidx_rcrash")[
        "consistent"
    ]

    # 3. repair again — now to completion
    assert repair_minhash_index(spark, inc, "mhidx_rcrash") == open_txns
    report = validate_minhash_index(spark, "mhidx_rcrash")
    assert report["consistent"], report
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_near_duplicates(
            spark, probe, "mhidx_rcrash"
        ).collect()
    }
    assert got == ref
    # no duplicate member rows from the double repair
    assert (
        spark.table("mhidx_rcrash_mh_members").count()
        == spark.table("mhidx_rcrashref_mh_members").count()
    )

    for prefix in ("mhidx_rcrash", "mhidx_rcrashref"):
        for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members",
                  "mh_journal"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_minhash_index_rows_are_split_invariant(spark, tmp_path):
    """Build, append and repair take their rows from one function, so an
    index grown by build(A) then append(B) holds exactly the rows of
    build(A ∪ B) — bands, sets and members compared row for row.  A and
    B share fingerprints (docs 2k and 2k+1 below 60 are copies) and
    each has its own, so the append's filters both keep and drop."""
    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
    )

    tables = ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal")
    for prefix in ("mhidx_split", "mhidx_whole"):
        for t in tables:
            drop_stale_table(spark, f"{prefix}_{t}")

    def text(k):
        return " ".join(
            f"w{(k * 13 + j * 7) % 101}" for j in range(10 + k % 5)
        )

    docs = spark.createDataFrame(
        [(i, text(i // 2 if i < 60 else i)) for i in range(120)],
        "doc_id long, text string",
    )
    build_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 0), "mhidx_split",
        n_buckets=4, path=str(tmp_path / "split"),
    )
    append_to_minhash_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), "mhidx_split"
    )
    build_minhash_index(
        docs, "mhidx_whole", n_buckets=4, path=str(tmp_path / "whole")
    )

    def rows(prefix, table):
        return sorted(
            tuple(r) for r in spark.table(f"{prefix}_{table}").collect()
        )

    for table in ("mh_bands", "mh_sets", "mh_members"):
        got = rows("mhidx_split", table)
        assert got, table
        assert got == rows("mhidx_whole", table), table
    parities = {}
    for fp, doc_id in rows("mhidx_whole", "mh_members"):
        parities.setdefault(fp, set()).add(doc_id % 2)
    assert any(p == {0, 1} for p in parities.values()), (
        "the split must share fingerprints across its two halves"
    )
    for prefix in ("mhidx_split", "mhidx_whole"):
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_catalog_side_joins_without_exchange(spark, corpus, tmp_path):
    """The property that makes the pattern scale: the (huge) catalog is
    pre-bucketed, so the anti-join plan has NO Exchange above the
    catalog scan — only the (small) increment shuffles."""
    table = "fp_catalog_t2"
    build_fingerprint_catalog(
        corpus, table, n_buckets=4, path=str(tmp_path / "cat")
    )
    inc = spark.createDataFrame(
        [(30, "mu nu xi")], "doc_id long, text string"
    )
    # at test scale the optimizer would broadcast the tiny catalog;
    # disable broadcast to see the 100 TB plan (SMJ over the bucket
    # layout), where only the increment side may shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            novel_documents(spark, inc, table)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # walk the plan text: the catalog scan subtree must not sit under
    # an Exchange (the increment side may shuffle freely)
    lines = plan.splitlines()
    cat_scan = [
        i
        for i, l in enumerate(lines)
        if "FileScan" in l and "cat" in l.lower()
    ]
    assert cat_scan, plan
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    for i in cat_scan:
        above = "\n".join(lines[max(0, i - 4): i])
        assert "Exchange" not in above, above
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_incremental_minhash_ignores_empty_documents(spark, tmp_path):
    """ADVICE r4: empty/whitespace docs share the empty-shingle-set
    fingerprint; batch filters them out of the identical-content path,
    so the incremental ident_old path must too."""
    from data_toolz_spark.operators.dedup import minhash_near_duplicates
    from data_toolz_spark.operators.incremental import (
        build_minhash_index,
        incremental_near_duplicates,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(10, ""), (11, "alpha beta gamma delta"), (12, "  ")],
        "doc_id long, text string",
    )
    build_minhash_index(
        old, "mhidx_empty", threshold=0.8, n_buckets=4,
        path=str(tmp_path / "idx"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in incremental_near_duplicates(
            spark, inc, "mhidx_empty"
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            old.unionByName(inc), "doc_id", "text", threshold=0.8
        ).collect()
    }
    expected = {p for p in batch if p[0] >= 10 or p[1] >= 10}
    assert got == expected
    assert (1, 11) in got          # real identical content still pairs
    assert not any(               # no pair involves an empty doc
        a in (2, 3, 10, 12) or b in (2, 3, 10, 12) for a, b in got
    ), got
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS mhidx_empty_{t}")


def _drop_ivf_tables(spark, prefix):
    """DROP + remove orphaned warehouse dirs (a fresh session's
    in-memory metastore forgets tables, so DROP alone leaves the old
    managed-table directory and the next save hits
    LOCATION_ALREADY_EXISTS)."""
    import os
    import shutil

    for t in ("ivf_meta", "ivf_centroids", "ivf_inv", "ivf_codebooks"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(
            os.path.join(os.getcwd(), "spark-warehouse", f"{prefix}_{t}"),
            ignore_errors=True,
        )


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _topk_sets(df):
    """{query: [(corpus, cosine), ...]} sorted by (-cosine, corpus)."""
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(
            (r["corpus_id"], r["cosine"])
        )
    return {
        q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()
    }


def test_ivf_index_full_probe_equals_exact(spark, emb, tmp_path):
    """n_probe == n_centroids degrades to exact search over the
    indexed rows — same pin as the batch ivf_topk."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    prefix = "t_ivf_a"
    _drop_ivf_tables(spark, prefix)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    queries = emb.filter(F.col("vec_id") < 5)
    build_ivf_index(
        corpus, prefix, dim=64, n_centroids=8,
        path=str(tmp_path / "ivf_a"),
    )
    got = ivf_query_index(
        spark, queries, prefix, k=10, n_probe=8
    )
    want = cosine_topk(
        queries, corpus, query_id="vec_id", corpus_id="vec_id", k=10
    )
    assert _topk_sets(got) == _topk_sets(want)


def test_ivf_index_append_then_query_and_stable_centroids(
    spark, emb, tmp_path
):
    from data_toolz_spark.operators.incremental import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    prefix = "t_ivf_b"
    _drop_ivf_tables(spark, prefix)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5)
    build_ivf_index(
        half_a, prefix, dim=64, n_centroids=8,
        path=str(tmp_path / "ivf_b"),
    )
    before = {
        r["cell"]: tuple(r["vector"])
        for r in spark.table(f"{prefix}_ivf_centroids").collect()
    }
    append_to_ivf_index(spark, half_b, prefix)
    after = {
        r["cell"]: tuple(r["vector"])
        for r in spark.table(f"{prefix}_ivf_centroids").collect()
    }
    assert before == after  # appends never retrain
    got = ivf_query_index(spark, queries, prefix, k=10, n_probe=8)
    want = cosine_topk(
        queries, emb, query_id="vec_id", corpus_id="vec_id", k=10
    )
    assert _topk_sets(got) == _topk_sets(want)
    # the inverted file now holds every vector exactly once
    n = spark.table(f"{prefix}_ivf_inv").count()
    assert n == emb.count()


def test_ivf_index_probe_prunes_partitions(spark, emb, tmp_path):
    """The serving contract: a partial probe must reach the inverted
    file as a PARTITION filter on cell — unprobed cells stay unread."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )

    prefix = "t_ivf_c"
    _drop_ivf_tables(spark, prefix)
    build_ivf_index(
        emb, prefix, dim=64, n_centroids=8,
        path=str(tmp_path / "ivf_c"),
    )
    q = ivf_query_index(
        spark, emb.filter(F.col("vec_id") < 3), prefix, k=5, n_probe=2
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    # the inverted-file scan block must carry a partition filter on
    # cell (static isin from the probed-cell union; Spark may add a
    # dynamic-pruning expression on top)
    blocks = plan.split("\n\n")
    inv_blocks = [b for b in blocks if f"{prefix}_ivf_inv" in b]
    assert inv_blocks, plan
    assert any(
        "PartitionFilters" in b and "cell" in b.split("PartitionFilters")[1]
        for b in inv_blocks
    ), inv_blocks


# ---------------------------------------------------------------------------
# Persistent IVF-PQ
# ---------------------------------------------------------------------------


def test_ivfpq_index_full_probe_refine_equals_exact(spark, emb, tmp_path):
    """PQ index in the degenerate-exact config (ks >= |distinct
    sub-vectors|, corpus-covering sample): full probing + exact
    re-rank against the corpus reproduces brute force bit-for-bit —
    the persistent twin of the batch ivfpq_topk pin."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    prefix = "t_ivfpq_a"
    _drop_ivf_tables(spark, prefix)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    queries = emb.filter(F.col("vec_id") < 5)
    build_ivf_index(
        corpus, prefix, dim=64, n_centroids=8,
        pq_m=8, pq_ks=256, train_sample=1_000,
        path=str(tmp_path / "ivfpq_a"),
    )
    got = ivf_query_index(
        spark, queries, prefix, k=10, n_probe=8,
        refine=10, refine_with=corpus,
    )
    want = cosine_topk(
        queries, corpus, query_id="vec_id", corpus_id="vec_id", k=10
    )
    assert _topk_sets(got) == _topk_sets(want)

    # ADC-only serving (no vectors anywhere): k rows per query with
    # the raw inner-product estimate
    adc = ivf_query_index(spark, queries, prefix, k=10, n_probe=8)
    rows = adc.collect()
    assert set(adc.columns) == {"query_id", "corpus_id", "adc_ip"}
    per_q = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(n == 10 for n in per_q.values())


def test_ivfpq_index_append_encodes_with_stored_codebooks(
    spark, emb, tmp_path
):
    """Appends must encode with the codebooks stored at build time:
    (a) codes written by the append equal a direct re-encode with the
    loaded codebooks (bit-deterministic), (b) the inverted file stays
    pq_m bytes per row, (c) post-append full-probe refine queries over
    the whole corpus keep high recall even though the odd half never
    influenced the codebooks."""
    import numpy as np

    from data_toolz_spark.operators.incremental import (
        _load_centroids,
        _load_codebooks,
        append_to_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    prefix = "t_ivfpq_b"
    _drop_ivf_tables(spark, prefix)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5)
    build_ivf_index(
        half_a, prefix, dim=64, n_centroids=8,
        pq_m=8, pq_ks=256, train_sample=1_000,
        path=str(tmp_path / "ivfpq_b"),
    )
    append_to_ivf_index(spark, half_b, prefix)

    inv = spark.table(f"{prefix}_ivf_inv")
    assert inv.count() == emb.count()
    assert {len(r["codes"]) for r in inv.select("codes").collect()} == {8}

    # (a) deterministic re-encode parity for the appended half
    meta, _ = _load_centroids(spark, prefix)
    books = _load_codebooks(spark, prefix, meta)
    m, _, sub = books.shape
    stored = {
        r["id"]: bytes(r["codes"])
        for r in inv.filter(F.col("id") % 2 == 1).collect()
    }
    for r in half_b.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        want = bytes(
            np.array(
                [
                    np.argmin(
                        ((books[j] - v[j * sub : (j + 1) * sub]) ** 2).sum(
                            axis=1
                        )
                    )
                    for j in range(m)
                ],
                dtype=np.uint8,
            )
        )
        assert stored[r["vec_id"]] == want

    # (c) recall over the appended corpus
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            queries, emb, query_id="vec_id", corpus_id="vec_id", k=10
        ).collect()
    }
    got = {
        (r["query_id"], r["corpus_id"])
        for r in ivf_query_index(
            spark, queries, prefix, k=10, n_probe=8,
            refine=10, refine_with=emb,
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, recall


def test_ivfpq_index_validation(spark, emb):
    from data_toolz_spark.operators.incremental import build_ivf_index

    with pytest.raises(ValueError, match="divisible"):
        build_ivf_index(emb, "t_ivfpq_v", dim=64, pq_m=7)
    with pytest.raises(ValueError, match="pq_ks"):
        build_ivf_index(emb, "t_ivfpq_v", dim=64, pq_m=8, pq_ks=1000)


def test_ivfpq_index_by_residual_roundtrip(spark, emb, tmp_path):
    """pq_by_residual=True end-to-end: the meta row pins the mode, the
    degenerate-exact config reproduces brute force through residual
    codes + the q·c_cell ADC term, and an append encodes residuals
    with the STORED model (post-append recall holds the non-residual
    append test's bar — the appended half never influenced the
    codebooks, so exactness is not expected, but wrong-mode codes or a
    missing cell term would crater recall, which is what this pins)."""
    from data_toolz_spark.operators.incremental import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    prefix = "t_ivfpq_res"
    _drop_ivf_tables(spark, prefix)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5)
    build_ivf_index(
        half_a, prefix, dim=64, n_centroids=8,
        pq_m=8, pq_ks=256, train_sample=1_000,
        pq_by_residual=True,
        path=str(tmp_path / "ivfpq_res"),
    )
    meta = spark.table(f"{prefix}_ivf_meta").first()
    assert meta["pq_residual"] is True

    got = ivf_query_index(
        spark, queries, prefix, k=10, n_probe=8,
        refine=10, refine_with=half_a,
    )
    want = cosine_topk(
        queries, half_a, query_id="vec_id", corpus_id="vec_id", k=10
    )
    assert _topk_sets(got) == _topk_sets(want)

    append_to_ivf_index(spark, half_b, prefix)
    got_all = {
        (r["query_id"], r["corpus_id"])
        for r in ivf_query_index(
            spark, queries, prefix, k=10, n_probe=8,
            refine=10, refine_with=emb,
        ).collect()
    }
    want_all = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(
            queries, emb, query_id="vec_id", corpus_id="vec_id", k=10
        ).collect()
    }
    recall = len(got_all & want_all) / len(want_all)
    assert recall >= 0.8, recall

    # ADC-only residual serving still returns k rows per query
    adc = ivf_query_index(spark, queries, prefix, k=10, n_probe=8)
    per_q = {}
    for r in adc.collect():
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(n == 10 for n in per_q.values())


def test_ivfpq_refine_with_custom_corpus_columns(spark, emb, tmp_path):
    """ADVICE r7: refine_with previously read the QUERY frame's column
    names off the corpus table — a corpus with its own names raised an
    AnalysisException.  corpus_id_col/corpus_vec_col must accept the
    renamed frame and produce results identical to the same-name
    default path."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )

    prefix = "t_ivfpq_cols"
    _drop_ivf_tables(spark, prefix)
    build_ivf_index(
        emb, prefix, dim=64, n_centroids=8,
        pq_m=8, pq_ks=256, train_sample=1_000,
        path=str(tmp_path / "ivfpq_cols"),
    )
    queries = emb.filter(F.col("vec_id") < 3)
    default = ivf_query_index(
        spark, queries, prefix, k=5, n_probe=8, refine=5,
        refine_with=emb,
    )
    renamed = emb.select(
        F.col("vec_id").alias("doc_key"),
        F.col("embedding").alias("vec"),
    )
    custom = ivf_query_index(
        spark, queries, prefix, k=5, n_probe=8, refine=5,
        refine_with=renamed,
        corpus_id_col="doc_key", corpus_vec_col="vec",
    )
    assert _topk_sets(custom) == _topk_sets(default)


def test_meta_pq_residual_backward_compat():
    """A PQ meta row persisted before the mode existed (r7's 5-column
    schema) must read as non-residual — that is the historically
    correct encode mode, not a fallback."""
    from pyspark.sql import Row

    from data_toolz_spark.operators.incremental import _meta_pq_residual

    old = Row(dim=64, n_centroids=8, seed=42, pq_m=8, pq_ks=256)
    assert _meta_pq_residual(old) is False
    new_on = Row(
        dim=64, n_centroids=8, seed=42, pq_m=8, pq_ks=256,
        pq_residual=True,
    )
    assert _meta_pq_residual(new_on) is True
    flat = Row(
        dim=64, n_centroids=8, seed=42, pq_m=None, pq_ks=None,
        pq_residual=None,
    )
    assert _meta_pq_residual(flat) is False


def test_ivfpq_index_probe_prunes_partitions(spark, emb, tmp_path):
    """Same serving contract on the PQ inverted file: the probe must
    reach the codes table as a PARTITION filter on cell — the
    compressed candidates AND the pruning compose (and the refine path
    must not drag a full corpus scan above the shortlist join: the
    refine_with scan appears only under a join with the broadcast
    shortlist)."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )

    prefix = "t_ivfpq_c"
    _drop_ivf_tables(spark, prefix)
    build_ivf_index(
        emb, prefix, dim=64, n_centroids=8,
        pq_m=8, pq_ks=256,
        path=str(tmp_path / "ivfpq_c"),
    )
    q = ivf_query_index(
        spark, emb.filter(F.col("vec_id") < 3), prefix, k=5, n_probe=2,
        refine=2, refine_with=emb,
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    blocks = plan.split("\n\n")
    inv_blocks = [b for b in blocks if f"{prefix}_ivf_inv" in b]
    assert inv_blocks, plan
    assert any(
        "PartitionFilters" in b and "cell" in b.split("PartitionFilters")[1]
        for b in inv_blocks
    ), inv_blocks


def test_ivfpq_index_empty_query_batch(spark, emb, tmp_path):
    """Zero valid query vectors → empty result with the right schema
    on both the ADC and refine paths (no driver-side stack of zero
    LUT blocks)."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
    )

    prefix = "t_ivfpq_e"
    _drop_ivf_tables(spark, prefix)
    build_ivf_index(
        emb, prefix, dim=64, n_centroids=4,
        pq_m=8, pq_ks=64, train_sample=1_000,
        path=str(tmp_path / "ivfpq_e"),
    )
    none = emb.filter(F.lit(False))
    adc = ivf_query_index(spark, none, prefix, k=5, n_probe=4)
    assert adc.count() == 0
    assert adc.columns == ["query_id", "corpus_id", "adc_ip"]
    ref = ivf_query_index(
        spark, none, prefix, k=5, n_probe=4, refine_with=emb
    )
    assert ref.count() == 0
    assert ref.columns == ["query_id", "corpus_id", "cosine"]


def test_minhash_repair_refuses_to_close_other_increments_die(
    spark, tmp_path, monkeypatch
):
    """Review r7: two DIFFERENT increments' appends die; repairing with
    only the first must converge that increment but REFUSE to close
    the journal (the second increment's orphan rows still fail the
    structural validation) — blindly closing would mark the index
    clean while mining silently dropped the second increment's pairs.
    Repairing with the second increment then closes everything."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_index_open_txns,
        repair_minhash_index,
        validate_minhash_index,
    )

    prefix = "mhidx_2crash"
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        drop_stale_table(spark, f"{prefix}_{t}")

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    inc_a = spark.createDataFrame(
        [(10, "one two three four five six seven")],
        "doc_id long, text string",
    )
    inc_b = spark.createDataFrame(
        [(20, "red orange yellow green blue indigo")],
        "doc_id long, text string",
    )
    build_minhash_index(
        old, prefix, threshold=0.8, n_buckets=4,
        path=str(tmp_path / "idx2"),
    )

    orig = DataFrameWriter.insertInto

    def dying(self, tableName, overwrite=None):
        if str(tableName).startswith(f"{prefix}_") and str(
            tableName
        ).endswith("_mh_sets"):
            raise RuntimeError("simulated job death mid-append")
        if overwrite is None:
            return orig(self, tableName)
        return orig(self, tableName, overwrite)

    monkeypatch.setattr(DataFrameWriter, "insertInto", dying)
    for inc in (inc_a, inc_b):
        with pytest.raises(RuntimeError, match="simulated job death"):
            append_to_minhash_index(spark, inc, prefix)
    monkeypatch.setattr(DataFrameWriter, "insertInto", orig)

    assert len(minhash_index_open_txns(spark, prefix)) == 2

    # repairing increment A alone: converges A, but B's orphan band
    # rows still violate the invariants — must raise, close NOTHING
    with pytest.raises(RuntimeError, match="structural violations"):
        repair_minhash_index(spark, inc_a, prefix)
    assert len(minhash_index_open_txns(spark, prefix)) == 2

    # repairing with B then converges the whole index and closes both
    closed = repair_minhash_index(spark, inc_b, prefix)
    assert len(closed) == 2
    assert minhash_index_open_txns(spark, prefix) == []
    assert validate_minhash_index(spark, prefix)["consistent"]

    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_ivf_meta_backward_compat_flat_index(spark, emb, tmp_path):
    """Review r7: an index persisted BEFORE the pq columns existed has
    a 3-column meta row; query and append must treat it as flat, not
    raise on the missing field (build-once/serve-forever)."""
    from data_toolz_spark.operators.incremental import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_query_index,
    )

    prefix = "t_ivf_oldmeta"
    _drop_ivf_tables(spark, prefix)
    build_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), prefix,
        dim=64, n_centroids=4,
        path=str(tmp_path / "oldmeta"),
    )
    # simulate the pre-r7 meta layout: (dim, n_centroids, seed) only
    meta = spark.table(f"{prefix}_ivf_meta").first()
    spark.createDataFrame(
        [(meta["dim"], meta["n_centroids"], meta["seed"])],
        "dim int, n_centroids int, seed int",
    ).write.mode("overwrite").saveAsTable(f"{prefix}_ivf_meta")

    q = emb.filter(F.col("vec_id") < 3)
    rows = ivf_query_index(spark, q, prefix, k=5, n_probe=4).collect()
    assert rows and "cosine" in rows[0].asDict()
    append_to_ivf_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), prefix
    )
    assert spark.table(f"{prefix}_ivf_inv").count() == emb.count()


# ---------------------------------------------------------------------------
# r12: IVF cell rebalancing — the maintenance step of the append-only
# lifecycle (split hot cells, repair crash orphans, audit integrity)
# ---------------------------------------------------------------------------


def _skewed_emb(spark, n_tight=300, n_spread=60, dim=8):
    import numpy as np

    rng = np.random.RandomState(0)
    tight = rng.normal(0, 0.05, (n_tight, dim))
    tight[:, 0] += 1.0
    spread = rng.normal(0, 1, (n_spread, dim))
    vecs = np.vstack([tight, spread])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_ivf_rebalance_flat_split(spark):
    """A hot cell splits; full-probe results are IDENTICAL before and
    after (rebalance moves rows between cells, never changes the
    indexed set), total rows preserved, model self-consistent, and a
    re-run at the same threshold either splits further or reports
    nothing — never corrupts."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
        rebalance_ivf_index,
        validate_ivf_index,
    )

    prefix = "t_rb_flat"
    _drop_ivf_tables(spark, prefix)
    emb = _skewed_emb(spark)
    queries = emb.limit(5)
    build_ivf_index(emb, prefix, dim=8, n_centroids=4, seed=1)
    before = sorted(
        map(tuple, ivf_query_index(
            spark, queries, prefix, k=3, n_probe=4
        ).collect())
    )
    rep = rebalance_ivf_index(spark, prefix, max_cell_rows=120)
    acts = {r["action"] for r in rep.collect()}
    assert acts == {"split"}
    n2 = spark.table(f"{prefix}_ivf_meta").first()["n_centroids"]
    assert n2 > 4
    after = sorted(
        map(tuple, ivf_query_index(
            spark, queries, prefix, k=3, n_probe=n2
        ).collect())
    )
    assert after == before
    assert spark.table(f"{prefix}_ivf_inv").count() == 360
    v = validate_ivf_index(spark, prefix)
    assert v["consistent"], v
    # a re-run either splits further toward the bound or no-ops
    rep2 = rebalance_ivf_index(spark, prefix, max_cell_rows=120)
    assert all(a in ("split",) for a in
               {r["action"] for r in rep2.collect()}) or rep2.count() == 0
    assert validate_ivf_index(spark, prefix)["consistent"]
    _drop_ivf_tables(spark, prefix)


def test_ivf_rebalance_orphan_repair_with_id_collision(spark):
    """Crash simulation: rows stranded under a cell id the centroid
    table does not know, AT the id the next split will allocate — the
    repair re-homes them, the reused partition is rewritten not
    dropped, and the index ends consistent with every row kept."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        rebalance_ivf_index,
        validate_ivf_index,
    )
    from data_toolz_spark.operators.similarity import _unit_vector_udf

    prefix = "t_rb_orph"
    _drop_ivf_tables(spark, prefix)
    emb = _skewed_emb(spark)
    build_ivf_index(emb, prefix, dim=8, n_centroids=4, seed=1)
    n0 = spark.table(f"{prefix}_ivf_meta").first()["n_centroids"]
    import numpy as np

    rng = np.random.RandomState(7)
    un = _unit_vector_udf(8)
    extra = [
        (1000 + i, [float(x) for x in rng.normal(0, 1, 8)])
        for i in range(10)
    ]
    spark.createDataFrame(
        extra, "id long, embedding array<double>"
    ).select(
        "id",
        un(F.col("embedding")).alias("vector"),
        F.lit(int(n0)).alias("cell"),  # exactly the next fresh id
    ).write.mode("append").insertInto(f"{prefix}_ivf_inv")
    v0 = validate_ivf_index(spark, prefix)
    assert v0["orphan_cells"] == [int(n0)] and not v0["consistent"]
    rep = rebalance_ivf_index(spark, prefix, max_cell_rows=120)
    acts = sorted((r["cell"], r["action"]) for r in rep.collect())
    assert ("repair" in {a for _, a in acts})
    v1 = validate_ivf_index(spark, prefix)
    assert v1["consistent"], v1
    assert spark.table(f"{prefix}_ivf_inv").count() == 370
    _drop_ivf_tables(spark, prefix)


def test_ivf_rebalance_pq_codes_survive(spark):
    """PQ non-residual: rebalance changes cell homes only — every
    stored code byte-identical, full-probe ADC results identical."""
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        ivf_query_index,
        rebalance_ivf_index,
        validate_ivf_index,
    )

    prefix = "t_rb_pq"
    _drop_ivf_tables(spark, prefix)
    emb = _skewed_emb(spark)
    queries = emb.limit(5)
    build_ivf_index(
        emb, prefix, dim=8, n_centroids=4, seed=1, pq_m=4, pq_ks=16
    )
    codes0 = {
        r["id"]: bytes(r["codes"])
        for r in spark.table(f"{prefix}_ivf_inv").collect()
    }
    before = sorted(
        map(tuple, ivf_query_index(
            spark, queries, prefix, k=3, n_probe=4
        ).collect())
    )
    rep = rebalance_ivf_index(spark, prefix, max_cell_rows=120)
    assert rep.count() >= 1
    n2 = spark.table(f"{prefix}_ivf_meta").first()["n_centroids"]
    after = sorted(
        map(tuple, ivf_query_index(
            spark, queries, prefix, k=3, n_probe=n2
        ).collect())
    )
    codes1 = {
        r["id"]: bytes(r["codes"])
        for r in spark.table(f"{prefix}_ivf_inv").collect()
    }
    assert codes1 == codes0
    assert after == before
    assert validate_ivf_index(spark, prefix)["consistent"]
    _drop_ivf_tables(spark, prefix)


def test_ivf_rebalance_residual_refuses_and_validates_args(spark):
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        rebalance_ivf_index,
    )

    prefix = "t_rb_res"
    _drop_ivf_tables(spark, prefix)
    emb = _skewed_emb(spark, n_tight=60, n_spread=20)
    build_ivf_index(
        emb, prefix, dim=8, n_centroids=2, seed=1,
        pq_m=4, pq_ks=16, pq_by_residual=True,
    )
    with pytest.raises(ValueError, match="rebuild the index instead"):
        rebalance_ivf_index(spark, prefix, max_cell_rows=10)
    with pytest.raises(ValueError, match="max_cell_rows and/or"):
        rebalance_ivf_index(spark, prefix)
    with pytest.raises(ValueError, match="split_factor"):
        rebalance_ivf_index(spark, prefix, max_cell_rows=5, split_factor=1)
    with pytest.raises(ValueError, match="max_cell_frac"):
        rebalance_ivf_index(spark, prefix, max_cell_frac=1.5)
    _drop_ivf_tables(spark, prefix)


def test_ivf_rebalance_skipped_cell_rows_untouched(spark):
    """Review fix: a hot cell of IDENTICAL vectors cannot split (its
    sub-quantizer collapses) — its rows must stay exactly where they
    are, NOT flow through the rewrite and duplicate, even when an
    orphan repair runs in the same pass."""
    import numpy as np

    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        rebalance_ivf_index,
        validate_ivf_index,
    )
    from data_toolz_spark.operators.similarity import _unit_vector_udf

    prefix = "t_rb_skip"
    _drop_ivf_tables(spark, prefix)
    # the whole corpus is ONE identical vector: every row lands in one
    # cell and that cell's sample has a single distinct point — the
    # sub-quantizer must collapse and the split must skip
    same = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(i, list(same)) for i in range(240)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    build_ivf_index(emb, prefix, dim=8, n_centroids=2, seed=1)
    n0 = int(spark.table(f"{prefix}_ivf_meta").first()["n_centroids"])
    hot = (
        spark.table(f"{prefix}_ivf_inv")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc()).first()
    )
    hot_rows_before = {
        r["id"]
        for r in spark.table(f"{prefix}_ivf_inv")
        .filter(F.col("cell") == hot["cell"]).collect()
    }
    # plant an orphan so the repair path runs in the same pass
    un = _unit_vector_udf(8)
    spark.createDataFrame(
        [(900, [0.3] * 8)], "id long, embedding array<double>"
    ).select(
        "id", un(F.col("embedding")).alias("vector"),
        F.lit(n0 + 3).alias("cell"),
    ).write.mode("append").insertInto(f"{prefix}_ivf_inv")
    rep = rebalance_ivf_index(spark, prefix, max_cell_rows=100)
    acts = {(r["cell"], r["action"]) for r in rep.collect()}
    assert (n0 + 3, "repair") in acts
    # the identical-vector cell could not split: not in the report
    assert (hot["cell"], "split") not in acts
    v = validate_ivf_index(spark, prefix)
    assert v["duplicate_ids"] == 0 and v["consistent"], v
    assert spark.table(f"{prefix}_ivf_inv").count() == 241
    hot_rows_after = {
        r["id"]
        for r in spark.table(f"{prefix}_ivf_inv")
        .filter(F.col("cell") == hot["cell"]).collect()
    }
    assert hot_rows_before <= hot_rows_after  # untouched (repair may add)
    _drop_ivf_tables(spark, prefix)


def test_ivf_rebalance_empty_centroid_table_raises(spark):
    from data_toolz_spark.operators.incremental import (
        build_ivf_index,
        rebalance_ivf_index,
    )

    prefix = "t_rb_empty"
    _drop_ivf_tables(spark, prefix)
    emb = _skewed_emb(spark, n_tight=30, n_spread=10)
    build_ivf_index(emb, prefix, dim=8, n_centroids=2, seed=1)
    spark.table(f"{prefix}_ivf_centroids").filter(F.lit(False)).write.mode(
        "overwrite"
    ).saveAsTable(f"{prefix}_ivf_centroids_empty")
    spark.sql(
        f"DROP TABLE {prefix}_ivf_centroids"
    )
    spark.sql(
        f"ALTER TABLE {prefix}_ivf_centroids_empty "
        f"RENAME TO {prefix}_ivf_centroids"
    )
    with pytest.raises(ValueError, match="centroid table is empty"):
        rebalance_ivf_index(spark, prefix, max_cell_rows=5)
    _drop_ivf_tables(spark, prefix)

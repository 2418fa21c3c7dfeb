"""Incremental dedup and search against persistent, bucketed indexes.

The batch operators (``operators.dedup``, ``operators.similarity``,
``operators.text_analysis``) answer "which documents in THIS corpus
duplicate each other".  A production pipeline asks a different question
daily: "which documents in today's increment duplicate anything ever
ingested" — and re-scanning/re-shuffling a 100 TB history per increment
is the naive answer this module avoids.

Every index here is a set of **bucketed tables** (the quota ledger is
partitioned instead): bucketing pre-shuffles the big side ONCE at write
time, so every later join shuffles only the (small) increment to match
the bucket layout and reads the index in place, with no exchange above
its scan (asserted by plan tests).  ``append_to_*`` inserts the
increment's rows back with ``insertInto``, which keeps the layout.  The
indexes:

* **Fingerprint catalog** — exact dedup.  ``novel_documents`` is a
  left-anti join on the canonical text fingerprint (``text_fingerprint``),
  keeping the min-id representative of increment-internal duplicates
  (the ``dedup.dedup_exact`` policy).
* **MinHash band index** — near-dup.  ``incremental_near_duplicates``
  mines the increment against the index's band, set and member tables
  and runs the batch MinHash back half (``dedup._verified_rep_pairs``,
  ``_verify_jaccard``, ``_expand_rep_pairs``) for the increment's own
  pairs; appends are journaled so a half-written index is detected and
  repaired (``repair_minhash_index``).
* **IVF inverted file** (optionally product-quantized) — vector
  near-dup and nearest-neighbour queries, with cell rebalancing.
* **Hamming fingerprint index** — image, audio and video fingerprint
  near-dup through the batch path's pigeonhole banding
  (``dedup.fingerprint_band_pairs``).
* **Per-site quota ledger** — ``urls.cap_per_domain`` across batches:
  the accepted ``(id, domain)`` rows persist.
* **Gram index** — incremental exact-substring (span) dedup.

The MinHash, Hamming and gram indexes compute their fingerprints and
band keys with the batch operators' own helpers, so an index stores the
keys a batch run over the same corpus computes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_toolz_spark.functions.text import text_fingerprint


def _meta_row(spark: SparkSession, table: str):
    """The one row of an index's meta table (its pinned config)."""
    rows = spark.table(table).collect()
    if len(rows) != 1:
        raise ValueError(f"{table} must hold exactly one row")
    return rows[0]


def build_fingerprint_catalog(
    df: DataFrame,
    table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Create the bucketed fingerprint catalog from an initial corpus.

    Stores one row per DISTINCT fingerprint (min id as representative)
    — the catalog grows with unique content, not with corpus size.
    ``n_buckets`` sizes the permanent layout: pick so that
    |catalog| / n_buckets stays a comfortable task size at full scale
    (buckets cannot be changed later without a rewrite).
    """
    from data_toolz_spark.sources.io import DataIO

    fps = (
        df.select(
            text_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("first_id"),
        )
        .groupBy("fingerprint")
        .agg(F.min("first_id").alias("first_id"))
    )
    return DataIO().write_bucketed(
        fps,
        table,
        bucket_by=["fingerprint"],
        n_buckets=n_buckets,
        sort_by=["fingerprint"],
        path=path,
        mode=mode,
    )


#: Structural bloom parameters for :func:`catalog_bloom` — stored with
#: the filter's table name, must match between build and probe.
CATALOG_BLOOM_K = 5


def catalog_bloom(
    spark: SparkSession,
    catalog_table: str,
    *,
    m: int = 1 << 20,
    k: int = CATALOG_BLOOM_K,
    portable: bool = False,
) -> DataFrame:
    """Bloom filter of the catalog's fingerprints as a (word, mask)
    packed-bitset frame (``functions/sketches.py::bloom_sketch_table``)
    — ≤ ceil(m/64) rows, broadcast-able by construction.

    Maintenance contract at scale: build once from the catalog, persist
    next to it, and fold each increment's bloom rows in with
    ``bloom_merge`` at :func:`append_to_catalog` time — BIT_OR is
    idempotent, so replaying an append cannot corrupt the filter.  Size
    ``m`` to the catalog's DISTINCT count (m ≈ 10·n gives ~1 % false
    positives at k=5); a 2^27-bit filter is 16 MB — still a broadcast.
    """
    from data_toolz_spark.functions.sketches import bloom_sketch_table

    return bloom_sketch_table(
        spark.table(catalog_table),
        "fingerprint",
        k=k,
        m=m,
        portable=portable,
    )


def novel_documents(
    spark: SparkSession,
    increment: DataFrame,
    catalog_table: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    within_increment: bool = True,
    bloom: DataFrame | None = None,
    bloom_m: int = 1 << 20,
    bloom_k: int = CATALOG_BLOOM_K,
    bloom_portable: bool = False,
) -> DataFrame:
    """Rows of ``increment`` whose content is not in the catalog.

    Left-anti join on the canonical fingerprint: the bucketed catalog
    side is read in place (no exchange); only the increment shuffles,
    sized to the increment.  ``within_increment`` additionally
    collapses duplicates inside the increment itself to the min-id
    representative (otherwise two copies of a novel document both
    survive).  The returned frame carries a ``fingerprint`` column so
    it can feed :func:`append_to_catalog` without re-hashing.

    ``bloom`` (a :func:`catalog_bloom` frame built with the SAME
    k/m/portable) splits the increment BEFORE the catalog join:
    fingerprints the filter proves absent (no false negatives) are
    novel with no catalog I/O at all, and only the "maybe" residue —
    true duplicates plus the ~(1−e^{−kn/m})^k false positives — pays
    the anti-join.  On a mostly-novel crawl increment that turns the
    catalog-sized probe into a filter-sized broadcast plus an anti-join
    over the small maybe set; the union of the two branches is exactly
    the unfiltered answer (pinned by tests).
    """
    with_fp = increment.withColumn(
        "fingerprint", text_fingerprint(F.col(text_col))
    )
    catalog = spark.table(catalog_table).select("fingerprint")
    if bloom is not None:
        from data_toolz_spark.functions.sketches import bloom_filter_column

        # Row-level verdict: k broadcast joins against the ≤ ceil(m/64)
        # filter rows — the increment keeps its partitioning, no
        # shuffle, no distinct.  Splitting BEFORE the catalog join is
        # the point: the definitely-absent branch never touches the
        # catalog.
        flagged = bloom_filter_column(
            with_fp,
            "fingerprint",
            bloom,
            k=bloom_k,
            m=bloom_m,
            portable=bloom_portable,
        )
        # NULL fingerprints (NULL text) get a NULL bloom verdict; the
        # plain anti-join returns them as novel (NULL keys never match
        # an equi-join), so route them into the absent/novel branch
        # here too — otherwise the two paths disagree on NULL-text rows.
        absent = flagged.filter(
            F.col("bloom_maybe").isNull() | ~F.col("bloom_maybe")
        ).drop("bloom_maybe")
        maybe = flagged.filter(F.col("bloom_maybe")).drop("bloom_maybe")
        novel = absent.unionByName(
            maybe.join(catalog, on="fingerprint", how="left_anti")
        )
    else:
        # Anti-join FIRST: the planner then shuffles the increment
        # straight to the catalog's bucket count and the catalog scan
        # stays exchange-free.  (Collapsing within-increment dups before
        # the join would pin the join at spark.sql.shuffle.partitions
        # and force the catalog through a re-shuffle — the exact cost
        # this module exists to avoid.)
        novel = with_fp.join(catalog, on="fingerprint", how="left_anti")
    if within_increment:
        from pyspark.sql.window import Window

        w = Window.partitionBy("fingerprint").orderBy(id_col)
        novel = (
            novel.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return novel


def append_to_catalog(
    novel: DataFrame,
    catalog_table: str,
    *,
    id_col: str = "doc_id",
) -> None:
    """Insert novel fingerprints; bucket layout is preserved.

    ``insertInto`` on a bucketed table keeps writing bucketed files, so
    the next increment's anti-join stays exchange-free on the catalog
    side.  Input should be the output of :func:`novel_documents` (one
    row per novel fingerprint).

    Consistency: this is ONE table write = one Spark job, atomic under
    the commit protocol (a killed job commits nothing) — unlike the
    MinHash index's three-table append, it needs no journal.
    """
    (
        novel.select(
            "fingerprint", F.col(id_col).alias("first_id")
        ).write.insertInto(catalog_table)
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: a persistent MinHash band index
# ---------------------------------------------------------------------------
#
# Append-consistency model (VERDICT r6 item 4): each per-table write is
# a single Spark job, so the commit protocol makes it atomic — a killed
# job leaves no visible rows.  The failure window is BETWEEN the three
# table writes: bands landed but sets/members didn't, etc.  The journal
# table brackets every multi-table append with (txn, begin) /
# (txn, commit) rows; a begin with no commit/repair marks the index
# DIRTY.  Mining refuses a dirty index; ``repair_minhash_index``
# re-appends the same increment IDEMPOTENTLY (per-table anti-joins, so
# whatever already landed is skipped) and closes the open transactions.
# Append and repair differ only in those row filters: both take their
# rows from ``_minhash_index_rows`` and write them through
# ``_mh_insert`` (bands, sets, then members LAST).
# The single-table indexes (fingerprint catalog, IVF inverted file)
# don't need this: their one ``insertInto`` is job-atomic.


def _mh_journal_table(table_prefix: str) -> str:
    return f"{table_prefix}_mh_journal"


def _mh_journal_append(
    spark: SparkSession, table_prefix: str, txn: str, phase: str
) -> None:
    spark.createDataFrame(
        [(txn, phase)], "txn string, phase string"
    ).write.mode("append").saveAsTable(_mh_journal_table(table_prefix))


def minhash_index_open_txns(
    spark: SparkSession, table_prefix: str
) -> list[str]:
    """Transactions that began a multi-table append but never committed
    (or were repaired) — non-empty means the index is dirty.  Indexes
    built before the journal existed report clean.

    Cost note (ADVICE r7): this scans the whole journal, and every
    append adds two tiny files — a long-lived stream's pre-batch check
    degrades with journal size unless the closed rows are periodically
    rewritten away; :func:`compact_minhash_journal` does exactly that
    (the streaming ingest calls it on a batch cadence)."""
    jt = _mh_journal_table(table_prefix)
    if not spark.catalog.tableExists(jt):
        return []
    j = spark.table(jt)
    begun = j.filter(F.col("phase") == "begin").select("txn")
    closed = j.filter(F.col("phase").isin("commit", "repair")).select("txn")
    return sorted(
        r["txn"] for r in begun.join(closed, on="txn", how="left_anti")
        .distinct().collect()
    )


def compact_minhash_journal(
    spark: SparkSession, table_prefix: str
) -> bool:
    """Rewrite the append journal dropping CLOSED transactions' rows —
    the maintenance step that keeps a long-lived stream's per-batch
    dirty check O(open txns), not O(appends ever made) (ADVICE r7).

    Crash-safety protocol: compaction runs ONLY when no transaction is
    open (returns False, touching nothing, otherwise).  The overwrite
    then replaces the journal with an EMPTY one, so the only state a
    death mid-rewrite can lose is "everything was committed" — and a
    missing/empty journal already reads as clean, which is the true
    state.  Compacting a dirty journal could never make that claim,
    hence the gate.  Single-writer assumption (same as the append path
    itself): don't run concurrently with an in-flight append.
    """
    if minhash_index_open_txns(spark, table_prefix):
        return False
    jt = _mh_journal_table(table_prefix)
    if not spark.catalog.tableExists(jt):
        return False
    spark.createDataFrame(
        [], "txn string, phase string"
    ).write.mode("overwrite").saveAsTable(jt)
    return True


#: The MinHash index's row tables, in write order (members LAST).
_MH_ROW_TABLES = ("bands", "sets", "members")


def _minhash_index_rows(
    df: DataFrame, m, *, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The index rows of ``df`` under the LSH config ``m`` (``n_hashes``,
    ``bands``, ``shingle``): ``(bands, sets, members)`` as
    ``(fp, band, bucket)`` / ``(fp, elems)`` / ``(fp, id)``.

    One ``_minhash_members_reps`` pass, persisted and tracked
    (``dedup._persist_tracked``) so the three frames share it; bands
    are ``dedup._rep_bands``, the table mining bands an increment
    with, so the index stores the keys a batch run computes."""
    from data_toolz_spark.operators.dedup import (
        _minhash_members_reps,
        _persist_tracked,
        _rep_bands,
    )

    members, reps = _persist_tracked(
        *_minhash_members_reps(df, id_col, text_col, shingle=m["shingle"])
    )
    bands = _rep_bands(reps, n_hashes=m["n_hashes"], bands=m["bands"])
    return (
        bands.select(
            F.col("__fp").alias("fp"),
            F.col("__band").alias("band"),
            F.col("__bucket").alias("bucket"),
        ),
        reps.select(
            F.col("__fp").alias("fp"), F.col("__elems").alias("elems")
        ),
        members.select(F.col("__fp").alias("fp"), F.col("__id").alias("id")),
    )


def _mh_insert(
    table_prefix: str, bands: DataFrame, sets: DataFrame, members: DataFrame
) -> None:
    """Insert index rows in the one write order: bands, sets, members.
    Members go LAST — ``validate_minhash_index`` reads a set fp with
    no members as the mark of a died append."""
    for name, frame in zip(_MH_ROW_TABLES, (bands, sets, members)):
        frame.write.insertInto(f"{table_prefix}_mh_{name}")


def build_minhash_index(
    df: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    n_buckets: int = 64,
    path: str | None = None,
) -> str:
    """Persist the MinHash state of a corpus for incremental near-dup.

    Three bucketed tables (+ a one-row meta table pinning the LSH
    config so a mismatched incremental call fails loudly):

    * ``{p}_mh_bands``  (fp, band, bucket) bucketed on (band, bucket) —
      the LSH candidate join side; an increment's bands shuffle to this
      layout, the index is read in place.
    * ``{p}_mh_sets``   (fp, elems) bucketed on fp — hashed shingle
      sets for the exact-Jaccard verify of candidates.
    * ``{p}_mh_members``(fp, id) bucketed on fp — pair expansion from
      representative fingerprints to document ids.

    Identical hashing/banding across runs is guaranteed by the shared
    ``_minhash_members_reps`` front half and the seeded band kernel.
    Build, append and repair all take their rows from
    ``_minhash_index_rows``; one corpus pass feeds the three writes,
    and the build ends with ``cache.release()``, which frees that
    pass's persisted frames (and any other tracked ones).
    """
    from data_toolz_spark.cache import release
    from data_toolz_spark.sources.io import DataIO

    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    spark = df.sparkSession
    meta = spark.createDataFrame(
        [(n_hashes, bands, shingle, float(threshold))],
        "n_hashes int, bands int, shingle int, threshold double",
    )
    meta.write.mode("overwrite").saveAsTable(f"{table_prefix}_mh_meta")
    rows = _minhash_index_rows(
        df,
        {"n_hashes": n_hashes, "bands": bands, "shingle": shingle},
        id_col=id_col,
        text_col=text_col,
    )
    try:
        for name, frame, bucket_by in zip(
            _MH_ROW_TABLES, rows, (["band", "bucket"], ["fp"], ["fp"])
        ):
            DataIO().write_bucketed(
                frame,
                f"{table_prefix}_mh_{name}",
                bucket_by=bucket_by,
                n_buckets=n_buckets,
                path=None if path is None else f"{path}/{name}",
            )
    finally:
        # the build is one complete action: free the persisted front
        # half now rather than at the caller's next release
        release()
    # fresh (empty) append journal: the build itself needs no bracket —
    # a died build is rebuilt from scratch — but appends record their
    # begin/commit here so a crash between the three insertIntos is
    # detectable (see module section above)
    spark.createDataFrame(
        [], "txn string, phase string"
    ).write.mode("overwrite").saveAsTable(_mh_journal_table(table_prefix))
    # a REBUILT index starts with a clean ingest high-water mark (the
    # streaming replay gate, ingest.py): a stale mark is never unsafe
    # (it only forces extra members checks), but fresh builds should
    # not inherit a previous stream's epoch counter
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_mh_ingest_hwm")
    return table_prefix


def incremental_near_duplicates(
    spark: SparkSession,
    increment: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    allow_dirty: bool = False,
) -> DataFrame:
    """Near-duplicate pairs TOUCHING the increment: (id_a, id_b, jaccard)
    with id_a < id_b, covering increment×index and increment×increment —
    exactly the rows ``minhash_near_duplicates`` over (corpus ∪
    increment) would emit that involve an increment document, without
    re-hashing or re-banding the corpus.

    Scale shape: the three index tables are read in place (bucketed);
    everything that shuffles is sized to the increment and its
    candidate set.  LSH config comes from the index's meta table, so a
    drifted caller cannot silently produce a differently-banded join.

    ``id_a < id_b`` holds STRICTLY, including when the increment
    re-contains an already-indexed id (no self-pairs — ADVICE r7); a
    caller that needs "was this exact id already ingested" must check
    the members table, which is what the streaming ingest's replay
    drop does explicitly.
    """
    from data_toolz_spark.operators.dedup import (
        _expand_rep_pairs,
        _minhash_members_reps,
        _persist_tracked,
        _rep_bands,
        _verified_rep_pairs,
        _verify_jaccard,
    )

    if not allow_dirty:
        open_ = minhash_index_open_txns(spark, table_prefix)
        if open_:
            raise RuntimeError(
                f"minhash index {table_prefix!r} is dirty: append "
                f"transaction(s) {open_} began but never committed — "
                "a job died between the three table writes.  Run "
                "repair_minhash_index() with the same increment to "
                "converge the tables, or pass allow_dirty=True to "
                "mine anyway (results may miss or duplicate pairs "
                "for the partial increment)."
            )

    m = _meta_row(spark, f"{table_prefix}_mh_meta")
    n_hashes, bands, shingle, threshold = (
        m["n_hashes"], m["bands"], m["shingle"], m["threshold"],
    )
    members, reps = _persist_tracked(
        *_minhash_members_reps(increment, id_col, text_col, shingle=shingle)
    )

    new_bands = _rep_bands(reps, n_hashes=n_hashes, bands=bands)
    old_bands = spark.table(f"{table_prefix}_mh_bands")
    old_sets = spark.table(f"{table_prefix}_mh_sets")
    old_members = spark.table(f"{table_prefix}_mh_members")

    # increment×index: candidates on a shared band bucket (index side
    # read in place), exact-Jaccard verify against the index's sets,
    # then fan out to both sides' member ids
    cand_old = (
        new_bands.alias("n")
        .join(
            old_bands.alias("o"),
            on=[
                F.col("n.__band") == F.col("o.band"),
                F.col("n.__bucket") == F.col("o.bucket"),
                F.col("n.__fp") != F.col("o.fp"),
            ],
        )
        .select(F.col("n.__fp").alias("fp_a"), F.col("o.fp").alias("fp_b"))
        .dropDuplicates(["fp_a", "fp_b"])
    )
    verified_old = _verify_jaccard(
        cand_old,
        reps,
        old_sets.select(
            F.col("fp").alias("__fp"), F.col("elems").alias("__elems")
        ),
        threshold,
    )
    inter_old = (
        verified_old.join(
            members.select(
                F.col("__fp").alias("fp_a"), F.col("__id").alias("ia")
            ),
            on="fp_a",
        )
        .join(
            old_members.select(
                F.col("fp").alias("fp_b"), F.col("id").alias("ib")
            ),
            on="fp_b",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    # increment×increment: exactly the batch operator's back half over
    # the increment (band self-join, verify, member fan-out and
    # identical-set twins at jaccard 1.0)
    within_new = _expand_rep_pairs(
        _verified_rep_pairs(
            reps, threshold=threshold, n_hashes=n_hashes, bands=bands
        ),
        members,
        block_cols=(),
    )
    # identical content increment×index: same fingerprint ⇒ jaccard
    #    1.0.  Batch parity: _expand_rep_pairs filters empty shingle
    #    sets (size(__elems) > 0) out of its identical-content path, so
    #    empty/whitespace docs never pair.  The pair join requires
    #    n.fp == o.fp and the empty set has one deterministic
    #    fingerprint, so excluding empty sets on the increment side
    #    also excludes every pair with an empty index member.
    nonempty_ids = (
        members.filter(F.size("__elems") > 0)
        .select(F.col("__fp").alias("fp"), F.col("__id").alias("id"))
    )
    #    ADVICE r7: re-ingesting an ALREADY-INDEXED id would join the
    #    doc to its own members row and emit a self-pair (id, id, 1.0),
    #    violating the id_a < id_b contract — n.id != o.id keeps the
    #    contract strict (exact copies under DIFFERENT ids still pair).
    #    Replay handling that used to lean on those self-pairs is now
    #    explicit in streaming/ingest.py (already-indexed-id drop).
    ident_old = (
        nonempty_ids.alias("n")
        .join(
            old_members.alias("o"),
            on=[
                F.col("n.fp") == F.col("o.fp"),
                F.col("n.id") != F.col("o.id"),
            ],
        )
        .select(
            F.least(F.col("n.id"), F.col("o.id")).alias("id_a"),
            F.greatest(F.col("n.id"), F.col("o.id")).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter_old.unionByName(within_new).unionByName(ident_old)


def append_to_minhash_index(
    spark: SparkSession,
    increment: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold an increment into the index (after mining its pairs).

    Members always append; bands/sets append only fingerprints the
    index has not seen (anti-join on the bucketed sets table), so
    re-ingesting duplicate content never bloats the LSH join side.
    ``insertInto`` preserves each table's bucket layout.

    The three writes are bracketed by a journal (txn, begin/commit)
    record: a job death between the insertIntos leaves a begin with no
    commit, mining refuses the index, and
    :func:`repair_minhash_index` with the same increment converges it.
    """
    import uuid

    from data_toolz_spark.cache import track

    bands, sets, members = _minhash_index_rows(
        increment,
        _meta_row(spark, f"{table_prefix}_mh_meta"),
        id_col=id_col,
        text_col=text_col,
    )
    known = spark.table(f"{table_prefix}_mh_sets").select("fp")
    novel = track(sets.join(known, on="fp", how="left_anti").persist())
    txn = uuid.uuid4().hex
    _mh_journal_append(spark, table_prefix, txn, "begin")
    _mh_insert(
        table_prefix,
        bands.join(novel.select("fp"), on="fp", how="left_semi"),
        novel,
        members,
    )
    _mh_journal_append(spark, table_prefix, txn, "commit")


def validate_minhash_index(
    spark: SparkSession, table_prefix: str
) -> dict:
    """Structural consistency report for the persistent MinHash index.

    Checks the journal (open append transactions) and the cross-table
    invariants a partial append breaks:

    * every fingerprint in ``bands`` exists in ``sets`` with a
      COMPLETE band set (exactly ``meta.bands`` rows);
    * every fingerprint in ``sets`` has at least one ``members`` row
      (members are written LAST, so a set fp with no members marks a
      died append).

    Full-index scan — a maintenance operation, not an ingest step.
    Returns counts per violation plus ``consistent`` (journal clean
    AND zero structural violations).
    """
    m = _meta_row(spark, f"{table_prefix}_mh_meta")
    bands = spark.table(f"{table_prefix}_mh_bands")
    sets_fp = spark.table(f"{table_prefix}_mh_sets").select("fp")
    members_fp = (
        spark.table(f"{table_prefix}_mh_members").select("fp").distinct()
    )
    band_counts = bands.groupBy("fp").agg(F.count("*").alias("n"))
    bands_orphan = band_counts.join(
        sets_fp, on="fp", how="left_anti"
    ).count()
    bands_incomplete = band_counts.filter(
        F.col("n") != m["bands"]
    ).count()
    sets_no_bands = sets_fp.join(
        band_counts.select("fp"), on="fp", how="left_anti"
    ).count()
    sets_no_members = sets_fp.join(
        members_fp, on="fp", how="left_anti"
    ).count()
    open_txns = minhash_index_open_txns(spark, table_prefix)
    return {
        "open_txns": open_txns,
        "bands_orphan_fps": bands_orphan,
        "bands_incomplete_fps": bands_incomplete,
        "sets_without_bands_fps": sets_no_bands,
        "sets_without_members_fps": sets_no_members,
        "consistent": (
            not open_txns
            and bands_orphan == 0
            and bands_incomplete == 0
            and sets_no_bands == 0
            and sets_no_members == 0
        ),
    }


def repair_minhash_index(
    spark: SparkSession,
    increment: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[str]:
    """Converge the index after a died append of ``increment``.

    Idempotent re-append: each table gets only the rows it is MISSING
    (per-table anti-joins), so this is safe no matter where the
    previous append stopped — before any write, between writes, or
    after all three (then it writes nothing).  Scale shape: the index
    tables are probed via broadcast semi-joins on the increment's own
    fingerprints, so index-side reads stay map-side filters — the
    re-append is increment-sized, like the append itself; the closing
    validation is a full-index structural scan (this is a recovery
    path, not an ingest step).  Open journal transactions are closed
    with ``repair`` records ONLY after the structural invariants
    verify clean — if appends of OTHER increments also died, their
    orphan rows fail the validation and this raises instead of
    silently marking the index clean (see the inline comment).
    Returns the closed transaction ids.  Must be called with the SAME
    increment the died append ran with (the journal records the fact
    of the crash, not the data; at ingest, replaying the day's batch
    is the recovery contract).

    Audit caveat (ADVICE r7): the journal records crash-FACT, not
    content — an append that died after ``begin`` but before writing
    any row leaves no structural evidence, so its transaction is
    indistinguishable from one this call just repaired and is closed
    alongside it.  Closing it is correct for index CONSISTENCY (there
    is nothing to converge), but that increment's content is entirely
    absent until the caller replays the failed batch — which the
    same-increment contract above already requires.  An operator who
    needs to know WHICH increments lost content must track
    batch → txn mapping outside the journal (e.g. the ingest sink's
    batch ids); the journal alone cannot say.
    """
    bands, sets, members = _minhash_index_rows(
        increment,
        _meta_row(spark, f"{table_prefix}_mh_meta"),
        id_col=id_col,
        text_col=text_col,
    )
    # each table gets the rows it is missing; the index side of the
    # bands and members probes is restricted to the increment's fps
    inc_fps = F.broadcast(sets.select("fp"))
    bands_have = (
        spark.table(f"{table_prefix}_mh_bands")
        .join(inc_fps, on="fp")
        .select("fp")
        .distinct()
    )
    members_have = spark.table(f"{table_prefix}_mh_members").join(
        inc_fps, on="fp"
    )
    _mh_insert(
        table_prefix,
        bands.join(bands_have, on="fp", how="left_anti"),
        sets.join(
            spark.table(f"{table_prefix}_mh_sets").select("fp"),
            on="fp",
            how="left_anti",
        ),
        members.join(members_have, on=["fp", "id"], how="left_anti"),
    )
    # close the journal ONLY if the index is structurally whole again.
    # The journal records that appends died, not WHICH increments they
    # carried — if a SECOND increment's append also died, re-appending
    # this one leaves that one's orphan rows in place, and blindly
    # closing every open transaction would mark the index clean while
    # mining silently drops its candidate pairs.  The structural
    # invariants (validate_minhash_index) see exactly those orphans,
    # so they gate the close: violations → close nothing and fail
    # loudly, telling the operator to repair the other increment too.
    report = validate_minhash_index(spark, table_prefix)
    structural = {
        k: v
        for k, v in report.items()
        if k.endswith("_fps") and v
    }
    if structural:
        raise RuntimeError(
            f"repair_minhash_index({table_prefix!r}): increment "
            "re-appended, but the index still has structural "
            f"violations {structural} — another increment's append "
            "likely died as well; repair with THAT increment before "
            "the journal can close "
            f"(open transactions left open: {report['open_txns']})"
        )
    open_txns = report["open_txns"]
    for txn in open_txns:
        _mh_journal_append(spark, table_prefix, txn, "repair")
    return open_txns


__all__ = [
    "build_fingerprint_catalog",
    "catalog_bloom",
    "novel_documents",
    "append_to_catalog",
    "build_minhash_index",
    "incremental_near_duplicates",
    "append_to_minhash_index",
    "minhash_index_open_txns",
    "compact_minhash_journal",
    "validate_minhash_index",
    "repair_minhash_index",
    "build_ivf_index",
    "ivf_query_index",
    "append_to_ivf_index",
    "rebalance_ivf_index",
    "validate_ivf_index",
]


# ---------------------------------------------------------------------------
# Persistent IVF index — the vector-side twin of the MinHash band index
# ---------------------------------------------------------------------------


def build_ivf_index(
    emb: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
    seed: int = 42,
    kmeans_max_iter: int = 5,
    train_sample: int = 20_000,
    path: str | None = None,
    pq_m: int | None = None,
    pq_ks: int = 256,
    pq_by_residual: bool = False,
) -> str:
    """Persist an IVF-Flat index: the batch ``ivf_topk`` retrains its
    quantizer and re-assigns the corpus per CALL; at 100 TB a search
    system builds the inverted file once and serves queries from it.

    Three tables:

    * ``{p}_ivf_meta``       — one row pinning (dim, n_centroids, seed,
      pq_m, pq_ks) so a drifted query/append call fails loudly;
    * ``{p}_ivf_centroids``  — the trained quantizer, (cell, vector);
      appends re-USE these centroids (never retrain — retraining would
      silently re-shuffle every existing cell assignment);
    * ``{p}_ivf_inv``        — the inverted file, (id, vector, cell),
      **partitioned by cell**: a probe of ``n_probe`` cells reads
      ``~n_probe/n_centroids`` of the data via partition pruning and
      leaves every other partition untouched on disk.

    **IVF-PQ variant** (``pq_m`` set): the inverted file stores each
    vector as ``pq_m`` product-quantization codes packed into a
    ``pq_m``-byte ``binary`` column and DROPS the raw vector — the
    candidate payload a probe reads shrinks from ``8·dim`` B to
    ``pq_m`` B per row (64× at dim=64/m=8; measured on disk in
    ``tools/pq_probe.py``).  A fourth table ``{p}_ivf_codebooks``
    (subspace, code, vector) stores the sub-quantizers; like the
    centroids they are IMMUTABLE after build — appends encode with the
    stored codebooks, so codes stay comparable across increments.
    Queries run asymmetric-distance scoring (``ivf_query_index``
    computes per-query lookup tables from the stored codebooks) with
    an optional exact re-rank against caller-provided vectors.

    The quantizer trains on a bounded hash-ordered sample exactly like
    ``ivf_topk`` (see its docstring for the bias/size rationale); the
    PQ codebooks train on the SAME sample (one collect, mutually
    consistent cells and codes).

    ``pq_by_residual=True`` (Jégou 2011's default mode; VERDICT r7
    item 4) trains the codebooks on and encodes each vector's RESIDUAL
    against its assigned coarse centroid — the recall-recovering mode
    for clustered corpora (A/B in ``tools/pq_probe.py``).  The mode is
    pinned in the meta row; queries and appends read it from there, so
    a stored index can never be scored or extended in the wrong mode.

    Default stays ``False`` (r9 decision, VERDICT r8 item 7): the A/B
    on the REAL testdata embeddings lost recall in residual mode at
    both ks=32 (0.79→0.62) and ks=64 (0.86→0.75) — residuals only pay
    when the coarse quantizer removes real cluster energy
    (SCALE_PROBE.md pq tables record both regimes).
    """
    from data_toolz_spark.operators.similarity import (
        _bounded_sample,
        _quantizer_from_sample,
        _train_pq_codebooks,
        _unit_vector_udf,
    )

    if not train_sample or train_sample <= 0:
        raise ValueError("build_ivf_index: train_sample must be positive")
    if pq_m is not None:
        if dim % pq_m != 0:
            raise ValueError(
                f"build_ivf_index: dim {dim} not divisible by pq_m={pq_m}"
            )
        if not 2 <= pq_ks <= 256:
            raise ValueError(
                "build_ivf_index: pq_ks must be in [2, 256] (codes are "
                "packed one byte each)"
            )
    spark = emb.sparkSession
    unitize = _unit_vector_udf(dim)
    units = emb.select(
        F.col(id_col).alias("id"),
        unitize(F.col(vec_col).cast("array<double>")).alias("vector"),
    ).filter(F.col("vector").isNotNull())

    sample = _bounded_sample(
        units, "id", "vector", seed=seed, train_sample=train_sample
    )
    centers = _quantizer_from_sample(
        sample, n_centroids, seed=seed, max_iter=kmeans_max_iter
    )

    # _kmeans_numpy clamps k to the number of distinct training points
    # (a sample smaller than n_centroids is legitimate on small
    # corpora) — the stored cell count must be the ACTUAL count or the
    # centroid-table build would index past the array
    n_cells = len(centers)
    meta = spark.createDataFrame(
        [
            (
                dim,
                n_cells,
                seed,
                pq_m,
                pq_ks if pq_m else None,
                bool(pq_by_residual) if pq_m else None,
            )
        ],
        "dim int, n_centroids int, seed int, pq_m int, pq_ks int, "
        "pq_residual boolean",
    )
    meta.write.mode("overwrite").saveAsTable(f"{table_prefix}_ivf_meta")
    cent = spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(n_cells)],
        "cell int, vector array<double>",
    )
    cent.write.mode("overwrite").saveAsTable(f"{table_prefix}_ivf_centroids")

    if pq_m is not None:
        if pq_by_residual and len(sample):
            cell = (sample @ centers.T).argmax(axis=1)
            train_mat = sample - centers[cell]
        else:
            train_mat = sample
        books = _train_pq_codebooks(
            train_mat, pq_m, pq_ks, seed=seed, max_iter=kmeans_max_iter
        )
        book_rows = [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(books.shape[0])
            for c in range(books.shape[1])
        ]
        spark.createDataFrame(
            book_rows, "subspace int, code int, vector array<double>"
        ).write.mode("overwrite").saveAsTable(
            f"{table_prefix}_ivf_codebooks"
        )
        pack = _pq_pack_udf(
            books, centers=centers if pq_by_residual else None
        )
        assigned = _assign_cells(units, centers)
        inv = assigned.withColumn(
            "codes",
            pack(F.col("vector"), F.col("cell"))
            if pq_by_residual
            else pack(F.col("vector")),
        ).select("id", "codes", "cell")
    else:
        inv = _assign_cells(units, centers).select("id", "vector", "cell")
    writer = inv.write.mode("overwrite").partitionBy("cell")
    if path is not None:
        writer = writer.option("path", f"{path}/inv")
    writer.saveAsTable(f"{table_prefix}_ivf_inv")
    return table_prefix


def _pq_pack_udf(codebooks, centers=None):
    """PQ-encode + pack to a ``pq_m``-byte binary per vector — the
    storage layout that makes the inverted file ``pq_m`` B/row.  The
    encode itself is the SHARED ``_pq_encode_batch`` kernel (one
    implementation across the batch ivfpq path and this packer, so a
    future change to the distance form or tie-break cannot silently
    diverge the persistent index's codes from the batch path's).

    ``centers`` given → the by-residual packer: a TWO-argument UDF
    ``pack(vector, cell)`` that encodes ``vector − centers[cell]``
    using the ALREADY-ASSIGNED cell column (never re-deriving it, so
    codes always match the cell the row is stored under)."""
    from pyspark.sql.functions import pandas_udf

    from data_toolz_spark.operators.similarity import (
        _pq_c_sq,
        _pq_encode_batch,
    )

    c_sq = _pq_c_sq(codebooks)

    if centers is None:

        @pandas_udf("binary")
        def pack(vecs: pd.Series) -> pd.Series:
            vals = vecs.tolist()
            live = [i for i, v in enumerate(vals) if v is not None]
            out = np.empty(len(vals), dtype=object)
            if live:
                mat = np.vstack(
                    [np.asarray(vals[i], dtype=np.float64) for i in live]
                )
                codes = _pq_encode_batch(mat, codebooks, c_sq).astype(
                    np.uint8
                )
                for r, i in enumerate(live):
                    out[i] = bytes(codes[r])
            return pd.Series(out)

        return pack

    @pandas_udf("binary")
    def pack_residual(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        vals = vecs.tolist()
        live = [i for i, v in enumerate(vals) if v is not None]
        out = np.empty(len(vals), dtype=object)
        if live:
            mat = np.vstack(
                [np.asarray(vals[i], dtype=np.float64) for i in live]
            )
            # null cells only occur alongside null vectors (both come
            # from the same row) — fill before the cast, `live` never
            # indexes them
            ce = cells.fillna(-1).to_numpy(dtype=np.int64)[live]
            codes = _pq_encode_batch(
                mat - centers[ce], codebooks, c_sq
            ).astype(np.uint8)
            for r, i in enumerate(live):
                out[i] = bytes(codes[r])
        return pd.Series(out)

    return pack_residual


def _load_codebooks(spark: SparkSession, table_prefix: str, meta):
    rows = spark.table(f"{table_prefix}_ivf_codebooks").collect()
    sub = meta["dim"] // meta["pq_m"]
    ks_actual = 1 + max(r["code"] for r in rows)
    books = np.zeros((meta["pq_m"], ks_actual, sub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = np.asarray(
            r["vector"], dtype=np.float64
        )
    return books


def _meta_pq_m(meta) -> int | None:
    """PQ sub-quantizer count from a meta row, or None for a flat
    index — INCLUDING indexes persisted before the pq columns existed
    (their 3-column meta row has no ``pq_m`` field at all; a bare
    ``meta["pq_m"]`` would raise on every query/append of a
    pre-existing index, defeating build-once/serve-forever)."""
    return meta["pq_m"] if "pq_m" in meta.__fields__ else None


def _meta_pq_residual(meta) -> bool:
    """by-residual flag from a meta row; False for flat indexes AND for
    PQ indexes persisted before the mode existed (r7 builds have no
    ``pq_residual`` column — they were encoded plain, so False is not a
    default but the historically correct answer)."""
    return bool(
        "pq_residual" in meta.__fields__ and meta["pq_residual"]
    )


def _load_centroids(spark: SparkSession, table_prefix: str):
    meta = _meta_row(spark, f"{table_prefix}_ivf_meta")
    rows = spark.table(f"{table_prefix}_ivf_centroids").collect()
    centers = np.zeros((meta["n_centroids"], meta["dim"]), dtype=np.float64)
    for r in rows:
        centers[r["cell"]] = np.asarray(r["vector"], dtype=np.float64)
    return meta, centers


def _assign_cells(units: DataFrame, centers, top_n: int = 1) -> DataFrame:
    """Append ``cell`` (top_n=1) — nearest centroid(s) by cosine, ONE
    numpy matmul per Arrow batch (the whole batch stacked against the
    centroid matrix — VERDICT r6 item 5), centers broadcast in the
    closure."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from data_toolz_spark.operators.similarity import _batch_topn_cells

    @pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        return _batch_topn_cells(vecs, centers, top_n)

    if top_n == 1:
        return units.withColumn(
            "cell", F.element_at(cells(F.col("vector")), 1)
        )
    return units.withColumn("cells", cells(F.col("vector")))


def ivf_query_index(
    spark: SparkSession,
    queries: DataFrame,
    table_prefix: str,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    refine: int = 2,
    refine_with: DataFrame | None = None,
    corpus_id_col: str | None = None,
    corpus_vec_col: str | None = None,
) -> DataFrame:
    """Top-k search against a persistent IVF index.

    The union of all queries' probe cells is collected (≤ n_centroids
    ints) and applied as a STATIC ``isin`` filter before the join, so
    the inverted file's unprobed partitions are pruned at the scan —
    the property that makes serving cheap: a probe-4-of-16 batch
    touches ~25 % of the index regardless of corpus size.  Scoring and
    ranking share the exact path's two-stage top-k.

    ``n_probe == n_centroids`` degrades to exact search (every cell
    probed), which is the equality the tests pin against
    ``cosine_topk`` over the indexed rows.

    **IVF-PQ index** (built with ``pq_m``): the probed candidates
    carry codes, not vectors, so scoring is asymmetric-distance — the
    per-query lookup tables ``LUT[q][j][c] = q_j · book_j[c]`` are
    built driver-side from the STORED codebooks and summed by one
    fancy-index gather per Arrow batch.  ``refine_with`` (a DataFrame
    holding ``query_vec`` vectors keyed by ``query_id``-typed ids —
    normally the corpus table itself) re-ranks the ``refine·k`` ADC
    shortlist by exact cosine, returning true ``cosine`` values; only
    shortlist ids are joined, so the corpus is touched id-wise, never
    scanned.  Without ``refine_with`` the PQ path returns the raw ADC
    estimate as ``adc_ip`` — an UNREFINED similarity score, not an
    exact cosine.  Both knobs are ignored for a flat index.
    ``corpus_id_col``/``corpus_vec_col`` name ``refine_with``'s id and
    vector columns when they differ from the QUERY frame's (ADVICE r7:
    the re-rank previously hard-read the query names off the corpus
    table and failed on any differently-named corpus); they default to
    ``query_id``/``query_vec`` for compatibility.

    A by-residual PQ index (built with ``pq_by_residual=True``) is
    detected from the meta row: ADC adds the ``q·c_cell`` term from
    the stored centroids — callers never pass the mode.
    """
    from data_toolz_spark.functions.vectors import dot_product
    from data_toolz_spark.operators.similarity import (
        _two_stage_topk,
        _unit_vector_udf,
    )

    meta, centers = _load_centroids(spark, table_prefix)
    unitize = _unit_vector_udf(meta["dim"])
    q_units = queries.select(
        F.col(query_id).alias("id"),
        unitize(F.col(query_vec).cast("array<double>")).alias("vector"),
    ).filter(F.col("vector").isNotNull())
    n_probe = min(n_probe, meta["n_centroids"])
    q_probes = _assign_cells(q_units, centers, top_n=n_probe).select(
        F.col("id").alias("__qid"),
        F.col("vector").alias("__qv"),
        F.explode("cells").alias("cell"),
    )
    probed = sorted(
        r["cell"] for r in q_probes.select("cell").distinct().collect()
    )
    inv = spark.table(f"{table_prefix}_ivf_inv").filter(
        F.col("cell").isin(probed)
    )
    if _meta_pq_m(meta) is not None:
        return _ivfpq_query(
            spark,
            inv,
            q_probes,
            table_prefix,
            meta,
            k=k,
            refine=refine,
            refine_with=refine_with,
            corpus_id_col=corpus_id_col or query_id,
            corpus_vec_col=corpus_vec_col or query_vec,
            centers=centers,
        )
    scored = inv.join(F.broadcast(q_probes), on="cell").select(
        F.col("__qid").alias("query_id"),
        F.col("id").alias("corpus_id"),
        F.round(dot_product(F.col("__qv"), F.col("vector")), 6).alias(
            "cosine"
        ),
    )
    return _two_stage_topk(scored, k, "query_id", "corpus_id")


def _ivfpq_query(
    spark: SparkSession,
    inv: DataFrame,
    q_probes: DataFrame,
    table_prefix: str,
    meta,
    *,
    k: int,
    refine: int,
    refine_with: DataFrame | None,
    corpus_id_col: str,
    corpus_vec_col: str,
    centers,
) -> DataFrame:
    """ADC scoring + optional exact re-rank for a PQ inverted file.

    The query set is broadcast-small by the module contract, so the
    LUT tensor (n_queries × pq_m × pq_ks doubles) ships in the UDF
    closure; candidate scoring is one ``np.frombuffer`` + fancy-index
    gather per Arrow batch — no per-row Python, no dot products.  On a
    by-residual index the gather adds ``qc[qi, cell]`` (query ×
    stored-centroid inner products, one tiny driver matmul) — the cell
    column rides along from the probe join at zero extra I/O.
    """
    from pyspark.sql.functions import pandas_udf

    from data_toolz_spark.functions.vectors import dot_product
    from data_toolz_spark.operators.similarity import (
        _two_stage_topk,
        _unit_vector_udf,
    )

    books = _load_codebooks(spark, table_prefix, meta)
    m, _, sub = books.shape
    q_rows = (
        q_probes.select("__qid", "__qv").distinct().collect()
    )
    if not q_rows:
        # no valid query vectors: empty result with the right schema
        # (np.stack over zero LUT blocks would raise otherwise)
        value_field = "cosine" if refine_with is not None else "adc_ip"
        return spark.createDataFrame(
            [],
            q_probes.select("__qid").schema.add(
                "corpus_id",
                inv.schema["id"].dataType,
            ).add(value_field, "double"),
        ).withColumnRenamed("__qid", "query_id")
    q_ids = [r["__qid"] for r in q_rows]
    q_index = {qid: i for i, qid in enumerate(q_ids)}
    q_mat = np.vstack(
        [np.asarray(r["__qv"], dtype=np.float64) for r in q_rows]
    )
    lut = np.stack(
        [
            q_mat[:, j * sub : (j + 1) * sub] @ books[j].T
            for j in range(m)
        ],
        axis=1,
    )  # (n_queries, m, ks')
    by_residual = _meta_pq_residual(meta)
    qc = q_mat @ np.asarray(centers, dtype=np.float64).T  # (n_q, cells)

    idx_map = spark.createDataFrame(
        [(qid, q_index[qid]) for qid in q_ids],
        q_probes.select("__qid").schema.add("__qidx", "integer"),
    )
    probes = q_probes.select("__qid", "cell").join(
        F.broadcast(idx_map), on="__qid"
    )

    @pandas_udf("double")
    def adc(qidx: pd.Series, cell: pd.Series, codes: pd.Series) -> pd.Series:
        qi = qidx.to_numpy(dtype=np.int64)
        code_mat = np.vstack(
            [
                np.frombuffer(c, dtype=np.uint8).astype(np.int64)
                for c in codes
            ]
        )
        cols = np.arange(m, dtype=np.int64)[None, :]
        scores = lut[qi[:, None], cols, code_mat].sum(axis=1)
        if by_residual:
            scores = scores + qc[qi, cell.to_numpy(dtype=np.int64)]
        return pd.Series(scores)

    scored = inv.join(F.broadcast(probes), on="cell").select(
        F.col("__qid").alias("query_id"),
        F.col("id").alias("corpus_id"),
        adc(F.col("__qidx"), F.col("cell"), F.col("codes")).alias(
            "adc_ip"
        ),
    )
    if refine_with is None:
        return _two_stage_topk(
            scored, k, "query_id", "corpus_id", value_col="adc_ip"
        )
    shortlist = _two_stage_topk(
        scored, max(1, refine) * k, "query_id", "corpus_id",
        value_col="adc_ip",
    ).drop("adc_ip")
    # raw vectors join the broadcast shortlist FIRST; the unitize
    # kernel then runs on refine·k·n_queries rows only (same
    # pushed-down shape as ivfpq_topk's refine — never a full-corpus
    # pandas pass)
    unitize = _unit_vector_udf(meta["dim"])
    raw = refine_with.select(
        F.col(corpus_id_col).alias("corpus_id"),
        F.col(corpus_vec_col).cast("array<double>").alias("__rawv"),
    )
    q_map = F.broadcast(
        q_probes.select(
            F.col("__qid").alias("query_id"), "__qv"
        ).distinct()
    )
    exact = (
        raw.join(F.broadcast(shortlist), on="corpus_id")
        .join(q_map, on="query_id")
        .select(
            "query_id",
            "corpus_id",
            F.round(
                dot_product(F.col("__qv"), unitize(F.col("__rawv"))), 6
            ).alias("cosine"),
        )
    )
    return _two_stage_topk(exact, k, "query_id", "corpus_id")


def append_to_ivf_index(
    spark: SparkSession,
    increment: DataFrame,
    table_prefix: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold new vectors into the inverted file.

    Assignment uses the STORED centroids — appends never retrain, so
    existing cell partitions stay valid and the append writes only the
    partitions the increment's vectors land in (dynamic partition
    append, increment-sized work).  Rebuild the index when drift makes
    the quantizer stale; that is an offline decision, not an ingest
    side effect.

    Consistency: a single-table append = one job-atomic write (see
    :func:`append_to_catalog`); only the multi-table MinHash append
    needs the journal bracket.

    On a PQ index the increment is encoded with the STORED codebooks
    (immutable after build, like the centroids) — codes written by any
    append score identically to build-time codes under the same LUTs.
    """
    from data_toolz_spark.operators.similarity import _unit_vector_udf

    meta, centers = _load_centroids(spark, table_prefix)
    unitize = _unit_vector_udf(meta["dim"])
    units = increment.select(
        F.col(id_col).alias("id"),
        unitize(F.col(vec_col).cast("array<double>")).alias("vector"),
    ).filter(F.col("vector").isNotNull())
    inv_cols = spark.table(f"{table_prefix}_ivf_inv").columns
    assigned = _assign_cells(units, centers)
    if _meta_pq_m(meta) is not None:
        books = _load_codebooks(spark, table_prefix, meta)
        if _meta_pq_residual(meta):
            assigned = assigned.withColumn(
                "codes",
                _pq_pack_udf(books, centers=centers)(
                    F.col("vector"), F.col("cell")
                ),
            )
        else:
            assigned = assigned.withColumn(
                "codes", _pq_pack_udf(books)(F.col("vector"))
            )
    assigned.select(*inv_cols).write.mode("append").insertInto(
        f"{table_prefix}_ivf_inv"
    )


def _pq_decode_udf(codebooks):
    """Reconstruct vectors from packed PQ codes — the deterministic
    inverse-of-quantization read (faiss ``reconstruct``): subspace j's
    byte indexes codebook j, the sub-vectors concatenate.  One numpy
    gather per Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = codebooks.shape[0]

    @pandas_udf("array<double>")
    def decode(codes: pd.Series) -> pd.Series:
        vals = codes.tolist()
        live = [i for i, v in enumerate(vals) if v is not None]
        out = np.empty(len(vals), dtype=object)
        if live:
            mat = np.vstack(
                [np.frombuffer(vals[i], dtype=np.uint8) for i in live]
            ).astype(np.int64)
            recon = np.concatenate(
                [codebooks[j, mat[:, j]] for j in range(m)], axis=1
            )
            for r, i in enumerate(live):
                out[i] = [float(x) for x in recon[r]]
        return pd.Series(out)

    return decode


def validate_ivf_index(spark: SparkSession, table_prefix: str) -> dict:
    """Bounded integrity audit of a persistent IVF index — the
    post-crash companion of :func:`rebalance_ivf_index` (its MinHash
    sibling is :func:`validate_minhash_index`).

    Returns ``{"duplicate_ids", "orphan_cells", "meta_n_centroids",
    "centroid_rows", "consistent"}``: duplicate ids (one aggregate —
    the signature of a crash between a rebalance's partition writes
    and its stale-partition drops), inverted-file cells the centroid
    table does not know (a crash before the model rewrite; the next
    rebalance repairs them), and the centroid id-space shape
    (``consistent`` requires the stored cells to be exactly
    ``0..meta.n_centroids-1``).  Never touches vectors or codes — two
    count-shaped jobs plus bounded collects.
    """
    inv = spark.table(f"{table_prefix}_ivf_inv")
    dup = (
        inv.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    meta = _meta_row(spark, f"{table_prefix}_ivf_meta")
    known = {
        int(r["cell"])
        for r in spark.table(f"{table_prefix}_ivf_centroids")
        .select("cell")
        .collect()
    }
    inv_cells = {
        int(r["cell"]) for r in inv.select("cell").distinct().collect()
    }
    orphans = sorted(inv_cells - known)
    return {
        "duplicate_ids": int(dup),
        "orphan_cells": orphans,
        "meta_n_centroids": int(meta["n_centroids"]),
        "centroid_rows": len(known),
        "consistent": dup == 0
        and not orphans
        and sorted(known) == list(range(int(meta["n_centroids"]))),
    }


def _write_ivf_meta(
    spark: SparkSession, table_prefix: str, meta, n_centroids: int
) -> None:
    """Rewrite the one-row meta table with a new centroid count,
    preserving every other pinned field (pre-PQ meta rows lack the pq
    columns entirely — the safe accessors normalize them)."""
    fields = meta.__fields__
    spark.createDataFrame(
        [
            (
                int(meta["dim"]),
                int(n_centroids),
                int(meta["seed"]),
                _meta_pq_m(meta),
                meta["pq_ks"] if "pq_ks" in fields else None,
                meta["pq_residual"] if "pq_residual" in fields else None,
            )
        ],
        "dim int, n_centroids int, seed int, pq_m int, pq_ks int, "
        "pq_residual boolean",
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_ivf_meta")


def rebalance_ivf_index(
    spark: SparkSession,
    table_prefix: str,
    *,
    max_cell_rows: int | None = None,
    max_cell_frac: float | None = None,
    split_factor: int = 2,
    kmeans_max_iter: int = 5,
    per_cell_sample: int = 20_000,
) -> DataFrame:
    """Split overweight inverted-file cells — the maintenance step the
    append-only lifecycle was missing (r12).

    Appends never retrain the quantizer (retraining would re-shuffle
    every existing assignment), so under drift or skewed ingest a few
    cells grow far past the mean and a probe that lands on them reads
    a disproportionate slice — at 100 TB the probe cost of the hot
    cell IS the query cost.  Rebalancing restores the invariant
    bottom-up, touching ONLY the overweight cells:

    1. per-cell row counts (one bounded aggregate over the cell
       column) pick every cell with more than ``max_cell_rows`` rows
       (and/or ``max_cell_frac`` of the total — at least one bound is
       required, both = the tighter);
    2. each such cell trains its OWN ``split_factor``-way sub-quantizer
       on a deterministic hash-ordered bounded sample of its members
       (the build-time sampling device, per-cell seed =
       ``meta.seed + cell + 1``), integer-exact k-means like the
       build;
    3. sub-centroid 0 REUSES the old cell id, the rest take fresh ids
       contiguously above the current centroid range (allocation in
       sorted-cell order — deterministic);
    4. only the split cells' members re-assign (to their own cell's
       sub-centroids — the faiss split semantics; ties break to the
       lowest global id), and the inverted file rewrites exactly the
       touched partitions — work is Σ|overweight cell|, never
       |corpus|;
    5. the meta row and centroid table rewrite last (bounded).

    Variants: Flat cells re-train/re-assign on their stored vectors.
    PQ NON-residual cells use codebook RECONSTRUCTIONS
    (:func:`_pq_decode_udf` — the faiss ``reconstruct`` read; codes
    themselves encode the raw vector, so they stay valid under the new
    cell id and every query ADC score is unchanged).  PQ residual
    indexes REFUSE: their codes encode ``vector − centroid(cell)``,
    so moving a row would invalidate its stored bytes — rebuild
    instead (the error says so).

    Offline op (like compaction): run without concurrent writers.
    Crash contract, in commit order: (a) before any inverted-file
    write commits, nothing changed; (b) a crash after the repair
    append or the split overwrite but before the stale-partition
    drops can leave moved rows duplicated under their old cell id —
    :func:`validate_ivf_index` reports the duplicate count and the
    orphan cells; dropping the reported orphan partitions and
    re-running heals; (c) a crash before the meta/centroid rewrite
    strands the new sub-cells' rows under ids the centroid TABLE does
    not know (detection is centroid-table membership, never the meta
    count) — RE-RUNNING heals: those rows are repaired as orphans and
    their partitions dropped (a fresh id that coincides with such a
    leftover partition is safe: the split overwrite rewrites it
    wholesale and the drop skips reused ids); a stale meta count alone
    is healed even by a no-work run.

    Returns a bounded report frame ``(cell, rows_before, action,
    new_cells)`` — ``action ∈ {'split', 'repair'}`` (cells left alone
    are not reported; a cell whose sample collapses to one distinct
    point cannot split and is skipped).
    """
    from pyspark.sql.window import Window

    from data_toolz_spark.operators.similarity import (
        _quantizer_from_sample,
    )

    if max_cell_rows is None and max_cell_frac is None:
        raise ValueError(
            "rebalance_ivf_index: set max_cell_rows and/or max_cell_frac"
        )
    if max_cell_rows is not None and max_cell_rows < 1:
        raise ValueError("rebalance_ivf_index: max_cell_rows must be >= 1")
    if max_cell_frac is not None and not 0.0 < max_cell_frac <= 1.0:
        raise ValueError(
            "rebalance_ivf_index: max_cell_frac must be in (0, 1]"
        )
    if split_factor < 2:
        raise ValueError("rebalance_ivf_index: split_factor must be >= 2")
    meta = _meta_row(spark, f"{table_prefix}_ivf_meta")
    if _meta_pq_residual(meta):
        raise ValueError(
            "rebalance_ivf_index: a by-residual PQ index stores codes "
            "relative to each row's coarse centroid — moving rows would "
            "invalidate them; rebuild the index instead"
        )
    pq_m = _meta_pq_m(meta)
    inv_name = f"{table_prefix}_ivf_inv"
    inv = spark.table(inv_name)
    inv_cols = inv.columns
    # the centroid TABLE is the source of truth for which cells exist
    # (never the meta count: a crash between the meta and centroid
    # rewrites must not blind orphan detection)
    cent_rows = {
        int(r["cell"]): [float(x) for x in r["vector"]]
        for r in spark.table(f"{table_prefix}_ivf_centroids").collect()
    }
    known = set(cent_rows)
    if not known:
        raise ValueError(
            "rebalance_ivf_index: the centroid table is empty — not a "
            "servable index; rebuild it"
        )
    counts = {
        int(r["cell"]): int(r["n"])
        for r in inv.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    threshold = total + 1
    if max_cell_rows is not None:
        threshold = max_cell_rows
    if max_cell_frac is not None:
        threshold = min(threshold, int(max_cell_frac * total))
    threshold = max(1, threshold)
    orphans = sorted(c for c in counts if c not in known)
    split_cells = sorted(
        c for c, n in counts.items() if c in known and n > threshold
    )
    report_schema = (
        "cell int, rows_before long, action string, new_cells array<int>"
    )
    if not orphans and not split_cells:
        # no data work — but leave the model self-consistent (a crash
        # between the meta and centroid rewrites can strand a stale
        # meta count; this is the cheap place to heal it)
        if int(meta["n_centroids"]) != max(known) + 1:
            _write_ivf_meta(spark, table_prefix, meta, max(known) + 1)
        return spark.createDataFrame([], report_schema)

    touched = inv.filter(F.col("cell").isin(split_cells + orphans))
    if pq_m is not None:
        books = _load_codebooks(spark, table_prefix, meta)
        touched = touched.withColumn(
            "vector", _pq_decode_udf(books)(F.col("codes"))
        )
    touched = touched.localCheckpoint(eager=True)

    report: list[tuple] = []
    sub_ids: dict[int, list[int]] = {}
    sub_centers: dict[int, np.ndarray] = {}
    if split_cells:
        seed = int(meta["seed"])
        samples = (
            touched.filter(F.col("cell").isin(split_cells))
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("cell").orderBy(
                        F.xxhash64(F.col("id"), F.lit(seed)), F.col("id")
                    )
                ),
            )
            .filter(F.col("__rk") <= per_cell_sample)
            .select("cell", "vector")
            .collect()
        )
        by_cell: dict[int, list] = {}
        for r in samples:
            by_cell.setdefault(int(r["cell"]), []).append(
                np.asarray(r["vector"], dtype=np.float64)
            )
        # contiguous allocation from the top of the known range; a
        # fresh id MAY coincide with an orphan partition a crashed
        # run left behind — that partition is then fully REWRITTEN by
        # the split overwrite (its old rows are in `touched` and get
        # re-homed) and excluded from the orphan drop below
        next_id = max(known) + 1
        for c in split_cells:
            subs = _quantizer_from_sample(
                np.array(by_cell[c]),
                split_factor,
                seed=seed + c + 1,
                max_iter=kmeans_max_iter,
            )
            # identical sample points collapse the sub-quantizer —
            # nothing to split along.  np.unique(axis=0) also SORTS
            # rows lexicographically, so member-argmax ties (first max
            # index wins) break to the lowest global id
            subs = np.unique(subs, axis=0)
            if len(subs) < 2:
                continue
            ids = [c] + list(range(next_id, next_id + len(subs) - 1))
            next_id += len(subs) - 1
            sub_ids[c] = ids
            sub_centers[c] = subs
            report.append((c, counts[c], "split", ids[1:]))
    for c in orphans:
        report.append((c, counts[c], "repair", []))
    if not sub_ids and not orphans:
        touched.unpersist()
        return spark.createDataFrame([], report_schema)

    # the final centroid layout, fixed BEFORE any write: untouched
    # cells keep their stored rows, split cells are replaced by their
    # sub-centers
    new_rows = [
        (c, vec) for c, vec in cent_rows.items() if c not in sub_centers
    ]
    for c in sorted(sub_centers):
        for gid, vec in zip(sub_ids[c], sub_centers[c]):
            new_rows.append((int(gid), [float(x) for x in vec]))
    new_rows.sort()
    new_n = max(i for i, _ in new_rows) + 1
    dim = int(meta["dim"])
    final_centers = np.zeros((new_n, dim), dtype=np.float64)
    for i, vec in new_rows:
        final_centers[i] = np.asarray(vec, dtype=np.float64)

    # reassign: split members to their own cell's sub-quantizer,
    # orphan rows globally against the FINAL layout (so a repaired
    # row can land inside a freshly-split region, never under a
    # replaced centroid)
    local_ids = {
        c: np.asarray(ids, dtype=np.int64) for c, ids in sub_ids.items()
    }
    local_centers = dict(sub_centers)

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def new_cell(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=np.int64)
        cs = cells.to_numpy()
        mat = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in vecs.tolist()]
        )
        for i in range(len(out)):
            c = int(cs[i])
            if c in local_centers:
                out[i] = local_ids[c][
                    int(np.argmax(local_centers[c] @ mat[i]))
                ]
            else:  # orphan repair
                out[i] = int(np.argmax(final_centers @ mat[i]))
        return pd.Series(out)

    # only rows whose cell ACTUALLY rebalances may be rewritten: a
    # split candidate whose sub-quantizer collapsed (skipped above)
    # keeps its partition untouched — letting its rows through would
    # re-home and DUPLICATE them (their source partition is neither
    # rewritten nor dropped)
    active = sorted(set(sub_ids) | set(orphans))
    rewritten = (
        touched.filter(F.col("cell").isin(active))
        .withColumn("cell", new_cell(F.col("vector"), F.col("cell")))
        .select(*inv_cols)
    )
    sub_all = {i for ids in sub_ids.values() for i in ids}

    # two write shapes, because their partition coverage differs:
    # * rows targeting a SUB id live in partitions the rewrite fully
    #   covers (split members + any repaired row landing there) —
    #   dynamic partition overwrite is exact for them;
    # * repaired rows targeting an UNTOUCHED cell must APPEND (an
    #   overwrite would clobber the target partition's unread
    #   members), with their source partitions dropped afterwards.
    # The append commits first so a crash never strands a repaired
    # row only in the (about-to-be-overwritten) checkpoint.
    if orphans:
        repair_rows = (
            rewritten.filter(~F.col("cell").isin(list(sub_all)))
            if sub_all
            else rewritten
        )
        repair_rows.write.mode("append").insertInto(inv_name)
    present: set[int] = set()
    if sub_ids:
        split_part = rewritten.filter(F.col("cell").isin(list(sub_all)))
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev_mode = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            split_part.write.insertInto(inv_name, overwrite=True)
        finally:
            spark.conf.set(mode_key, prev_mode)
        # dynamic overwrite only rewrites partitions PRESENT in the
        # new data — a split partition whose sub-0 received no
        # members would keep its stale files.  One bounded distinct
        # over the touched slice finds the survivors.
        present = {
            int(r["cell"])
            for r in split_part.select("cell").distinct().collect()
        }
        for c in split_cells:
            if c in sub_ids and c not in present:
                spark.sql(
                    f"ALTER TABLE {inv_name} DROP IF EXISTS "
                    f"PARTITION (cell={c})"
                )
    for c in orphans:
        # an orphan id reused as a fresh sub id is only safe to keep
        # if the split overwrite actually REWROTE that partition — a
        # zero-member sub id leaves the stale orphan files in place
        # and must drop like any other orphan
        if c in sub_all and c in present:
            continue
        spark.sql(
            f"ALTER TABLE {inv_name} DROP IF EXISTS "
            f"PARTITION (cell={c})"
        )
    touched.unpersist()

    # bounded model rewrite, meta before centroids (see crash contract)
    _write_ivf_meta(spark, table_prefix, meta, new_n)
    spark.createDataFrame(
        new_rows, "cell int, vector array<double>"
    ).write.mode("overwrite").saveAsTable(
        f"{table_prefix}_ivf_centroids"
    )
    return spark.createDataFrame(report, report_schema)


# ---------------------------------------------------------------------------
# Persistent Hamming-fingerprint index (r10, VERDICT r9 item 5) — the
# content-fingerprint twin of the IVF index: one pre-banded table
# serves image (aHash/dHash), audio (Haitsma-Kalker), and video
# (majority-dHash) fingerprints through the same pigeonhole banding
# the batch path uses (dedup.fingerprint_band_pairs).
# ---------------------------------------------------------------------------


def _hfp_banded(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    *,
    max_hamming: int,
    n_blocks: int | None,
    bits: int,
    n_partitions: int,
) -> DataFrame:
    """(id, fp, blk, val, pv) banded rows; NULL fingerprints are
    excluded (they have no Hamming-space question to answer)."""
    from data_toolz_spark.operators.dedup import _hamming_block_vals

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(fp_col).cast("long").alias("fp"),
    ).filter(F.col("fp").isNotNull())
    return base.select(
        "id",
        "fp",
        F.posexplode(
            _hamming_block_vals("fp", max_hamming, n_blocks, bits)
        ).alias("blk", "val"),
    ).withColumn("pv", F.pmod(F.col("val"), F.lit(n_partitions)).cast("int"))


def build_hamming_index(
    df: DataFrame,
    table_prefix: str,
    *,
    id_col: str,
    fp_col: str,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    bits: int = 64,
    n_partitions: int = 64,
    path: str | None = None,
) -> str:
    """Persist a pre-banded Hamming-fingerprint index.

    Two tables:

    * ``{p}_hfp_meta``  — one row pinning (max_hamming, n_blocks, bits,
      n_partitions) so a drifted query/append fails loudly;
    * ``{p}_hfp_bands`` — (id, fp, blk, val) **partitioned by
      pv = pmod(val, n_partitions)**: a query batch's banded rows name
      the pv partitions they can possibly match (bounded by the batch),
      so the probe reads only those partitions — the banding twin of
      the IVF probe-cell pruning.  Candidates meet on (blk, val) and
      verify with one ``bit_count(xor)`` against the stored fp —
      exact recall for Hamming ≤ max_hamming (pigeonhole), candidate
      volume Σ|bucket|², never |corpus|².
    """
    from data_toolz_spark.operators.dedup import _hamming_block_bounds

    spark = df.sparkSession
    blocks = _hamming_block_bounds(max_hamming, n_blocks, bits)
    if n_partitions < 1:
        raise ValueError(
            "build_hamming_index: n_partitions must be >= 1"
        )
    meta = spark.createDataFrame(
        [(int(max_hamming), len(blocks), int(bits), int(n_partitions))],
        "max_hamming int, n_blocks int, bits int, n_partitions int",
    )
    meta.write.mode("overwrite").saveAsTable(f"{table_prefix}_hfp_meta")
    banded = _hfp_banded(
        df, id_col, fp_col,
        max_hamming=max_hamming, n_blocks=len(blocks), bits=bits,
        n_partitions=n_partitions,
    )
    # overwrite-mode saveAsTable (the build_ivf_index pattern), NOT
    # DROP + CREATE + insertInto: dropping an EXTERNAL (path) table
    # leaves its parquet files, and an append-mode insert would
    # resurrect a previous build's rows — stale fingerprints banded
    # under possibly-different parameters
    writer = (
        banded.select("id", "fp", "blk", "val", "pv")
        .write.mode("overwrite")
        .partitionBy("pv")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(f"{table_prefix}_hfp_bands")
    return f"{table_prefix}_hfp_bands"


def hamming_query_index(
    spark: SparkSession,
    batch: DataFrame,
    table_prefix: str,
    *,
    id_col: str,
    fp_col: str,
) -> DataFrame:
    """Hamming-near matches of ``batch`` against the stored index:
    ``(query_id, index_id, hamming)``.  The batch's banded rows name
    the pv partitions worth reading (one bounded ``collect`` of ≤
    n_partitions ints); unprobed partitions are never scanned."""
    m = _meta_row(spark, f"{table_prefix}_hfp_meta")
    banded = _hfp_banded(
        batch, id_col, fp_col,
        max_hamming=m["max_hamming"], n_blocks=m["n_blocks"],
        bits=m["bits"], n_partitions=m["n_partitions"],
    )
    pvs = sorted(
        r["pv"] for r in banded.select("pv").distinct().collect()
    )
    if not pvs:
        return spark.createDataFrame(
            [], "query_id long, index_id long, hamming int"
        )
    idx = spark.table(f"{table_prefix}_hfp_bands").filter(
        F.col("pv").isin(pvs)
    )
    q = banded.select(
        F.col("id").alias("query_id"),
        F.col("fp").alias("qfp"),
        "blk",
        "val",
    )
    i = idx.select(
        F.col("id").alias("index_id"),
        F.col("fp").alias("ifp"),
        "blk",
        "val",
    )
    return (
        q.join(i, on=["blk", "val"])
        .select(
            "query_id",
            "index_id",
            F.bit_count(
                F.col("qfp").bitwiseXOR(F.col("ifp"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= int(m["max_hamming"]))
        .dropDuplicates(["query_id", "index_id"])
    )


def append_to_hamming_index(
    spark: SparkSession,
    increment: DataFrame,
    table_prefix: str,
    *,
    id_col: str,
    fp_col: str,
) -> None:
    """Fold new fingerprints into the band table — ONE job-atomic
    ``insertInto`` (single table, no journal; the
    :func:`append_to_catalog` argument), dynamic-partition append so
    only the pv partitions the increment touches are written."""
    m = _meta_row(spark, f"{table_prefix}_hfp_meta")
    banded = _hfp_banded(
        increment, id_col, fp_col,
        max_hamming=m["max_hamming"], n_blocks=m["n_blocks"],
        bits=m["bits"], n_partitions=m["n_partitions"],
    )
    banded.select("id", "fp", "blk", "val", "pv").write.insertInto(
        f"{table_prefix}_hfp_bands"
    )


# ---------------------------------------------------------------------------
# Persistent per-site QUOTA ledger (X85, r10): the incremental twin of
# urls.cap_per_domain — a crawl ingest admits at most N docs per host
# ACROSS batches, so the quota state must persist.  The ledger is ONE
# table of accepted (id, domain) rows partitioned by pd =
# pmod(xxhash64(domain), P): a batch's domains name the partitions
# worth reading (the hamming-index pruning device), used counts are a
# pruned groupBy, and the fold is one job-atomic dynamic-partition
# insertInto (single table — the append_to_catalog no-journal
# argument).  The accepted-id rows double as replay protection: a
# replayed batch's ids are already in the ledger and admit nothing.
# ---------------------------------------------------------------------------


def _quota_pd(domain: Column, n_partitions: int) -> Column:
    return F.pmod(F.xxhash64(domain), F.lit(n_partitions)).cast("int")


def build_quota_ledger(
    spark: SparkSession,
    table_prefix: str,
    *,
    max_per_domain: int,
    n_partitions: int = 64,
    seed: int = 42,
    path: str | None = None,
) -> str:
    """Create an EMPTY per-site quota ledger.

    Two tables: ``{p}_quota_meta`` pins (max_per_domain, n_partitions,
    seed) so a drifted admit/append fails loudly; ``{p}_quota_rows``
    holds the accepted (id, domain) rows partitioned by
    ``pd = pmod(xxhash64(domain), P)``.
    """
    if max_per_domain < 1:
        raise ValueError(
            "build_quota_ledger: max_per_domain must be >= 1"
        )
    if n_partitions < 1:
        raise ValueError(
            "build_quota_ledger: n_partitions must be >= 1"
        )
    spark.createDataFrame(
        [(int(max_per_domain), int(n_partitions), int(seed))],
        "max_per_domain int, n_partitions int, seed long",
    ).write.mode("overwrite").saveAsTable(f"{table_prefix}_quota_meta")
    empty = spark.createDataFrame(
        [], "id long, domain string, pd int"
    )
    writer = empty.write.mode("overwrite").partitionBy("pd")
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(f"{table_prefix}_quota_rows")
    return f"{table_prefix}_quota_rows"


def _require_integral_id(df: DataFrame, id_col: str, fn: str) -> None:
    """The quota ledger stores ids as int64 and replay protection is
    an id anti-join — a non-integral id column (UUID strings, …) would
    silently cast to NULL, never match, and fill the ledger with
    NULL-id rows, so the documented "replays cannot oversubscribe"
    contract would silently fail.  Fail loudly instead (hash string
    ids to a long key upstream if needed, e.g. ``xxhash64``)."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{fn}: id_col {id_col!r} must be an integral type (the "
            f"ledger stores int64 ids and replay protection anti-joins "
            f"on them), got {dt} — hash non-numeric ids to a long key "
            "(e.g. xxhash64) before admission"
        )


def quota_admit(
    spark: SparkSession,
    batch: DataFrame,
    table_prefix: str,
    *,
    id_col: str,
    domain_col: str,
) -> DataFrame:
    """The subset of ``batch`` the persistent quota admits (no writes).

    Reads ONLY the ledger partitions the batch's domains name (one
    bounded collect of ≤ n_partitions ints), computes per-domain used
    counts, drops batch ids already in the ledger (replay protection
    — an admitted doc never re-admits), ranks the remainder per
    domain by the deterministic ``hash(id, seed)`` lottery (ties →
    id, the :func:`~data_toolz_spark.operators.urls.cap_per_domain`
    rule), and admits ranks up to the remaining allowance.  The
    ranking window is BATCH-sized — no salting needed.

    Semantics note: across batches the quota is ARRIVAL-ORDER (batch
    1's winners hold their slots; a later, luckier hash cannot evict
    them) — the production ingest semantics, unlike the one-shot
    ``cap_per_domain`` which lotteries over the whole corpus at once.

    NULL domains are REJECTED (filtered out, never admitted): they
    carry no quota key and no ledger row, so a replay would duplicate
    them in the sink — route no-URL docs to a quarantine path
    upstream (the ``run_fingerprint_ingest`` NULL-fp argument).
    """
    from pyspark.sql.window import Window

    from data_toolz_spark.operators.sampling import _order_hash

    _require_integral_id(batch, id_col, "quota_admit")
    m = _meta_row(spark, f"{table_prefix}_quota_meta")
    cap, n_parts, seed = (
        int(m["max_per_domain"]),
        int(m["n_partitions"]),
        int(m["seed"]),
    )
    b = batch.filter(F.col(domain_col).isNotNull()).withColumn(
        "__pd", _quota_pd(F.col(domain_col), n_parts)
    )
    pds = sorted(
        r["__pd"] for r in b.select("__pd").distinct().collect()
    )
    if not pds:
        return batch.filter(F.lit(False)).drop("__pd", "__ok", "__rn")
    ledger = spark.table(f"{table_prefix}_quota_rows").filter(
        F.col("pd").isin(pds)
    )
    used = ledger.groupBy("domain").agg(F.count(F.lit(1)).alias("__used"))
    fresh = b.join(
        ledger.select(F.col("id").alias("__lid")),
        on=F.col(id_col).cast("long") == F.col("__lid"),
        how="left_anti",
    )
    w = Window.partitionBy(domain_col).orderBy("__ok", id_col)
    ranked = (
        fresh.withColumn(
            "__ok", _order_hash(F.col(id_col), seed, False)
        )
        .withColumn("__rn", F.row_number().over(w))
        .join(
            used.withColumnRenamed("domain", domain_col),
            on=domain_col,
            how="left",
        )
    )
    return ranked.filter(
        F.col("__rn") + F.coalesce(F.col("__used"), F.lit(0)) <= cap
    ).drop("__pd", "__ok", "__rn", "__used")


def append_to_quota_ledger(
    spark: SparkSession,
    admitted: DataFrame,
    table_prefix: str,
    *,
    id_col: str,
    domain_col: str,
) -> None:
    """Fold admitted rows into the ledger — ONE job-atomic
    dynamic-partition ``insertInto`` touching only the pd partitions
    the batch's domains name."""
    _require_integral_id(admitted, id_col, "append_to_quota_ledger")
    m = _meta_row(spark, f"{table_prefix}_quota_meta")
    (
        admitted.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(domain_col).alias("domain"),
            _quota_pd(F.col(domain_col), int(m["n_partitions"])).alias(
                "pd"
            ),
        ).write.insertInto(f"{table_prefix}_quota_rows")
    )


__all__ += [
    "build_hamming_index",
    "hamming_query_index",
    "append_to_hamming_index",
    "build_quota_ledger",
    "quota_admit",
    "append_to_quota_ledger",
]


# ---------------------------------------------------------------------------
# Incremental EXACT-SUBSTRING dedup: a persistent gram index (X94)
# ---------------------------------------------------------------------------
#
# The batch operator (text_analysis.remove_duplicate_spans) answers
# "which n-word passages repeat across THIS corpus"; a daily ingest
# asks "which passages of today's increment already exist anywhere in
# the ingested corpus" — without rescanning it.  Same catalog design
# as the fingerprint family: a bucketed (gram, first_id) table, read
# in place by every increment join; only the increment ever shuffles.
# The first-ingested copy of a passage is permanently canonical (its
# doc is already written), so later occurrences cut unconditionally —
# with min_docs=2 this reproduces the batch operator exactly (pinned
# by tests: batch over A∪B == build-on-A + incremental-on-B when A's
# ids precede B's).


def _gram_rows(
    df: DataFrame, *, n: int, id_col: str, text_col: str
) -> DataFrame:
    """Gram-index rows ``(gram, first_id)`` of ``df``: one row per
    distinct word-``n``-gram hash with its min holding doc id."""
    from data_toolz_spark.operators.text_analysis import (
        positioned_gram_hashes,
    )

    return (
        positioned_gram_hashes(df, n=n, id_col=id_col, text_col=text_col)
        .groupBy(F.col("__k").alias("gram"))
        .agg(F.min("__id").alias("first_id"))
    )


def build_gram_index(
    df: DataFrame,
    table: str,
    *,
    n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    path: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Create the bucketed word-``n``-gram index from an initial
    corpus (possibly empty): one row per DISTINCT gram hash with the
    min holding doc id — the index grows with unique CONTENT, and
    grams are ``xxhash64`` longs, so nothing text-sized is stored.
    Index the corpus AS WRITTEN (after any batch span dedup), since
    its grams are what future increments must not repeat."""
    from data_toolz_spark.sources.io import DataIO

    return DataIO().write_bucketed(
        _gram_rows(df, n=n, id_col=id_col, text_col=text_col),
        table,
        bucket_by=["gram"],
        n_buckets=n_buckets,
        sort_by=["gram"],
        path=path,
        mode=mode,
    )


def dedup_spans_incremental(
    spark: SparkSession,
    increment: DataFrame,
    index_table: str,
    *,
    n: int = 50,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text",
    count_col: str = "n_dropped_words",
) -> DataFrame:
    """Cut every ``n``-word span of ``increment`` that the ingested
    corpus already holds (gram-hash hit in ``index_table``) or that
    repeats across ≥ ``min_docs`` docs WITHIN the increment (batch
    semantics, keeper = min id).  Historical hits cut from every
    increment doc — the canonical copy is already written; the two
    flag sets union before one row-local rebuild
    (:func:`text_analysis.cut_flagged_spans`).

    Plan shape: the increment's positioned grams build once and feed
    both flag paths; the index side of the history join is bucketed
    and read in place, so per-increment work is sized to the
    increment — the 100 TB history never re-shuffles."""
    if n < 2:
        raise ValueError("dedup_spans_incremental: n must be >= 2")
    if min_docs < 2:
        raise ValueError(
            "dedup_spans_incremental: min_docs must be >= 2"
        )
    from data_toolz_spark.operators.text_analysis import (
        cut_flagged_spans,
        positioned_gram_hashes,
    )

    pos_grams = positioned_gram_hashes(
        increment, n=n, id_col=id_col, text_col=text_col
    )
    index = spark.table(index_table).select(
        F.col("gram").alias("__k")
    )
    hist_flag = pos_grams.join(index, on="__k", how="left_semi").select(
        "__id", "__pos"
    )
    spans = (
        pos_grams.groupBy("__k")
        .agg(
            F.count_distinct("__id").alias("__nd"),
            F.min("__id").alias("__keeper"),
        )
        .filter(F.col("__nd") >= F.lit(min_docs))
    )
    batch_flag = (
        pos_grams.join(spans, on="__k")
        .filter(F.col("__id") != F.col("__keeper"))
        .select("__id", "__pos")
    )
    flagged = (
        hist_flag.unionByName(batch_flag)
        .groupBy("__id")
        .agg(F.collect_set("__pos").alias("__cuts"))
    )
    return cut_flagged_spans(
        increment,
        flagged,
        n=n,
        id_col=id_col,
        text_col=text_col,
        out_col=out_col,
        count_col=count_col,
    )


def append_to_gram_index(
    cleaned: DataFrame,
    index_table: str,
    *,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold an increment's grams into the index — pass the CLEANED
    frame (the :func:`dedup_spans_incremental` output), so the index
    keeps owning exactly the grams present in the corpus as written.
    New grams anti-join against the bucketed index before the
    ``insertInto`` (one job, job-atomic like the fingerprint
    catalog), keeping one row per distinct gram."""
    spark = cleaned.sparkSession
    (
        _gram_rows(cleaned, n=n, id_col=id_col, text_col=text_col).join(
            spark.table(index_table).select("gram"),
            on="gram",
            how="left_anti",
        ).write.insertInto(index_table)
    )


__all__ += [
    "build_gram_index",
    "dedup_spans_incremental",
    "append_to_gram_index",
]

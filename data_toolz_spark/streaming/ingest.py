"""Streaming ingestion with incremental dedup: the daily-crawl shape.

A document stream lands continuously; every micro-batch must be
deduplicated against EVERYTHING ever ingested before it reaches the
corpus — without rescanning the corpus.  This module wires Structured
Streaming's ``foreachBatch`` to the persistent fingerprint catalog
(``operators.incremental``): per micro-batch, the novel rows are
selected by an anti-join that reads the bucketed catalog in place,
appended to the corpus sink, and their fingerprints folded back into
the catalog — so batch N+1 is deduplicated against batch N's content
automatically.

Semantics and scale notes:

* Work per micro-batch is sized to the batch (the catalog never
  re-shuffles — the same property the batch-mode ``novel_documents``
  plan-asserts).
* ``foreachBatch`` is at-least-once per epoch: on a retry after a
  partial failure, re-selected novel rows either still match (catalog
  append did not land) or anti-join away (it did); the corpus sink
  append CAN duplicate a batch on retry-after-sink-commit — pair with
  an idempotent sink (e.g. overwrite-by-batch-id partitions) when
  exactly-once matters.  Within-batch duplicates collapse to the
  min-id representative before the sink sees them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_toolz_spark.operators.incremental import (
    append_to_catalog,
    novel_documents,
)


def _drain(stream_df: DataFrame, process_batch, checkpoint_dir: str) -> None:
    """Run ``process_batch`` over every micro-batch of the available
    backlog, then stop (``availableNow``): each ingest function is one
    call per ingestion cycle, and the checkpoint carries the source
    offsets so a rerun never re-reads a processed file."""
    (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_dedup_ingest(
    stream_df: DataFrame,
    *,
    catalog_table: str,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sketch_table: str | None = None,
    index_prefix: str | None = None,
) -> None:
    """Drain the available stream backlog into a deduplicated corpus.

    Per micro-batch: anti-join against ``catalog_table`` (which must
    exist — build it with :func:`build_fingerprint_catalog
    <data_toolz_spark.operators.incremental.build_fingerprint_catalog>`,
    possibly over an empty frame), append the novel rows (original
    columns) to ``output_path`` as parquet, fold their fingerprints
    into the catalog.  ``availableNow`` drains then stops — rerun per
    ingestion cycle; the checkpoint carries source offsets so replayed
    files are never re-read.

    ``sketch_table`` (optional) appends one HLL sketch row per batch —
    ``(batch_id, n_rows, sketch)`` over the novel ids — so "how many
    distinct documents has this corpus ever ingested" is a
    ``rollup_sketches`` over the tiny stats table, never a corpus
    scan (see ``functions.sketches``).  Like the sink append, the
    stats row is at-least-once on epoch retry; HLL union makes a
    replayed row idempotent in the ESTIMATE (same ids fold to the
    same sketch), only ``n_rows`` can double-count a retried batch.

    ``index_prefix`` (optional) folds each batch's novel documents
    into an existing inverted text index (``operators.search``) —
    searchable the moment they land, postings sized to the batch.  A
    replayed epoch can duplicate posting rows; searches stay correct
    (``count_distinct`` semantics), run ``compact_dataset`` or a
    periodic ``distinct`` rewrite to reclaim the space.
    """
    in_cols = stream_df.columns

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        novel = novel_documents(
            spark,
            batch_df,
            catalog_table,
            text_col=text_col,
            id_col=id_col,
        )
        # one pass over the anti-join result feeds all writes.  The
        # catalog fold must come LAST: insertInto invalidates every
        # cached plan referencing the catalog table — including
        # ``novel`` itself — and a consumer running after the fold
        # would re-evaluate the anti-join against the UPDATED catalog
        # and see zero novel rows.
        novel = novel.persist()
        try:
            novel.select(*in_cols).write.mode("append").parquet(output_path)
            if sketch_table:
                from data_toolz_spark.functions.sketches import hll_sketch

                (
                    novel.agg(
                        F.count(F.lit(1)).alias("n_rows"),
                        hll_sketch(id_col).alias("sketch"),
                    )
                    .withColumn("batch_id", F.lit(batch_id))
                    .select("batch_id", "n_rows", "sketch")
                    .write.mode("append")
                    .saveAsTable(sketch_table)
                )
            if index_prefix:
                from data_toolz_spark.operators.search import (
                    append_to_text_index,
                )

                append_to_text_index(
                    novel,
                    index_prefix,
                    id_col=id_col,
                    text_col=text_col,
                )
            append_to_catalog(novel, catalog_table, id_col=id_col)
        finally:
            novel.unpersist()

    _drain(stream_df, process_batch, checkpoint_dir)


def run_near_dup_ingest(
    stream_df: DataFrame,
    *,
    index_prefix: str,
    output_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs_table: str | None = None,
) -> None:
    """NEAR-duplicate streaming ingestion against the persistent
    MinHash band index — the fuzzy twin of :func:`run_dedup_ingest`
    (r7): every micro-batch is mined with
    ``incremental_near_duplicates`` (the index's bucketed tables read
    in place, only the batch shuffles), near-dup batch docs are
    dropped, survivors append to the corpus sink, and the SURVIVORS
    fold back into the index so batch N+1 dedups against batch N.

    Drop policy (greedy, batch-sized joins): a batch document is
    dropped when it pairs with ANY already-indexed document (the
    corpus holds that content), or with a lower-id document in the
    same batch (min-id representative survives, the
    ``near_duplicate_drop_list`` greedy rule).  Only survivors enter
    the index: a later EXACT copy of a dropped doc still collides —
    it shares a band with the survivor its original paired with at
    ≥ threshold — while the index stays bounded by kept content.  A
    near- (not exact) copy of a dropped doc is only caught if it also
    clears the threshold against a kept doc; widen coverage by
    lowering the index threshold at build time, not by indexing
    drops.

    Failure semantics: ``foreachBatch`` is at-least-once per epoch.
    The sink append runs BEFORE the index fold, so a retry after
    sink-commit-but-before-fold can duplicate output rows (same
    contract as :func:`run_dedup_ingest` — pair with an idempotent
    sink when exactly-once matters); a retry after the fold drops the
    whole replayed batch via an EXPLICIT already-indexed-id check
    (batch ids semi-joined against the members table — r8; mining no
    longer emits the self-pairs the drop used to lean on) and writes
    nothing new.  A job death INSIDE the fold leaves the index
    journaled-dirty: the next batch's mining refuses it with the
    ``repair_minhash_index`` instruction — the stream fails loudly
    instead of mining a half-appended index.

    Replay-check gating (r9, VERDICT r8 item 5): the members
    semi-join is an O(index) id-column scan, which the common
    no-replay batch should not pay.  A one-row high-water-mark table
    (``{p}_mh_ingest_hwm``) records the highest batch id this stream
    STARTED folding; it is overwritten immediately BEFORE each fold,
    so any batch whose ids could be in the members table necessarily
    has ``batch_id ≤ hwm`` — only those suspicious batches (a
    checkpoint replay, or a fresh-checkpoint restart whose epoch
    counter restarted below the mark) run the members check.  A
    normal batch (``batch_id > hwm``) never references the members
    table in its drop plan.  Note the id check is REPLAY protection,
    not id-uniqueness enforcement: an out-of-band re-send of an
    already-indexed id in a later epoch is dropped only if its
    content still near-matches (the pairs-based drop), same as any
    other duplicate content.

    Journal growth: every fold appends two tiny journal rows and the
    pre-mine dirty check scans them all, so each 64th batch compacts
    the journal (``compact_minhash_journal`` — a no-op unless the
    index is clean), keeping the check O(open txns) on a long-lived
    stream.

    ``pairs_table`` (optional) appends the mined ``(id_a, id_b,
    jaccard, batch_id)`` pairs per batch — the audit trail for
    threshold tuning; at-least-once like every side output here.
    """
    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        compact_minhash_journal,
        incremental_near_duplicates,
    )

    in_cols = stream_df.columns

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from data_toolz_spark.cache import release

        spark = batch_df.sparkSession
        pairs = None
        survivors = None
        try:
            pairs = incremental_near_duplicates(
                spark,
                batch_df,
                index_prefix,
                id_col=id_col,
                text_col=text_col,
            ).persist()
            ids = batch_df.select(F.col(id_col).alias("__mid")).distinct()
            # explicit replay drop (r8), GATED on the fold high-water
            # mark (r9): a batch id already in the members table was
            # folded by a previous (crashed-after-fold) attempt of this
            # epoch — drop it.  The hwm is written before every fold,
            # so batch_id > hwm proves no prior fold of this epoch and
            # the O(index) members scan is skipped entirely; when the
            # check does run it is a map-side filter against the
            # broadcast batch ids (increment-sized output, no corpus
            # shuffle).  Mining's id_a < id_b contract is strict, so on
            # a true replay this check is the ONLY thing standing
            # between it and duplicate output.
            hwm_table = f"{index_prefix}_mh_ingest_hwm"
            try:
                # refresh first: the previous batch OVERWROTE this
                # table, and a stale file-listing cache would otherwise
                # throw FILE_NOT_EXIST here — which the fallback would
                # silently read as "no mark", un-gating a real replay
                spark.catalog.refreshTable(hwm_table)
                hwm = spark.table(hwm_table).first()["hwm"]
            except Exception:
                hwm = -1  # no mark yet — nothing ever started a fold
            if batch_id <= hwm:
                replayed = (
                    spark.table(f"{index_prefix}_mh_members")
                    .join(
                        F.broadcast(ids),
                        on=F.col("id") == F.col("__mid"),
                    )
                    .select(F.col("id").alias("__drop"))
                    .distinct()
                )
            else:
                # empty frame with the id column's exact type, no
                # members-table reference anywhere in the plan
                replayed = ids.limit(0).select(
                    F.col("__mid").alias("__drop")
                )
            # every mined pair touches the batch and has id_a < id_b,
            # so the doc to drop is id_b when it is a batch doc (its
            # partner is indexed or a lower-id batch doc) and id_a
            # otherwise (id_b is the indexed side)
            drops = (
                pairs.join(
                    ids.withColumnRenamed("__mid", "id_b").withColumn(
                        "__b_in", F.lit(True)
                    ),
                    on="id_b",
                    how="left",
                )
                .select(
                    F.when(F.col("__b_in"), F.col("id_b"))
                    .otherwise(F.col("id_a"))
                    .alias("__drop")
                )
                .unionByName(replayed)
                .distinct()
            )
            survivors = batch_df.join(
                drops, on=F.col(id_col) == F.col("__drop"), how="left_anti"
            ).persist()
            survivors.select(*in_cols).write.mode("append").parquet(
                output_path
            )
            if pairs_table:
                (
                    pairs.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("append")
                    .saveAsTable(pairs_table)
                )
            # record the mark BEFORE the fold: any crash window that
            # leaves batch ids in the members table (in or after the
            # fold) therefore has hwm ≥ batch_id already durable, so
            # the replay attempt re-runs the members check; a crash
            # between mark and fold merely re-runs the check against
            # members that lack these ids (harmless).  max(): a
            # fresh-checkpoint restart resets the epoch counter, and a
            # regressing mark would un-gate the restart's LATER epochs
            # (batch 1 > a mark its own batch 0 just lowered) — the
            # mark only ever rises.
            spark.createDataFrame(
                [(int(max(hwm, batch_id)),)], "hwm long"
            ).write.mode("overwrite").saveAsTable(hwm_table)
            # fold LAST (journaled): insertInto invalidates cached
            # plans over the index tables, and a consumer after the
            # fold would re-mine against the updated index
            append_to_minhash_index(
                spark,
                survivors,
                index_prefix,
                id_col=id_col,
                text_col=text_col,
            )
            # bound the journal on long-lived streams (ADVICE r7):
            # every 64th batch, rewrite closed txns away — a gated
            # no-op whenever any txn is still open
            if batch_id % 64 == 63:
                compact_minhash_journal(spark, index_prefix)
        finally:
            # incremental mining/appending track their internal
            # persists; release them per batch or they accumulate for
            # the life of the stream — and the two frames persisted
            # directly above must release on the FAILURE path too (a
            # died batch otherwise pins them for the stream's life)
            if pairs is not None:
                pairs.unpersist()
            if survivors is not None:
                survivors.unpersist()
            release()

    _drain(stream_df, process_batch, checkpoint_dir)


def run_vector_ingest(
    stream_df: DataFrame,
    *,
    index_prefix: str,
    output_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    n_probe: int = 4,
) -> None:
    """Embedding-stream ingestion with near-dup removal against the
    persistent IVF index — the VECTOR twin of
    :func:`run_near_dup_ingest` (r9): per micro-batch, each vector
    queries the index (probe-cell partition pruning — the inverted
    file's unprobed partitions are never read), batch vectors whose
    nearest indexed cosine ≥ ``threshold`` are dropped, within-batch
    near-dups collapse to the min-id representative (batch-sized
    blocked Gram work), survivors append to the corpus sink and fold
    into the inverted file — so batch N+1 dedups against batch N.

    Requires a FLAT index (built without ``pq_m``): the drop decision
    needs exact cosines, and the PQ path returns ADC estimates; a PQ
    index raises with instructions rather than silently thresholding
    approximate scores.

    Failure semantics: at-least-once per epoch, sink-append before
    index-fold (retry after sink-commit can duplicate sink rows —
    idempotent sink when exactly-once matters, the module contract).
    Replay protection needs NO side table here, unlike the MinHash
    ingest: a retry AFTER the fold re-queries the index that now
    CONTAINS the batch — every replayed vector matches itself at
    cosine 1.0 ≥ threshold and drops.  The index append itself is one
    job-atomic ``insertInto`` (no journal needed — single table).

    Probe recall caveat: a batch vector whose true near-dup lives in
    a cell outside its ``n_probe`` probes survives (the standard IVF
    recall trade) — raise ``n_probe`` for stricter dedup; at
    ``n_probe = n_centroids`` the check is exact.
    """
    if not 0 < threshold <= 1:
        raise ValueError("run_vector_ingest: threshold must be in (0, 1]")

    in_cols = stream_df.columns

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from data_toolz_spark.cache import release
        from data_toolz_spark.operators.incremental import (
            _load_centroids,
            _meta_pq_m,
            append_to_ivf_index,
            ivf_query_index,
        )
        from data_toolz_spark.operators.dedup import (
            near_duplicate_drop_list,
        )
        from data_toolz_spark.operators.similarity import (
            cosine_near_duplicates,
        )

        spark = batch_df.sparkSession
        meta, _ = _load_centroids(spark, index_prefix)
        if _meta_pq_m(meta) is not None:
            raise ValueError(
                "run_vector_ingest: the index is IVF-PQ — ADC scores "
                "are estimates, not cosines, so thresholding them "
                "would dedup on approximation noise.  Build a flat "
                "index for ingest-time dedup (or dedup offline with "
                "refine_with re-ranking)."
            )
        survivors = None
        try:
            batch_df = batch_df.persist()
            hits = ivf_query_index(
                spark,
                batch_df,
                index_prefix,
                query_id=id_col,
                query_vec=vec_col,
                k=1,
                n_probe=n_probe,
            )
            index_dups = hits.filter(
                F.col("cosine") >= threshold
            ).select(F.col("query_id").alias("__drop"))
            # Within-batch collapse must be the TRUE min-id-per-
            # component representative: a greedy "drop every id_b"
            # over-drops on transitive chains (A~B, B~C, A≁C drops
            # both B and C, leaving C with no surviving
            # representative).  near_duplicate_drop_list runs connected
            # components over the batch-sized pair graph — a handful of
            # tiny driver-looped jobs per micro-batch, bounded by the
            # batch.
            within = near_duplicate_drop_list(
                cosine_near_duplicates(
                    batch_df,
                    id_col=id_col,
                    vec_col=vec_col,
                    threshold=threshold,
                ),
            ).select(F.col("drop_id").alias("__drop"))
            drops = index_dups.unionByName(within).distinct()
            survivors = batch_df.join(
                drops, on=F.col(id_col) == F.col("__drop"), how="left_anti"
            ).persist()
            survivors.select(*in_cols).write.mode("append").parquet(
                output_path
            )
            append_to_ivf_index(
                spark,
                survivors,
                index_prefix,
                id_col=id_col,
                vec_col=vec_col,
            )
        finally:
            batch_df.unpersist()
            if survivors is not None:
                survivors.unpersist()
            release()

    _drain(stream_df, process_batch, checkpoint_dir)


def run_fingerprint_ingest(
    stream_df: DataFrame,
    *,
    index_prefix: str,
    output_path: str,
    checkpoint_dir: str,
    fp_col: str,
    id_col: str = "media_id",
) -> None:
    """Hamming-fingerprint stream ingestion with near-dup removal
    against the persistent banded index — ONE generic twin of
    :func:`run_vector_ingest` serving every content-fingerprint
    modality at once (r10, VERDICT r9 item 5): image aHash/dHash,
    audio Haitsma-Kalker, video majority-dHash.  Mint the fingerprint
    upstream on the stream (``image_phash`` / ``audio_fingerprint`` /
    ``video_fingerprint`` all run on streaming frames — they are
    ``mapInPandas`` kernels) and point ``fp_col`` at it.

    Per micro-batch: the batch's banded rows name the pv partitions
    worth probing (unprobed index partitions are never read,
    ``incremental.hamming_query_index``), batch rows whose Hamming
    distance to ANY indexed fingerprint is ≤ the index's max_hamming
    are dropped, within-batch near-dups collapse to the min-id
    component representative (``fingerprint_components`` — skew-safe,
    exact transitive closure), survivors append to the corpus sink and
    fold into the band table — so batch N+1 dedups against batch N.

    Failure semantics: at-least-once per epoch, sink-append before
    index-fold.  Replay protection needs NO side table — the single
    band table appends in one job-atomic ``insertInto``, and a retry
    AFTER the fold re-probes an index that now CONTAINS the batch:
    every replayed fingerprint matches itself at Hamming 0 and drops
    (the :func:`run_vector_ingest` argument).  Rows with NULL
    fingerprints (undecodable blobs) are REJECTED, not passed through:
    they have no self-match, so a replay would duplicate them in the
    sink — route undecodables to a quarantine path upstream.
    """
    in_cols = stream_df.columns

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from data_toolz_spark.cache import release
        from data_toolz_spark.operators.dedup import (
            fingerprint_components,
        )
        from data_toolz_spark.operators.incremental import (
            _hfp_meta,
            append_to_hamming_index,
            hamming_query_index,
        )

        spark = batch_df.sparkSession
        m = _hfp_meta(spark, index_prefix)
        survivors = None
        try:
            batch_df = batch_df.filter(
                F.col(fp_col).isNotNull()
            ).persist()
            hits = hamming_query_index(
                spark, batch_df, index_prefix,
                id_col=id_col, fp_col=fp_col,
            )
            index_dups = hits.select(
                F.col("query_id").alias("__drop")
            ).distinct()
            comp = fingerprint_components(
                batch_df,
                id_col,
                fp_col,
                max_hamming=int(m["max_hamming"]),
                n_blocks=int(m["n_blocks"]),
                bits=int(m["bits"]),
            )
            within = comp.filter(
                F.col("id") != F.col("component")
            ).select(F.col("id").alias("__drop"))
            drops = index_dups.unionByName(within).distinct()
            survivors = batch_df.join(
                drops,
                on=F.col(id_col).cast("long") == F.col("__drop"),
                how="left_anti",
            ).persist()
            survivors.select(*in_cols).write.mode("append").parquet(
                output_path
            )
            append_to_hamming_index(
                spark, survivors, index_prefix,
                id_col=id_col, fp_col=fp_col,
            )
        finally:
            batch_df.unpersist()
            if survivors is not None:
                survivors.unpersist()
            release()

    _drain(stream_df, process_batch, checkpoint_dir)


def run_quota_ingest(
    stream_df: DataFrame,
    *,
    ledger_prefix: str,
    output_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    url_col: str | None = None,
    host_col: str | None = None,
) -> None:
    """Per-site quota enforcement over a document stream (X85, r10)
    — the streaming twin of
    :func:`~data_toolz_spark.operators.urls.cap_per_domain`, closing
    the URL tier's slot in the batch-vs-streaming matrix the way
    ``run_fingerprint_ingest`` closed the modality tiers'.

    Per micro-batch: each doc's host (``host_of`` over ``url_col``,
    or a precomputed ``host_col``) keys into the persistent ledger
    (:func:`~data_toolz_spark.operators.incremental.build_quota_ledger`
    — accepted rows partitioned by domain hash, so only the
    partitions the batch's domains name are read), the batch's docs
    compete for each site's REMAINING allowance under the
    deterministic hash lottery, admitted docs append to the corpus
    sink, and their (id, domain) rows fold into the ledger — batch
    N+1 sees batch N's consumption.

    Failure semantics: at-least-once per epoch, sink-append before
    ledger-fold (the module convention).  A retry AFTER the fold
    admits nothing (every replayed id is already a ledger row), so
    replays cannot oversubscribe a site; the retry window between
    sink and ledger can duplicate sink rows only — dedup downstream.
    Docs with NULL hosts are REJECTED (no quota key, no replay row)
    — quarantine upstream.
    """
    if (url_col is None) == (host_col is None):
        raise ValueError(
            "run_quota_ingest: pass exactly one of url_col / host_col"
        )
    in_cols = stream_df.columns

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from data_toolz_spark.cache import release
        from data_toolz_spark.operators.incremental import (
            append_to_quota_ledger,
            quota_admit,
        )
        from data_toolz_spark.operators.urls import host_of

        spark = batch_df.sparkSession
        dom = (
            host_of(F.col(url_col)) if url_col is not None
            else F.col(host_col)
        )
        admitted = None
        try:
            admitted = quota_admit(
                spark,
                batch_df.withColumn("__domain", dom),
                ledger_prefix,
                id_col=id_col,
                domain_col="__domain",
            ).persist()
            admitted.select(*in_cols).write.mode("append").parquet(
                output_path
            )
            # ledger fold LAST: insertInto invalidates cached plans
            # referencing the ledger (including admitted's own
            # anti-join) — the run_dedup_ingest ordering argument
            append_to_quota_ledger(
                spark, admitted, ledger_prefix,
                id_col=id_col, domain_col="__domain",
            )
        finally:
            if admitted is not None:
                admitted.unpersist()
            release()

    _drain(stream_df, process_batch, checkpoint_dir)


def run_span_dedup_ingest(
    stream_df: DataFrame,
    *,
    index_table: str,
    output_path: str,
    checkpoint_dir: str,
    n: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drain the stream into a corpus with cross-batch EXACT-SUBSTRING
    dedup (X94): per micro-batch, every ``n``-word span already owned
    by the persistent gram index — or repeated within the batch — is
    cut (``operators.incremental.dedup_spans_incremental``), the
    cleaned rows (plus ``n_dropped_words``) append to ``output_path``,
    and the cleaned text's grams fold back into the index, so batch
    N+1 cannot re-ingest a passage batch N landed.

    Same consistency model as :func:`run_dedup_ingest`: the index fold
    is one job-atomic ``insertInto`` and comes LAST (it invalidates
    cached plans reading the index — including this batch's own cut
    plan); the anti-join inside the fold makes a replayed epoch's fold
    idempotent, while the sink append can duplicate rows on
    retry-after-sink-commit — pair with an idempotent sink when
    exactly-once matters.
    """
    from data_toolz_spark.operators.incremental import (
        append_to_gram_index,
        dedup_spans_incremental,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cleaned = dedup_spans_incremental(
            spark,
            batch_df,
            index_table,
            n=n,
            min_docs=min_docs,
            id_col=id_col,
            text_col=text_col,
        ).persist()
        try:
            cleaned.write.mode("append").parquet(output_path)
            append_to_gram_index(
                cleaned,
                index_table,
                n=n,
                id_col=id_col,
                text_col=text_col,
            )
        finally:
            cleaned.unpersist()

    _drain(stream_df, process_batch, checkpoint_dir)


__all__ = [
    "run_dedup_ingest",
    "run_near_dup_ingest",
    "run_vector_ingest",
    "run_fingerprint_ingest",
    "run_quota_ingest",
    "run_span_dedup_ingest",
]

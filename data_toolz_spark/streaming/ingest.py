"""Streaming ingestion with incremental dedup: the daily-crawl shape.

A document stream lands continuously; every micro-batch must be
deduplicated against EVERYTHING ever ingested before it reaches the
corpus — without rescanning the corpus.  Each ingest function here wires
Structured Streaming's ``foreachBatch`` to one persistent index of
``operators.incremental`` (fingerprint catalog, MinHash band index,
IVF inverted file, Hamming band table, quota ledger, gram index), so
batch N+1 is deduplicated against batch N's content automatically.
Work per micro-batch is sized to the batch: the index is read in place
and never re-shuffles.

Every ingest function runs the same micro-batch cycle (``_run_cycles``);
only its step differs.  The step selects the rows to keep and names
its fold.  The cycle contract:

* **Sink before fold.**  The kept rows are persisted once, their sink
  columns appended to ``output_path`` as parquet, and only then does
  the fold run: the function's side writes, then the index insert.
* **Fold last.**  ``insertInto`` invalidates every cached plan that
  reads the index — including the kept frame's own selection — so
  anything run after the fold would re-select against the UPDATED
  index and see nothing new.
* **At-least-once per epoch.**  A retry after the sink commit but
  before the fold can append the batch to the sink twice; pair with
  an idempotent sink (e.g. overwrite-by-batch-id partitions) when
  exactly-once matters.  What a retry AFTER the fold does is each
  function's replay argument (its docstring).
* **Release on success and failure.**  The kept frame, every frame the
  step persisted and the intermediates the incremental operators
  persist are registered with ``cache.track``, and ``cache.release``
  runs when the batch ends, whether it committed or raised — a died
  batch pins nothing for the stream's life.  (``cache.release`` frees
  every tracked frame of the session, not only this batch's.)

``availableNow`` drains the backlog then stops: each ingest function is
one call per ingestion cycle, and the checkpoint carries the source
offsets so a rerun never re-reads a processed file.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from data_toolz_spark.cache import release, track


def _run_cycles(
    stream_df: DataFrame,
    step: Callable[
        [DataFrame, int], tuple[DataFrame, Callable[[DataFrame], None]]
    ],
    *,
    sink_cols: list[str],
    output_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain the available backlog through the module's micro-batch
    cycle.  ``step(batch_df, batch_id)`` returns the frame to keep and
    its fold; the cycle persists the kept frame, appends its
    ``sink_cols`` to ``output_path``, calls ``fold(kept)`` last and
    releases every tracked frame (module docstring)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            kept, fold = step(batch_df, batch_id)
            kept = track(kept.persist())
            kept.select(*sink_cols).write.mode("append").parquet(output_path)
            fold(kept)
        finally:
            release()

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
    """Drain the available stream backlog into a deduplicated corpus
    (the module's cycle).

    Step: anti-join against ``catalog_table`` (which must exist —
    build it with :func:`build_fingerprint_catalog
    <data_toolz_spark.operators.incremental.build_fingerprint_catalog>`,
    possibly over an empty frame); within-batch duplicates collapse to
    the min-id representative.  The novel rows (original columns) go to
    the sink; the fold inserts their fingerprints into the catalog.  A
    retry after the fold re-selects nothing: the replayed rows now
    anti-join away.

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
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.incremental import (
        append_to_catalog,
        novel_documents,
    )

    def step(batch_df: DataFrame, batch_id: int):
        novel = novel_documents(
            batch_df.sparkSession,
            batch_df,
            catalog_table,
            text_col=text_col,
            id_col=id_col,
        )

        def fold(novel: DataFrame) -> None:
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

        return novel, fold

    _run_cycles(
        stream_df,
        step,
        sink_cols=stream_df.columns,
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


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
    (r7), on the module's cycle: every micro-batch is mined with
    ``incremental_near_duplicates`` (the index's bucketed tables read
    in place, only the batch shuffles), near-dup batch docs are
    dropped, survivors go to the sink, and the SURVIVORS fold back
    into the index so batch N+1 dedups against batch N.

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

    Replay: a retry after the fold drops the whole replayed batch via
    an EXPLICIT already-indexed-id check (batch ids semi-joined
    against the members table — r8; mining no longer emits the
    self-pairs the drop used to lean on) and writes nothing new.  A
    job death INSIDE the fold leaves the index journaled-dirty: the
    next batch's mining refuses it with the ``repair_minhash_index``
    instruction — the stream fails loudly instead of mining a
    half-appended index.

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
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.incremental import (
        append_to_minhash_index,
        compact_minhash_journal,
        incremental_near_duplicates,
    )

    hwm_table = f"{index_prefix}_mh_ingest_hwm"

    def step(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        pairs = track(
            incremental_near_duplicates(
                spark,
                batch_df,
                index_prefix,
                id_col=id_col,
                text_col=text_col,
            ).persist()
        )
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
            replayed = ids.limit(0).select(F.col("__mid").alias("__drop"))
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
        )

        def fold(survivors: DataFrame) -> None:
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

        return survivors, fold

    _run_cycles(
        stream_df,
        step,
        sink_cols=stream_df.columns,
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


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
    :func:`run_near_dup_ingest` (r9), on the module's cycle: per
    micro-batch, each vector queries the index (probe-cell partition
    pruning — the inverted file's unprobed partitions are never read),
    batch vectors whose nearest indexed cosine ≥ ``threshold`` are
    dropped, within-batch near-dups collapse to the min-id
    representative (batch-sized blocked Gram work), survivors go to
    the sink and fold into the inverted file — so batch N+1 dedups
    against batch N.

    Requires a FLAT index (built without ``pq_m``): the drop decision
    needs exact cosines, and the PQ path returns ADC estimates; a PQ
    index raises with instructions rather than silently thresholding
    approximate scores.

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

    from pyspark.sql import functions as F

    from data_toolz_spark.operators.dedup import near_duplicate_drop_list
    from data_toolz_spark.operators.incremental import (
        _load_centroids,
        _meta_pq_m,
        append_to_ivf_index,
        ivf_query_index,
    )
    from data_toolz_spark.operators.similarity import cosine_near_duplicates

    def step(batch_df: DataFrame, batch_id: int):
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
        batch_df = track(batch_df.persist())
        hits = ivf_query_index(
            spark,
            batch_df,
            index_prefix,
            query_id=id_col,
            query_vec=vec_col,
            k=1,
            n_probe=n_probe,
        )
        index_dups = hits.filter(F.col("cosine") >= threshold).select(
            F.col("query_id").alias("__drop")
        )
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
        )

        def fold(survivors: DataFrame) -> None:
            append_to_ivf_index(
                spark,
                survivors,
                index_prefix,
                id_col=id_col,
                vec_col=vec_col,
            )

        return survivors, fold

    _run_cycles(
        stream_df,
        step,
        sink_cols=stream_df.columns,
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


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

    Step (the module's cycle): the batch's banded rows name the pv
    partitions worth probing (unprobed index partitions are never
    read, ``incremental.hamming_query_index``), batch rows whose
    Hamming distance to ANY indexed fingerprint is ≤ the index's
    max_hamming are dropped, within-batch near-dups collapse to the
    min-id component representative (``fingerprint_components`` —
    skew-safe, exact transitive closure), survivors go to the sink
    and fold into the band table — so batch N+1 dedups against
    batch N.

    Replay protection needs NO side table — the single band table
    appends in one job-atomic ``insertInto``, and a retry AFTER the
    fold re-probes an index that now CONTAINS the batch: every
    replayed fingerprint matches itself at Hamming 0 and drops (the
    :func:`run_vector_ingest` argument).  Rows with NULL fingerprints
    (undecodable blobs) are REJECTED, not passed through: they have
    no self-match, so a replay would duplicate them in the sink —
    route undecodables to a quarantine path upstream.
    """
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.dedup import fingerprint_components
    from data_toolz_spark.operators.incremental import (
        _meta_row,
        append_to_hamming_index,
        hamming_query_index,
    )

    def step(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        m = _meta_row(spark, f"{index_prefix}_hfp_meta")
        batch_df = track(batch_df.filter(F.col(fp_col).isNotNull()).persist())
        hits = hamming_query_index(
            spark, batch_df, index_prefix,
            id_col=id_col, fp_col=fp_col,
        )
        index_dups = hits.select(F.col("query_id").alias("__drop")).distinct()
        comp = fingerprint_components(
            batch_df,
            id_col,
            fp_col,
            max_hamming=int(m["max_hamming"]),
            n_blocks=int(m["n_blocks"]),
            bits=int(m["bits"]),
        )
        within = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("__drop")
        )
        drops = index_dups.unionByName(within).distinct()
        survivors = batch_df.join(
            drops,
            on=F.col(id_col).cast("long") == F.col("__drop"),
            how="left_anti",
        )

        def fold(survivors: DataFrame) -> None:
            append_to_hamming_index(
                spark, survivors, index_prefix,
                id_col=id_col, fp_col=fp_col,
            )

        return survivors, fold

    _run_cycles(
        stream_df,
        step,
        sink_cols=stream_df.columns,
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


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

    Step (the module's cycle): each doc's host (``host_of`` over
    ``url_col``, or a precomputed ``host_col``) keys into the
    persistent ledger
    (:func:`~data_toolz_spark.operators.incremental.build_quota_ledger`
    — accepted rows partitioned by domain hash, so only the
    partitions the batch's domains name are read), the batch's docs
    compete for each site's REMAINING allowance under the
    deterministic hash lottery, admitted docs go to the sink, and
    their (id, domain) rows fold into the ledger — batch N+1 sees
    batch N's consumption.

    Replay: a retry AFTER the fold admits nothing (every replayed id
    is already a ledger row), so replays cannot oversubscribe a site.
    Docs with NULL hosts are REJECTED (no quota key, no replay row)
    — quarantine upstream.
    """
    if (url_col is None) == (host_col is None):
        raise ValueError(
            "run_quota_ingest: pass exactly one of url_col / host_col"
        )
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.incremental import (
        append_to_quota_ledger,
        quota_admit,
    )
    from data_toolz_spark.operators.urls import host_of

    dom = host_of(F.col(url_col)) if url_col is not None else F.col(host_col)

    def step(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        admitted = quota_admit(
            spark,
            batch_df.withColumn("__domain", dom),
            ledger_prefix,
            id_col=id_col,
            domain_col="__domain",
        )

        def fold(admitted: DataFrame) -> None:
            append_to_quota_ledger(
                spark, admitted, ledger_prefix,
                id_col=id_col, domain_col="__domain",
            )

        return admitted, fold

    _run_cycles(
        stream_df,
        step,
        sink_cols=stream_df.columns,
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


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
    dedup (X94), on the module's cycle: per micro-batch, every
    ``n``-word span already owned by the persistent gram index — or
    repeated within the batch — is cut
    (``operators.incremental.dedup_spans_incremental``), the cleaned
    rows (plus ``n_dropped_words``) go to the sink, and the cleaned
    text's grams fold back into the index, so batch N+1 cannot
    re-ingest a passage batch N landed.

    The index fold is one job-atomic ``insertInto``, and its anti-join
    makes a replayed epoch's fold idempotent.
    """
    from data_toolz_spark.operators.incremental import (
        append_to_gram_index,
        dedup_spans_incremental,
    )

    def step(batch_df: DataFrame, batch_id: int):
        cleaned = dedup_spans_incremental(
            batch_df.sparkSession,
            batch_df,
            index_table,
            n=n,
            min_docs=min_docs,
            id_col=id_col,
            text_col=text_col,
        )

        def fold(cleaned: DataFrame) -> None:
            append_to_gram_index(
                cleaned,
                index_table,
                n=n,
                id_col=id_col,
                text_col=text_col,
            )

        return cleaned, fold

    # dedup_spans_incremental's columns: the batch's, text rewritten in
    # place, plus its count column (in place too if the batch has one)
    _run_cycles(
        stream_df,
        step,
        sink_cols=list(dict.fromkeys([*stream_df.columns, "n_dropped_words"])),
        output_path=output_path,
        checkpoint_dir=checkpoint_dir,
    )


__all__ = [
    "run_dedup_ingest",
    "run_near_dup_ingest",
    "run_vector_ingest",
    "run_fingerprint_ingest",
    "run_quota_ingest",
    "run_span_dedup_ingest",
]

"""Benchmark harness — driver contract.

Runs every registered query at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 tables, see ``SF_DIR``) on ``local[$SPARK_GRAFT_CPUS]`` (default:
the cores this process may run on) and prints the full JSON record, then
compact lines that a bounded tail capture can always parse::

    {"metric": "headline_total_wall", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
    {"metric": ..., "value": N, "unit": "sec", "sf": ..., "compact": true, "spill": true, "queries": {...}}
    {"metric": ..., "value": N, "unit": "sec", "sf": ..., "compact": true, "queries": {...}}

``value`` is the total over ``HEADLINE``, a fixed list of registered
qids, each timed at its registered definition.  ``queries`` carries
per-entry wall times for every registered qid and every extra, so
regressions are attributable.  ``--headline`` restricts the sweep to
the headline set; explicit qid args restrict it to those.

The last line carries the rounded per-entry minima that fit in 1,900
chars: headline members first, then the other registered qids, then
the extras, slowest first.  It is a strict prefix of that order; the
entries after the first one that does not fit go on the ``"spill"``
line before it, which is printed only when needed.

Headline entries (and explicitly requested qids) are timed
``--min-of=K`` times each (default 3) and ``queries`` reports the
per-entry MINIMUM: a load spike shorter than an entry inflates some
repeats, not the min.  The raw series survives in ``queries_repeats``
(every repeat, in order) and ``loadavg`` (one ``[before, after]``
1-min-loadavg pair per repeat).  ``value`` is computed from the
minima.  ``--min-of=1`` times each entry once; ``--min-of-all``
extends repeats to every swept entry (extras and builds included).
``BENCH_DETAIL_latest.json``, the full payload written next to this
file, also carries ``queries_codegen_compiles``: the Janino compiles of
each repeat, so a warm repeat that recompiles shows with no second run,
and ``queries_shuffle_write_bytes``: the shuffle bytes each repeat's
executors wrote, after compression.

Each query is forced end-to-end with the ``noop`` sink (full execution,
no driver-side collect, no disk write) so the measured time is scan +
shuffle + compute — the same work profile a cluster run would have.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from data_toolz_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _default_heap() -> str:
    """~40% of physical RAM, capped at 48g, floored at 2g — in local
    mode the driver JVM hosts all worker threads, and Spark's 1g
    default is what a 32-thread full sweep eventually OOMs in (first
    hit r6, in the stage-attribution tail after ~70 queries)."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(48, int(total * 0.4 / 2**30)))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


# Headline set: every operator family, weighted toward the shuffling /
# scale-sensitive paths (joins, dedup, similarity, windows).  IO
# round-trip qids are excluded — they benchmark tempdir writes, not the
# engine's steady-state read path.
HEADLINE = [
    "q1_pricing_summary",
    "filter_composite",
    "filter_nested_and",
    "join_shipping_priority",
    "join_region_volume",
    "dedup_cc_drop",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "sim_topk_ann",
    "text_lang_id",
    "text_web_signals",
    "text_vocab_topk",
    "agg_grouping_lattice",
    "text_tfidf_topk",
    "agg_salted_skew",
    "pivot_event_counts",
    "multimodal_image_neardup",
    "stream_windowed_counts",
    "win_user_session",
    "win_ordered_analytics",
    "asof_join_orders",
    "sim_topk_ivf",
    "dedup_simhash64_band",
    "pipeline_clean_corpus",
    "incremental_novel_docs",
]


def _x_ann_realistic(spark, sf_dir):
    """sim_topk_ann at a SCALE config (n_bits=12 → ~4k buckets/table):
    the recall-heavy oracle config times bucket joins that touch most
    of the corpus; this entry shows what the ANN path costs when the
    buckets are actually sparse."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.similarity import cosine_topk_ann

    emb = entrymod.load(spark, sf_dir, "embeddings")
    return cosine_topk_ann(
        emb.filter(F.col("vec_id") < 5), emb,
        query_id="vec_id", corpus_id="vec_id",
        k=10, dim=64, n_bits=12, n_tables=8,
    )


def _x_emb_lsh_realistic(spark, sf_dir):
    """dedup_embedding_lsh at a SCALE config (θ=0.9, n_bits=12/8
    tables) vs the qid's recall-heavy θ=0.4, n_bits=4/64-table oracle
    setting.  The embeddings testdata has no pair at cosine ≥ 0.9: at
    sf0.1 this emits 0 rows, so it times SRP bucketing and a candidate
    join whose verify keeps nothing — not an output-parity check.  This
    config's output is checked on planted pairs by
    ``tests/test_scale_paths.py::test_cosine_lsh_scale_config_finds_planted_pairs``
    (and ``dedup_embedding``'s θ=0.4 tier checks the path at large)."""
    from data_toolz_spark.operators.similarity import (
        cosine_near_duplicates_lsh,
    )

    emb = entrymod.load(spark, sf_dir, "embeddings")
    return cosine_near_duplicates_lsh(
        emb, id_col="vec_id", threshold=0.9,
        dim=64, n_bits=12, n_tables=8,
    )


def _x_ivf_topk(spark, sf_dir):
    """IVF-Flat top-k at a realistic probe ratio (16 cells, probe 4 →
    ~4x scan reduction); recall/exactness pinned by
    tests/test_scale_paths.py."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.similarity import ivf_topk

    emb = entrymod.load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 5), emb,
        query_id="vec_id", corpus_id="vec_id",
        k=10, dim=64, n_centroids=16, n_probe=4,
    )


def _x_ivfpq_topk(spark, sf_dir):
    """IVF-PQ top-k at a realistic lossy config (16 cells, probe 4,
    m=8/ks=256 → 8 B per candidate vector instead of 256 B, exact
    re-rank of a 2k shortlist); exactness of the degenerate config and
    recall of the lossy one pinned by tests/test_scale_paths.py."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.similarity import ivfpq_topk

    emb = entrymod.load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 5), emb,
        query_id="vec_id", corpus_id="vec_id",
        k=10, dim=64, n_centroids=16, n_probe=4,
        m=8, ks=256, refine=2,
    )


_IVFPQ_MODEL = {}


def _ivfpq_model_train(spark, sf_dir):
    """Train-once phase for the pretrained IVF-PQ entry (VERDICT r7
    item 5): the model is stashed module-side and the serve entry
    queries with it injected — the repeated-batch-call shape, vs
    x_ivfpq_probe4 which pays training per call."""
    from data_toolz_spark.operators.similarity import train_ivfpq_model

    emb = entrymod.load(spark, sf_dir, "embeddings")
    centers, codebooks = train_ivfpq_model(
        emb, corpus_id="vec_id", dim=64, n_centroids=16, m=8, ks=256
    )
    _IVFPQ_MODEL["centers"] = centers
    _IVFPQ_MODEL["codebooks"] = codebooks
    return spark.range(1)


def _x_ivfpq_pretrained(spark, sf_dir):
    """x_ivfpq_probe4's exact query with the pre-trained model
    injected (trains inline on an explicit run without the build
    phase)."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.similarity import (
        ivfpq_topk,
        train_ivfpq_model,
    )

    emb = entrymod.load(spark, sf_dir, "embeddings")
    if "centers" not in _IVFPQ_MODEL:
        c, b = train_ivfpq_model(
            emb, corpus_id="vec_id", dim=64, n_centroids=16, m=8, ks=256
        )
        _IVFPQ_MODEL["centers"], _IVFPQ_MODEL["codebooks"] = c, b
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 5), emb,
        query_id="vec_id", corpus_id="vec_id",
        k=10, dim=64, n_centroids=16, n_probe=4,
        m=8, ks=256, refine=2,
        centers=_IVFPQ_MODEL["centers"],
        codebooks=_IVFPQ_MODEL["codebooks"],
    )


def _x_topk_int8(spark, sf_dir):
    """Exact top-k over int8-quantized-then-dequantized embeddings —
    the storage-optimized path (4x narrower embedding column at rest
    and in shuffle); value drift vs full precision pinned in tests."""
    from pyspark.sql import functions as F

    from data_toolz_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from data_toolz_spark.operators.similarity import cosine_topk

    emb = entrymod.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        dequantize_int8(quantize_int8("embedding")).alias("embedding"),
    )
    return cosine_topk(
        emb.filter(F.col("vec_id") < 5), emb,
        query_id="vec_id", corpus_id="vec_id", k=10,
    )


def _x_decon_hashed(spark, sf_dir):
    """text_decontaminate's PRODUCTION config: grams join as xxhash64
    longs (the qid uses string grams so DuckDB can verify values; the
    two paths are equality-pinned in tests/test_decontamination.py)."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.decontamination import (
        ngram_decontaminate,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    return ngram_decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=4,
    )


def _x_prepare_corpus(spark, sf_dir):
    """The full end-to-end training-corpus pipeline (quality → line
    dedup → near-dup removal → decontamination → leakage-safe split →
    chunk → pack) as ONE plan over the documents table — the number a
    production deployment actually cares about."""
    from pyspark.sql import functions as F

    from data_toolz_spark.pipelines import prepare_training_corpus

    docs = entrymod.load(spark, sf_dir, "documents")
    n_docs = docs.count()
    return prepare_training_corpus(
        docs,
        docs.filter(F.col("doc_id") % 20 == 0).select("text"),
        **_prepare_corpus_config(n_docs),
    )


def _prepare_corpus_config(n_docs: int) -> dict:
    """The canonical end-to-end config (x_prepare_corpus + the stage
    attribution share it, so the stage sum explains the same number).

    Word-level pseudo-lines drop only near-UNIVERSAL words (> 90 % of
    docs): the synthetic corpus has a ~31-token vocabulary, so an
    absolute cap like 20 would drop every word and the "end-to-end"
    bench would time a pipeline that EMPTIES the corpus (caught in
    round 5 — output was 0 rows).  r6 adds ``span_dedup_n=8``: the
    ExactSubstr pass is part of the canonical pipeline order, so the
    end-to-end number now includes it (definition change, like
    text_bpe_tokens in r5 — the series is not comparable to r5's
    17.8 s without subtracting the span stage)."""
    return dict(
        quality_thresholds={"min_tokens": 5},
        line_dedup_max_doc_freq=int(n_docs * 0.9),
        span_dedup_n=8,
        near_dup_threshold=0.8,
        decontaminate_n=8,
        chunk_max_words=64,
        chunk_overlap=8,
        pack_budget=2048,
        line_sep=" ",
    )


def _prepare_corpus_stage_times(spark) -> dict:
    """Stage-attributed timing for the end-to-end pipeline (VERDICT r5
    item 5): run the SAME config with stages enabled cumulatively in
    canonical order, full plan end-to-end each time (noop sink), and
    report cumulative + marginal seconds per stage.

    r12 (VERDICT r11 task 3): each cumulative config is timed
    min-of-2 back to back, and ``marginal`` is clamped at 0 so the
    per-stage series is usable for regression detection (r11 recorded
    ppl_strata = −5.581 from single-shot deltas under host noise).
    The signed delta survives as ``marginal_raw`` — a genuinely
    negative raw value means the stage shrank the corpus enough to
    repay its own cost downstream, which is a finding, not noise."""
    from pyspark.sql import functions as F

    from data_toolz_spark.cache import clear_session_caches
    from data_toolz_spark.pipelines import prepare_training_corpus

    docs = entrymod.load(spark, SF_DIR, "documents")
    n_docs = docs.count()
    full = _prepare_corpus_config(n_docs)
    off = dict(
        full,
        line_dedup_max_doc_freq=None,
        span_dedup_n=None,
        near_dup_threshold=None,
        chunk_max_words=None,
        pack_budget=None,
    )
    stages = [
        ("quality_split", {}),
        ("line_dedup",
         {"line_dedup_max_doc_freq": full["line_dedup_max_doc_freq"]}),
        ("span_dedup", {"span_dedup_n": full["span_dedup_n"]}),
        ("near_dup_cc", {"near_dup_threshold": full["near_dup_threshold"]}),
        ("decontaminate", "EVAL"),
        ("chunk", {"chunk_max_words": full["chunk_max_words"],
                   "chunk_overlap": full["chunk_overlap"]}),
        ("pack", {"pack_budget": full["pack_budget"]}),
        # r10 session-2 tiers appended AFTER the historical rows so
        # the pre-existing cumulative/marginal series stays comparable
        # (same convention as the media block below); domain_cap has
        # no URL column on the synthetic docs and is timed as
        # x_domain_cap instead
        ("quality_keep", {"near_dup_keep": "longest"}),
        ("ppl_strata", {"ppl_strata": {}}),
    ]
    cfg = dict(off)
    eval_df = None
    cumulative: dict[str, float] = {}
    marginal: dict[str, float] = {}
    marginal_raw: dict[str, float] = {}

    def _min_of_2(frame, conf) -> float:
        best = float("inf")
        for _ in range(2):
            start = time.perf_counter()
            prepare_training_corpus(frame, eval_df, **conf).write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
            clear_session_caches(spark)
        return best

    prev = 0.0
    for name, update in stages:
        if update == "EVAL":
            eval_df = docs.filter(F.col("doc_id") % 20 == 0).select("text")
        else:
            cfg.update(update)
        took = _min_of_2(docs, cfg)
        cumulative[name] = round(took, 3)
        marginal_raw[name] = round(took - prev, 3)
        marginal[name] = max(0.0, marginal_raw[name])
        prev = took

    # r10: the three media content tiers, timed against a WIDENED
    # corpus (planted PNG/WAV/Y4M columns left-joined onto the first
    # 1024 docs — the rest carry NULL media, the mixed-corpus shape)
    # so the binary columns' ride-along cost can't contaminate the
    # historical text-stage series above: media_widen_base re-times
    # the full text config on the widened frame, media_neardup then
    # adds the image/audio/video fingerprint tiers — its MARGINAL is
    # the tiers' true cost (decode + hash + banding + CC ×3).
    from data_toolz_spark.operators.image_dedup import png_neardup_table
    from data_toolz_spark.operators.multimodal import (
        wav_neardup_table,
        y4m_neardup_table,
    )

    # the media rows' r10 series was recorded against the TEXT config
    # only — strip the session-2 tiers so their marginals stay
    # attributed to their own rows above, not folded in here
    cfg = {
        k: v for k, v in cfg.items()
        if k not in ("near_dup_keep", "ppl_strata")
    }
    media_n = min(n_docs, 1024)

    def media_col(builder, name):
        return (
            builder(spark, media_n)
            .withColumnRenamed("media_id", "doc_id")
            .withColumnRenamed("content", name)
        )

    widened = (
        docs.join(media_col(png_neardup_table, "img"), "doc_id", "left")
        .join(media_col(wav_neardup_table, "aud"), "doc_id", "left")
        .join(media_col(y4m_neardup_table, "vid"), "doc_id", "left")
    )
    base_took = _min_of_2(widened, cfg)
    media_cfg = dict(
        cfg,
        media_dedup=[
            {"kind": "image", "col": "img"},
            {"kind": "audio", "col": "aud"},
            {"kind": "video", "col": "vid"},
        ],
    )
    media_took = _min_of_2(widened, media_cfg)
    cumulative["media_widen_base"] = round(base_took, 3)
    cumulative["media_neardup"] = round(media_took, 3)
    marginal_raw["media_widen_base"] = round(base_took - prev, 3)
    marginal_raw["media_neardup"] = round(media_took - base_took, 3)
    for k in ("media_widen_base", "media_neardup"):
        marginal[k] = max(0.0, marginal_raw[k])
    return {
        "cumulative": cumulative,
        "marginal": marginal,
        "marginal_raw": marginal_raw,
    }


# timed after the registry sweep; never part of the headline total
def _x_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup over the embeddings table: 8-cell
    quantizer, θ=0.6, centroid_far keep policy — the clustered-scope
    Gram-kernel path a web-scale curation run would use."""
    from data_toolz_spark.operators.similarity import semantic_dedup

    emb = entrymod.load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        id_col="vec_id",
        threshold=0.6,
        n_centroids=8,
        keep="centroid_far",
    )


def _x_span_dedup(spark, sf_dir):
    """ExactSubstr-style duplicate-span removal over the documents
    table (8-word spans, cross-doc): gram shuffle as hashed longs,
    row-local rebuild."""
    from data_toolz_spark.operators.text_analysis import (
        remove_duplicate_spans,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=8, out_col="cleaned")


def _x_pii_redact(spark, sf_dir):
    """PII feature counts + Luhn-gated redaction over the corpus — a
    map-only pass; the entry exists so the regex/higher-order-fn cost
    is visible in the per-round series."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.text_analysis import (
        pii_features,
        redact_pii,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    return redact_pii(pii_features(docs), out_col="redacted").select(
        "doc_id", "n_phones", "n_ipv4", "n_ssn", "n_cards",
        F.md5(F.encode(F.col("redacted"), "UTF-8")).alias("fp"),
    )


def _x_simhash_components(spark, sf_dir):
    """Skew-safe SimHash drop list (fp-graph closure) at the 64-bit
    scale config — the components twin of dedup_simhash64_band."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.dedup import simhash_components

    docs = entrymod.load(spark, sf_dir, "documents")
    cc = simhash_components(
        docs, "doc_id", "text", max_hamming=2, bits=64,
        portable_hash=False,
    )
    return cc.filter(F.col("id") != F.col("component"))


# -- incremental_minhash_pairs build/mine split (VERDICT r6 item 3) --
# The qid (and its oracle) stays the full build→mine round trip; the
# BENCH attribution splits it so the sweep entry times the steady-state
# daily-ingest shape (mining a fixed increment against an EXISTING
# index — the deep probe shows that flat at ~5 s from 5 k→100 k corpus
# docs) while the 3-table index build is its own pre-sweep entry.
_MH_BENCH_TABLE = "dtz_bench_mh_index"


def _mh_index_build(spark, sf_dir):
    """Build phase: the three bucketed tables (bands / shingle sets /
    members) from the even-doc history — one-time cost per corpus, not
    per ingest."""
    import tempfile

    from pyspark.sql import functions as F

    from data_toolz_spark.catalog import drop_stale_table
    from data_toolz_spark.operators.incremental import build_minhash_index

    docs = entrymod.load(spark, sf_dir, "documents")
    for t in ("mh_meta", "mh_bands", "mh_sets", "mh_members", "mh_journal"):
        drop_stale_table(spark, f"{_MH_BENCH_TABLE}_{t}")
    path = tempfile.mkdtemp(prefix="dtz_bench_mhidx_") + "/index"
    build_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 0),
        _MH_BENCH_TABLE,
        threshold=0.8,
        n_buckets=8,
        path=path,
    )
    return spark.table(f"{_MH_BENCH_TABLE}_mh_meta")


def _mh_mine_only(spark, sf_dir):
    """Mine phase: the odd-doc increment against the pre-built index
    (read in place; only the increment shuffles)."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.incremental import (
        incremental_near_duplicates,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    return incremental_near_duplicates(
        spark, docs.filter(F.col("doc_id") % 2 == 1), _MH_BENCH_TABLE
    )


# sweep-time overrides: qid → the phase the sweep entry should time.
# Applied only when the matching build entry ran earlier in the same
# process (main() wires that up); the driver's CORRECTNESS run never
# sees these — it calls queries() directly.
BENCH_SPLIT = {
    "incremental_minhash_pairs": _mh_mine_only,
}

# pre-sweep one-time builds: (qid, build-entry name, build fn)
BENCH_BUILDS = [
    ("incremental_minhash_pairs", "x_minhash_index_build", _mh_index_build),
    # train-once for the pretrained IVF-PQ serve entry (no qid split:
    # x_ivfpq_pretrained itself consumes the stash)
    ("x_ivfpq_pretrained", "x_ivfpq_model_train", _ivfpq_model_train),
]


def _x_phash_mega_components(spark, sf_dir):
    """Mega-cluster skew probe for the image perceptual-hash tier
    (r9): 20k images of which 15k are IDENTICAL — one fingerprint
    node in the components path, where the pair path would emit
    ~112M member pairs.  Hash-level on purpose: the decode+hash
    Arrow pass is timed by the registered qid; this entry isolates
    the graph path's skew behavior, the image twin of
    x_simhash_components."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.image_dedup import phash_components

    n, mega = 20_000, 15_000
    hashes = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") < mega, F.lit(0x1234_5678_9ABC_DEF0))
        .otherwise(F.xxhash64(F.col("id")))
        .alias("ahash"),
    )
    return phash_components(hashes, max_hamming=3, n_blocks=8)


def _x_wordpiece_train(spark, sf_dir):
    """r12 (X92): WordPiece training (12 merges, likelihood scoring
    over delta-maintained pair + symbol tables) + greedy longest-
    match-first token counts over the corpus — the non-BPE arm of
    the registered text_bpe_tokens definition, timed alone."""
    from data_toolz_spark.operators.bpe import bpe_word_table
    from data_toolz_spark.operators.wordpiece import (
        wordpiece_base_pieces,
        wordpiece_token_count,
        wordpiece_train,
        wordpiece_vocab,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    wt = bpe_word_table(docs).persist()
    try:
        merges = wordpiece_train(wt, n_merges=12, min_count=2)
        vocab = wordpiece_vocab(merges, wordpiece_base_pieces(wt))
    finally:
        wt.unpersist()
    return wordpiece_token_count(docs, vocab)


def _x_bpe_train256(spark, sf_dir):
    """r11 (VERDICT task 1): vocab-scale BATCHED BPE training — 256
    merges over the corpus's word-bigram unit table (931 distinct
    units at sf0.1; the single-word table exhausts at 89 merges, far
    short of a vocab-scale demonstration).  ``batch_size=64`` accepts
    every provably-sequential-equal prefix per aggregation round
    (operators/bpe.py _accept_batch): measured 114 rounds for the 256
    merges (~2.3 merges/round on this tie-dense synthetic corpus,
    growing to 5-12 in later rounds — the production regime) vs 256+
    sequential jobs, ~58 s → ~21 s wall.  Output is bit-identical to
    batch_size=1 (pinned by tests/test_bpe.py differentials)."""
    from data_toolz_spark.operators.bpe import (
        bpe_bigram_unit_table,
        bpe_train,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    merges = bpe_train(
        bpe_bigram_unit_table(docs),
        n_merges=256,
        min_count=2,
        batch_size=64,
    )
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"],
             m["pair_count"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, "
        "pair_count long",
    )


def _x_bpe_delta128(spark, sf_dir):
    """r12 (VERDICT r11 task 1): DELTA-maintained pair-count training
    — 128 merges over the corpus's word-TRIGRAM unit table (~27k
    distinct units at sf0.1), batch_size=64, on the distributed loop
    (``_LOCAL_UNIT_CAP`` forced to 0 — the table is far under it).
    Per round, candidates come from the (l, r, cnt) table and only
    AFFECTED units are recounted (signed before/after pass), instead
    of re-exploding all ~800k adjacent pairs.  Output bit-identical to
    sequential (tests/test_bpe.py differentials)."""
    import data_toolz_spark.operators.bpe as bpemod
    from data_toolz_spark.operators.bpe import (
        bpe_ngram_unit_table,
        bpe_train,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    cap = bpemod._LOCAL_UNIT_CAP
    bpemod._LOCAL_UNIT_CAP = 0
    try:
        merges = bpe_train(
            bpe_ngram_unit_table(docs, 3),
            n_merges=128,
            min_count=2,
            batch_size=64,
        )
    finally:
        bpemod._LOCAL_UNIT_CAP = cap
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"],
             m["pair_count"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, "
        "pair_count long",
    )


def _x_bpe_local2048(spark, sf_dir):
    """r12 (X95): driver-side exact BPE training — 2,048 merges over
    the word-trigram unit table via ``bpe_train_local`` (one corpus
    shuffle builds the bounded unit table, the merge loop runs
    driver-side with indexed deltas, zero Spark jobs per merge).  The
    IDENTICAL workload on the distributed delta path priced at 601 s
    (SCALE_PROBE r12-bpe); bit-parity is pinned by the test
    differentials and the probe's real-data prefix check.  32,768
    merges on the 210k-unit 4-gram table run in ~62 s (probe) — the
    real-vocab regime this entry tracks the slope of."""
    from data_toolz_spark.operators.bpe import (
        bpe_ngram_unit_table,
        bpe_train_local,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    merges = bpe_train_local(
        bpe_ngram_unit_table(docs, 3), n_merges=2048, min_count=2
    )
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"],
             m["pair_count"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, "
        "pair_count long",
    )


def _x_wp_local512(spark, sf_dir):
    """r12 (X95): driver-side exact WordPiece training — 512 merges
    over the word-trigram unit table via ``wordpiece_train_local``
    (the likelihood-score analog of x_bpe_local2048; a symbol→pairs
    re-push index handles the score RISES merging causes).  The
    distributed WP path is one-merge-per-round by design and priced
    128 merges at 149 s (SCALE_PROBE r12-wp); parity incl. the IEEE
    score doubles is pinned by the test differentials."""
    from data_toolz_spark.operators.bpe import bpe_ngram_unit_table
    from data_toolz_spark.operators.wordpiece import (
        wordpiece_train_local,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    merges = wordpiece_train_local(
        bpe_ngram_unit_table(docs, 3), n_merges=512, min_count=2
    )
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"],
             m["pair_count"], m["score"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, "
        "pair_count long, score double",
    )


def _x_interval_join(spark, sf_dir):
    """X66: point-in-interval join of the event stream against
    per-user activity windows via the range-bucketing rewrite (every
    17th event opens a 1-7 minute window; 5-minute bucket grid) — the
    equi-join shape that replaces Catalyst's BroadcastNestedLoopJoin
    for BETWEEN joins."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.windows import bucketed_interval_join

    ev = entrymod.load(spark, sf_dir, "events")
    points = ev.select("user_id", "event_id", "ts")
    intervals = ev.filter(F.col("event_id") % 17 == 0).select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("w_start"),
        F.timestamp_add(
            "MINUTE",
            (F.col("event_id") % 7 + 1).cast("int"),
            F.col("ts"),
        ).alias("w_end"),
    )
    return bucketed_interval_join(
        points,
        intervals,
        point_col="ts",
        start_col="w_start",
        end_col="w_end",
        on="user_id",
        bucket_width=300_000_000,  # 5-minute grid in epoch micros
    )


def _x_dsir_weights(spark, sf_dir):
    """X71: DSIR importance weights — target = every 7th doc, source =
    the corpus; two bucket-bounded hashed-n-gram aggregates + one
    broadcast-ratio scoring pass."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.sampling import dsir_logweights

    docs = entrymod.load(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, docs.filter(F.col("doc_id") % 7 == 0).select("text"),
        n_buckets=8192,
    )


def _x_quality_logreg(spark, sf_dir):
    """X70: distill the heuristic keep/drop rule into a learned linear
    quality filter — quality + web-artifact features, labels from
    keep_document, 12 integer-exact GD rounds, then score the corpus
    (one codegen projection)."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.classifier import (
        logreg_fit,
        logreg_score,
    )
    from data_toolz_spark.operators.text_analysis import (
        keep_document,
        quality_features,
        web_artifact_features,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    feats = keep_document(
        web_artifact_features(quality_features(docs))
    ).withColumn("label", F.col("keep").cast("int"))
    cols = ["mean_tok_len", "alpha_ratio", "stop_ratio",
            "quality_score", "artifact_ratio"]
    model = logreg_fit(feats, cols, "label", n_iter=12)
    return logreg_score(feats, model).select("doc_id", "quality_prob")


def _x_pagerank(spark, sf_dir):
    """X67: integer-exact PageRank over a synthesized doc-link graph
    (two pseudo-random out-links per doc + one link into a 16-node hub
    tier — realistic in-degree skew), 5 power rounds."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.graph import pagerank

    d = entrymod.load(spark, sf_dir, "documents").select("doc_id")
    edges = (
        d.select(F.col("doc_id").alias("src"),
                 ((F.col("doc_id") * 7 + 1) % 4096).alias("dst"))
        .union(d.select(F.col("doc_id"),
                        (F.col("doc_id") * 13 + 3) % 4096))
        .union(d.select(F.col("doc_id"), F.col("doc_id") % 16))
    )
    return pagerank(edges, n_iter=5)


def _x_shard_export(spark, sf_dir):
    """r10: deterministic corpus shuffle + training-shard manifest —
    hash-ordered shards over the documents table (token counts from
    the whitespace tokenizer), budget-bounded (shard, bin) manifest
    rows with in-order doc ids; the returned frame is the manifest
    (corpus-sized data never reaches the driver)."""
    from pyspark.sql import functions as F

    from data_toolz_spark.functions.text import token_count
    from data_toolz_spark.operators.sampling import (
        export_training_shards,
    )

    docs = entrymod.load(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return export_training_shards(
        docs, id_col="doc_id", token_col="n_tokens", budget=4096,
        n_shards=64,
    )


def _x_token_pack(spark, sf_dir):
    """r10: the full tokenize-and-pack last mile — train BPE merges on
    the corpus, encode every document to lossless byte-fallback ids,
    and pack the per-shard token streams into exact 512-token training
    sequences (docs concatenated in deterministic hash order, EOS
    boundaries).  Returns the sequence frame."""
    from data_toolz_spark.operators.bpe import (
        bpe_base_chars,
        bpe_encode_bytes_expr,
        bpe_train,
        bpe_vocab_bytes,
        bpe_word_table,
    )
    from data_toolz_spark.operators.sampling import pack_token_sequences

    docs = entrymod.load(spark, sf_dir, "documents")
    wt = bpe_word_table(docs)
    # batched acceptance (r12 optimization round): bit-identical
    # merges, fewer sequential aggregation rounds (see text_bpe_tokens)
    merges = bpe_train(wt, n_merges=16, min_count=2, batch_size=64)
    vocab = bpe_vocab_bytes(merges, bpe_base_chars(wt))
    eos = 256 + len(vocab) + 64  # outside the vocab + byte space
    ids = docs.select(
        "doc_id",
        bpe_encode_bytes_expr("text", merges, vocab).alias("ids"),
    )
    return pack_token_sequences(
        ids, id_col="doc_id", ids_col="ids", seq_len=512,
        eos_id=eos, n_shards=64,
    )


def _x_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection (m=8) + full-corpus cover
    assignment — m-1 argmax scans with one row to the driver each,
    then one Arrow assignment scan."""
    from data_toolz_spark.operators.clustering import (
        kcenter_select,
        kmeans_assign,
    )

    emb = entrymod.load(spark, sf_dir, "embeddings")
    kc = kcenter_select(emb, dim=64, m=8, seed=42, scale=1024)
    return kmeans_assign(
        emb, kc.as_kmeans_model(), cluster_col="pick", dist_col="d2"
    )


def _x_domain_cap(spark, sf_dir):
    """Per-site frequency cap over doc_id-synthesized URLs (50 sites,
    cap 20): the skew-safe two-stage hash-lottery rank."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.urls import cap_per_domain

    docs = entrymod.load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return cap_per_domain(
        urls, id_col="doc_id", url_col="url", max_per_domain=20
    )


def _x_unigram_train(spark, sf_dir):
    """Unigram-LM tokenizer: hard-EM training (3 rounds over the
    distinct-word table) + corpus encoding through the word→ids join.
    Like text_bpe_tokens, sf0.1 wall is dominated by per-round fixed job
    costs over the tiny vocab; the shapes are what transfer."""
    from data_toolz_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
        unigram_word_table,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    words = unigram_word_table(docs)
    model = unigram_train(
        words, vocab_size=256, n_iter=3, max_piece_len=6,
        seed_size=4096, min_count=2,
    )
    return unigram_encode(docs, model)


def _x_clean_text(spark, sf_dir):
    """The text-repair front door over the documents corpus: NFC
    (the one Arrow-batched Python kernel) + the 7-replace codegen
    chain, one map-only pass."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.text_analysis import clean_text

    docs = entrymod.load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(clean_text("text")).alias("clean_len"),
    )


def _x_ppl_strata(spark, sf_dir):
    """CCNet strata end-to-end: bigram-LM scoring (model trained on
    the even half) → exact 1/3-2/3 rank thresholds → head/middle/tail
    labels broadcast onto the corpus."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.text_analysis import (
        bigram_logprob,
        bucket_by_thresholds,
        build_bigram_counts,
        build_vocab,
        rank_thresholds,
    )

    docs = entrymod.load(spark, sf_dir, "documents")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    scored = bigram_logprob(
        docs, build_bigram_counts(even), build_vocab(even)
    )
    thr = rank_thresholds(scored, "bg_nll", [(1, 3), (2, 3)])
    return bucket_by_thresholds(
        scored, "bg_nll", thr, labels=("head", "middle", "tail")
    )


EXTRAS = {
    "x_shard_export": _x_shard_export,
    "x_token_pack": _x_token_pack,
    "x_interval_join": _x_interval_join,
    "x_pagerank": _x_pagerank,
    "x_quality_logreg": _x_quality_logreg,
    "x_dsir_weights": _x_dsir_weights,
    "x_span_dedup": _x_span_dedup,
    "x_simhash_components": _x_simhash_components,
    "x_pii_redact": _x_pii_redact,
    "x_semantic_dedup": _x_semantic_dedup,
    "x_sim_topk_ann_nbits12": _x_ann_realistic,
    "x_dedup_embedding_lsh_nbits12": _x_emb_lsh_realistic,
    "x_ivf_topk_probe4": _x_ivf_topk,
    "x_ivfpq_probe4": _x_ivfpq_topk,
    "x_ivfpq_pretrained": _x_ivfpq_pretrained,
    "x_topk_int8_dequant": _x_topk_int8,
    "x_decon_hashed": _x_decon_hashed,
    "x_prepare_corpus": _x_prepare_corpus,
    "x_phash_mega_components": _x_phash_mega_components,
    # r10 session-2 additions (X80-X83)
    "x_kcenter": _x_kcenter,
    "x_domain_cap": _x_domain_cap,
    "x_ppl_strata": _x_ppl_strata,
    "x_clean_text": _x_clean_text,
    "x_unigram_train": _x_unigram_train,
    # r11 (VERDICT task 1)
    "x_bpe_train256": _x_bpe_train256,
    # r12 (VERDICT r11 task 1)
    "x_bpe_delta128": _x_bpe_delta128,
    # r12 (X92)
    "x_wordpiece_train": _x_wordpiece_train,
    # r12 (X95): driver-side trainers at vocab scale
    "x_bpe_local2048": _x_bpe_local2048,
    "x_wp_local512": _x_wp_local512,
}


TAIL_BUDGET = 1900  # stdout tail captures keep 2,000 chars


def tail_lines(
    header: dict, timings: dict[str, float], order: list[str]
) -> list[str]:
    """The compact lines printed after the full payload.

    The last line's ``queries`` is the longest prefix of ``order``
    whose line stays within ``TAIL_BUDGET`` chars, with times rounded.
    Every entry after that prefix goes on a ``"spill": true`` line
    printed before it; there is no spill line when everything fits.
    """

    def rounded(v: float) -> float:
        return round(v, 2) if v < 10 else round(v, 1)

    def line(qmap: dict[str, float], **extra) -> str:
        return json.dumps(
            {**header, "compact": True, **extra, "queries": qmap},
            separators=(",", ":"),
        )

    packed: dict[str, float] = {}
    for q in order:
        trial = {**packed, q: rounded(timings[q])}
        if len(line(trial)) > TAIL_BUDGET:
            break
        packed = trial
    spill = {q: rounded(timings[q]) for q in order[len(packed):]}
    return ([line(spill, spill=True)] if spill else []) + [line(packed)]


def _sf_from_dir(path: str) -> float:
    tail = os.path.basename(path.rstrip("/"))
    if tail.startswith("sf"):
        try:
            return float(tail[2:])
        except ValueError:
            pass
    return -1.0


def _parse_args(argv: list[str]) -> tuple[int, bool, list[str]]:
    """Split flags from qid args.  Returns (min_of, repeat_all, rest)
    where rest still carries ``--headline`` for the membership logic
    below."""
    min_of = 3
    repeat_all = False
    rest: list[str] = []
    for a in argv:
        if a.startswith("--min-of="):
            min_of = max(1, int(a.split("=", 1)[1]))
        elif a == "--min-of-all":
            repeat_all = True
        else:
            rest.append(a)
    return min_of, repeat_all, rest


def main() -> int:
    min_of, repeat_all, only = _parse_args(sys.argv[1:])
    queries = entrymod.queries()
    if only == ["--headline"]:
        names = HEADLINE
    elif only:
        names = only
    else:
        # every registered qid, headline entries first so they run in a
        # freshly warmed JVM; "value" stays the HEADLINE total, per-qid
        # timings cover everything for attribution; extras run last
        names = (
            HEADLINE
            + [q for q in queries if q not in HEADLINE]
            + list(EXTRAS)
        )
    spark = get_spark(
        app_name="data_toolz_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", _default_heap()
            ),
            # unique warehouse per run — table-building entries must
            # not collide with a concurrent suite (tests/conftest.py)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(
                prefix="dts-bench-warehouse-"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on a tiny query so the first timed entry does
    # not absorb session startup costs.
    queries["q1_pricing_summary"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    # spin up the Python worker pool so the first Arrow-UDF query is
    # not charged ~CPUS × worker-startup (session cost, not query cost)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    ident = pandas_udf(lambda s: s, "long")
    spark.range(100_000).repartition(CPUS).select(
        ident(F.col("id")).alias("x")
    ).write.format("noop").mode("overwrite").save()
    # streaming-infra warmup: the first streaming query in a session
    # pays one-time init (state-store provider, streaming listener,
    # offset-log machinery) — session cost, not query cost
    warm_dir = tempfile.mkdtemp(prefix="dtz_warm_") + "/ev"
    spark.range(10).selectExpr(
        "timestamp_micros(id * 1000000) AS ts",
        "'x' AS event_type",
        "CAST(id AS DOUBLE) AS value",
        "id AS user_id",
        "id AS event_id",
    ).write.mode("overwrite").parquet(warm_dir)
    from data_toolz_spark.streaming.events import (
        read_events_stream,
        run_to_memory_sink,
        sessionize_stream,
        windowed_event_counts,
    )

    run_to_memory_sink(
        windowed_event_counts(
            read_events_stream(spark, warm_dir),
            window="1 hour",
            watermark="2 hours",
        ),
        query_name="dtz_warmup_stream",
        output_mode="complete",
    )
    # session_window plans through a different stateful operator
    # (merging-sessions exec + its own state format) — warm it too so
    # stream_sessions, like stream_windowed_counts, measures the query
    # rather than one-time operator init
    run_to_memory_sink(
        sessionize_stream(
            read_events_stream(spark, warm_dir),
            gap_minutes=30.0,
            watermark="2 hours",
        ),
        query_name="dtz_warmup_sessions",
        output_mode="complete",
    )

    from data_toolz_spark.cache import clear_session_caches

    timings: dict[str, float] = {}
    repeats: dict[str, list[float]] = {}
    # per-entry host load (1-min loadavg sampled before and after each
    # timed repeat): the r7 driver sweep landed in a sibling-VM
    # contention window and several readings were 4-6x off the same
    # binary's quiet-host numbers (VERDICT r7) — recording load per
    # repeat makes contention machine-detectable from the JSON instead
    # of a prose note in BASELINE.md.
    loads: dict[str, list[list[float]]] = {}
    explicit = set(only) - {"--headline"}

    def _k_for(name: str) -> int:
        if repeat_all or name in explicit:
            return min_of
        return min_of if name in HEADLINE else 1

    # Janino compiles per repeat: a warm repeat that still compiles
    # means the generated-class cache no longer holds the working set
    # (session.DEFAULT_CONF, spark.sql.codegen.cache.maxEntries)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles: dict[str, list[int]] = {}
    # shuffle bytes per repeat, as written (after the session's
    # spark.io.compression.codec): the executors' totalShuffleWrite
    jsc = spark.sparkContext._jsc.sc()
    shuffled: dict[str, list[int]] = {}

    def _shuffle_written() -> int:
        jsc.listenerBus().waitUntilEmpty()
        execs = jsc.statusStore().executorList(False)
        return sum(
            execs.apply(i).totalShuffleWrite() for i in range(execs.size())
        )

    def _timed(name: str, fn, k: int = 1) -> None:
        ts: list[float] = []
        lds: list[list[float]] = []
        cgs: list[int] = []
        sws: list[int] = []
        for _ in range(k):
            l0 = os.getloadavg()[0]
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            s0 = _shuffle_written()
            start = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - start, 3))
            cgs.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
            sws.append(_shuffle_written() - s0)
            lds.append([round(l0, 2), round(os.getloadavg()[0], 2)])
            # between-repeat (and between-entry) hygiene, outside the
            # timer: release operator persists + clear the SQL cache so
            # cached blocks from one repeat don't feed the next
            clear_session_caches(spark)
        timings[name] = min(ts)
        repeats[name] = ts
        loads[name] = lds
        compiles[name] = cgs
        shuffled[name] = sws

    # pre-sweep: build the persistent MinHash index once and time it as
    # its own entry, so the sweep's incremental_minhash_pairs times
    # MINING against an existing index — the steady-state shape — not a
    # per-run rebuild (VERDICT r6 item 3)
    split_active = set()
    for qid, build_name, build_fn in BENCH_BUILDS:
        if qid not in names:
            continue
        _timed(
            build_name,
            lambda fn=build_fn: fn(spark, SF_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            k=min_of if repeat_all else 1,
        )
        if qid in BENCH_SPLIT:
            split_active.add(qid)

    for name in names:
        if name in split_active:
            fn = BENCH_SPLIT[name]
        else:
            fn = queries.get(name) or EXTRAS[name]
        _timed(
            name,
            lambda fn=fn: fn(spark, SF_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            k=_k_for(name),
        )

    # stage attribution for the end-to-end pipeline, whenever the
    # pipeline itself was in the sweep (VERDICT r5 item 5)
    stage_times = None
    if "x_prepare_corpus" in timings and not os.environ.get(
        "SPARK_GRAFT_NO_STAGE_ATTRIBUTION"
    ):
        stage_times = _prepare_corpus_stage_times(spark)

    total = round(
        sum(t for q, t in timings.items() if q in HEADLINE or q in only), 3
    )
    payload = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_repeats": repeats,
        "min_of": min_of,
        "loadavg": loads,
        "sf": _sf_from_dir(SF_DIR),
    }
    if stage_times is not None:
        payload["prepare_corpus_stages"] = stage_times
    print(json.dumps(payload))
    # full-payload artifact: a 2,000-char stdout tail capture drops
    # the per-qid map, so every run also writes the complete payload
    # next to bench.py
    try:
        detail = dict(
            payload,
            queries_codegen_compiles=compiles,
            queries_shuffle_write_bytes=shuffled,
            argv=sys.argv[1:],
            unix_time=int(time.time()),
        )
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_DETAIL_latest.json",
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # a read-only checkout must not fail the bench
    registered = set(queries)
    order = [q for q in HEADLINE if q in timings]
    order += sorted(q for q in timings if q in registered and q not in order)
    order += sorted(
        (q for q in timings if q not in order), key=lambda q: -timings[q]
    )
    header = {k: payload[k] for k in ("metric", "value", "unit", "sf")}
    for line in tail_lines(header, timings, order):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

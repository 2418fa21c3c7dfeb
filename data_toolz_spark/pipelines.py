"""End-to-end training-corpus preparation: the composition a user
actually runs, wiring the §2.9 operator families together in the
canonical order with state shared between stages.

    raw docs
      → quality/repetition/web-artifact filter   (keep_document)
      → trained quality + language gates (r10)   (logreg_score /
                                                  multiclass_score)
      → cross-document boilerplate removal       (line_dedup)
      → repeated-passage removal                 (remove_duplicate_spans)
      → near-duplicate removal                   (MinHash-LSH + CC)
      → media content near-dup tiers (r10)       (image/audio/video
                                                  fingerprints + Hamming
                                                  banding + CC)
      → eval-set decontamination                 (ngram_decontaminate)
      → leakage-safe train/val/test split        (component_split)
      → context-window chunking                  (chunk_documents)
      → token-budget packing                     (pack_greedy)

Composition details that matter at 100 TB:

* The MinHash near-dup COMPONENT MAP is computed once and used twice —
  for the drop list AND for ``component_split``, so surviving members
  of a duplicate cluster can never straddle the train/eval boundary
  (a pipeline that deduped and then hash-split independently would
  leak).  r6: the map comes from ``minhash_components`` — transitive
  closure over the fingerprint graph, member pairs never materialized,
  so identical-doc mega-clusters cost O(k) instead of k² edges.
* Decontamination runs AFTER near-dup removal (fewer docs to scan) and
  BEFORE splitting (a contaminated doc must not reach any split).

The stage loop: :func:`prepare_training_corpus` is a list of stage
entries — gates, text_dedup, near_dup, media_dedup, decontaminate,
strata, split, token_pack — each a name, its fingerprint parameters,
the condition that enables it, and a function from frame to frame.
One loop runs the enabled entries in order; word chunking and
word-budget packing follow it as plain lazy algebra.  Most stage work
is lazy, but not all: the near-dup stage runs MinHash pair mining and
its connected-components loop at call time, each media tier
runs its own CC loop, and the strata stage collects the bigram LM's
vocab stats, so calling the function on a large corpus does that work
up front.  ``stage_counts`` triggers one action per stage and is for
audits, not production runs.

The resume contract (``materialize_to``): each enabled stage writes
its output as the table ``{prefix}_sNN_{name}`` — NN counts enabled
stages only, and gates and split always count — then a row of
``{prefix}_manifest`` (stage, fp, table, n_rows); the near-dup
component map writes first as the side table ``near_dup_cc`` under
its owning stage's fingerprint, and every stage writes at call time.
Fingerprints chain like a Merkle list: fp_i = sha256(fp_{i-1} | stage
name | stage params), seeded by ``input_token``, ``id_col`` and
``text_col``, so a config change at stage k invalidates exactly
stages >= k, while a re-run with the same config loads each completed
stage (and its side tables) instead of recomputing it.  A manifest
row is trusted only when its fingerprint equals the current chain
value and its table's row count still equals the audited ``n_rows``;
the table writes before its row, so a crash between the two just
recomputes that stage.  Stages are deterministic functions of
(config, input corpus), and the corpus is never hashed: the caller
changes ``input_token`` when the data changes.  A completed run then
prunes manifest rows and stage tables that are off its chain, unless
``materialize_retention="keep"``.
"""

from __future__ import annotations

import hashlib
import re
from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_toolz_spark.cache import persist


def _fp_token(obj) -> str:
    """Deterministic text form of a stage parameter for fingerprint
    chaining: mappings canonicalize by key, sets by sorted element
    token, sequences element-wise, everything else by ``repr`` (the
    trained-model dataclasses are frozen with value-carrying reprs,
    so a different model is a different fingerprint).  An object whose
    repr is the default address-bearing form (``<... at 0x...>``)
    is REJECTED (r12, ADVICE fix): its token would change every
    process, so resume would silently never hit — fail loudly
    instead."""
    if isinstance(obj, Mapping):
        return (
            "{"
            + ",".join(
                f"{k!r}:{_fp_token(obj[k])}" for k in sorted(obj, key=str)
            )
            + "}"
        )
    if isinstance(obj, (list, tuple)):
        return "[" + ",".join(_fp_token(v) for v in obj) + "]"
    if isinstance(obj, (set, frozenset)):
        return "{" + ",".join(sorted(_fp_token(v) for v in obj)) + "}"
    r = repr(obj)
    # value types have value-carrying reprs by definition — never
    # pattern-match them (review fix r12: a plain string whose VALUE
    # contains ' at 0x…' must not be rejected)
    if isinstance(obj, (str, bytes, int, float, bool, type(None))):
        return r
    if " at 0x" in r:
        raise ValueError(
            "materialize_to: stage parameter "
            f"{type(obj).__name__} has a process-local repr ({r[:60]}…)"
            " — it cannot seed a stable resume fingerprint; give it a "
            "value-carrying __repr__ or pass a plain value"
        )
    return r


class _Materializer:
    """Stage tables and the fingerprint-chained manifest behind
    ``materialize_to`` (the resume contract is in the module
    docstring)."""

    def __init__(self, spark, prefix: str, input_token: str):
        self.spark = spark
        self.prefix = prefix
        self.fp = hashlib.sha256(
            f"dts-pipeline-v1|{input_token}".encode()
        ).hexdigest()
        #: every fingerprint THIS run's chain has produced — finalize()
        #: prunes manifest rows (and their tables) outside this set
        self.valid_fps: set[str] = {self.fp}
        self.n_stage = 0
        self.rows = _read_manifest(spark, prefix)

    def _advance(self, name: str, params: Mapping) -> None:
        self.n_stage += 1
        self.fp = hashlib.sha256(
            f"{self.fp}|{name}|{_fp_token(params)}".encode()
        ).hexdigest()
        self.valid_fps.add(self.fp)

    def _table(self, name: str) -> str:
        return f"{self.prefix}_s{self.n_stage:02d}_{name}"

    def hit(self, name: str, params: Mapping, side: tuple = ()) -> bool:
        """Advance the chain; True iff this stage (and its side
        tables) completed under the SAME chain fingerprint AND each
        table's current row count equals the audited ``n_rows`` from
        its manifest row (r12 integrity probe: a truncated or
        partially rewritten table behind a committed manifest row is
        recomputed instead of trusted — a zero-column count, footer
        metadata, never a data pass)."""
        self._advance(name, params)
        for n in (name, *side):
            row = self.rows.get(n)
            if row is None or row[0] != self.fp:
                return False
            if not self.spark.catalog.tableExists(row[1]):
                return False
            if self.spark.table(row[1]).count() != row[2]:
                return False
        return True

    def load(self, name: str) -> DataFrame:
        return self.spark.table(self.rows[name][1])

    def save(self, name: str, df: DataFrame) -> DataFrame:
        """Write ``df`` as this stage's table, record the manifest row
        (with the audit row count — a footer-stats read of the table
        just written), and return the TABLE-backed frame (free lineage
        truncation — downstream plans read a flat scan).  A side table
        (e.g. the near-dup component map) saves under the same chain
        fingerprint as its owning stage."""
        tbl = self._table(name)
        df.write.mode("overwrite").saveAsTable(tbl)
        out = self.spark.table(tbl)
        self.rows[name] = (self.fp, tbl, out.count())
        _write_manifest_rows(self.spark, self.prefix, self.rows)
        return out

    def finalize(self, prune: bool = True) -> list[str]:
        """End-of-run retention (r12, VERDICT r11 task 4 + ADVICE):
        prune manifest rows whose fingerprint is not on THIS run's
        completed chain (rows from superseded configs would otherwise
        be rewritten forever), then drop every ``{prefix}_sNN_*``
        catalog table the pruned manifest no longer references —
        config churn stops accumulating dead warehouse data.  Runs
        only after the last stage (mid-run the chain is incomplete
        and pruning could discard still-valid later stages, e.g.
        resume after an externally dropped mid-chain table).  Returns
        the dropped table names.

        ``prune=False`` (review fix r12) keeps everything: a run
        whose config is a deliberate SUBSET of an earlier
        materialized run — e.g. ``token_pack=None`` to fetch the
        cleaned corpus while keeping the expensive packed table —
        must not destroy the stages it merely skipped.  The chain
        cannot distinguish "skipped on purpose, still wanted" from
        "superseded"; the caller says which via
        ``materialize_retention``."""
        if not prune:
            return []
        keep = {
            n: r for n, r in self.rows.items() if r[0] in self.valid_fps
        }
        if set(keep) != set(self.rows):
            self.rows = keep
            _write_manifest_rows(self.spark, self.prefix, self.rows)
        return _drop_unreferenced_stage_tables(
            self.spark, self.prefix,
            {r[1] for r in self.rows.values()},
        )


def _read_manifest(spark, prefix: str) -> dict:
    """``{prefix}_manifest`` as ``{stage: (fp, table, n_rows)}`` (empty
    when the prefix has no manifest) — the ONE reader, paired with
    :func:`_write_manifest_rows`."""
    if not spark.catalog.tableExists(f"{prefix}_manifest"):
        return {}
    return {
        r["stage"]: (r["fp"], r["table"], int(r["n_rows"]))
        for r in spark.table(f"{prefix}_manifest").collect()
    }


def _write_manifest_rows(spark, prefix: str, rows: Mapping) -> None:
    """Overwrite ``{prefix}_manifest`` from a ``{stage: (fp, table,
    n_rows)}`` mapping — the ONE writer of the manifest schema,
    shared by the materializer and the standalone retention helper."""
    spark.createDataFrame(
        [
            (n, fp, t, int(c))
            for n, (fp, t, c) in sorted(rows.items())
        ],
        "stage string, fp string, table string, n_rows long",
    ).write.mode("overwrite").saveAsTable(f"{prefix}_manifest")


def _drop_unreferenced_stage_tables(
    spark, prefix: str, referenced: set[str]
) -> list[str]:
    """Drop every ``{prefix}_sNN_*`` catalog table not in
    ``referenced``; returns the dropped names (sorted)."""
    pat = re.compile(re.escape(prefix) + r"_s\d{2}_")
    dropped = []
    for t in spark.catalog.listTables():
        if pat.match(t.name) and t.name not in referenced:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            dropped.append(t.name)
    return sorted(dropped)


def list_pipeline_stages(spark, prefix: str) -> list[dict]:
    """Inventory of a materialized pipeline run (r12, VERDICT r11
    task 4): one dict per manifest row — stage name, chain
    fingerprint, table, audited ``n_rows``, whether the table still
    exists, and ``intact`` (current footer-stats count equals the
    audited count).  A long-lived warehouse uses this to see what a
    prefix holds before resuming or pruning."""
    rows = _read_manifest(spark, prefix)
    out = []
    for stage, (fp, table, n_rows) in sorted(
        rows.items(), key=lambda kv: kv[1][1]
    ):
        exists = spark.catalog.tableExists(table)
        current = spark.table(table).count() if exists else None
        out.append(
            {
                "stage": stage,
                "fp": fp,
                "table": table,
                "n_rows": n_rows,
                "table_exists": exists,
                "intact": bool(exists and current == n_rows),
            }
        )
    return out


def drop_stale_pipeline_stages(spark, prefix: str) -> list[str]:
    """Warehouse retention for a materialized pipeline prefix (r12):
    prune manifest rows whose table no longer exists, then drop every
    ``{prefix}_sNN_*`` table the manifest does not reference (orphans
    from superseded configs or older stage layouts).  Returns the
    dropped table names.  :func:`prepare_training_corpus` already
    runs the same pruning at the end of every completed materialized
    run; this standalone form cleans up prefixes whose runs crashed
    before finalizing."""
    rows = _read_manifest(spark, prefix)
    alive = {
        n: r for n, r in rows.items() if spark.catalog.tableExists(r[1])
    }
    if set(alive) != set(rows):
        _write_manifest_rows(spark, prefix, alive)
    return _drop_unreferenced_stage_tables(
        spark, prefix, {r[1] for r in alive.values()}
    )


#: side tables a stage saves (before its own table) and loads on resume
_SIDE_TABLES = {"near_dup": ("near_dup_cc",)}

#: default Hamming radius per media fingerprint kind — the values the
#: qid-attested tiers use (image dHash τ=3, audio Haitsma-Kalker τ=6,
#: video majority-dHash τ=3)
_MEDIA_TAU = {"image": 3, "audio": 6, "video": 3, "fingerprint": 3}


def _media_fingerprints(
    out: DataFrame, spec: Mapping, id_col: str
) -> DataFrame:
    """``(id, __mfp)`` for one media-dedup tier spec.  ``kind`` picks
    the fingerprint kernel (all integer-exact, one Arrow pass each):
    ``image`` = PNG decode + dHash (``spec["hash"]="ahash"`` to
    switch), ``audio`` = WAV Haitsma-Kalker energy-delta bits,
    ``video`` = per-frame dHash majority vote, ``fingerprint`` = a
    PRECOMPUTED integer column used as-is (the escape hatch for
    fingerprints minted upstream).  Undecodable blobs yield NULL
    fingerprints, which the banding ignores — such rows always
    survive."""
    kind, col = spec["kind"], spec["col"]
    sub = out.select(id_col, col)
    if kind == "image":
        from data_toolz_spark.operators.image_dedup import image_phash

        hashed = image_phash(sub, content_col=col, id_col=id_col)
        # ahash is the phash_near_duplicates default; spec["hash"]
        # switches to dhash
        return hashed.select(
            id_col, F.col(spec.get("hash", "ahash")).alias("__mfp")
        )
    if kind == "audio":
        from data_toolz_spark.operators.multimodal import (
            audio_fingerprint,
        )

        kw = {
            k: spec[k] for k in ("frame_len", "n_frames") if k in spec
        }
        return audio_fingerprint(
            sub, content_col=col, out_col="__mfp", **kw
        ).select(id_col, "__mfp")
    if kind == "video":
        from data_toolz_spark.operators.multimodal import (
            video_fingerprint,
        )

        kw = {k: spec[k] for k in ("every_k",) if k in spec}
        return video_fingerprint(
            sub, content_col=col, id_col=id_col, out_col="__mfp", **kw
        ).select(id_col, "__mfp")
    if kind == "fingerprint":
        return sub.select(id_col, F.col(col).cast("long").alias("__mfp"))
    raise ValueError(
        f"prepare_training_corpus: unknown media_dedup kind {kind!r} "
        "(image, audio, video, or fingerprint)"
    )


def prepare_training_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_thresholds: dict | None = None,
    quality_rank_gate: Mapping | None = None,
    quality_model=None,
    quality_min_prob: float = 0.5,
    lang_model=None,
    keep_langs: Sequence[str] | None = None,
    line_dedup_max_doc_freq: int | None = None,
    line_sep: str = "\n",
    span_dedup_n: int | None = None,
    near_dup_threshold: float | None = 0.8,
    near_dup_keep: str = "min_id",
    media_dedup: Sequence[Mapping] | None = None,
    domain_cap: Mapping | None = None,
    clean: bool | Mapping = False,
    ppl_strata: Mapping | None = None,
    lang_col: str | None = None,
    decontaminate_n: int = 8,
    fractions: Mapping[str, float] | None = None,
    chunk_max_words: int | None = None,
    chunk_overlap: int = 0,
    pack_budget: int | None = None,
    token_pack: Mapping | None = None,
    seed: int = 42,
    materialize_to: str | None = None,
    input_token: str = "",
    materialize_retention: str = "prune",
) -> DataFrame:
    """Build the full cleaning → dedup → decontaminate → split (→ chunk
    → pack) plan over a raw document corpus.

    Returns one DataFrame.  Without chunking: one row per surviving
    document — original columns plus ``split``.  With
    ``chunk_max_words``: one row per chunk ``(id_col, split,
    chunk_index, chunk_text, n_words)``, plus ``pack_bin`` when
    ``pack_budget`` is set.  Stages toggle off via ``None``.

    ``eval_df`` (the benchmark set) enables decontamination; it only
    needs ``text_col``.

    r10 session-2 tiers (all optional):

    * ``domain_cap`` — the C4/RefinedWeb per-site frequency cap, FIRST
      (URL-tier work precedes content work): a dict of
      :func:`~data_toolz_spark.operators.urls.cap_per_domain` kwargs
      (``url_col`` or ``host_col``, ``max_per_domain``, optionally
      ``seed`` / ``salt_buckets`` / ``portable``).
    * ``near_dup_keep="longest"`` — quality-aware canonical selection
      in the near-dup stage: each cluster keeps its LONGEST member
      (ties → min id) instead of the min-id member.  The component
      map — and therefore the leakage-safe split routing — is
      unchanged; only which member survives differs.
    * ``ppl_strata`` — CCNet head/middle/tail labeling: a bigram LM
      trains on the SURVIVING corpus (post-dedup, post-decontamination
      — the cleanest text available, the CCNet posture), every doc
      scores, and exact rank thresholds cut the strata.  Dict keys:
      ``qs`` (default ``((1,3),(2,3))``), ``labels`` (default
      head/middle/tail), ``out_col`` (default ``ppl_bucket``).  Adds
      a column to the doc-level output; with ``chunk_max_words`` the
      chunk rows do not carry it (chunk output schema is fixed).
      The LM's vocab stats collect at call time (two bounded scalars).
      ``lm_prune`` (r12, X97) entropy-prunes the bigram table before
      scoring — ``{"epsilon": …}`` and/or ``{"top_k": …}`` forwarded
      to :func:`~data_toolz_spark.operators.text_analysis.
      prune_bigram_counts` (with ``lang_col`` the top-k is per
      language) — the LM-compression knob for corpora whose bigram
      table outgrows a sensible join side; scoring semantics degrade
      gracefully (absent bigrams back off, by construction).
    * ``lang_col`` (r11) — CCNet per-language conditioning: with it
      set, the ``ppl_strata`` stage trains the bigram LM PER LANGUAGE
      (grouped vocab/bigram tables, per-group backoff denominators —
      one aggregate for all languages, never a driver loop) and cuts
      the head/middle/tail thresholds per language, so each language
      gets its own perplexity cut points (Wenzek et al. 2020 §4.3).
      Static ``quality_thresholds`` are user constants and stay
      global; the data-derived quality cut points are the strata
      and the ``quality_rank_gate`` thresholds.
    * ``quality_rank_gate`` (r12, VERDICT r11 task 5) — a
      DATA-DERIVED quality cut, per language when ``lang_col`` is
      set: ``{"col": <feature or existing column>, "q": (num, den),
      "keep": "ge"|"le"}`` computes the exact rank-quantile threshold
      of ``col`` over the post-gate population (grouped by
      ``lang_col`` — NULL language is a real stratum, joined
      null-safely) and keeps rows on the given side of their group's
      threshold.  CCNet-style per-language curation: each language
      loses its own worst ``num/den`` fraction instead of one
      language landing wholesale under a global cut.  ``col`` may be
      any :func:`keep_document` feature (computed in the same
      projection) or a column already on ``docs``.

    ``materialize_to`` turns on stage materialization + resume under
    this table-name prefix (the contract is in the module docstring):
    pass a new ``input_token`` when docs or eval_df change, or stale
    stage tables will be trusted.  Default (None) writes nothing.

    ``materialize_retention`` (r12) controls end-of-run warehouse
    hygiene under ``materialize_to``: ``"prune"`` (default) drops
    stage tables and manifest rows that are not on this run's chain
    (superseded configs stop accumulating dead data), ``"keep"``
    leaves them — REQUIRED when this run's config is a deliberate
    subset of an earlier materialized run (e.g. ``token_pack=None``
    to fetch the cleaned corpus without destroying the expensive
    packed table; the chain cannot tell "skipped on purpose" from
    "superseded", so the caller must say).
    """
    from data_toolz_spark.operators._util import truncate_lineage
    from data_toolz_spark.operators.text_analysis import (
        keep_document,
        line_dedup,
    )

    # every config error raises here, before any stage runs or writes
    if near_dup_keep not in ("min_id", "longest"):
        raise ValueError(
            "prepare_training_corpus: near_dup_keep must be 'min_id' "
            f"or 'longest', got {near_dup_keep!r}"
        )
    if materialize_retention not in ("prune", "keep"):
        raise ValueError(
            "prepare_training_corpus: materialize_retention must be "
            f"'prune' or 'keep', got {materialize_retention!r}"
        )
    if quality_rank_gate is not None:
        gate_keep = dict(quality_rank_gate).get("keep", "ge")
        if gate_keep not in ("ge", "le"):
            raise ValueError(
                "quality_rank_gate: keep must be 'ge' or 'le', "
                f"got {gate_keep!r}"
            )
    if lang_model is not None and not keep_langs:
        raise ValueError(
            "prepare_training_corpus: lang_model requires "
            "keep_langs (the language predictions to keep)"
        )
    if pack_budget is not None and chunk_max_words is None:
        raise ValueError("pack_budget requires chunk_max_words")
    if token_pack is not None:
        if chunk_max_words is not None:
            raise ValueError(
                "token_pack is exclusive with chunk_max_words/"
                "pack_budget — pick word-chunking or token packing"
            )
        if not {"model", "wp_vocab", "ids_expr"} & set(token_pack):
            raise ValueError(
                "token_pack: pass 'model' (UnigramModel), 'wp_vocab' "
                "(a trained WordPiece piece→id dict) or 'ids_expr' "
                "(an id-array Column over the text)"
            )

    base_cols = docs.columns
    fracs = dict(fractions or {"train": 0.98, "val": 0.01, "test": 0.01})
    #: side tables by name — the near-dup component map, shared with
    #: the split and token_pack stages
    side_tables: dict[str, DataFrame] = {}
    mat = (
        _Materializer(
            docs.sparkSession,
            materialize_to,
            # id_col/text_col feed EVERY stage, so they seed the
            # chain alongside the data token — switching either must
            # invalidate all stage tables, not silently resume frames
            # built from the other column
            f"{input_token}|id={id_col}|text={text_col}",
        )
        if materialize_to is not None
        else None
    )

    def save(name: str, df: DataFrame) -> DataFrame:
        return df if mat is None else mat.save(name, df)

    def gates(out: DataFrame) -> DataFrame:
        # per-site frequency cap first: rows a site is over quota for
        # never pay tokenization, hashing, or dedup I/O
        if domain_cap is not None:
            from data_toolz_spark.operators.urls import cap_per_domain

            out = cap_per_domain(
                out, id_col=id_col, **dict(domain_cap)
            ).select(*base_cols)

        # text repair (clean_text: NFC, control/zero-width strip,
        # unicode-space fold, newline canonicalization) BEFORE the
        # quality gate so its signals (alpha ratio, token stats, line
        # dedup keys) see the repaired text.  ``clean=True`` for
        # defaults or a dict of clean_text kwargs; a truthiness test
        # would silently DISABLE the tier for clean={} — the sibling
        # specs' "empty dict = on with defaults" convention
        if clean is not False and clean is not None:
            from data_toolz_spark.operators.text_analysis import clean_text

            kw = dict(clean) if isinstance(clean, Mapping) else {}
            out = out.withColumn(text_col, clean_text(text_col, **kw))

        # per-document quality gate (map-only)
        out = keep_document(out, text_col, thresholds=quality_thresholds)
        out = out.filter(F.col("keep"))
        # data-derived rank-quantile quality cut — per language when
        # lang_col is set; thresholds via the exact integer-rank
        # histogram pass, joined back as a broadcast
        if quality_rank_gate is not None:
            spec = dict(quality_rank_gate)
            gate_col = spec["col"]
            q_num, q_den = spec.get("q", (1, 10))
            from pyspark.sql.functions import broadcast

            from data_toolz_spark.operators.text_analysis import (
                rank_thresholds,
            )

            gcols = [lang_col] if lang_col else []
            thr = rank_thresholds(
                out.select(*gcols, gate_col),
                gate_col,
                [(int(q_num), int(q_den))],
                group_cols=gcols,
            ).select(
                *gcols, F.col("threshold").alias("__qr_thr")
            )
            if gcols:
                # struct equality treats NULL fields as equal — the
                # NULL-language stratum joins its own threshold
                # instead of silently dropping (the X87 device)
                out = out.join(
                    broadcast(
                        thr.withColumn(
                            "__qr_k",
                            F.struct(*[F.col(c) for c in gcols]),
                        ).drop(*gcols)
                    ),
                    F.struct(*[F.col(c) for c in gcols])
                    == F.col("__qr_k"),
                    "left",
                ).drop("__qr_k")
            else:
                out = out.crossJoin(broadcast(thr))  # 1-row scalar
            pred = (
                F.col(gate_col) >= F.col("__qr_thr")
                if spec.get("keep", "ge") == "ge"
                else F.col(gate_col) <= F.col("__qr_thr")
            )
            out = out.filter(pred).drop("__qr_thr")
        out = out.select(*base_cols)

        # TRAINED quality filter: a LogRegModel from
        # operators/classifier.py scores the standard heuristic features
        # (quality_features → web_artifact_features — the columns the
        # bench's x_quality_logreg distillation trains on) as one codegen
        # projection; rows below quality_min_prob drop.  Train once,
        # gate every pipeline run — the GPT-3 curation move.
        if quality_model is not None:
            from data_toolz_spark.operators.classifier import logreg_score
            from data_toolz_spark.operators.text_analysis import (
                quality_features,
                web_artifact_features,
            )

            feat = web_artifact_features(
                quality_features(out, text_col), text_col
            )
            scored = logreg_score(
                feat, quality_model, out_col="__qprob"
            )
            out = scored.filter(
                F.col("__qprob") >= float(quality_min_prob)
            ).select(*base_cols)

        # TRAINED language filter: a MulticlassModel (the
        # fastText-shaped LID classifier) predicts per doc; only
        # ``keep_langs`` predictions survive.  One explode + broadcast
        # weight join + per-doc argmax.
        if lang_model is not None:
            from data_toolz_spark.operators.classifier import (
                multiclass_score,
            )

            out = multiclass_score(
                out, lang_model, text_col=text_col, id_col=id_col,
                out_col="__lang_pred",
            )
            out = out.filter(
                F.col("__lang_pred").isin(*list(keep_langs))
            ).select(*base_cols)
        return out

    def text_dedup(out: DataFrame) -> DataFrame:
        # cross-document boilerplate removal
        if line_dedup_max_doc_freq is not None:
            cleaned = line_dedup(
                out,
                id_col=id_col,
                text_col=text_col,
                max_doc_freq=line_dedup_max_doc_freq,
                sep=line_sep,
            ).select(id_col, F.col("clean_text"))
            out = (
                out.drop(text_col)
                .join(cleaned, on=id_col)
                .withColumnRenamed("clean_text", text_col)
                .select(*base_cols)
            )

        # exact duplicate-span removal: cut repeated passages
        # (ExactSubstr) before near-dup detection so a shared
        # boilerplate block does not glue otherwise-distinct docs into
        # one MinHash cluster
        if span_dedup_n is not None:
            from data_toolz_spark.operators.text_analysis import (
                remove_duplicate_spans,
            )

            out = remove_duplicate_spans(
                out, id_col=id_col, text_col=text_col, n=span_dedup_n
            ).select(*base_cols)
        return out

    def near_dup(out: DataFrame) -> DataFrame:
        # the CC map is computed ONCE and shared with the split (drop
        # list = non-representative members, route key = component
        # min) — the leakage-safety coupling
        from data_toolz_spark.operators.dedup import minhash_components

        # The CC stage materializes at call time (its pair checkpoint
        # is an action), and the FINAL plan reads the cleaned text
        # again — without a persist here, every upstream text stage
        # (quality gate, line dedup, span dedup) executes twice.  At
        # sf0.1 the recompute is seconds and the A/B is within noise;
        # at 100 TB running the text stages twice is the single
        # largest avoidable CPU cost in the pipeline, so the persist
        # (spill, never evict-to-recompute) always runs — tracked for
        # release by the session cache hygiene.
        out = persist(out)

        # the component map is built over the FINGERPRINT graph
        # (minhash_components) — member pairs are never materialized,
        # so a crawl's mega-clusters of identical docs cost O(k), not
        # the k² edges the pair-expansion path would feed the CC loop.
        # It is needed twice (drops here, split routing below) and must
        # survive a crash before the split, hence the side table.
        cc = side_tables["near_dup_cc"] = save(
            "near_dup_cc",
            minhash_components(
                out, id_col, text_col, threshold=near_dup_threshold
            ),
        )
        if near_dup_keep == "longest":
            # quality-aware survivor: the cluster's longest member
            # (ties → min id) — the split routing still keys on the
            # component MIN, so leakage-safety is untouched
            from data_toolz_spark.operators.dedup import (
                component_representatives,
            )

            reps = component_representatives(
                cc,
                out.select(
                    F.col(id_col).alias("id"),
                    F.length(text_col).alias("__s"),
                ),
                score_col="__s",
            )
            drops = reps.filter(
                F.col("id") != F.col("kept_id")
            ).select(F.col("id").alias(id_col))
        else:
            drops = cc.filter(
                F.col("id") != F.col("component")
            ).select(F.col("id").alias(id_col))
        return out.join(drops, on=id_col, how="left_anti")

    def media(out: DataFrame) -> DataFrame:
        # image / audio / video binary columns hash in one Arrow pass
        # each, pairs mine through the generic Hamming banding, and the
        # skew-safe component map drops everything but the min-id
        # representative.  Runs AFTER the text tier (fewer docs to
        # decode — decode is the expensive step).  Like the text tier,
        # each component keeps exactly ONE surviving member, so split
        # leakage-safety holds downstream without coupling these maps
        # into component_split.  Each tier's CC loop materializes at
        # call time, hence the persist (the near-dup stage already
        # persisted when it ran).
        from data_toolz_spark.operators.dedup import (
            fingerprint_components,
        )

        if near_dup_threshold is None:
            out = persist(out)
        for spec in media_dedup:
            fp = _media_fingerprints(out, spec, id_col)
            tau = int(
                spec.get("max_hamming", _MEDIA_TAU[spec["kind"]])
            )
            comp = fingerprint_components(
                fp.filter(F.col("__mfp").isNotNull()),
                id_col,
                "__mfp",
                max_hamming=tau,
            )
            drops = comp.filter(
                F.col("id") != F.col("component")
            ).select(F.col("id").alias(id_col))
            # truncate after each tier: the next tier's fingerprint
            # scan (or the caller's first action) materializes it, and
            # the downstream plan references a flat scan instead of a
            # tree that re-nests every anti-join under the chunk /
            # decontamination self-joins (the analyzer's
            # DeduplicateRelations pass blows up on that shape)
            out = truncate_lineage(
                out.join(drops, on=id_col, how="left_anti")
            )
        return out

    def decontaminate(out: DataFrame) -> DataFrame:
        from data_toolz_spark.operators.decontamination import (
            ngram_decontaminate,
        )

        flagged = ngram_decontaminate(
            out,
            eval_df,
            id_col=id_col,
            text_col=text_col,
            n=decontaminate_n,
        ).select(id_col)
        return out.join(flagged, on=id_col, how="left_anti")

    def strata(out: DataFrame) -> DataFrame:
        # CCNet perplexity strata: bigram LM trained on the surviving
        # corpus, exact rank thresholds, labels joined back by id.
        # After decontamination (train on the cleanest text), before
        # the split (samplers stratify within splits downstream).
        from data_toolz_spark.operators.text_analysis import (
            bigram_logprob,
            bucket_by_thresholds,
            build_bigram_counts,
            build_vocab,
            rank_thresholds,
        )

        # two costs to contain here (measured 108-114 s marginal at
        # sf0.01 before, ~3 s after):
        # 1. the LM reads the surviving corpus five times (vocab,
        #    bigram counts, vocab stats, scoring, thresholds) — the
        #    persist makes the re-reads cache hits;
        # 2. the strata join embeds the corpus subtree in the final
        #    plan several more times, and the ANALYZER re-walks the
        #    full upstream tree per occurrence (persist does not
        #    shrink the logical plan) — the lazy checkpoint truncates
        #    lineage, the same device as the media tiers.
        out = truncate_lineage(persist(out))

        spec = dict(ppl_strata)
        qs = [tuple(q) for q in spec.get("qs", ((1, 3), (2, 3)))]
        labels = tuple(
            spec.get("labels", ("head", "middle", "tail"))
        )
        bucket_col = spec.get("out_col", "ppl_bucket")
        # ``group_col`` (e.g. a language column) cuts the strata PER
        # GROUP — CCNet's per-language percentiles: a language whose
        # LM scores run globally high still splits into its own
        # head/middle/tail instead of landing wholesale in "tail".
        # ``lang_col`` goes further: the LM ITSELF trains per language
        # (grouped vocab + bigram tables, per-group backoff
        # denominators — Wenzek et al. 2020 §4.3's per-language
        # conditioning), and the strata default to the same grouping
        # (spec's explicit group_col still wins).
        group_col = spec.get("group_col", lang_col)
        vocab_tbl = build_vocab(out, text_col, group_col=lang_col)
        bigram_tbl = build_bigram_counts(
            out, text_col, group_col=lang_col
        )
        lm_prune = spec.get("lm_prune")
        if lm_prune is not None:
            from data_toolz_spark.operators.text_analysis import (
                prune_bigram_counts,
            )

            bigram_tbl = prune_bigram_counts(
                bigram_tbl,
                vocab_tbl,
                group_col=lang_col,
                **dict(lm_prune),
            )
        scored = bigram_logprob(
            out,
            bigram_tbl,
            vocab_tbl,
            text_col,
            id_col=id_col,
            group_col=lang_col,
        )
        gcols = []
        if group_col is not None:
            scored = scored.join(
                out.select(id_col, group_col), on=id_col
            )
            gcols = [group_col]
        thr = rank_thresholds(
            scored, "bg_nll", qs, group_cols=gcols
        )
        labeled = bucket_by_thresholds(
            scored,
            "bg_nll",
            thr,
            group_cols=gcols,
            bucket_col=bucket_col,
            labels=labels,
        ).select(id_col, bucket_col)
        return out.join(labeled, on=id_col, how="left")

    def split(out: DataFrame) -> DataFrame:
        # deterministic split — leakage-safe when a component map exists
        from data_toolz_spark.operators.sampling import (
            component_split,
            hash_split,
        )

        cc = side_tables.get("near_dup_cc")
        if cc is None:
            return hash_split(out, [id_col], fracs, seed=seed)
        return component_split(
            out, id_col=id_col, fractions=fracs, seed=seed, components=cc
        )

    def pack(out: DataFrame) -> DataFrame:
        # REAL-token-id sequence packing — the full raw-docs →
        # packed-pretraining-sequences path in one call: encode every
        # surviving doc to token ids (``model`` = a trained
        # UnigramModel, ``wp_vocab`` = a WordPiece vocab, or
        # ``ids_expr`` = any prepared id-array Column over text_col,
        # e.g. bpe_encode_bytes_expr's output), then
        # pack_token_sequences PER SPLIT — sequences concatenate
        # documents, so packing across splits would stitch val tokens
        # into train sequences; the per-split invocations keep every
        # sequence split-pure and the near-dup component routing still
        # applies.  The encode touches EVERY surviving byte — at 100 TB
        # it is the most expensive stage to lose in a crash, so it
        # materializes too (the model fingerprints by its
        # value-carrying repr; an ids_expr Column by its expression
        # string).  Output: (split, shard, seq_index, input_ids).
        from data_toolz_spark.operators.sampling import (
            pack_token_sequences,
        )

        spec = dict(token_pack)
        seq_len = int(spec["seq_len"])
        eos_id = int(spec["eos_id"])
        if "model" in spec:
            from data_toolz_spark.operators.unigram import (
                unigram_encode,
            )

            ids = unigram_encode(
                out,
                spec["model"],
                id_col=id_col,
                text_col=text_col,
                # None → the model's own longest piece (a hardcoded 8
                # diverged from models trained larger)
                max_piece_len=spec.get("max_piece_len"),
            )
        elif "wp_vocab" in spec:
            from data_toolz_spark.operators.wordpiece import (
                wordpiece_encode,
            )

            ids = wordpiece_encode(
                out,
                spec["wp_vocab"],
                id_col=id_col,
                text_col=text_col,
                max_word_len=spec.get("max_word_len"),
            )
        else:
            ids = out.select(
                F.col(id_col), spec["ids_expr"].alias("ids")
            )
        ids = ids.join(out.select(id_col, "split"), on=id_col)
        # the encode plan embeds the full upstream tree and each
        # split's pack re-reads it — same persist + lineage-truncation
        # device as the strata stage
        ids = truncate_lineage(persist(ids))
        with_spans = bool(spec.get("with_spans", False))
        packed = None
        for s in sorted(fracs):
            part = pack_token_sequences(
                ids.filter(F.col("split") == s).select(id_col, "ids"),
                id_col=id_col,
                ids_col="ids",
                seq_len=seq_len,
                eos_id=eos_id,
                n_shards=int(spec.get("n_shards", 256)),
                seed=seed,
                components=side_tables.get("near_dup_cc"),
                portable=bool(spec.get("portable", False)),
                drop_last=bool(spec.get("drop_last", True)),
                with_spans=with_spans,
            ).withColumn("split", F.lit(s))
            packed = part if packed is None else packed.unionByName(part)
        return packed.select(
            "split",
            "shard",
            "seq_index",
            "input_ids",
            *(["doc_spans"] if with_spans else []),
        )

    # (name, fingerprint params, enabled, frame → frame), in order.  The
    # params dicts feed the resume chain: editing one re-keys every
    # materialized warehouse from that stage on.
    stages = [
        (
            "gates",
            {
                "domain_cap": domain_cap,
                "clean": clean,
                "thresholds": quality_thresholds,
                "qrank": quality_rank_gate,
                "qmodel": quality_model,
                "qmin": quality_min_prob,
                "lmodel": lang_model,
                "langs": keep_langs,
            },
            True,
            gates,
        ),
        (
            "text_dedup",
            {
                "line_max": line_dedup_max_doc_freq,
                "line_sep": line_sep,
                "span_n": span_dedup_n,
            },
            line_dedup_max_doc_freq is not None
            or span_dedup_n is not None,
            text_dedup,
        ),
        (
            "near_dup",
            {"threshold": near_dup_threshold, "keep": near_dup_keep},
            near_dup_threshold is not None,
            near_dup,
        ),
        (
            "media_dedup",
            {"specs": list(media_dedup or ())},
            bool(media_dedup),
            media,
        ),
        (
            "decontaminate",
            {"n": decontaminate_n},
            eval_df is not None,
            decontaminate,
        ),
        (
            "strata",
            {"spec": dict(ppl_strata or {}), "lang": lang_col},
            ppl_strata is not None,
            strata,
        ),
        ("split", {"fracs": fracs, "seed": seed}, True, split),
        (
            "token_pack",
            {"spec": dict(token_pack or {})},
            token_pack is not None,
            pack,
        ),
    ]
    out = docs
    for name, params, enabled, run in stages:
        if not enabled:
            continue
        sides = _SIDE_TABLES.get(name, ())
        if mat is not None and mat.hit(name, params, side=sides):
            loaded = {n: mat.load(n) for n in (name, *sides)}
            out = loaded.pop(name)
            side_tables.update(loaded)
        else:
            out = save(name, run(out))
    if mat is not None:
        mat.finalize(prune=materialize_retention == "prune")

    # context-window chunking (optional), then token-budget packing
    # for shard assembly (optional)
    if chunk_max_words is not None:
        from data_toolz_spark.operators.text_analysis import chunk_documents

        splits = out.select(id_col, "split")
        chunks = chunk_documents(
            out,
            id_col=id_col,
            text_col=text_col,
            max_words=chunk_max_words,
            overlap=chunk_overlap,
        )
        out = chunks.join(splits, on=id_col)
        if pack_budget is not None:
            from data_toolz_spark.operators.sampling import pack_greedy

            out = out.withColumn(
                "__chunk_key",
                F.concat_ws("#", F.col(id_col), F.col("chunk_index")),
            )
            out = pack_greedy(
                out,
                id_col="__chunk_key",
                token_col="n_words",
                budget=pack_budget,
                seed=seed,
            ).drop("__chunk_key")
    return out


def stage_counts(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    **kwargs,
) -> dict[str, int]:
    """Audit helper: row count surviving each pipeline stage.

    Runs the pipeline several times with later stages disabled — one
    action per stage, for sign-off reports at modest scale (use the
    single-plan :func:`prepare_training_corpus` for production runs).
    Every sub-run except ``final`` also drops chunking, ``token_pack``
    and ``ppl_strata``, so it counts documents (strata only adds a
    column).

    Materialization kwargs are STRIPPED: each truncated sub-run here
    is a different stage chain, so passing ``materialize_to`` through
    would make every sub-run's finalize prune the others' (and the
    real run's) stage tables.
    """
    base = dict(kwargs)
    base.pop("materialize_to", None)
    base.pop("input_token", None)
    base.pop("materialize_retention", None)
    docs_only = dict(
        base,
        chunk_max_words=None,
        pack_budget=None,
        token_pack=None,
        ppl_strata=None,
    )
    counts: dict[str, int] = {"raw": docs.count()}

    def count(key: str, ev: DataFrame | None, **off) -> None:
        counts[key] = prepare_training_corpus(
            docs, ev, **{**docs_only, **off}
        ).count()

    count(
        "quality",
        None,
        near_dup_threshold=None,
        media_dedup=None,
        line_dedup_max_doc_freq=None,
        span_dedup_n=None,
    )
    if base.get("line_dedup_max_doc_freq") is not None:
        count(
            "line_dedup",
            None,
            near_dup_threshold=None,
            media_dedup=None,
            span_dedup_n=None,
        )
    if base.get("near_dup_threshold", 0.8) is not None:
        count("near_dup", None, media_dedup=None)
    if base.get("media_dedup"):
        count("media_dedup", None)
    if eval_df is not None:
        count("decontaminated", eval_df)
    counts["final"] = prepare_training_corpus(docs, eval_df, **base).count()
    return counts


__all__ = ["prepare_training_corpus", "stage_counts"]

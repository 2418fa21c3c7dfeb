"""Distributed BPE-merge training (Sennrich et al. 2016).

The one tokenizer-side operator a training-data pipeline needs that
token COUNTING (``functions/text.py``) doesn't give: LEARN a merge
vocabulary from the corpus.  The classic algorithm is inherently
sequential in the merge rank, so the distributed shape is:

* state = the DISTINCT-WORD frequency table (vocab-sized, not
  corpus-sized — the only thing that ever shuffles), each word
  encoded as a separator-wrapped symbol string
  (``⟦h⟧⟦e⟧⟦l⟧⟦l⟧⟦o⟧`` with ``⟦⟧`` = ``chr(31)``);
* per merge: ONE hash aggregate over exploded adjacent symbol pairs
  (weighted by word frequency) → the argmax row (count DESC, left
  ASC, right ASC — deterministic ties) is the ONLY thing that
  crosses to the driver;
* the merge applies as a LITERAL string replace of
  ``⟦l⟧⟦r⟧ → ⟦lr⟧`` — non-overlapping left-to-right, which IS the
  BPE greedy-scan semantics (``aaa`` + merge (a,a) → ``aa a``), and
  the double-separator wrapping means adjacent occurrences share no
  boundary characters, so plain ``replace`` finds them all;
* ``localCheckpoint`` after every merge keeps the plan flat (33
  nested replaces otherwise accumulate in the lineage) — the
  materialized state is vocab-sized by construction.

Everything is deterministic relational string arithmetic: an ANSI-SQL
engine replays the whole training loop (pair counts, argmax, replace
chain) bit for bit — the driver qid's oracle does exactly that with
one CTE pair per merge rank.

Scale: at 100 TB the word table is the aggregated vocabulary (built
once with one corpus-wide shuffle); each of the K merges is a
vocab-sized aggregate with one driver row — K × O(|vocab|) total,
never K × O(corpus).  Two r11/r12 refinements take K itself to real
vocab scale: batched acceptance (``batch_size`` — up to B provably
sequential-equal merges per aggregation round) and a delta-maintained
pair-count table (per round, candidates come from the (l, r, cnt)
table and only the words AFFECTED by the round's merges are
recounted, so rounds in the Zipf tail touch a shrinking slice instead
of re-exploding the whole vocabulary).
"""

from __future__ import annotations

import time
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: symbol separator (unit separator — absent from natural text; words
#: containing it are dropped by bpe_word_table to keep the encoding
#: unambiguous)
BPE_SEP = "\x1f"


def bpe_word_table(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` distinct-word frequency table — the bounded
    state BPE training iterates on.  One explode + one hash aggregate;
    words containing the separator byte are dropped (they would make
    the symbol encoding ambiguous)."""
    return (
        df.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        )
        .filter((F.col("word") != "") & ~F.col("word").contains(BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_ngram_unit_table(
    df: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` over WORD-n-GRAM units (``n`` adjacent words
    joined by ``_``) — a richer training-unit table than single words
    for corpora with small vocabularies (the sf0.1 documents table has
    31 distinct words and exhausts BPE at 89 merges; its 931 bigram
    units carry a 256-merge vocab, its ~10k trigram units a 2k+ one).
    Same separator-safety contract as :func:`bpe_word_table`: units
    containing the separator byte are dropped (they would make the
    symbol encoding ambiguous)."""
    if n < 2:
        raise ValueError("bpe_ngram_unit_table: n must be >= 2")
    toks = df.select(
        F.filter(
            F.split(F.col(text_col), r"\s+"),
            lambda t: (t != "") & ~t.contains(BPE_SEP),
        ).alias("__w")
    )
    join_expr = ", '_', ".join(f"__w[i+{j}]" for j in range(n))
    return (
        # the < n-token guard matters: sequence(0, size-n) on a short
        # doc would DESCEND ([0,-1]…) and index out of bounds — null
        # units non-ANSI, a mid-job error under ANSI
        toks.filter(F.size("__w") >= n)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(__w)-{n}), "
                    f"i -> concat({join_expr}))"
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_bigram_unit_table(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(word, freq)`` over WORD-BIGRAM units — the ``n=2`` case of
    :func:`bpe_ngram_unit_table` (kept as the r11-established name)."""
    return bpe_ngram_unit_table(df, 2, text_col)


def _encode_word(col: Column, sep: str) -> Column:
    """Word → separator-wrapped symbol string: each initial symbol is
    one character, rendered ``sep + ch + sep``."""
    return F.regexp_replace(col, "(.)", sep + "$1" + sep)


def _symbols(state_col: Column, sep: str) -> Column:
    """Symbol array from an encoded state string: strip the outer
    separators, split on the doubled separator."""
    inner = F.substring(state_col, 2, F.length(state_col) - 2)
    return F.split(inner, sep + sep)


#: max literal-replace expressions NESTED into one column before the
#: chain switches to the constant-depth fold — deeper trees overflow
#: the JVM stack during analysis/codegen (measured cliff ≈ 384)
_REPLACE_NEST_CAP = 64


def _fold_replaces(
    col: Column, pairs: list[tuple[str, str]]
) -> Column:
    """Apply ``pairs`` of literal (pattern → replacement) string
    replaces to ``col`` IN ORDER.  Short chains nest ``F.replace``
    (whole-stage-codegen'd); long chains fold one replace over a
    LITERAL array of the pairs via ``F.aggregate`` — constant
    expression depth, so a 32k-merge chain is plan DATA instead of a
    32k-deep tree (nested trees StackOverflow the JVM near depth
    ~384)."""
    if len(pairs) <= _REPLACE_NEST_CAP:
        e = col
        for pat, rep in pairs:
            e = F.replace(e, F.lit(pat), F.lit(rep))
        return e
    # two ArrayType literals (ONE Literal node each, not 2·K child
    # expressions) keep the tree CONSTANT-sized — per-round Catalyst
    # analysis was 70% of vocab-scale training wall before this (r12)
    pat_lit = F.lit([p for p, _ in pairs])
    rep_lit = F.lit([r for _, r in pairs])
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(len(pairs))),
        col,
        lambda acc, i: F.replace(
            acc, F.element_at(pat_lit, i), F.element_at(rep_lit, i)
        ),
    )


def _sym_best_index(cands: list) -> dict:
    """Per-symbol top-2 pair counts over a candidate list:
    ``{symbol: (best_cnt, best_pair, second_cnt)}``.  One O(n) pass;
    gives :func:`_accept_batch` its rule-3 bound ("best old pair ≠ p
    touching l or r") without an O(n²) scan."""
    sym_best: dict = {}
    for l, r, c in cands:
        key = (l, r)
        for s in ((l,) if l == r else (l, r)):
            e = sym_best.get(s)
            if e is None:
                sym_best[s] = (c, key, -1)
            elif c > e[0]:
                sym_best[s] = (c, key, e[0])
            elif c > e[2]:
                sym_best[s] = (e[0], e[1], c)
    return sym_best


def _accept_batch(
    cands: list,
    trunc: int,
    prior_merged: set,
    limit: int,
) -> list[tuple[str, str, int]]:
    """The longest PREFIX of the sorted candidate list that is provably
    the same sequence sequential BPE would pick (r11, VERDICT task 1)
    — computed from the candidate list alone, so a batched round costs
    no Spark work beyond producing the list.

    ``cands`` is a prefix of the OLD pair counts ``(l, r, cnt)`` in
    argmax order (cnt DESC, l ASC, r ASC) — the whole live table when
    it is held on the driver, the collected top-C otherwise; ``trunc``
    bounds every pair NOT in the list (the C-th count when the collect
    truncated, else ``min_count − 1``); ``prior_merged`` is every
    merged symbol produced so far (a superset of the multi-character
    symbols that can exist — initial symbols are single characters).
    Plain conflict-freeness is NOT enough for equality — merging the
    top pair changes the count landscape for everything touching its
    symbols (e.g. words "ab"×170, "xa"×70, "cd"×60: sequential's 2nd
    merge is the surviving (x,a), while a conflict-skipping batch
    would take (c,d); pinned in tests).  The sound rule, by induction
    over the prefix:

    * the first candidate is the true argmax by definition;
    * a later candidate ``p`` is accepted only while
      1. **prefix**: nothing before it was rejected (a rejected
         earlier candidate may still be sequential's next pick);
      2. **no interference**: {l, r, l+r} is disjoint from every
         accepted pick's {l, r, merged} — so p's own count and
         identity are untouched by the earlier replaces (replace is
         token-local: fusing ⟦l_j⟧⟦r_j⟧ cannot create or destroy a
         ⟦l⟧⟦r⟧ adjacency over different tokens);
      3. **new pairs stay below**: every pair a replace of pick j
         creates involves the new symbol M_j, and each of its
         occurrences comes from an old adjacency touching l_j or r_j
         — so its count is ≤ the best OLD pair ≠ p_j touching l_j or
         r_j.  That max is over-approximated by ``bound`` = the best
         listed pair touching an accepted symbol
         (:func:`_sym_best_index`), floored at ``trunc`` for anything
         unlisted (over-approximation only shrinks the batch, never
         breaks equality).  Accept only while cnt(p) > bound, strictly
         (a tie's lexicographic winner is unknowable driver-side);
      4. **no boosts**: if an accepted pick's merged symbol may
         already exist (M_j ∈ prior_merged ∪ this batch — length ≥ 2
         rules out alphabet symbols), existing pairs (x, M_j) gain
         the new occurrences ON TOP of their old count — the sum is
         not bounded by (3), so the batch hard-stops after that
         pick.

    Old pairs ranked after the accepted prefix cannot overtake: they
    are unaffected (disjoint) and keep their order, or touch an
    accepted symbol and only lose occurrences, and an accepted pick's
    own residual count is 0 (greedy left-to-right replace leaves no
    ⟦l⟧⟦r⟧ adjacency).  Unlisted pairs sort after every listed
    candidate in the same total order, and sub-``min_count`` pairs
    can spawn only sub-``min_count`` new pairs, which sequential
    never picks — so a list holding only the live (≥ ``min_count``)
    pairs is exact with ``trunc = min_count − 1``.  Hence the
    accepted prefix == the next ``len(batch)`` sequential merges
    exactly.
    """
    sym_best = _sym_best_index(cands)
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    bound = trunc
    for l, r, cnt in cands:
        if len(batch) >= limit:
            break
        merged = l + r
        if batch:
            if l in used or r in used or merged in used:
                break
            if cnt <= bound:
                break
        batch.append((l, r, cnt))
        if merged in prior_merged:
            break  # rule 4: boosts around M_j are unbounded here
        used.update((l, r, merged))
        # rule 3 bound: the best listed pair ≠ p touching l or r
        for s in (l, r):
            best_cnt, best_pair, second_cnt = sym_best[s]
            bound = max(
                bound, second_cnt if best_pair == (l, r) else best_cnt
            )
    return batch


#: driver-held pair-table cap (rows).  The (l, r, cnt) table is
#: vocab-ADJACENCY-sized — distinct adjacent symbol pairs, not
#: corpus-sized — so up to this many rows it lives on the driver like
#: every other bounded model (k·dim codebooks, count sketches):
#: candidates then cost ZERO Spark work per round and the rule-3
#: acceptance bound is exact instead of truncation-padded.  Above the
#: cap the table is a persisted DataFrame.
_DRIVER_PAIR_CAP = 1_048_576

#: driver-LOCAL gate for the trainers (unit-table rows).  Below this,
#: :func:`bpe_train` and :func:`wordpiece_train` delegate the whole
#: merge loop to the exact driver-side trainers
#: (:func:`bpe_train_local` / ``wordpiece_train_local``): the unit
#: table is the bounded model state of subword training, and the
#: collected loop costs zero Spark jobs per merge — the r12-measured
#: gap is minutes-vs-seconds (a 210k-unit 32k-merge run is ~62 s
#: local vs ~601 s distributed, SCALE_PROBE r12-bpe).  Above the cap
#: the distributed loops run; tests and probes set it to 0 to force
#: them.
_LOCAL_UNIT_CAP = 1_048_576


def _pairs_arr(state_col: Column, sep: str, weight: Column) -> Column:
    """Adjacent-symbol pair array of an encoded state string, each pair
    tagged with ``weight`` — ``array<struct<l, r, w>>``.  The < 2-symbol
    guard keeps ``sequence`` ascending (a descending sequence indexes
    out of bounds: null rows non-ANSI, a mid-job error under ANSI)."""
    syms = _symbols(state_col, sep)
    idx = F.when(
        F.size(syms) >= 2, F.sequence(F.lit(0), F.size(syms) - 2)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(syms, i + 1).alias("l"),
            F.element_at(syms, i + 2).alias("r"),
            weight.alias("w"),
        ),
    )


def _sym_rows(state_col: Column, sep: str, weight: Column) -> Column:
    """Symbol-occurrence rows of an encoded state, shaped as the SAME
    struct as :func:`_pairs_arr` rows with ``r = NULL`` — so pair and
    symbol deltas ride one exploded array (WordPiece's symbol table)."""
    return F.transform(
        _symbols(state_col, sep),
        lambda s: F.struct(
            s.alias("l"),
            F.lit(None).cast("string").alias("r"),
            weight.alias("w"),
        ),
    )


#: minimum average ENCODED unit length (chars of the sep-wrapped state
#: string) for the merge-adjacent WINDOW recount
#: (:func:`_window_delta_rows`) to replace the full signed re-explode
#: of affected words.  Measured crossover (interleaved A/B, sf0.1,
#: tools/r13_wdelta_ab.py): word table (~25 wrapped chars) full
#: recount wins 2.60 vs 3.33 s — the two regex scans cost more than
#: the short explode they replace; trigram units (~60 chars) flat
#: 24.2 vs 23.8 s; 8-gram units (~129 chars, 224k rows) window wins
#: 27.1 vs 139.6 s (5.2×) — the long-unit regime a real subword
#: corpus (and the 100 TB above-local-cap word vocab with long
#: compounds/URLs) actually runs.  96 sits in the flat zone between
#: the measured arms.  Both trainers price the gate ONCE, on the
#: initial state's average length (the same job that counts the
#: rows), and hold the arm for the whole run — the wrapped length only
#: shrinks as merges land, so a table that starts just above 96 may
#: spend its late rounds where the full recount was measured faster,
#: and one just below never switches to the window.  Both arms
#: aggregate to the identical delta; tests and probes force one with
#: 0.0 / ``math.inf``.
_WINDOW_MIN_AVG_LEN = 96.0


def _rx_quote(s: str) -> str:
    """Java-regex literal quoting (``Pattern.quote`` semantics): wrap
    in ``\\Q…\\E``, splitting around any embedded ``\\E``."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _window_alt_pattern(sep: str, batch: Sequence[tuple]) -> str:
    """Regex alternation matching exactly the batch's merge patterns
    (each quoted literally).  Scanning semantics match the sequential
    ``F.replace`` chain: Java regex finds leftmost non-overlapping
    matches; occurrences of DIFFERENT accepted patterns can never
    overlap or start at the same position (the acceptance rules make
    every pick's {l, r, merged} symbol set disjoint from every other
    pick's, and matches are separator-aligned), and same-pattern
    self-overlap resolves greedily left-to-right exactly like
    ``replace``."""
    return "|".join(
        _rx_quote(sep + b[0] + sep + sep + b[1] + sep) for b in batch
    )


def _window_delta_rows(
    matches_col: Column,
    parts_col: Column,
    sep: str,
    batch: Sequence[tuple[str, str, str]],
    weight: Column,
    *,
    sym_rows: bool = False,
) -> Column:
    """Signed pair-count delta of applying a batch of merges, emitted
    from the merge-adjacent WINDOWS only — ``array<struct<l, r, w>>``
    summing (per word) to exactly ``pairs(new) − pairs(old)``.

    r13 (VERDICT r12 task 4, guide §2.3 — shuffle/aggregate fewer
    rows): the r12 recount exploded EVERY pair of every affected word
    twice (old at −f, new at +f), letting the untouched middle cancel
    inside the aggregate; this emits only the pairs a merge actually
    touches (≤ 5 per occurrence instead of ~2·symbols per word).

    ``matches_col``/``parts_col`` are ``regexp_extract_all(s, alt, 0)``
    and ``split(s, alt, -1)`` over :func:`_window_alt_pattern` — bound
    as REAL projected columns by the caller (lambda bodies are
    interpreted per element and re-evaluate embedded subtrees, so the
    regex scans must happen once per row, not once per occurrence).
    For occurrence i (1-based; gap i−1 before it, gap i after it):

    * the merged pair itself: ``(l_i, r_i, −w)``;
    * left boundary — gap nonempty: its last symbol loses ``l_i`` and
      gains ``m_i``; gap empty with i>1 (adjacent occurrences): the
      old ``(r_{i−1}, l_i)`` pair dies and ``(m_{i−1}, m_i)`` is born
      (attributed to the RIGHT occurrence so adjacent occurrences
      count the shared boundary once); gap empty at i=1: word start,
      nothing;
    * right boundary — only when gap i is nonempty: its first symbol
      detaches from ``r_i`` and attaches to ``m_i``.

    Exactness does NOT need sequential per-pattern states: the delta
    is ``pairs(final) − pairs(initial)`` directly, and every pair in
    the untouched gaps appears identically on both sides.  The batch's
    pairwise symbol-disjointness (acceptance rule 2) guarantees the
    occurrence set on the INITIAL state equals the union the
    sequential replaces consume.  ``batch`` entries are ``(l, r,
    merged_symbol)`` — WordPiece's merged symbol strips the ``##``
    marker, so it is caller-supplied rather than derived.  With
    ``sym_rows`` each occurrence also emits the symbol-count delta
    rows ``(l, NULL, −w), (r, NULL, −w), (m, NULL, +w)`` (the
    WordPiece tables' ``r IS NULL`` convention).
    """
    entries: list[Column] = []
    for l, r, m in batch:
        entries.append(F.lit(sep + l + sep + sep + r + sep))
        entries.append(
            F.struct(
                F.lit(l).alias("l"),
                F.lit(r).alias("r"),
                F.lit(m).alias("m"),
            )
        )
    info_map = F.create_map(*entries)
    slen = len(sep)
    null_s = F.lit(None).cast("string")
    w_pos = weight.cast("long")
    w_neg = (-weight).cast("long")
    empty = F.array().cast("array<struct<l:string,r:string,w:bigint>>")

    def srow(lc: Column, rc: Column, wc: Column) -> Column:
        return F.struct(lc.alias("l"), rc.alias("r"), wc.alias("w"))

    def first_sym(g: Column) -> Column:
        # gap strings are concatenations of sep-wrapped symbols; the
        # first symbol sits between the leading sep and the next one
        return F.substring(
            F.substring_index(g, sep, 2), slen + 1, (1 << 30)
        )

    def last_sym(g: Column) -> Column:
        t = F.substring_index(g, sep, -2)
        return F.substring(t, F.lit(1), F.length(t) - slen)

    def occ(i: Column) -> Column:
        info = F.element_at(info_map, F.element_at(matches_col, i))
        l, r, m = info["l"], info["r"], info["m"]
        lg = F.element_at(parts_col, i)
        rg = F.element_at(parts_col, i + 1)
        segs = [F.array(srow(l, r, w_neg))]
        prev = F.element_at(info_map, F.element_at(matches_col, i - 1))
        segs.append(
            F.when(
                lg != "",
                F.array(
                    srow(last_sym(lg), l, w_neg),
                    srow(last_sym(lg), m, w_pos),
                ),
            )
            .when(
                i > 1,
                F.array(
                    srow(prev["r"], l, w_neg),
                    srow(prev["m"], m, w_pos),
                ),
            )
            .otherwise(empty)
        )
        segs.append(
            F.when(
                rg != "",
                F.array(
                    srow(r, first_sym(rg), w_neg),
                    srow(m, first_sym(rg), w_pos),
                ),
            ).otherwise(empty)
        )
        if sym_rows:
            segs.append(
                F.array(
                    srow(l, null_s, w_neg),
                    srow(r, null_s, w_neg),
                    srow(m, null_s, w_pos),
                )
            )
        return F.concat(*segs)

    n = F.size(matches_col)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.flatten(F.transform(idx, occ))


def _delta_recount_src(
    affected: DataFrame,
    sep: str,
    batch: Sequence[tuple[str, str, str]],
    *,
    use_window: bool,
    sym_rows: bool = False,
) -> DataFrame:
    """The per-round signed recount over the AFFECTED words — one
    column ``p = struct<l, r, w>`` whose groupBy-sum is the exact
    pair-count delta of applying ``batch`` (``(l, r, merged)``
    triples).  With ``use_window`` (callers gate it on the measured
    :data:`_WINDOW_MIN_AVG_LEN` length crossover) only the
    merge-adjacent windows are emitted; otherwise every affected
    word's pairs re-explode twice (old at −f, new at +f) — both
    aggregate identically (differential-pinned).  ``sym_rows`` adds
    the symbol-count delta as ``r = NULL`` rows (:func:`_sym_rows`)."""
    if use_window:
        alt = _window_alt_pattern(sep, batch)
        return affected.select(
            "f",
            F.regexp_extract_all(
                F.col("s"), F.lit(alt), F.lit(0)
            ).alias("__m"),
            F.split(F.col("s"), alt, -1).alias("__p"),
        ).select(
            F.explode(
                _window_delta_rows(
                    F.col("__m"),
                    F.col("__p"),
                    sep,
                    list(batch),
                    F.col("f"),
                    sym_rows=sym_rows,
                )
            ).alias("p")
        )
    pats = [sep + l + sep + sep + r + sep for l, r, _ in batch]
    reps = [sep + m + sep for _, _, m in batch]
    expr = _fold_replaces(F.col("s"), list(zip(pats, reps)))
    rows = [
        _pairs_arr(F.col("s"), sep, -F.col("f")),
        _pairs_arr(expr, sep, F.col("f")),
    ]
    if sym_rows:
        rows += [
            _sym_rows(F.col("s"), sep, -F.col("f")),
            _sym_rows(expr, sep, F.col("f")),
        ]
    return affected.select(F.explode(F.concat(*rows)).alias("p"))


def bpe_train(
    words: DataFrame,
    *,
    n_merges: int,
    min_count: int = 2,
    word_col: str = "word",
    freq_col: str = "freq",
    sep: str = BPE_SEP,
    batch_size: int = 1,
    stats: dict | None = None,
) -> list[dict]:
    """Learn up to ``n_merges`` BPE merges from a word-frequency table.

    Returns ``[{"rank", "left", "right", "merged", "pair_count"}, …]``
    in merge order; stops early when no adjacent pair reaches
    ``min_count`` (the state is then a fixed point — retrying cannot
    change it, which is what lets a SQL replay keep iterating with
    empty-selection guards and stay equivalent).  Pair counting
    follows Sennrich: every adjacent occurrence counts, weighted by
    word frequency, overlaps included (``aaa`` contributes (a,a)
    twice).  ``n_merges <= 0`` returns ``[]`` without a Spark job.

    Up to ``_LOCAL_UNIT_CAP`` unit rows (default separator only — the
    local trainer never encodes) the merge loop runs driver-side in
    :func:`bpe_train_local`, bit-identical and zero Spark jobs per
    merge.  Above it, one distributed loop maintains a pair-count
    table and applies per-round DELTAS.  A replace is token-local (the
    same fact the acceptance proof uses), so only words whose state
    CONTAINS an accepted pattern change any pair count; the round
    recounts exactly those words (:func:`_delta_recount_src`) and folds
    the signed sum into the table.  Candidates come from the TABLE —
    vocab-adjacency-sized — never a full re-explode of the unit table.
    Up to ``_DRIVER_PAIR_CAP`` distinct pairs the table is held on the
    DRIVER: candidate selection is a Python sort costing zero Spark
    work, the per-round job is the affected-words recount alone, and
    the rule-3 acceptance bound is exact.  Above the cap the table is
    a persisted DataFrame whose top-C candidates are collected each
    round, with the truncation count as the bound for the rest.

    ``batch_size`` (r11): accept up to B merges per aggregation round
    — the vocab-scale wall-clock fix (a 32k-merge production vocab is
    otherwise 32k sequential Spark jobs of pure launch overhead).  The
    result is BIT-IDENTICAL to ``batch_size=1`` for every corpus and
    every B: each round accepts only the candidate prefix that
    provably matches the sequential argmax sequence (see
    :func:`_accept_batch`; pinned by randomized differential tests).
    Whatever the data allows per round is pure job-count savings;
    tie-dense corpora degrade gracefully to ≈1 merge/round at no
    extra cost.

    ``stats``, if given a dict, is filled with ``pair_table``
    (``"local"``, ``"driver"`` or ``"distributed"``) plus, on the
    distributed loop, ``rounds`` (aggregation rounds run),
    ``batch_sizes`` (accepted merges per round) and ``round_secs``
    (wall per round, driver-side) — probe/observability surface, zero
    extra Spark jobs.  The local arm reports the driver trainer's
    shape instead (``merges``, ``train_secs`` — there are no
    per-round Spark jobs to time).
    """
    if batch_size < 1:
        raise ValueError("bpe_train: batch_size must be >= 1")
    if min_count < 1:
        raise ValueError("bpe_train: min_count must be >= 1")
    if n_merges <= 0:
        return []
    state = words.select(
        _encode_word(F.col(word_col), sep).alias("s"),
        F.col(freq_col).alias("f"),
    )
    # right-size the iteration state (one count() prices it): ~256k
    # words/partition at cluster scale, ONE task for a demo vocab, and
    # — r12 optimization round — never fewer partitions than
    # min(defaultParallelism, rows/4k) in between: the r11 formula
    # collapsed the 27k-unit trigram table to ONE partition, so every
    # round's explode/replace ran on one core with 31 idle (guide
    # §2.6 idle capacity; measured 2.9× on the delta loop — 24 rounds
    # 48 s → 16 s at 7 partitions, merge list bit-identical).
    from data_toolz_spark.operators._util import (
        right_size_iterated_state,
    )

    # one pricing job yields BOTH the row count (arm gates / state
    # right-sizing) and the average encoded-unit length (the r13
    # window-recount crossover gate) — same single aggregate as the
    # old count()
    _pr = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("s")).alias("alen"),
    ).collect()[0]
    n_rows = int(_pr["n"])
    use_window = float(_pr["alen"] or 0.0) >= _WINDOW_MIN_AVG_LEN
    if sep == BPE_SEP and n_rows <= _LOCAL_UNIT_CAP:
        # r12 optimization round (guide §5.4 bounded driver work, the
        # same gate shape as the CC union-find fast path): below the
        # cap the unit table is bounded model state, and the merge
        # loop never needed the cluster — delegate to the driver-side
        # exact trainer (bit-parity pinned by the local differentials
        # + the auto-arm parity tests), zero Spark jobs per merge.  A
        # custom sep stays distributed (the local trainer never
        # encodes, so sep-dependent callers keep the machinery they
        # asked for).
        merges = bpe_train_local(
            words,
            n_merges=n_merges,
            min_count=min_count,
            word_col=word_col,
            freq_col=freq_col,
            stats=stats,
        )
        if stats is not None:
            stats["pair_table"] = "local"
        return merges
    state, nparts = right_size_iterated_state(state, n_rows)
    state = state.localCheckpoint(eager=True)
    # the ONE full explode+aggregate the loop ever runs — every later
    # round folds signed corrections into this table.  Within
    # _DRIVER_PAIR_CAP rows the table lives on the DRIVER (r12
    # optimization round, guide §5.4 bounded driver state): per-round
    # candidates are then a Python sort — zero Spark work — and the
    # acceptance bound is exact (bigger batches); the per-round Spark
    # job shrinks to the affected-words signed recount alone.
    agg = (
        state.select(
            F.explode(_pairs_arr(F.col("s"), sep, F.col("f"))).alias("p")
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("p.w").alias("cnt"))
    )
    pairs: DataFrame | None = None
    pair_cnt: dict | None = None
    head = agg.limit(_DRIVER_PAIR_CAP + 1).collect()
    if len(head) <= _DRIVER_PAIR_CAP:
        pair_cnt = {(rw["l"], rw["r"]): int(rw["cnt"]) for rw in head}
    else:
        pairs = agg.coalesce(nparts).localCheckpoint(eager=False)
    merges: list[dict] = []
    if stats is not None:
        stats.update(
            {"rounds": 0, "batch_sizes": [], "round_secs": [],
             "pair_table": (
                 "driver" if pair_cnt is not None else "distributed"
             )}
        )
    rounds_since_trunc = 0
    # every merged symbol produced so far — the rule-4 existence
    # superset (initial symbols are single characters, so any
    # multi-character symbol must have come from a merge)
    prior_merged: set[str] = set()
    while len(merges) < n_merges:
        t_round = time.monotonic() if stats is not None else 0.0
        if pair_cnt is not None:
            # driver-held table: full live list in argmax order, no
            # collect truncation — acceptance bound is exact
            cands = sorted(
                (
                    (l, r, c)
                    for (l, r), c in pair_cnt.items()
                    if c >= min_count
                ),
                key=lambda t: (-t[2], t[0], t[1]),
            )
            trunc = min_count - 1
        else:
            # collect generously: a deeper top-C only lowers the
            # truncation bound (more accepted picks per round) and a
            # few thousand tiny rows per round is negligible driver
            # traffic
            n_cand = 1 if batch_size == 1 else max(8 * batch_size, 2048)
            cands = [
                (rw["l"], rw["r"], int(rw["cnt"]))
                for rw in pairs.filter(F.col("cnt") >= min_count)
                .orderBy(F.col("cnt").desc(), F.col("l"), F.col("r"))
                .limit(n_cand)
                .collect()
            ]
            trunc = (
                cands[-1][2] if len(cands) == n_cand else min_count - 1
            )
        if not cands:
            break
        batch = _accept_batch(
            cands,
            trunc,
            prior_merged,
            min(batch_size, n_merges - len(merges)),
        )
        pats = []
        reps = []
        for l, r, cnt in batch:
            merges.append(
                {
                    "rank": len(merges),
                    "left": l,
                    "right": r,
                    "merged": l + r,
                    "pair_count": cnt,
                }
            )
            prior_merged.add(l + r)
            pats.append(sep + l + sep + sep + r + sep)
            reps.append(sep + l + r + sep)
        expr = _fold_replaces(F.col("s"), list(zip(pats, reps)))
        if pair_cnt is not None and len(merges) >= n_merges:
            # driver-table final round: nothing reads the folded table
            # or the rewritten state — skip both (one Spark job saved)
            if stats is not None:
                stats["rounds"] += 1
                stats["batch_sizes"].append(len(batch))
                stats["round_secs"].append(
                    round(time.monotonic() - t_round, 4)
                )
            break
        # a batch replace only rewrites words containing one of the
        # accepted patterns ON the pre-batch state (an accepted pick
        # can neither create nor destroy another accepted pick's
        # pattern: new adjacencies always involve its merged symbol,
        # and the batch's {l, r, merged} sets are disjoint by rule 2)
        # — so the signed recount of exactly those words is the EXACT
        # pair-count delta of the round.  The pattern list rides as
        # ONE array literal (an OR-chain of B contains re-paid its
        # analysis cost every round).
        aff_pred = F.exists(F.lit(pats), lambda p: F.col("s").contains(p))
        delta = _delta_recount_src(
            state.filter(aff_pred),
            sep,
            [(l, r, l + r) for l, r, _ in batch],
            use_window=use_window,
        ).select(
            F.col("p.l").alias("l"),
            F.col("p.r").alias("r"),
            F.col("p.w").alias("cnt"),
        )
        if pair_cnt is not None:
            # driver table: ONE job — aggregate the recount and fold
            # it into the dict
            for rw in (
                delta.groupBy("l", "r").agg(F.sum("cnt").alias("cnt"))
                .collect()
            ):
                k2 = (rw["l"], rw["r"])
                c2 = pair_cnt.get(k2, 0) + int(rw["cnt"])
                if c2 > 0:
                    pair_cnt[k2] = c2
                elif k2 in pair_cnt:
                    del pair_cnt[k2]
        else:
            prev_pairs = pairs
            pairs = (
                pairs.unionByName(delta)
                .groupBy("l", "r")
                .agg(F.sum("cnt").alias("cnt"))
                .filter(F.col("cnt") > 0)
                .coalesce(nparts)
                .localCheckpoint(eager=False)
            )
            prev_pairs.unpersist()
        prev = state
        # lazy checkpoint: materializes inside the NEXT round's job
        # instead of paying its own.  With the driver table the
        # round's collect runs directly over the state subtree, so the
        # post-job doCheckpoint truncates its lineage every round.
        # With the DataFrame table the collect's first marked ancestor
        # is the PAIRS checkpoint and doCheckpoint recursion stops
        # there — the state chain accumulates one
        # marked-but-untruncated layer per round (persisted blocks,
        # growing serialized lineage: task DEserialization
        # StackOverflowed at ~400 rounds in r12), so every 16 rounds
        # one vocab-sized count() runs directly over the state to
        # truncate the chain.
        state = state.withColumn("s", expr).localCheckpoint(eager=False)
        prev.unpersist()
        if pairs is not None:
            rounds_since_trunc += 1
            if rounds_since_trunc >= 16:
                state.count()
                rounds_since_trunc = 0
        if stats is not None:
            stats["rounds"] += 1
            stats["batch_sizes"].append(len(batch))
            stats["round_secs"].append(
                round(time.monotonic() - t_round, 4)
            )
    state.unpersist()
    if pairs is not None:
        pairs.unpersist()
    return merges


def _apply_merges(
    encoded: Column, merges: list[dict], sep: str
) -> Column:
    """Apply a trained merge list to an already-encoded state column —
    the same literal replaces training used, in rank order (vocab-scale
    merge lists fold at constant depth, see :func:`_fold_replaces`)."""
    return _fold_replaces(
        encoded,
        [
            (
                sep + m["left"] + sep + sep + m["right"] + sep,
                sep + m["merged"] + sep,
            )
            for m in merges
        ],
    )


def bpe_apply_expr(
    word: Column, merges: list[dict], *, sep: str = BPE_SEP
) -> Column:
    """Encoded-state column for ``word`` after applying ``merges`` in
    rank order — the same literal replaces training used, so encode ∘
    apply is exactly the trained segmentation."""
    return _apply_merges(_encode_word(word, sep), merges, sep)


def bpe_token_count_expr(
    text_col: Column | str, merges: list[dict], *, sep: str = BPE_SEP
) -> Column:
    """Per-document token count under a TRAINED merge list: split to
    words, apply the merges to each, count symbols (= separator pairs)
    — all codegen'd string expressions, the merge table rides in the
    plan as literals (it is driver-bounded by construction: one row
    per merge)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(
        F.split(col, r"\s+"),
        lambda w: (w != "") & ~w.contains(sep),
    )
    counts = F.transform(
        words,
        lambda w: F.size(
            _symbols(bpe_apply_expr(w, merges, sep=sep), sep)
        ).cast("long"),
    )
    return F.coalesce(
        F.aggregate(
            counts, F.lit(0).cast("long"), lambda acc, x: acc + x
        ),
        F.lit(0).cast("long"),
    )


def bpe_base_chars(word_table: DataFrame) -> list[str]:
    """Sorted distinct single characters of the training word table —
    the base alphabet the id space starts from.  One explode + distinct
    aggregate; alphabet-sized driver state (bounded like the merges)."""
    rows = (
        word_table.select(
            F.explode(F.split(F.col("word"), "(?!^)(?=.)")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted(r["ch"] for r in rows)


def bpe_vocab(
    merges: list[dict], base_chars: list[str]
) -> dict[str, int]:
    """Symbol → token-id map: base characters take ids 0..B−1 in
    sorted order, merge ``rank`` takes id B + rank — the standard BPE
    id convention (deterministic given the training corpus + K)."""
    vocab = {ch: i for i, ch in enumerate(sorted(base_chars))}
    b = len(vocab)
    for m in merges:
        vocab[m["merged"]] = b + int(m["rank"])
    return vocab


def bpe_encode_expr(
    text_col: Column | str,
    merges: list[dict],
    vocab: dict[str, int],
    *,
    sep: str = BPE_SEP,
    unk_id: int = -1,
) -> Column:
    """Token-id ARRAY per document under a trained merge list — the
    export surface a tokenization pipeline hands to training
    (``input_ids``).  Words apply the same literal replace chain
    training used, symbols look up in a LITERAL map (vocab-sized —
    driver-bounded like the merge list), out-of-alphabet symbols get
    ``unk_id``.  All codegen'd expressions: encoding a 100 TB corpus
    rides the scan with zero UDFs and no shuffle.
    """
    if not vocab:
        raise ValueError("bpe_encode_expr: empty vocab")
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    keys, vals = zip(*sorted(vocab.items()))
    vmap = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.lit(int(v)) for v in vals]),
    )
    words = F.filter(
        F.split(col, r"\s+"),
        lambda w: (w != "") & ~w.contains(sep),
    )
    per_word = F.transform(
        words,
        lambda w: F.transform(
            _symbols(bpe_apply_expr(w, merges, sep=sep), sep),
            lambda s: F.coalesce(
                F.element_at(vmap, s), F.lit(int(unk_id))
            ),
        ),
    )
    return F.flatten(per_word)


# ---------------------------------------------------------------------------
# Byte-fallback export (r10, VERDICT r9 item 1): a LOSSLESS id space.
#
# ``bpe_encode_expr`` emits ``unk_id`` for out-of-alphabet symbols —
# real tokenizer exports never lose bytes.  The byte-fallback layout
# reserves ids 0..255 for the 256 raw bytes (the GPT-2 move), puts the
# training alphabet at 256.., merges after it, and decomposes any
# symbol outside the vocab into its UTF-8 bytes.  Because whitespace
# never enters the training alphabet (bpe_word_table splits on \s+),
# whitespace runs fall back to bytes too — which is exactly what makes
# encode ∘ decode == identity on ARBITRARY text: nothing is dropped,
# not even the separator byte itself (isolated by the segmentation
# regex and emitted as its own byte id).
#
# Every step is deterministic string/UTF-8 arithmetic (code-point
# cases mirror RFC 3629), so the DuckDB oracle replays the whole
# encoding — segmentation, merge replaces, vocab lookups, byte
# decomposition — value for value.
# ---------------------------------------------------------------------------

#: ids 0..255 are the raw bytes; string symbols start here
BPE_BYTE_OFFSET = 256


def _encode_any(col: Column, sep: str) -> Column:
    """Separator-wrap EVERY code point, newlines included — ``(?s)``
    because byte-fallback segments may be whitespace runs."""
    return F.regexp_replace(col, "(?s)(.)", sep + "$1" + sep)


def bpe_vocab_bytes(
    merges: list[dict], base_chars: list[str]
) -> dict[str, int]:
    """Byte-fallback symbol → id map: ids 0..255 are reserved for raw
    bytes (implicit — not in the dict), base characters take
    256..256+B−1 in sorted order, merge ``rank`` takes 256+B+rank.
    Deterministic given the corpus + K, like :func:`bpe_vocab`."""
    vocab = {
        ch: BPE_BYTE_OFFSET + i for i, ch in enumerate(sorted(base_chars))
    }
    b = len(vocab)
    for m in merges:
        vocab[m["merged"]] = BPE_BYTE_OFFSET + b + int(m["rank"])
    return vocab


def _utf8_byte_ids(sym: Column) -> Column:
    """UTF-8 byte values of a SINGLE-character symbol as an int array —
    pure code-point arithmetic (RFC 3629's four length cases), exact in
    doubles (code points < 2^21 ≪ 2^53).  Out-of-vocab symbols are
    single characters by construction: merges only ever concatenate
    in-alphabet symbols, so anything multi-character is in the vocab."""
    cp = F.ascii(sym)

    def d(n: int) -> Column:
        return F.floor(cp / F.lit(n)).cast("int")

    def p(base: int, val: Column) -> Column:
        return (F.lit(base) + val).cast("int")

    return (
        F.when(cp < 0x80, F.array(cp))
        .when(cp < 0x800, F.array(p(192, d(64)), p(128, cp % 64)))
        .when(
            cp < 0x10000,
            F.array(p(224, d(4096)), p(128, d(64) % 64), p(128, cp % 64)),
        )
        .otherwise(
            F.array(
                p(240, d(262144)),
                p(128, d(4096) % 64),
                p(128, d(64) % 64),
                p(128, cp % 64),
            )
        )
    )


def bpe_encode_bytes_expr(
    text_col: Column | str,
    merges: list[dict],
    vocab: dict[str, int],
    *,
    sep: str = BPE_SEP,
) -> Column:
    """LOSSLESS token-id array per document — the byte-fallback export.

    The text splits into segments via ``\\s+|<sep>|[^\\s<sep>]+`` (a
    plain-alternation regex — RE2-safe, every character lands in
    exactly one segment): non-whitespace runs apply the trained merge
    chain and look up the vocab; symbols outside the vocab (unseen
    characters, every whitespace character) decompose to their UTF-8
    bytes at ids 0..255; the separator byte itself is isolated by the
    segmentation and emitted as its own byte id.  No ``unk`` exists —
    every input byte maps to ids and :func:`bpe_decode_expr` inverts
    exactly.  All codegen'd expressions: the merge chain and vocab ride
    the plan as literals, so a 100 TB encode is zero-UDF, zero-shuffle.
    """
    if not vocab:
        raise ValueError("bpe_encode_bytes_expr: empty vocab")
    low = [s for s, i in vocab.items() if int(i) < BPE_BYTE_OFFSET]
    if low:
        raise ValueError(
            "bpe_encode_bytes_expr: vocab ids below 256 collide with "
            f"the byte id space ({low[:3]}…) — build the map with "
            "bpe_vocab_bytes"
        )
    # whitespace here means the regex \s class ([ \t\n\v\f\r]) — NOT
    # Python's str.isspace(), which also claims \x1c-\x1f
    if len(sep) != 1 or ord(sep) >= 0x80 or sep in " \t\n\x0b\x0c\r":
        raise ValueError(
            "bpe_encode_bytes_expr: sep must be one non-\\s ASCII "
            "character (its byte id doubles as its encoding)"
        )
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    keys, vals = zip(*sorted(vocab.items()))
    vmap = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.lit(int(v)) for v in vals]),
    )
    sep_re = f"\\x{ord(sep):02X}"
    segs = F.regexp_extract_all(
        col, F.lit(rf"\s+|{sep_re}|[^\s{sep_re}]+"), F.lit(0)
    )

    def seg_ids(seg: Column) -> Column:
        syms = _symbols(_apply_merges(_encode_any(seg, sep), merges, sep), sep)
        return F.flatten(
            F.transform(
                syms,
                lambda s: F.when(
                    F.element_at(vmap, s).isNotNull(),
                    F.array(F.element_at(vmap, s)),
                ).otherwise(_utf8_byte_ids(s)),
            )
        )

    per_seg = F.transform(
        segs,
        lambda seg: F.when(
            seg == F.lit(sep), F.array(F.lit(ord(sep)))
        ).otherwise(seg_ids(seg)),
    )
    return F.flatten(per_seg)


def bpe_decode_expr(
    ids_col: Column | str, vocab: dict[str, int]
) -> Column:
    """Exact inverse of :func:`bpe_encode_bytes_expr`: ids → text.

    Every id renders to the hex of its UTF-8 bytes — ids 0..255 are the
    byte itself, vocab ids look up a literal id → hex map — then one
    ``unhex`` + ``decode`` rebuilds the string.  Hex assembly (rather
    than per-element binary concat) keeps the whole thing a linear
    codegen expression.  An id outside both ranges raises mid-plan:
    decoding with the wrong vocab is a pipeline bug, not data to
    absorb.  Byte-fallback sequences re-enter as the characters they
    spell, so encode ∘ decode == identity (pinned by a fuzz test)."""
    col = F.col(ids_col) if isinstance(ids_col, str) else ids_col
    items = sorted(vocab.items(), key=lambda kv: kv[1])
    low = [s for s, i in items if int(i) < BPE_BYTE_OFFSET]
    if low:
        raise ValueError(
            "bpe_decode_expr: vocab ids below 256 collide with the "
            "byte id space — build the map with bpe_vocab_bytes"
        )
    hexmap = F.map_from_arrays(
        F.array(*[F.lit(int(i)) for _, i in items]),
        F.array(
            *[F.lit(s.encode("utf-8").hex().upper()) for s, _ in items]
        ),
    )

    def piece(i: Column) -> Column:
        return (
            F.when(
                (i >= 0) & (i < BPE_BYTE_OFFSET),
                F.lpad(F.hex(i), 2, "0"),
            )
            .when(
                F.element_at(hexmap, i).isNotNull(),
                F.element_at(hexmap, i),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "bpe_decode_expr: token id outside the vocab "
                            "and byte range: "
                        ),
                        i.cast("string"),
                    )
                )
            )
        )

    return F.decode(
        F.unhex(F.array_join(F.transform(col, piece), "")), "UTF-8"
    )


def collect_unit_table(
    words: DataFrame,
    *,
    word_col: str = "word",
    freq_col: str = "freq",
    max_units: int | None = None,
    stats: dict | None = None,
) -> list[tuple[str, int]]:
    """Collect the ``(word, freq)`` unit table driver-side — the one
    deliberately-bounded collect the LOCAL tokenizer trainers stand on.

    The model state of subword training is the distinct-unit frequency
    table, not the corpus: at 100 TB the corpus-wide work is exactly
    ONE explode + hash aggregate (:func:`bpe_word_table` /
    :func:`bpe_ngram_unit_table`), after which the table is
    vocabulary-sized (Heaps' law) and — with ``max_units`` /
    ``min_count`` pruning, which is how SentencePiece and every
    production trainer bound it — bounded by construction.  Collecting
    bounded model state and broadcasting the trained model back is the
    same shape as the k-means / logreg / IVF trainers in this package.

    ``max_units`` keeps the top-N units by (freq DESC, word ASC) —
    deterministic under ties; when it truncates, ``stats`` (if given)
    records the dropped tail so the caller can see the residual mass:
    ``units_total`` / ``freq_total`` (full table) vs ``units_kept`` /
    ``freq_kept``.  Duplicate words (an ungrouped input) fold their
    frequencies driver-side, so the trainers see a true frequency map.
    """
    # fold duplicates FIRST (idempotent on an already-grouped builder
    # table, one cheap vocab-sized aggregate otherwise) — the top-N
    # cut below must rank by TRUE folded frequency, not by whichever
    # duplicate row sorts first
    sel = (
        words.select(
            F.col(word_col).alias("w"), F.col(freq_col).alias("f")
        )
        .groupBy("w")
        .agg(F.sum("f").alias("f"))
    )
    if max_units is not None:
        if max_units < 1:
            raise ValueError("collect_unit_table: max_units must be >= 1")
        if stats is not None:
            tot = sel.agg(
                F.count(F.lit(1)).alias("n"), F.sum("f").alias("m")
            ).collect()[0]
            stats["units_total"] = int(tot["n"])
            stats["freq_total"] = int(tot["m"] or 0)
        sel = sel.orderBy(F.col("f").desc(), F.col("w")).limit(max_units)
    rows = sel.collect()
    out = sorted(
        ((r["w"], int(r["f"])) for r in rows),
        key=lambda kv: (-kv[1], kv[0]),
    )
    if stats is not None:
        stats["units_kept"] = len(out)
        stats["freq_kept"] = sum(f for _, f in out)
        if max_units is None:
            stats.setdefault("units_total", len(out))
            stats.setdefault("freq_total", stats["freq_kept"])
    return out


def _rewrite_merge(
    syms: list[str], l: str, r: str, merged: str
) -> list[str]:
    """Left-to-right non-overlapping ``[l, r] → [merged]`` rewrite of a
    symbol list — the list form of the separator-string ``replace`` the
    distributed trainers apply (``aaa`` + merge (a,a) → ``aa a``)."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n - 1:
        if syms[i] == l and syms[i + 1] == r:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    if i == n - 1:
        out.append(syms[i])
    return out


def bpe_train_local(
    words: DataFrame,
    *,
    n_merges: int,
    min_count: int = 2,
    word_col: str = "word",
    freq_col: str = "freq",
    max_units: int | None = None,
    stats: dict | None = None,
) -> list[dict]:
    """Exact driver-side BPE training over the distributively-built
    unit table — the REAL-VOCAB-scale path (r12, the endgame of
    VERDICT r11 task 1).

    :func:`bpe_train` is K aggregation rounds of ~0.5 s Spark-job
    latency each; batching and the delta pair table cut K and the
    per-round work, but a 32k-merge production vocab still prices as
    thousands of driver round trips.  The industry answer (Sennrich's
    reference ``learn_bpe``, SentencePiece, HF tokenizers) is that the
    MERGE LOOP never needed the cluster: its state is the bounded unit
    table.  So: one corpus-wide shuffle builds ``(word, freq)``,
    :func:`collect_unit_table` collects it (``max_units`` bounds it
    explicitly), and the loop runs here with an indexed delta
    structure — ``pair → count``, ``pair → containing-units``, and a
    lazy-validated max-heap — giving O(affected units) per merge and
    zero Spark jobs inside the loop.  The trained list broadcasts back
    into :func:`bpe_encode_expr` / :func:`bpe_apply_expr` for the
    distributed encode, exactly like every other bounded-model
    operator in this package.

    BIT-PARITY: for the same unit table this returns the identical
    merge list to ``bpe_train``'s distributed loop (any
    ``batch_size``) — same overlap-inclusive adjacent counting, same (count DESC, l ASC,
    r ASC) selection (Python string comparison is code-point order =
    Spark's UTF8_BINARY), same left-to-right replace, same
    ``min_count`` stop — pinned by randomized differentials in
    ``tests/test_bpe.py``.  Heap exactness: every count CHANGE pushes
    a fresh entry — counts can both fall and RISE (a merge whose
    merged string equals an already-existing symbol boosts
    ``(x, merged)`` pairs — the delta-table boost case), so the heap
    always holds a current entry for every live pair and popping until
    the entry matches the live count yields the true argmax.

    ``stats`` (optional dict) receives :func:`collect_unit_table`'s
    truncation fields plus ``merges`` and ``train_secs``.
    """
    if n_merges < 0:
        raise ValueError("bpe_train_local: n_merges must be >= 0")
    if min_count < 1:
        raise ValueError("bpe_train_local: min_count must be >= 1")
    import heapq
    from collections import Counter

    t0 = time.monotonic()
    units = collect_unit_table(
        words,
        word_col=word_col,
        freq_col=freq_col,
        max_units=max_units,
        stats=stats,
    )
    syms_list: list[list[str]] = [list(w) for w, _ in units]
    freqs: list[int] = [f for _, f in units]
    pair_cnt: dict[tuple[str, str], int] = {}
    pair_units: dict[tuple[str, str], set[int]] = {}
    for idx, syms in enumerate(syms_list):
        f = freqs[idx]
        for p in zip(syms, syms[1:]):
            pair_cnt[p] = pair_cnt.get(p, 0) + f
            pair_units.setdefault(p, set()).add(idx)
    heap = [
        (-c, l, r) for (l, r), c in pair_cnt.items() if c >= min_count
    ]
    heapq.heapify(heap)
    merges: list[dict] = []
    while len(merges) < n_merges:
        top: tuple[str, str] | None = None
        while heap:
            negc, l, r = heapq.heappop(heap)
            if pair_cnt.get((l, r)) == -negc:
                top = (l, r)
                break
        if top is None:
            break
        l, r = top
        cnt = pair_cnt[top]
        merged = l + r
        merges.append(
            {
                "rank": len(merges),
                "left": l,
                "right": r,
                "merged": merged,
                "pair_count": cnt,
            }
        )
        touched: set[tuple[str, str]] = set()
        for idx in list(pair_units.get(top, ())):
            old = syms_list[idx]
            new = _rewrite_merge(old, l, r, merged)
            f = freqs[idx]
            delta = Counter(zip(new, new[1:]))
            delta.subtract(Counter(zip(old, old[1:])))
            for p, d in delta.items():
                if d == 0:
                    continue
                nc = pair_cnt.get(p, 0) + d * f
                if nc <= 0:
                    pair_cnt.pop(p, None)
                else:
                    pair_cnt[p] = nc
                touched.add(p)
            # membership: drop units where the pair vanished, add new
            new_pairs = set(zip(new, new[1:]))
            old_pairs = set(zip(old, old[1:]))
            for p in old_pairs - new_pairs:
                s = pair_units.get(p)
                if s is not None:
                    s.discard(idx)
                    if not s:
                        pair_units.pop(p, None)
            for p in new_pairs - old_pairs:
                pair_units.setdefault(p, set()).add(idx)
            syms_list[idx] = new
        for p in touched:
            c = pair_cnt.get(p)
            if c is not None and c >= min_count:
                heapq.heappush(heap, (-c, p[0], p[1]))
        # the merged-away pair cannot survive a full left-to-right
        # pass over every containing unit — drop any residue
        pair_cnt.pop(top, None)
        pair_units.pop(top, None)
    if stats is not None:
        stats["merges"] = len(merges)
        stats["train_secs"] = round(time.monotonic() - t0, 4)
    return merges


def save_bpe_model(
    spark, merges: list[dict], vocab: dict[str, int], table: str
) -> None:
    """Persist a trained tokenizer — merge list + id space — as ONE
    catalog table (train once, encode every future ingest batch: the
    kmeans/logreg/multiclass persistence pattern).  Rows:
    ``kind='merge'`` carry (rank, left, right, merged, pair_count) in
    rank order; ``kind='vocab'`` carry (symbol, token_id).  One
    job-atomic overwrite."""
    rows = [
        (
            "merge",
            int(m["rank"]),
            m["left"],
            m["right"],
            m["merged"],
            int(m.get("pair_count", 0)),
            None,
        )
        for m in merges
    ] + [
        ("vocab", None, None, None, sym, None, int(tid))
        for sym, tid in sorted(vocab.items(), key=lambda kv: kv[1])
    ]
    spark.createDataFrame(
        rows,
        "kind string, rank int, left string, right string, "
        "merged string, pair_count long, token_id long",
    ).write.mode("overwrite").saveAsTable(table)


def load_bpe_model(
    spark, table: str
) -> tuple[list[dict], dict[str, int]]:
    """Rehydrate a :func:`save_bpe_model` table → (merges, vocab),
    merges in rank order — bounded driver state (one row per merge +
    one per symbol)."""
    rows = spark.table(table).collect()
    merges = sorted(
        (
            {
                "rank": int(r["rank"]),
                "left": r["left"],
                "right": r["right"],
                "merged": r["merged"],
                "pair_count": int(r["pair_count"]),
            }
            for r in rows
            if r["kind"] == "merge"
        ),
        key=lambda m: m["rank"],
    )
    if [m["rank"] for m in merges] != list(range(len(merges))):
        raise ValueError(
            f"load_bpe_model: {table} merge ranks are not 0..K-1 — "
            "not a save_bpe_model table"
        )
    vocab = {
        r["merged"]: int(r["token_id"])
        for r in rows
        if r["kind"] == "vocab"
    }
    return merges, vocab


__all__ = [
    "BPE_SEP",
    "BPE_BYTE_OFFSET",
    "save_bpe_model",
    "load_bpe_model",
    "bpe_word_table",
    "bpe_bigram_unit_table",
    "bpe_ngram_unit_table",
    "bpe_train",
    "bpe_train_local",
    "collect_unit_table",
    "bpe_apply_expr",
    "bpe_token_count_expr",
    "bpe_base_chars",
    "bpe_vocab",
    "bpe_encode_expr",
    "bpe_vocab_bytes",
    "bpe_encode_bytes_expr",
    "bpe_decode_expr",
]

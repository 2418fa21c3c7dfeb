"""Distributed WordPiece tokenizer training + greedy encoding.

WordPiece (Schuster & Nakajima 2012; Wu et al. 2016 §4.1 — the BERT
tokenizer) completes the subword-tokenizer family next to BPE
(``operators/bpe.py``) and unigram-LM (``operators/unigram.py``).  It
differs from BPE on BOTH halves of the algorithm:

* **training** merges the adjacent pair maximizing the likelihood
  gain ``score = cnt(l,r) / (cnt(l) · cnt(r))`` instead of the raw
  pair count, over words whose non-initial characters carry the
  ``##`` continuation marker (so ``hello`` seeds as
  ``h ##e ##l ##l ##o`` and a merge of ``(h, ##e)`` yields ``he``
  while ``(##l, ##o)`` yields ``##lo``);
* **encoding** is NOT merge replay: a trained vocab encodes each word
  greedy longest-match-first, and a word with ANY unmatched position
  collapses to a single ``[UNK]`` token.

Distributed shape — the ``bpe_train`` state machine with a second
maintained table:

* state = the distinct-word frequency table, each word a
  separator-wrapped symbol string (``operators/bpe.py`` encoding with
  ``##``-marked continuations);
* a persisted ``(l, r, cnt)`` pair table AND a ``(sym, cnt)`` symbol
  table (the score's denominator needs symbol totals) are built once
  and maintained by per-merge signed recounts of only the AFFECTED
  words (``bpe_train``'s delta device, ``bpe._delta_recount_src``: a
  literal replace is token-local);
* per merge: ONE argmax job over pairs broadcast-joined with the
  symbol counts — the single driver row is the merge.

Unlike BPE, merges are accepted ONE per round by design: a WordPiece
score is not batch-stable (merging ``(a,b)`` LOWERS ``cnt(a)`` and
``cnt(b)``, which RAISES the score of every surviving pair touching
``a`` or ``b``, and the brand-new pairs touching ``ab`` have a small
denominator, so a non-candidate can leapfrog any batch prefix —
there is no analogue of the count-monotone acceptance proof in
``bpe._accept_batch``).  The published trainers are sequential for
the same reason; the delta tables keep each round vocab-adjacency-
bounded, never corpus-bounded.

Cross-engine determinism: scores are IEEE-754 doubles of BIGINT
inputs — ``cnt``, ``cnt(l)``, ``cnt(r)`` are exactly representable,
the product rounds once, the division is correctly rounded, so Spark
and an ANSI-SQL replay (the driver qid's DuckDB oracle) produce
bit-identical doubles and therefore the identical argmax at every
rank (ties break on (l, r) ascending).  Scale-invariance falls out of
the same fact: multiplying every frequency by m scales every exact
quotient by 1/m, and correctly-rounded division preserves the order
of exact quotients — the merge sequence is corpus-scale-free.

Reference scope note: the reference system (`/root/reference`, SURVEY
§2) ships no tokenizer; this module is §2.9 extension surface (X92).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_toolz_spark.operators.bpe import (
    BPE_SEP,
    _delta_recount_src,
    _fold_replaces,
    _pairs_arr,
    _sym_rows,
)

#: continuation marker for non-word-initial pieces (the BERT/HF
#: convention).  Inside the sep-wrapped state the marker is plain
#: symbol text, so data words that themselves contain ``#`` stay
#: unambiguous (a literal ``#`` at a continuation position encodes as
#: the 3-char symbol ``###``).
WP_MARK = "##"

#: whole-word fallback token for any word the greedy matcher cannot
#: tile (id 0 in :func:`wordpiece_vocab`).
WP_UNK = "[UNK]"


def _encode_wp_word(col: Column, sep: str) -> Column:
    """Word → separator-wrapped WordPiece seed state: first character
    plain, every later character ``##``-marked
    (``hello`` → ``⟦h⟧⟦##e⟧⟦##l⟧⟦##l⟧⟦##o⟧``)."""
    enc = F.regexp_replace(col, "(.)", sep + WP_MARK + "$1" + sep)
    # strip the marker off the FIRST symbol: drop the leading
    # ``sep + ##`` (3 chars) and re-attach the separator
    return F.concat(F.lit(sep), F.substring(enc, 4, F.length(enc)))


def wordpiece_train(
    words: DataFrame,
    *,
    n_merges: int,
    min_count: int = 2,
    word_col: str = "word",
    freq_col: str = "freq",
    sep: str = BPE_SEP,
    stats: dict | None = None,
) -> list[dict]:
    """Learn up to ``n_merges`` WordPiece merges from a word-frequency
    table (:func:`bpe.bpe_word_table` / the n-gram unit tables).

    Returns ``[{"rank", "left", "right", "merged", "pair_count",
    "left_count", "right_count", "score"}, …]`` in merge order;
    ``merged`` strips the right side's ``##`` marker (``(h, ##e)`` →
    ``he``).  Stops early when no pair reaches ``min_count``.  Ties on
    the double score break (l, r) ascending — total and engine-
    portable (see module docstring).

    Per round: one argmax over the maintained pair table joined with
    the maintained symbol-count table, then one signed recount of only
    the words containing the merge pattern — every round is
    vocab-adjacency-bounded.  Within ``bpe._DRIVER_PAIR_CAP`` distinct
    pairs both tables are held on the DRIVER (r12 optimization round):
    the argmax is a Python scan over bit-identical IEEE doubles and
    each round costs exactly ONE Spark job (the recount); above the
    cap both stay persisted DataFrames with broadcast-joined argmax
    rounds, exactly the r12-build behavior.  ``stats`` (optional dict)
    receives ``pair_table`` telemetry plus, on the distributed arms,
    ``rounds``/``round_secs`` like :func:`bpe.bpe_train`; the r12
    auto-local arm (``pair_table == "local"``) reports the driver
    trainer's shape instead (``merges``, ``train_secs`` — there are no
    per-round Spark jobs to time).
    """
    if n_merges < 0:
        raise ValueError("wordpiece_train: n_merges must be >= 0")
    if min_count < 1:
        raise ValueError("wordpiece_train: min_count must be >= 1")
    state = words.select(
        _encode_wp_word(F.col(word_col), sep).alias("s"),
        F.col(freq_col).alias("f"),
    )
    # right-size like bpe_train (r12: with the parallelism floor —
    # the old formula serialized medium unit tables onto one core;
    # see _util.right_size_iterated_state)
    from data_toolz_spark.operators._util import (
        right_size_iterated_state,
    )

    # one pricing job: row count (arm gates / right-sizing) + average
    # encoded-unit length (the r13 window-recount crossover gate —
    # see bpe._WINDOW_MIN_AVG_LEN for the measured arms)
    _pr = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.length("s")).alias("alen"),
    ).collect()[0]
    n_rows = int(_pr["n"])
    # caps and gate read at call time (tests and probes reassign them)
    from data_toolz_spark.operators.bpe import (
        _DRIVER_PAIR_CAP,
        _LOCAL_UNIT_CAP,
        _WINDOW_MIN_AVG_LEN,
    )

    use_window = float(_pr["alen"] or 0.0) >= _WINDOW_MIN_AVG_LEN
    if sep == BPE_SEP and n_merges > 0 and n_rows <= _LOCAL_UNIT_CAP:
        # r12 optimization round (guide §5.4, the bpe_train auto-gate
        # twin): below the cap the unit table is bounded model state —
        # delegate the merge loop to the exact driver-side trainer
        # (bit-parity including the IEEE score doubles pinned by the
        # local differentials + the arm-parity tests), zero Spark
        # jobs per merge.  A custom sep stays distributed.
        merges = wordpiece_train_local(
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
    # the ONE full explode+aggregate each table ever runs — later
    # rounds fold signed corrections in.  Within _DRIVER_PAIR_CAP
    # distinct pairs both tables live on the DRIVER (r12 optimization
    # round, guide §5.4 bounded state — the same arm as
    # ``bpe_train``'s delta mode): the per-round argmax is a Python
    # scan costing zero Spark work (the score doubles are IEEE-754
    # division/multiplication of exactly-represented ints, identical
    # bit-for-bit in Python and the JVM), and the per-round Spark job
    # shrinks to the affected-words signed recount alone.
    pair_cnt: dict | None = None
    sym_cnt: dict | None = None
    pairs_agg = (
        state.select(
            F.explode(_pairs_arr(F.col("s"), sep, F.col("f"))).alias("p")
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("p.w").alias("cnt"))
    )
    head = pairs_agg.limit(_DRIVER_PAIR_CAP + 1).collect()
    pairs = syms = None
    if len(head) <= _DRIVER_PAIR_CAP:
        pair_cnt = {(rw["l"], rw["r"]): int(rw["cnt"]) for rw in head}
        sym_cnt = {
            rw["sym"]: int(rw["cnt"])
            for rw in state.select(
                F.explode(
                    _sym_rows(F.col("s"), sep, F.col("f"))
                ).alias("p")
            )
            .groupBy(F.col("p.l").alias("sym"))
            .agg(F.sum("p.w").alias("cnt"))
            .collect()
        }
    else:
        pairs = pairs_agg.coalesce(nparts).localCheckpoint(eager=False)
        syms = (
            state.select(
                F.explode(_sym_rows(F.col("s"), sep, F.col("f"))).alias(
                    "p"
                )
            )
            .groupBy(F.col("p.l").alias("sym"))
            .agg(F.sum("p.w").alias("cnt"))
            .coalesce(nparts)
            .localCheckpoint(eager=False)
        )
    merges: list[dict] = []
    if stats is not None:
        stats.update(
            {"rounds": 0, "round_secs": [],
             "pair_table": (
                 "driver" if pair_cnt is not None else "distributed"
             )}
        )
    rounds_since_trunc = 0
    while len(merges) < n_merges:
        t_round = time.monotonic() if stats is not None else 0.0
        if pair_cnt is not None:
            # driver argmax: score DESC, then (l, r) ASC — the same
            # total order the Spark sort applies, over the same IEEE
            # doubles (counts < 2^53 are exact; double multiply and
            # divide are correctly rounded in both runtimes)
            best = None
            for (l2, r2), c2 in pair_cnt.items():
                if c2 < min_count:
                    continue
                lc2 = sym_cnt.get(l2)
                rc2 = sym_cnt.get(r2)
                if lc2 is None or rc2 is None:
                    # mirror the distributed arm's INNER join: a pair
                    # without a live symbol row is not a candidate
                    # (unreachable for consistent tables, kept for
                    # exact join-semantics parity)
                    continue
                sc = float(c2) / (float(lc2) * float(rc2))
                if (
                    best is None
                    or sc > best[0]
                    or (sc == best[0] and (l2, r2) < (best[1], best[2]))
                ):
                    best = (sc, l2, r2, c2)
            if best is None:
                break
            row = {
                "l": best[1], "r": best[2], "cnt": best[3],
                "lc": sym_cnt[best[1]], "rc": sym_cnt[best[2]],
                "score": best[0],
            }
        else:
            cand = (
                pairs.filter(F.col("cnt") >= min_count)
                .join(
                    F.broadcast(
                        syms.select(
                            F.col("sym").alias("l"),
                            F.col("cnt").alias("lc"),
                        )
                    ),
                    "l",
                )
                .join(
                    F.broadcast(
                        syms.select(
                            F.col("sym").alias("r"),
                            F.col("cnt").alias("rc"),
                        )
                    ),
                    "r",
                )
                .select(
                    "l",
                    "r",
                    "cnt",
                    "lc",
                    "rc",
                    # double×double, not BIGINT× then cast: counts are
                    # exactly representable (< 2^53 each), so the double
                    # product is the correctly-rounded true product —
                    # identical doubles to rounding the exact integer
                    # product while never wrapping a 64-bit multiply at
                    # 100 TB symbol counts (review fix r12)
                    (
                        F.col("cnt").cast("double")
                        / (
                            F.col("lc").cast("double")
                            * F.col("rc").cast("double")
                        )
                    ).alias("score"),
                )
                .orderBy(F.col("score").desc(), F.col("l"), F.col("r"))
                .limit(1)
                .collect()
            )
            if not cand:
                break
            row = cand[0]
        l, r = row["l"], row["r"]
        # a pair's right side is never word-initial, so it ALWAYS
        # carries the marker — strip it for the merged symbol
        merged = l + (r[len(WP_MARK):] if r.startswith(WP_MARK) else r)
        merges.append(
            {
                "rank": len(merges),
                "left": l,
                "right": r,
                "merged": merged,
                "pair_count": int(row["cnt"]),
                "left_count": int(row["lc"]),
                "right_count": int(row["rc"]),
                "score": float(row["score"]),
            }
        )
        pat = sep + l + sep + sep + r + sep
        rep = sep + merged + sep
        new_s = F.replace(F.col("s"), F.lit(pat), F.lit(rep))
        if pair_cnt is not None and len(merges) >= n_merges:
            # driver-arm final round: nothing reads the folded tables
            # or the rewritten state — skip both (one Spark job saved)
            if stats is not None:
                stats["rounds"] += 1
                stats["round_secs"].append(
                    round(time.monotonic() - t_round, 4)
                )
            break
        # the replace is token-local: only words CONTAINING the
        # pattern change any pair or symbol count — the signed
        # recount of exactly those words is the exact delta of both
        # tables, and the sym rows ride the same exploded array as
        # the pair rows (r = NULL tags them)
        src = _delta_recount_src(
            state.filter(F.col("s").contains(pat)),
            sep,
            [(l, r, merged)],
            use_window=use_window,
            sym_rows=True,
        )
        upd = src.groupBy(
            F.col("p.l").alias("l"), F.col("p.r").alias("r")
        ).agg(F.sum("p.w").alias("cnt"))
        if pair_cnt is not None:
            # driver-arm delta: ONE job — collect the signed recount
            # and fold it into both dicts (r = NULL rows are symbols)
            for rw in upd.collect():
                delta = int(rw["cnt"])
                if rw["r"] is None:
                    c2 = sym_cnt.get(rw["l"], 0) + delta
                    if c2 > 0:
                        sym_cnt[rw["l"]] = c2
                    elif rw["l"] in sym_cnt:
                        del sym_cnt[rw["l"]]
                else:
                    k2 = (rw["l"], rw["r"])
                    c2 = pair_cnt.get(k2, 0) + delta
                    if c2 > 0:
                        pair_cnt[k2] = c2
                    elif k2 in pair_cnt:
                        del pair_cnt[k2]
            prev = state
            state = state.withColumn("s", new_s).localCheckpoint(
                eager=False
            )
            prev.unpersist()
            # the collect above ran directly over the state subtree,
            # so its lazy-checkpoint lineage truncated this round —
            # no periodic count() needed on this arm
        else:
            upd = upd.coalesce(nparts).localCheckpoint(eager=False)
            prev_pairs, prev_syms = pairs, syms
            pairs = (
                pairs.unionByName(upd.filter(F.col("r").isNotNull()))
                .groupBy("l", "r")
                .agg(F.sum("cnt").alias("cnt"))
                .filter(F.col("cnt") > 0)
                .coalesce(nparts)
                .localCheckpoint(eager=False)
            )
            syms = (
                syms.unionByName(
                    upd.filter(F.col("r").isNull()).select(
                        F.col("l").alias("sym"), "cnt"
                    )
                )
                .groupBy("sym")
                .agg(F.sum("cnt").alias("cnt"))
                .filter(F.col("cnt") > 0)
                .coalesce(nparts)
                .localCheckpoint(eager=False)
            )
            prev = state
            state = state.withColumn("s", new_s).localCheckpoint(
                eager=False
            )
            prev.unpersist()
            prev_pairs.unpersist()
            prev_syms.unpersist()
            # the round's argmax job never runs directly over the
            # state subtree (candidates come from the tables), so the
            # state's lazy-checkpoint chain accumulates like
            # bpe_train's delta mode — truncate it with one
            # vocab-sized count() every 16 rounds (the measured
            # StackOverflow cliff is ~400 layers)
            rounds_since_trunc += 1
            if rounds_since_trunc >= 16:
                state.count()
                rounds_since_trunc = 0
        if stats is not None:
            stats["rounds"] += 1
            stats["round_secs"].append(
                round(time.monotonic() - t_round, 4)
            )
    state.unpersist()
    if pairs is not None:
        pairs.unpersist()
    if syms is not None:
        syms.unpersist()
    return merges


def wordpiece_train_local(
    words: DataFrame,
    *,
    n_merges: int,
    min_count: int = 2,
    word_col: str = "word",
    freq_col: str = "freq",
    max_units: int | None = None,
    stats: dict | None = None,
) -> list[dict]:
    """Exact driver-side WordPiece training over the distributively-
    built unit table — the :func:`bpe.bpe_train_local` device applied
    to the likelihood score (r12).

    One corpus-wide shuffle builds ``(word, freq)``,
    :func:`bpe.collect_unit_table` collects the bounded table
    (``max_units`` bounds it explicitly), and the merge loop runs
    driver-side with indexed delta structures.  WordPiece needs one
    structure BPE doesn't: merging ``(l, r)`` lowers ``cnt(l)`` and
    ``cnt(r)``, which RAISES the score of every surviving pair touching
    either symbol — a lazy heap alone would miss those (they sit buried
    under a stale LOWER score).  So a ``symbol → alive pairs`` index
    re-pushes every pair of a touched symbol with its fresh score each
    merge, restoring the invariant that the heap always holds a
    current-score entry for every live candidate; pops validate against
    the recomputed score and skip stale entries.

    BIT-PARITY with :func:`wordpiece_train`: scores are computed as
    ``float(cnt) / (float(lc) * float(rc))`` — Python floats are IEEE
    doubles and each conversion/op is correctly rounded, so the score
    doubles (and therefore every argmax, ties on (l, r) ascending in
    code-point = UTF8_BINARY order) are bit-identical to the Spark
    expression — pinned by randomized differentials in
    ``tests/test_wordpiece.py``.

    ``stats`` (optional dict) receives the
    :func:`bpe.collect_unit_table` truncation fields plus ``merges``
    and ``train_secs``.
    """
    if n_merges < 0:
        raise ValueError("wordpiece_train_local: n_merges must be >= 0")
    if min_count < 1:
        raise ValueError("wordpiece_train_local: min_count must be >= 1")
    import heapq
    from collections import Counter

    from data_toolz_spark.operators.bpe import (
        _rewrite_merge,
        collect_unit_table,
    )

    t0 = time.monotonic()
    units = collect_unit_table(
        words,
        word_col=word_col,
        freq_col=freq_col,
        max_units=max_units,
        stats=stats,
    )
    syms_list: list[list[str]] = [
        [w[0]] + [WP_MARK + ch for ch in w[1:]] for w, _ in units
    ]
    freqs: list[int] = [f for _, f in units]
    pair_cnt: dict[tuple[str, str], int] = {}
    pair_units: dict[tuple[str, str], set[int]] = {}
    sym_cnt: dict[str, int] = {}
    sym_pairs: dict[str, set[tuple[str, str]]] = {}
    for idx, syms in enumerate(syms_list):
        f = freqs[idx]
        for s in syms:
            sym_cnt[s] = sym_cnt.get(s, 0) + f
        for p in zip(syms, syms[1:]):
            pair_cnt[p] = pair_cnt.get(p, 0) + f
            pair_units.setdefault(p, set()).add(idx)
            sym_pairs.setdefault(p[0], set()).add(p)
            sym_pairs.setdefault(p[1], set()).add(p)

    def _score(c: int, lc: int, rc: int) -> float:
        # the exact Spark expression: double(cnt) / (double(lc) *
        # double(rc)) — see the module docstring's determinism note
        return float(c) / (float(lc) * float(rc))

    heap = [
        (-_score(c, sym_cnt[l], sym_cnt[r]), l, r)
        for (l, r), c in pair_cnt.items()
        if c >= min_count
    ]
    heapq.heapify(heap)
    merges: list[dict] = []
    while len(merges) < n_merges:
        top: tuple[str, str] | None = None
        while heap:
            negs, l, r = heapq.heappop(heap)
            c = pair_cnt.get((l, r))
            if c is None or c < min_count:
                continue
            if _score(c, sym_cnt[l], sym_cnt[r]) == -negs:
                top = (l, r)
                break
        if top is None:
            break
        l, r = top
        cnt = pair_cnt[top]
        lc, rc = sym_cnt[l], sym_cnt[r]
        merged = l + (r[len(WP_MARK):] if r.startswith(WP_MARK) else r)
        merges.append(
            {
                "rank": len(merges),
                "left": l,
                "right": r,
                "merged": merged,
                "pair_count": cnt,
                "left_count": lc,
                "right_count": rc,
                "score": _score(cnt, lc, rc),
            }
        )
        touched_pairs: set[tuple[str, str]] = set()
        sym_delta: Counter = Counter()
        for idx in list(pair_units.get(top, ())):
            old = syms_list[idx]
            new = _rewrite_merge(old, l, r, merged)
            f = freqs[idx]
            pdelta = Counter(zip(new, new[1:]))
            pdelta.subtract(Counter(zip(old, old[1:])))
            for p, d in pdelta.items():
                if d == 0:
                    continue
                nc = pair_cnt.get(p, 0) + d * f
                if nc <= 0:
                    pair_cnt.pop(p, None)
                else:
                    pair_cnt[p] = nc
                touched_pairs.add(p)
            sdelta = Counter(new)
            sdelta.subtract(Counter(old))
            for s, d in sdelta.items():
                if d:
                    sym_delta[s] += d * f
            new_pairs = set(zip(new, new[1:]))
            old_pairs = set(zip(old, old[1:]))
            for p in old_pairs - new_pairs:
                su = pair_units.get(p)
                if su is not None:
                    su.discard(idx)
                    if not su:
                        pair_units.pop(p, None)
            for p in new_pairs - old_pairs:
                pair_units.setdefault(p, set()).add(idx)
            syms_list[idx] = new
        # fold symbol deltas, then re-push every pair whose score
        # inputs changed: pairs with a count delta + every alive pair
        # of a count-changed symbol (scores there moved via the
        # denominator)
        for s, d in sym_delta.items():
            if d == 0:
                continue
            nc = sym_cnt.get(s, 0) + d
            if nc <= 0:
                sym_cnt.pop(s, None)
            else:
                sym_cnt[s] = nc
            touched_pairs.update(sym_pairs.get(s, ()))
        # maintain the symbol → alive-pairs index and push fresh
        # entries (skip dead pairs; their stale entries fail pop
        # validation)
        for p in touched_pairs:
            alive = p in pair_cnt
            for side in set(p):
                sp = sym_pairs.setdefault(side, set())
                if alive:
                    sp.add(p)
                else:
                    sp.discard(p)
                    if not sp:
                        sym_pairs.pop(side, None)
            if alive and pair_cnt[p] >= min_count:
                heapq.heappush(
                    heap,
                    (
                        -_score(
                            pair_cnt[p], sym_cnt[p[0]], sym_cnt[p[1]]
                        ),
                        p[0],
                        p[1],
                    ),
                )
        # the merged-away pair cannot survive a full left-to-right
        # pass over every containing unit — drop any residue
        pair_cnt.pop(top, None)
        pair_units.pop(top, None)
        for side in set(top):
            sp = sym_pairs.get(side)
            if sp is not None:
                sp.discard(top)
                if not sp:
                    sym_pairs.pop(side, None)
    if stats is not None:
        stats["merges"] = len(merges)
        stats["train_secs"] = round(time.monotonic() - t0, 4)
    return merges


def wordpiece_base_pieces(
    word_table: DataFrame, word_col: str = "word"
) -> list[str]:
    """Character-level seed pieces of a word table: every distinct
    word-INITIAL character plain + every distinct continuation
    character ``##``-marked, each list sorted — bounded by the
    character set (the k·dim-style driver-exchange contract).  Two
    tiny aggregates over the vocab-sized table."""
    rows = (
        word_table.select(
            F.substring(F.col(word_col), 1, 1).alias("ch"),
            F.lit(False).alias("marked"),
        )
        .unionByName(
            word_table.select(
                F.explode(
                    F.split(
                        F.substring(
                            F.col(word_col), 2, F.length(F.col(word_col))
                        ),
                        "",
                    )
                ).alias("ch"),
                F.lit(True).alias("marked"),
            ).filter(F.col("ch") != "")
        )
        .distinct()
        .collect()
    )
    firsts = sorted(r["ch"] for r in rows if not r["marked"])
    conts = sorted(WP_MARK + r["ch"] for r in rows if r["marked"])
    return firsts + conts


def wordpiece_vocab(
    merges: list[dict], base_pieces: list[str]
) -> dict[str, int]:
    """piece → token id: ``[UNK]`` = 0, then the base pieces in the
    given (sorted) order, then merged pieces in rank order.  A merged
    piece that collides with a base piece keeps the base id (greedy
    matching is set-membership — duplicate surface forms are one
    piece)."""
    vocab: dict[str, int] = {WP_UNK: 0}
    for p in base_pieces:
        if p not in vocab:
            vocab[p] = len(vocab)
    for m in merges:
        if m["merged"] not in vocab:
            vocab[m["merged"]] = len(vocab)
    return vocab


def wordpiece_segment_words(
    words: DataFrame,
    vocab: dict[str, int],
    *,
    word_col: str = "word",
    max_word_len: int | None = None,
) -> DataFrame:
    """Greedy longest-match-first segmentation of (distinct) words
    under a trained vocab — the BERT ``WordpieceTokenizer`` semantics:
    at each position take the LONGEST vocab piece (``##``-marked off
    the word start), and if any position has no match — or the word
    exceeds ``max_word_len`` — the whole word is ``[UNK]``.  Output
    ``(word, pieces array<string>, ids array<int>, n_pieces int)``.

    One Arrow pass over the vocab-sized distinct-word frame with the
    piece set riding in the closure (the ``unigram_segment_words``
    shape) — per-row Python never touches the corpus path.
    """
    import pandas as pd

    piece_ids = dict(vocab)
    # two match-length ceilings, one per arm (review fix r12): at the
    # word START every vocab key can match literally — including
    # ##-prefixed keys and [UNK] itself, should the raw text contain
    # them (string-membership semantics, the oracle's unmarked arm) —
    # so the ceiling is the longest KEY; past the start a key matches
    # as ##+candidate, so the ceiling is the longest key minus the
    # 2-char marker.  A single continuation-derived ceiling silently
    # capped word-start literal matches of '#'-bearing words.
    max_lit = max((len(p) for p in piece_ids), default=0)
    max_cont = max(
        (
            len(p) - len(WP_MARK)
            for p in piece_ids
            if p.startswith(WP_MARK) and len(p) > len(WP_MARK)
        ),
        default=0,
    )

    def segment(w: str) -> list[str]:
        if max_word_len is not None and len(w) > max_word_len:
            return [WP_UNK]
        out: list[str] = []
        pos = 0
        while pos < len(w):
            lim = max_lit if pos == 0 else max_cont
            for ln in range(min(lim, len(w) - pos), 0, -1):
                key = w[pos : pos + ln]
                if pos > 0:
                    key = WP_MARK + key
                if key in piece_ids:
                    out.append(key)
                    pos += ln
                    break
            else:
                return [WP_UNK]
        return out if out else [WP_UNK]

    def kernel(batches):
        for pdf in batches:
            out_w, out_p, out_i, out_n = [], [], [], []
            for w in pdf["word"]:
                seg = segment(w)
                out_w.append(w)
                out_p.append(seg)
                out_i.append([piece_ids[p] for p in seg])
                out_n.append(len(seg))
            yield pd.DataFrame(
                {
                    "word": out_w,
                    "pieces": out_p,
                    "ids": out_i,
                    "n_pieces": out_n,
                }
            )

    return (
        words.select(F.col(word_col).alias("word"))
        .distinct()
        .mapInPandas(
            kernel,
            "word string, pieces array<string>, ids array<int>, "
            "n_pieces int",
        )
    )


def wordpiece_token_count(
    df: DataFrame,
    vocab: dict[str, int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "wp_tokens",
    max_word_len: int | None = None,
) -> DataFrame:
    """Per-document WordPiece token counts: ``(id_col, out_col)``.

    Corpus side is tokenize → distinct-word greedy segmentation
    (:func:`wordpiece_segment_words`) → equi-join the per-word piece
    count back → one sum per doc — the unigram_encode decoupling that
    keeps per-row Python off the 100 TB path.  Words containing the
    separator byte are skipped (the :func:`bpe.bpe_word_table`
    contract); docs with no countable words report 0.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"),
    ).filter((F.col("word") != "") & ~F.col("word").contains(BPE_SEP))
    seg = wordpiece_segment_words(
        toks.select("word"), vocab, max_word_len=max_word_len
    )
    counted = (
        toks.join(seg.select("word", "n_pieces"), on="word")
        .groupBy(id_col)
        .agg(F.sum("n_pieces").alias(out_col))
    )
    return (
        df.select(id_col)
        .join(counted, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(out_col), F.lit(0)).cast("long").alias(
                out_col
            ),
        )
    )


def wordpiece_encode(
    df: DataFrame,
    vocab: dict[str, int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "ids",
    max_word_len: int | None = None,
) -> DataFrame:
    """Encode a corpus to WordPiece token ids: ``(id_col, out_col)``
    with one ``array<int>`` per document, greedy pieces in word
    order ([UNK] id 0 for untileable words).

    The Python matcher runs over the corpus's DISTINCT words only
    (:func:`wordpiece_segment_words`); the corpus side is tokenize →
    posexplode → equi-join the word→ids map → in-order reassembly —
    the ``unigram_encode`` decoupling that keeps per-row Python off
    the 100 TB path.  Words containing the separator byte are skipped
    (the word-table contract); documents with no countable words
    yield an empty array.  Plugs into
    ``prepare_training_corpus(token_pack={"wp_vocab": …})``.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), r"\s+"),
                lambda t: (t != "") & ~t.contains(BPE_SEP),
            )
        ).alias("__pos", "word"),
    )
    seg = wordpiece_segment_words(
        toks.select("word"), vocab, max_word_len=max_word_len
    )
    joined = toks.join(seg.select("word", "ids"), on="word")
    assembled = joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__pos"), F.col("ids"))
                    )
                ),
                lambda s: s["ids"],
            )
        ).alias(out_col)
    )
    return df.select(id_col).join(assembled, on=id_col, how="left").select(
        id_col,
        F.coalesce(
            F.col(out_col), F.array().cast("array<int>")
        ).alias(out_col),
    )


def wordpiece_apply_expr(
    text_col: str | Column, merges: list[dict], sep: str = BPE_SEP
) -> Column:
    """Merge-REPLAY application (the training-state transform, NOT
    greedy inference): seed-encode every whitespace word and apply the
    merge replaces in rank order — useful for differential tests
    against the greedy encoder and for inspecting the training state a
    corpus would reach.  Returns the sep-encoded symbol string of the
    whole text with words joined by a single space."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.filter(
        F.split(col, r"\s+"),
        lambda t: (t != "") & ~t.contains(sep),
    )
    pairs = [
        (
            sep + m["left"] + sep + sep + m["right"] + sep,
            sep + m["merged"] + sep,
        )
        for m in merges
    ]
    return F.array_join(
        F.transform(
            words, lambda w: _fold_replaces(_encode_wp_word(w, sep), pairs)
        ),
        " ",
    )


def save_wordpiece_model(
    spark, merges: list[dict], vocab: dict[str, int], table: str
) -> None:
    """Persist a trained WordPiece tokenizer as ONE catalog table
    (the :func:`bpe.save_bpe_model` pattern): ``kind='merge'`` rows
    carry (rank, left, right, merged, pair_count) in rank order,
    ``kind='vocab'`` rows carry (symbol, token_id)."""
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


def load_wordpiece_model(
    spark, table: str
) -> tuple[list[dict], dict[str, int]]:
    """Rehydrate a :func:`save_wordpiece_model` table → (merges,
    vocab), merges in rank order — bounded driver state."""
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
            f"load_wordpiece_model: {table} merge ranks are not "
            "0..K-1 — not a save_wordpiece_model table"
        )
    vocab = {
        r["merged"]: int(r["token_id"])
        for r in rows
        if r["kind"] == "vocab"
    }
    return merges, vocab


__all__ = [
    "WP_MARK",
    "WP_UNK",
    "wordpiece_train",
    "wordpiece_train_local",
    "wordpiece_base_pieces",
    "wordpiece_vocab",
    "wordpiece_segment_words",
    "wordpiece_token_count",
    "wordpiece_encode",
    "wordpiece_apply_expr",
    "save_wordpiece_model",
    "load_wordpiece_model",
]

"""Mergeable cardinality sketches for corpus-scale distinct counts.

At 100 TB, ``COUNT(DISTINCT url)`` is the expensive question: an exact
answer shuffles every distinct key once.  The HyperLogLog surface here
(Spark's Apache DataSketches integration, public since Spark 3.5) keeps
the answer to a ~``2^lg_k``-byte mergeable state per group:

* the aggregation is **partial-aggregable** — each task folds its rows
  into a local sketch and only the tiny sketch crosses the shuffle, so
  the network cost is O(groups × sketch bytes), independent of row
  count or key cardinality;
* sketches are **stored state, not just answers** — persist one sketch
  row per day/source partition and a later ``hll_union_agg`` over the
  stored sketches answers "distinct over any window" without
  re-scanning history.  This composes with the incremental catalog
  pattern (``operators/incremental.py``): fold each increment's sketch
  into the running row and 100 TB of history is never re-read.

Once the part-sketches are past the SET→HLL promotion (a few hundred
keys each at lg_k=12), HLL union is a register max: unioning the same
set of part-sketches gives the same estimate in any order and whether
they are unioned in one pass or in stages (pinned by tests; this is
what makes daily folding drift-free).  Below that boundary the union
inserts coupons in arrival order, so the same sketches — or the same
rows split along other part boundaries — can land an estimate one or
two apart; every such estimate stays inside the error bound.
It is NOT bit-identical to a single pass over the raw rows: the union
path promotes sketches to the dense HLL_8 representation, so a unioned
estimate can differ from a one-shot sketch by a value inside the
sketch's error bound (measured: 499 vs 500 on a 500-key column at
lg_k=12).  Both stay within the published HLL error.

Extends the reference's analytics surface (SURVEY §2.9); the reference
(``datatoolz/io.py``) has no aggregation layer at all.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: DataSketches HLL target type: HLL_8 trades a little memory for
#: merge speed and is the safest default for heavily-unioned state.
_TGT = "HLL_8"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hll_sketch(col: Column | str, *, lg_k: int = 12) -> Column:
    """Aggregate: build a binary HLL sketch of the column's distinct
    values (~``2^lg_k`` bytes of state; lg_k=12 ≈ 1.6 % relative
    standard error)."""
    if not 4 <= lg_k <= 21:
        raise ValueError("hll_sketch: lg_k must be in [4, 21]")
    return F.hll_sketch_agg(_c(col), F.lit(lg_k))


def hll_merge(sketch_col: Column | str) -> Column:
    """Aggregate: union already-built sketches (e.g. one per stored
    day/source row) into one sketch — the incremental-rollup step."""
    return F.hll_union_agg(_c(sketch_col), F.lit(True))


def hll_estimate(sketch_col: Column | str) -> Column:
    """Distinct-count estimate (long) from a sketch column."""
    return F.hll_sketch_estimate(_c(sketch_col))


def approx_distinct(col: Column | str, *, rsd: float = 0.016) -> Column:
    """One-shot approximate COUNT(DISTINCT …) (HyperLogLog++,
    partial-aggregable).  Use when only the number is needed; use
    :func:`hll_sketch` when the STATE must be stored and merged."""
    return F.approx_count_distinct(_c(col), rsd)


def distinct_sketch_table(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    lg_k: int = 12,
    sketch_col: str = "sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """One sketch row per group: the persistable building block.

    Emits ``group_cols + [sketch_col, estimate_col]``.  Append one such
    row per ingested partition (day, source, crawl snapshot); roll any
    subset up later with :func:`rollup_sketches` — no history re-scan.
    """
    sk = hll_sketch(value_col, lg_k=lg_k)
    return df.groupBy(*group_cols).agg(
        sk.alias(sketch_col),
        hll_estimate(sk).alias(estimate_col),
    )


def rollup_sketches(
    sketch_df: DataFrame,
    group_cols: Sequence[str],
    *,
    sketch_col: str = "sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Union stored sketch rows up to a coarser grouping.

    ``rollup_sketches(t, [])`` gives the global distinct estimate from
    per-partition rows.  Past the SET→HLL promotion the union is a
    register max, so any regrouping of the same part-sketches yields
    the same estimate (tested); below it the estimate can move by one
    or two with union order.  Every estimate stays inside the sketch's
    published error vs exact.
    """
    merged = hll_merge(sketch_col)
    grouped = (
        sketch_df.groupBy(*group_cols) if group_cols else sketch_df.groupBy()
    )
    return grouped.agg(
        merged.alias(sketch_col),
        hll_estimate(merged).alias(estimate_col),
    )


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable FREQUENCY state (heavy hitters)
# ---------------------------------------------------------------------------
#
# The frequency twin of the HLL surface above (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch and its
# applications", J. Algorithms 2005).  The sketch is represented as a
# TABLE of (row, cell, count) — d·w rows, bounded state — rather than
# an opaque binary blob, because in Spark that makes every operation a
# plain relational one:
#
# * BUILD is one explode(×d) + partial-combined hash aggregate — at
#   most d·w cells per group cross the shuffle, independent of row
#   count or key cardinality (same contract as the HLL rows);
# * MERGE is GROUP BY (row, cell) SUM(count) — associative,
#   order-independent, drift-free, and expressible on STORED sketch
#   rows from any number of increments without re-scanning history;
# * ESTIMATE for a candidate key set is a join against ≤ d·w sketch
#   rows (broadcast-able by construction) + MIN over the d hashed
#   cells.  CMS never underestimates: est ≥ true count always, and
#   est ≤ true + ε·N with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
#
# Hashing: the default is ``xxhash64(key, row)`` (JVM codegen, fast).
# ``portable=True`` derives each cell from md5 hex — bit-identical
# across engines (the same trick as ``simhash64(portable_hash=True)``),
# which makes the ENTIRE sketch, not just its error bound, verifiable
# against a DuckDB oracle — the thing SURVEY §2.9 X39 documents as
# impossible for the DataSketches HLL binary state.


def _cms_cell(col: Column, row: int, w: int, portable: bool) -> Column:
    if portable:
        # first 15 md5 hex chars as a 60-bit int — cross-engine
        h = F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f"|{row}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(w)).cast("int")
    return F.pmod(F.xxhash64(col, F.lit(row)), F.lit(w)).cast("int")


def _cms_validate(d: int, w: int) -> None:
    if not 1 <= d <= 16:
        raise ValueError("cms: d (hash rows) must be in [1, 16]")
    if not 2 <= w <= 1 << 24:
        raise ValueError("cms: w (cells per row) must be in [2, 2^24]")


def cms_sketch_table(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    *,
    d: int = 4,
    w: int = 1024,
    portable: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch of ``key_col``'s frequencies as a
    (``group_cols`` +) ``row, cell, count`` table — the persistable
    building block; NULL keys are excluded (they have no frequency
    question to answer).  ``weight_col`` aggregates a weight per
    occurrence instead of 1 (e.g. pre-aggregated term counts).

    Only cells actually hit appear (sparse); absent cells are zero.
    d and w are structural — estimate/merge must use the same values.
    """
    _cms_validate(d, w)
    key = _c(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_cell(key, r, w, portable).alias("cell"),
            )
            for r in range(d)
        ]
    )
    wcol = (
        _c(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    exploded = (
        df.filter(key.isNotNull())
        .select(*group_cols, F.explode(pairs).alias("rc"), wcol.alias("__w"))
        .select(
            *group_cols,
            F.col("rc.row").alias("row"),
            F.col("rc.cell").alias("cell"),
            "__w",
        )
    )
    return exploded.groupBy(*group_cols, "row", "cell").agg(
        F.sum("__w").alias("count")
    )


def cms_merge(
    sketch_df: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Fold stored sketch rows (any number of increments, any
    grouping) into one sketch per ``group_cols``: GROUP BY SUM —
    associative and order-independent, so incremental folding is
    drift-free (pinned by tests)."""
    return sketch_df.groupBy(*group_cols, "row", "cell").agg(
        F.sum("count").alias("count")
    )


def cms_estimate(
    sketch_df: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    d: int = 4,
    w: int = 1024,
    portable: bool = False,
    estimate_col: str = "cms_count",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-frequency estimates for a candidate key set: re-hash each
    key to its d cells, left-join the sketch (≤ d·w rows per group —
    Spark broadcasts it from AQE size estimation), MIN over the d
    counts.  Keys whose cells were never hit estimate 0.  Output:
    ``group_cols + [key_col, estimate_col]`` (distinct keys).

    With ``group_cols`` the sketch must have been built with the SAME
    grouping and ``keys`` must carry the group columns — each (group,
    key) pair is estimated against its own group's sketch.

    d/w/portable MUST match the build — a mismatch silently hashes
    into the wrong cells, so estimates would still be ≥ 0 but
    meaningless; keep the build parameters with the stored sketch.
    """
    _cms_validate(d, w)
    gcols = list(group_cols)
    key = _c(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_cell(key, r, w, portable).alias("cell"),
            )
            for r in range(d)
        ]
    )
    probes = (
        keys.filter(key.isNotNull())
        .select(*gcols, key.alias(key_col))
        .distinct()
        .select(*gcols, key_col, F.explode(pairs).alias("rc"))
        .select(
            *gcols,
            key_col,
            F.col("rc.row").alias("row"),
            F.col("rc.cell").alias("cell"),
        )
    )
    joined = probes.join(
        sketch_df.select(*gcols, "row", "cell", "count"),
        on=[*gcols, "row", "cell"],
        how="left",
    ).select(
        *gcols, key_col, F.coalesce(F.col("count"), F.lit(0)).alias("__c")
    )
    return joined.groupBy(*gcols, key_col).agg(
        F.min("__c").alias(estimate_col)
    )


# ---------------------------------------------------------------------------
# Dyadic count-min sketch — mergeable QUANTILE state
# ---------------------------------------------------------------------------
#
# The quantile member of the sketch family (HLL = distinct, CMS =
# frequency): the dyadic range-sum construction from the same
# Cormode & Muthukrishnan 2005 paper (§4.2, range queries / quantiles).
# One CM sketch per dyadic LEVEL ℓ ∈ [0, bits]: level ℓ counts the key
# ``value >> ℓ`` (the value's length-(bits−ℓ) prefix), so any prefix
# interval [0, x] decomposes into ≤ bits dyadic nodes and
# ``rank(≤ x)`` is the SUM of ≤ bits point estimates; quantiles invert
# the rank.  Chosen over KLL/GK deliberately: their compaction state
# depends on merge ORDER, so "merge-order-invariant" can only hold
# approximately — this sketch is a pure (level, row, cell) → count SUM,
# so merges commute EXACTLY (same guarantee the HLL/CMS rows pin), and
# ``portable=True`` makes the whole thing — build, merge, rank descent
# — reproducible bit-for-bit in ANSI SQL (md5 cells + integer bit ops),
# which neither KLL nor GK state can offer an oracle.
#
# Error: each level's point estimate obeys the CMS bound
# (est ≥ true; est ≤ true + e/w·N w.p. 1−e^−d), and a rank sums ≤ bits
# nodes, so rank error ≤ bits·e/w·N with high probability — size w to
# the domain bits, not the row count.  State ≤ (bits+1)·d·w rows,
# independent of data size.
#
# Domain: non-negative integers in [0, 2^bits).  NULLs and
# out-of-domain values are EXCLUDED from the sketch (documented, like
# CMS NULL keys); quantize reals into the domain before sketching
# (e.g. round(price) or fixed-point cents), which is also what keeps
# the rank descent engine-portable.


def _dcs_validate(bits: int, d: int, w: int) -> None:
    _cms_validate(d, w)
    if not 1 <= bits <= 62:
        raise ValueError("dcs: bits (domain bits) must be in [1, 62]")


def _dcs_key(value: Column, level: int) -> Column:
    """Level-tagged prefix key: ``str(value >> level) + '@' + level`` —
    a plain string on both engines, so the portable md5 path and the
    fast xxhash64 path hash the identical key."""
    return F.concat(
        F.shiftright(value, level).cast("string"),
        F.lit(f"@{level}"),
    )


def dcs_sketch_table(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    *,
    bits: int = 20,
    d: int = 4,
    w: int = 1024,
    portable: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the dyadic quantile sketch of an integer column as a
    (``group_cols`` +) ``level, row, cell, count`` table.

    Cost shape: the explode is (bits+1)·d structs per input row — on
    raw corpus rows that is the dominant term, so pre-aggregate to
    (value, weight) pairs and pass ``weight_col`` whenever the distinct
    domain is much smaller than the row count (increments are additive,
    same argument as the CMS ``weight_col``); at most (bits+1)·d·w
    cells per group cross the shuffle either way.
    """
    _dcs_validate(bits, d, w)
    val = _c(value_col).cast("long")
    in_domain = (
        val.isNotNull() & (val >= 0) & (val < F.lit(1 << bits))
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(lv).alias("level"),
                F.lit(r).alias("row"),
                _cms_cell(_dcs_key(val, lv), r, w, portable).alias(
                    "cell"
                ),
            )
            for lv in range(bits + 1)
            for r in range(d)
        ]
    )
    wcol = (
        _c(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    exploded = (
        df.filter(in_domain)
        .select(
            *group_cols, F.explode(pairs).alias("lrc"), wcol.alias("__w")
        )
        .select(
            *group_cols,
            F.col("lrc.level").alias("level"),
            F.col("lrc.row").alias("row"),
            F.col("lrc.cell").alias("cell"),
            "__w",
        )
    )
    return exploded.groupBy(*group_cols, "level", "row", "cell").agg(
        F.sum("__w").alias("count")
    )


def dcs_merge(
    sketch_df: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Fold stored dyadic sketch rows: GROUP BY SUM — associative and
    order-independent, so incremental folding is EXACTLY drift-free
    (pinned by tests; this is the property KLL-style compaction cannot
    give)."""
    return sketch_df.groupBy(*group_cols, "level", "row", "cell").agg(
        F.sum("count").alias("count")
    )


def dcs_rank_leq(
    sketch_df: DataFrame,
    probes: DataFrame,
    value_col: str,
    *,
    bits: int = 20,
    d: int = 4,
    w: int = 1024,
    portable: bool = False,
    estimate_col: str = "dcs_rank_leq",
    group_cols: Sequence[str] = (),
    probes_are_distinct: bool = False,
) -> DataFrame:
    """Estimated rank (count of sketched values ≤ probe) for a probe
    set — fully relational: the prefix interval [0, x] decomposes as
    ``[0, x+1) = ⋃_{ℓ: bit ℓ of (x+1) set} node(level=ℓ,
    prefix=(x+1 >> ℓ) − 1)`` (the canonical dyadic split), each node is
    one CMS point estimate (min over d hashed cells against ≤
    (bits+1)·d·w broadcast-able sketch rows), and the rank is their
    SUM.  Never underestimates; overshoot ≤ bits·e/w·N w.h.p.

    d/w/bits/portable MUST match the build (same contract as
    :func:`cms_estimate`).  ``probes_are_distinct=True`` skips the
    defensive dedup of the probe set — a caller that constructs the
    grid itself (distinct groups × a value range) saves one shuffle
    stage; duplicates with it set would double-count nothing (the
    final groupBy collapses them) but waste join work.
    """
    _dcs_validate(bits, d, w)
    gcols = list(group_cols)
    val = _c(value_col).cast("long")
    y = val + F.lit(1)
    # one struct per (level with bit set, hash row); prefix key hashes
    # with the SAME _dcs_key tagging as the build
    nodes = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(lv).alias("level"),
                    F.lit(r).alias("row"),
                    F.when(
                        F.shiftright(y, lv).bitwiseAND(F.lit(1)) == 1,
                        _cms_cell(
                            F.concat(
                                (F.shiftright(y, lv) - 1).cast("string"),
                                F.lit(f"@{lv}"),
                            ),
                            r,
                            w,
                            portable,
                        ),
                    ).alias("cell"),
                )
                for lv in range(bits + 1)
                for r in range(d)
            ]
        ),
        lambda s: s["cell"].isNotNull(),
    )
    in_domain = (
        val.isNotNull() & (val >= 0) & (val < F.lit(1 << bits))
    )
    probe_vals = probes.filter(in_domain).select(
        *gcols, val.alias(value_col)
    )
    if not probes_are_distinct:
        probe_vals = probe_vals.distinct()
    probe_nodes = (
        probe_vals
        .select(*gcols, value_col, F.explode(nodes).alias("lrc"))
        .select(
            *gcols,
            value_col,
            F.col("lrc.level").alias("level"),
            F.col("lrc.row").alias("row"),
            F.col("lrc.cell").alias("cell"),
        )
    )
    joined = probe_nodes.join(
        sketch_df.select(*gcols, "level", "row", "cell", "count"),
        on=[*gcols, "level", "row", "cell"],
        how="left",
    ).select(
        *gcols,
        value_col,
        "level",
        "row",
        F.coalesce(F.col("count"), F.lit(0)).alias("__c"),
    )
    # min over the d hash rows per node, then sum the ≤ bits nodes
    per_node = joined.groupBy(*gcols, value_col, "level").agg(
        F.min("__c").alias("__node")
    )
    return per_node.groupBy(*gcols, value_col).agg(
        F.sum("__node").alias(estimate_col)
    )


def dcs_total(
    sketch_df: DataFrame,
    *,
    bits: int = 20,
    group_cols: Sequence[str] = (),
    total_col: str = "dcs_total",
) -> DataFrame:
    """EXACT sketched-row count per group, read from the root level:
    level ``bits`` has a single live key (prefix 0), so no other key
    can collide into its cells and min-over-rows is the true total."""
    gcols = list(group_cols)
    root = sketch_df.filter(F.col("level") == bits)
    return root.groupBy(*gcols).agg(F.min("count").alias(total_col))


def dcs_quantiles(
    sketch_df: DataFrame,
    qs: Sequence[float],
    *,
    bits: int = 20,
    d: int = 4,
    w: int = 1024,
    portable: bool = False,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile estimates from a (collected) dyadic sketch: for each q,
    the smallest domain value x with ``rank(≤ x) ≥ ⌈q·N⌉`` — found by
    descending the dyadic tree driver-side (one root-to-leaf walk per
    q: ``bits`` point estimates, each min-over-d dict lookups).

    The sketch state is BOUNDED (≤ groups·(bits+1)·d·w rows) by
    construction, so collecting it is a constant independent of data
    size — same contract as the IVF probe lists.  Output:
    ``group_cols + [q, value]``.  For a small domain an entirely
    in-plan alternative is composing :func:`dcs_rank_leq` over all
    2^bits probes; this walk is the general-domain path.
    """
    _dcs_validate(bits, d, w)
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"dcs_quantiles: q must be in (0, 1], got {q}")
    import hashlib
    import math

    gcols = list(group_cols)
    rows = sketch_df.select(
        *gcols, "level", "row", "cell", "count"
    ).collect()
    tables: dict = {}
    for r in rows:
        key = tuple(r[g] for g in gcols)
        tables.setdefault(key, {})[(r["level"], r["row"], r["cell"])] = r[
            "count"
        ]

    spark = sketch_df.sparkSession
    if portable:
        # md5 has an exact Python twin — the same first-15-hex-chars
        # derivation as _cms_cell's portable mode
        def cells_of(prefix: int, level: int) -> list:
            return [
                int(
                    hashlib.md5(
                        f"{prefix}@{level}|{r}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                % w
                for r in range(d)
            ]
    else:
        # Spark's seed-chained multi-arg xxhash64 has no cheap pure-
        # Python twin, so the fast path resolves a node's d cells
        # through one local 1-row Spark expression — the walk costs
        # O(bits) such lookups per quantile, each a driver-local job
        def cells_of(prefix: int, level: int) -> list:
            exprs = [
                F.pmod(
                    F.xxhash64(F.lit(f"{prefix}@{level}"), F.lit(r)),
                    F.lit(w),
                ).cast("int").alias(f"c{r}")
                for r in range(d)
            ]
            row = spark.range(1).select(*exprs).first()
            return [row[f"c{r}"] for r in range(d)]

    def node_est(tab: dict, prefix: int, level: int) -> int:
        return min(
            tab.get((level, r, c), 0)
            for r, c in enumerate(cells_of(prefix, level))
        )

    out = []
    for gkey, tab in sorted(tables.items(), key=lambda kv: str(kv[0])):
        # root: prefix 0 at level `bits` — exact N (single live key)
        total = node_est(tab, 0, bits)
        for q in qs:
            target = math.ceil(q * total)
            if target <= 0:
                out.append((*gkey, float(q), 0))
                continue
            # descend: at each level pick the child whose subtree
            # contains the target rank
            prefix, acc = 0, 0
            for level in range(bits - 1, -1, -1):
                left = prefix << 1
                left_count = node_est(tab, left, level)
                if acc + left_count >= target:
                    prefix = left
                else:
                    acc += left_count
                    prefix = left + 1
            out.append((*gkey, float(q), int(prefix)))
    schema_cols = [
        sketch_df.schema[g] for g in gcols
    ]
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [*schema_cols, StructField("q", DoubleType()),
         StructField("value", LongType())]
    )
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# Bloom filter — mergeable MEMBERSHIP state (no false negatives)
# ---------------------------------------------------------------------------
#
# The membership member of the sketch family (HLL = distinct, CMS =
# frequency, DCS = quantiles): Bloom 1970.  State is a packed bitset
# TABLE of (word, mask) rows — ``ceil(m/64)`` rows maximum, each an
# int64 whose bits are the filter's bits ``word*64 .. word*64+63`` —
# because in Spark that keeps every operation relational:
#
# * BUILD is one explode(×k) + partial-combined ``bit_or`` aggregate —
#   at most ceil(m/64) rows per group cross the shuffle, independent
#   of key count (same contract as the HLL/CMS/DCS rows above);
# * MERGE is GROUP BY word BIT_OR(mask) — bitwise OR is associative,
#   commutative, and IDEMPOTENT, so incremental folding is drift-free
#   and even replay-safe (folding the same increment twice is a no-op,
#   a stronger guarantee than the SUM-state sketches give);
# * MEMBERSHIP for a candidate key set is a join against ≤ ceil(m/64)
#   sketch rows (broadcast-able by construction) + AND over the k
#   probed bits.  "absent" is CERTAIN (no false negatives); "maybe"
#   is wrong with p ≈ (1 − e^{−kn/m})^k.
#
# Why this matters at 100 TB: membership against a billion-key history
# (an ingested-fingerprint catalog, a blocklist) normally costs an
# anti-join that ships the probe side to the history's partitioning.
# The bloom row-set is a fixed ``m/64 × 8``-byte broadcast — a 2^27-bit
# filter is 16 MB — so the definitely-absent majority of a fresh crawl
# is cleared WITHOUT touching the history at all, and only the maybes
# pay the exact anti-join (``operators/incremental.py::novel_documents``
# wires exactly that split).
#
# Hashing mirrors the CMS cells: ``xxhash64(key, i) % m`` by default,
# ``portable=True`` derives positions from md5 hex so the ENTIRE filter
# — build and probe — is reproducible bit-for-bit in any SQL engine.
# A DuckDB oracle need not replay the (word, mask) packing: membership
# depends only on the SET of positions hit, so ``SELECT DISTINCT pos``
# over the history keys joined against the probe positions is the
# value-exact twin (the packing itself is pinned by pytest).


def _bloom_validate(k: int, m: int) -> None:
    if not 1 <= k <= 16:
        raise ValueError("bloom: k (hash probes) must be in [1, 16]")
    if not 64 <= m <= 1 << 30:
        raise ValueError("bloom: m (bits) must be in [64, 2^30]")


def _bloom_pos(col: Column, i: int, m: int, portable: bool) -> Column:
    """Bit position of hash ``i`` for a key — int in [0, m)."""
    if portable:
        # first 15 md5 hex chars as a 60-bit int — cross-engine
        h = F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f"|{i}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(m)).cast("int")
    return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).cast("int")


def bloom_sketch_table(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    *,
    k: int = 5,
    m: int = 8192,
    portable: bool = False,
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` as a (``group_cols`` +)
    ``word, mask`` packed-bitset table — the persistable building
    block; NULL keys are excluded (they have no membership question to
    answer).  Only words with at least one set bit appear (sparse);
    absent words are all-zero.  k and m are structural —
    membership/merge must use the same values, so keep them stored
    with the sketch.
    """
    _bloom_validate(k, m)
    key = _c(key_col)
    positions = F.array(
        *[_bloom_pos(key, i, m, portable) for i in range(k)]
    )
    exploded = (
        df.filter(key.isNotNull())
        .select(*group_cols, F.explode(positions).alias("__pos"))
        .select(
            *group_cols,
            F.shiftright(F.col("__pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), __pos % 64)").alias(
                "__mask"
            ),
        )
    )
    return exploded.groupBy(*group_cols, "word").agg(
        F.bit_or("__mask").alias("mask")
    )


def bloom_merge(
    sketch_df: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Fold stored bloom rows (any number of increments, any grouping)
    into one filter per ``group_cols``: GROUP BY word BIT_OR —
    associative, order-independent, AND idempotent, so replaying an
    increment cannot corrupt the filter (pinned by tests)."""
    return sketch_df.groupBy(*group_cols, "word").agg(
        F.bit_or("mask").alias("mask")
    )


def bloom_maybe_contains(
    sketch_df: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    k: int = 5,
    m: int = 8192,
    portable: bool = False,
    result_col: str = "bloom_maybe",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Membership test for a candidate key set: re-hash each key to its
    k positions, left-join the filter's words (≤ ceil(m/64) rows per
    group — Spark broadcasts it from AQE size estimation), AND over
    the k probed bits.  ``result_col`` is true = "maybe present"
    (false-positive rate ≈ (1−e^{−kn/m})^k), false = "definitely
    absent" — the exact guarantee, which is why the false branch can
    short-circuit an anti-join.  Output: ``group_cols + [key_col,
    result_col]`` (distinct keys).

    With ``group_cols`` the filter must have been built with the SAME
    grouping and ``keys`` must carry the group columns.  k/m/portable
    MUST match the build — a mismatch probes the wrong bits and the
    no-false-negative guarantee is silently lost.

    Unmerged sketch rows (several increments' bloom tables unioned,
    duplicate ``word`` rows) are folded with :func:`bloom_merge`
    internally — a groupBy over the ≤ ceil(m/64)-row filter, so the
    probe join can never multiply key rows.
    """
    _bloom_validate(k, m)
    gcols = list(group_cols)
    sketch_df = bloom_merge(sketch_df, gcols)
    key = _c(key_col)
    positions = F.array(
        *[_bloom_pos(key, i, m, portable) for i in range(k)]
    )
    probes = (
        keys.filter(key.isNotNull())
        .select(*gcols, key.alias(key_col))
        .distinct()
        .select(*gcols, key_col, F.explode(positions).alias("__pos"))
        .select(
            *gcols,
            key_col,
            F.shiftright(F.col("__pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), __pos % 64)").alias(
                "__bit"
            ),
        )
    )
    joined = probes.join(
        sketch_df.select(*gcols, "word", "mask"),
        on=[*gcols, "word"],
        how="left",
    ).select(
        *gcols,
        key_col,
        (
            F.coalesce(F.col("mask"), F.lit(0)).bitwiseAND(F.col("__bit"))
            != 0
        ).alias("__hit"),
    )
    return joined.groupBy(*gcols, key_col).agg(
        F.min("__hit").alias(result_col)
    )


def bloom_filter_column(
    df: DataFrame,
    key_col: str,
    sketch_df: DataFrame,
    *,
    k: int = 5,
    m: int = 8192,
    portable: bool = False,
    result_col: str = "bloom_maybe",
) -> DataFrame:
    """Append a per-ROW membership verdict without regrouping: k
    broadcast hash joins of the row's probe words against the filter
    (≤ ceil(m/64) rows — explicitly broadcast), AND over the k bits.

    This is the ingest-path primitive: the input keeps its columns and
    its partitioning (no explode, no shuffle, no distinct), so a
    100 TB scan acquires the verdict at broadcast-join cost.  Use
    :func:`bloom_maybe_contains` when the question is about a KEY SET
    rather than rows.  NULL keys get a NULL verdict.

    Unmerged sketch rows (duplicate ``word`` rows from unioned
    increments) would multiply input rows through the per-probe join —
    :func:`bloom_merge` is applied internally (a groupBy over the
    ≤ ceil(m/64)-row filter) so the row count is join-invariant.
    """
    _bloom_validate(k, m)
    sketch_df = bloom_merge(sketch_df)
    key = _c(key_col)
    out = df
    hits = []
    for i in range(k):
        pos = _bloom_pos(key, i, m, portable)
        out = (
            out.withColumn(f"__bf_p{i}", pos)
            .withColumn(f"__bf_w{i}", F.shiftright(F.col(f"__bf_p{i}"), 6))
            .withColumn(
                f"__bf_b{i}",
                F.expr(f"shiftleft(CAST(1 AS BIGINT), __bf_p{i} % 64)"),
            )
        )
        probe = F.broadcast(
            sketch_df.select(
                F.col("word").alias(f"__bf_w{i}"),
                F.col("mask").alias(f"__bf_m{i}"),
            )
        )
        out = out.join(probe, on=f"__bf_w{i}", how="left")
        hits.append(
            F.coalesce(F.col(f"__bf_m{i}"), F.lit(0)).bitwiseAND(
                F.col(f"__bf_b{i}")
            )
            != 0
        )
    verdict = hits[0]
    for h in hits[1:]:
        verdict = verdict & h
    scratch = [c for i in range(k) for c in
               (f"__bf_p{i}", f"__bf_w{i}", f"__bf_b{i}", f"__bf_m{i}")]
    return out.withColumn(
        result_col, F.when(key.isNotNull(), verdict)
    ).drop(*scratch)


__all__ = [
    "hll_sketch",
    "hll_merge",
    "hll_estimate",
    "approx_distinct",
    "distinct_sketch_table",
    "rollup_sketches",
    "cms_sketch_table",
    "cms_merge",
    "cms_estimate",
    "dcs_sketch_table",
    "dcs_merge",
    "dcs_rank_leq",
    "dcs_total",
    "dcs_quantiles",
    "bloom_sketch_table",
    "bloom_merge",
    "bloom_maybe_contains",
    "bloom_filter_column",
]

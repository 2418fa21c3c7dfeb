"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Execution split: *plumbing* (tokenize, hash-to-int64, joins, set
intersections, aggregates) stays JVM-side and codegen'd; *per-element
numeric loops* (minwise signatures, band folding, SimHash bit votes)
run as Arrow-batched numpy kernels, because Spark evaluates
higher-order lambda expressions interpreted — a 64-pass minwise loop as
nested ``transform``/``aggregate`` costs ~10 µs per lambda evaluation,
10-50× a vectorized batch.  Shuffles carry 8-byte hashed elements and
ids, never shingle strings.  Design notes per operator:

* ``dedup_exact`` — one hash-aggregate shuffle on the key columns; the
  representative is ``min(id)`` so output is deterministic (unlike
  ``dropDuplicates``, which keeps an arbitrary row per key).
* ``minhash_near_duplicates`` — shingle → collapse identical sets →
  minhash/band kernel → payload-free band self-join → exact-Jaccard
  verify on candidates → expand to member pairs.  Default 16 bands ×
  4 rows: P[candidate] ≥ 99.97 % at s = 0.8, ≈ 0.2 % at s = 0.3.
* ``simhash32`` — 32-bit SimHash over the distinct token set
  (md5-derived per-token hash, so any ANSI-SQL engine reproduces the
  value bit-for-bit); ``simhash_expr`` is the pure-expression twin.
* ``exact_jaccard_pairs`` — inverted-index set-similarity join with
  identical-set collapse; the brute-force verify path and the oracle
  twin for the LSH pipeline.
* ``simhash_band_pairs`` / ``simhash_components`` — the SimHash column
  on the generic Hamming path (``fingerprint_band_pairs`` /
  ``fingerprint_components``), which every fingerprint family shares.

Every near-dup family runs the same three private steps:
``_band_self_join`` (candidate pairs of a banded table),
``_lift_components`` (fingerprint-graph closure → member components)
and ``_expand_rep_pairs`` (representative pairs → member pairs).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_toolz_spark.functions.text import tokens as text_tokens


def dedup_exact(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Deterministic exact dedup: one row per distinct key tuple.

    Returns ``key_cols + [id_col, n_copies]`` where ``id_col`` is the
    minimum id in the group (stable representative).  Single
    hash-aggregate; partial aggregation (map-side combine) keeps the
    shuffle proportional to the number of *distinct* keys.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------


def _distinct_tokens(text_col: Column | str) -> Column:
    return F.array_distinct(text_tokens(text_col))


def minhash_signature(
    text_col: Column | str,
    n_hashes: int = 64,
    *,
    pre_tokenized: bool = False,
) -> Column:
    """MinHash signature (array<bigint>) of the distinct token set.

    Hash family: ``xxhash64(token, i)`` for i in [0, n_hashes) — the
    extra literal column acts as the per-function seed.  The whole
    signature is one nested array expression: zero shuffles, fully
    codegen'd.  Pass ``pre_tokenized=True`` when ``text_col`` is already
    a distinct-token array column (avoids re-tokenizing per hash).
    """
    toks = (
        (F.col(text_col) if isinstance(text_col, str) else text_col)
        if pre_tokenized
        else _distinct_tokens(text_col)
    )

    # NB: the seed must be closed over via a factory, NOT a default arg
    # (``lambda t, i=i``) — a two-parameter lambda is interpreted by
    # transform() as (element, array_index), silently replacing the
    # seed with the element position.
    def _hash_fn(seed: int):
        return lambda t: F.xxhash64(t, F.lit(seed))

    return F.array(
        *[
            F.array_min(F.transform(toks, _hash_fn(i)))
            for i in range(n_hashes)
        ]
    )


def _band_hashes(signature: Column, bands: int, rows: int) -> Column:
    """Hash each band (slice of ``rows`` minhashes) to a single long."""
    return F.array(
        *[
            F.xxhash64(F.slice(signature, b * rows + 1, rows), F.lit(b))
            for b in range(bands)
        ]
    )


def _band_bucket_udf(n_hashes: int, bands: int, seed: int = 42):
    """Arrow-batched minhash → band-bucket kernel.

    Input: array<bigint> of per-element hashes (computed JVM-side with
    one ``xxhash64`` pass).  Output: array<bigint> of ``bands`` bucket
    ids; NULL for empty sets (posexplode then emits no rows, so empty
    docs never enter the band join).

    Spark's higher-order array functions are interpreted (no
    whole-stage codegen for lambda expressions), so a 64-function
    minwise pass over a shingle array costs 64 interpreted traversals
    per row.  Here the signature is one vectorized numpy broadcast —
    ``(a_i · h + b_i).min(axis=elems)`` over a 64×|set| uint64 grid —
    per Arrow batch, which is 10-50× faster and keeps the same
    deterministic output for a fixed ``seed``.
    """
    import random as _random

    from pyspark.sql.functions import pandas_udf

    rows = n_hashes // bands
    rng = _random.Random(seed)
    mult = np.array(
        [rng.getrandbits(63) | 1 for _ in range(n_hashes)], dtype=np.uint64
    )
    add = np.array(
        [rng.getrandbits(63) for _ in range(n_hashes)], dtype=np.uint64
    )
    fnv_prime = np.uint64(1099511628211)
    fnv_offset = np.uint64(1469598103934665603)

    @pandas_udf("array<bigint>")
    def band_buckets(hashed: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in hashed:
                if arr is None or len(arr) == 0:
                    out.append(None)
                    continue
                x = np.asarray(arr, dtype=np.int64).view(np.uint64)
                sig = (mult[:, None] * x[None, :] + add[:, None]).min(axis=1)
                sig = sig.reshape(bands, rows)
                acc = np.full(bands, fnv_offset, dtype=np.uint64)
                for j in range(rows):
                    acc = (acc ^ sig[:, j]) * fnv_prime
                out.append(acc.view(np.int64))
        return pd.Series(out)

    return band_buckets


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """|A∩B| / |A∪B| over distinct-element arrays (double)."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(F.array_union(tokens_a, tokens_b))
    return inter.cast("double") / union.cast("double")


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH, verified with exact Jaccard.

    Output: ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and exact
    shingle-set ``jaccard >= threshold`` (rounded to 6 for cross-engine
    equality).  Similarity is over distinct ``shingle``-word shingles
    (the Gopher/RefinedWeb-style near-dup definition): unigram sets
    saturate on small vocabularies — unrelated bag-of-words docs share
    most tokens — while shingle sets keep background similarity near 0.

    Plan, built for billion-doc corpora:

    1. **Collapse identical sets.**  Docs are grouped by a fingerprint
       of their sorted shingle set; LSH runs over one representative
       per distinct set.  A cluster of k byte-identical documents costs
       O(k) here instead of O(bands·k²) in the band join — the classic
       failure mode of LSH on real crawls, where exact duplicates are
       the biggest clusters.
    2. **Band join on representatives.**  The band table carries only
       (fingerprint, band, bucket) — signatures and shingle arrays are
       never duplicated through the explode/shuffle.  With default
       16 bands × 4 rows the collision threshold is (1/16)^(1/4) ≈ 0.5:
       P[candidate] ≈ 0.2 % at s = 0.3 and ≥ 99.97 % at s = 0.8.
    3. **Verify.**  Candidate representative pairs join back to their
       shingle arrays (|candidates| rows, not bands·|corpus|) for the
       exact-Jaccard gate.
    4. **Expand.**  Verified representative pairs fan back out to
       member id pairs; identical-set members pair up with
       jaccard = 1.0.  Output size is inherent to the data, and this
       stage is pure join fan-out — no re-hashing, no re-verify.
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    members, reps = _minhash_members_reps(
        df, id_col, text_col, shingle=shingle
    )
    members, reps = _persist_tracked(members, reps)
    verified_reps = _verified_rep_pairs(
        reps, threshold=threshold, n_hashes=n_hashes, bands=bands
    )
    return _expand_rep_pairs(verified_reps, members, block_cols=())


def _persist_tracked(
    members: DataFrame, reps: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Persist the per-doc and per-set frames of a near-dup pipeline.

    Both feed several downstream branches (band join sides, verify,
    expand); without a persist the shingling runs once per branch.
    MEMORY_AND_DISK so large corpora spill instead of OOM.  Both frames
    are registered with cache.track so long sessions can bulk-release
    them (cache.release) once the returned plan is materialized — the
    caller has no direct handle to these intermediates."""
    from data_toolz_spark.cache import persist

    return persist(members), persist(reps)


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, block_cols: Sequence[str]
) -> DataFrame:
    """Member pairs ``(id_a, id_b, jaccard)`` from verified
    representative pairs ``(*block_cols, fp_a, fp_b, jaccard)``.

    Each rep pair fans out to its members' id pairs; members of one
    identical set (same ``block_cols`` and ``__fp`` in ``members``,
    non-empty ``__elems``) pair up with jaccard 1.0.  Pure join
    fan-out — no re-hashing, no re-verify."""
    ids = members.select(*block_cols, "__fp", "__id")
    inter_pairs = (
        rep_pairs.join(
            ids.select(
                *block_cols,
                F.col("__fp").alias("fp_a"),
                F.col("__id").alias("__ida"),
            ),
            on=[*block_cols, "fp_a"],
        )
        .join(
            ids.select(
                *block_cols,
                F.col("__fp").alias("fp_b"),
                F.col("__id").alias("__idb"),
            ),
            on=[*block_cols, "fp_b"],
        )
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "jaccard",
        )
    )
    nonempty = members.filter(F.size("__elems") > 0).select(
        *block_cols, "__fp", "__id"
    )
    intra_cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    intra_cond.append(F.col("a.__fp") == F.col("b.__fp"))
    intra_cond.append(F.col("a.__id") < F.col("b.__id"))
    intra_pairs = (
        nonempty.alias("a")
        .join(nonempty.alias("b"), on=intra_cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter_pairs.unionByName(intra_pairs)


def _band_self_join(
    banded: DataFrame,
    key: str,
    band_cols: Sequence[str],
    *,
    pair: tuple[str, str],
    carry: Sequence[Column] = (),
) -> DataFrame:
    """Candidate pairs of a banded table: rows that agree on every
    ``band_cols`` column, with ``key`` ordered a < b, one row per key
    pair (named ``pair``) however many bands it shares.  ``carry`` are
    extra output columns over the ``a.``/``b.`` sides, e.g. a verify
    input computed before the pair dedup."""
    a, b = banded.alias("a"), banded.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in band_cols]
    cond.append(F.col(f"a.{key}") < F.col(f"b.{key}"))
    return (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{key}").alias(pair[0]),
            F.col(f"b.{key}").alias(pair[1]),
            *carry,
        )
        .dropDuplicates(list(pair))
    )


def _verified_rep_pairs(
    reps: DataFrame,
    *,
    threshold: float,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """Band join + exact-Jaccard verify over set REPRESENTATIVES:
    ``(fp_a, fp_b, jaccard)`` with ``fp_a < fp_b``.  The shared back
    half of the pair operator and the skew-safe component builder —
    candidate cost is rep-level by construction (identical sets
    collapsed upstream)."""
    candidates = _band_self_join(
        _rep_bands(reps, n_hashes=n_hashes, bands=bands),
        "__fp",
        ["__band", "__bucket"],
        pair=("fp_a", "fp_b"),
    )
    rep_sets = reps.select("__fp", "__elems")
    return _verify_jaccard(candidates, rep_sets, rep_sets, threshold)


def _rep_bands(reps: DataFrame, *, n_hashes: int, bands: int) -> DataFrame:
    """Band table ``(__fp, __band, __bucket)`` of set representatives:
    one row per representative and band.  Callers that band the same
    ``reps`` twice get one shuffle of it: the plans are equal, so the
    exchange is reused and the band kernel runs once."""
    bucketize = _band_bucket_udf(n_hashes, bands)
    return reps.select(
        "__fp",
        F.posexplode(bucketize(F.col("__elems"))).alias("__band", "__bucket"),
    )


def _verify_jaccard(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard gate on candidate set pairs ``(fp_a, fp_b)``:
    ``fp_a`` looks up its set in ``sets_a``, ``fp_b`` in ``sets_b``
    (both ``(__fp, __elems)``).  Returns ``(fp_a, fp_b, jaccard)`` for
    the pairs at ``jaccard >= threshold``, rounded to 6 for
    cross-engine equality."""
    return (
        candidates.join(
            sets_a.select(
                F.col("__fp").alias("fp_a"), F.col("__elems").alias("elems_a")
            ),
            on="fp_a",
        )
        .join(
            sets_b.select(
                F.col("__fp").alias("fp_b"), F.col("__elems").alias("elems_b")
            ),
            on="fp_b",
        )
        .withColumn(
            "jaccard", F.round(jaccard(F.col("elems_a"), F.col("elems_b")), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("fp_a", "fp_b", "jaccard")
    )


def minhash_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
) -> DataFrame:
    """Near-duplicate component map ``(id, component)`` WITHOUT ever
    materializing member pairs — the skew-safe drop-list/split path.

    ``minhash_near_duplicates`` + ``connected_components`` computes the
    same map through the expanded member-pair graph, which is k² edges
    for a k-member identical cluster: a 1M-copy crawl artifact (error
    page, empty doc) would put 5·10¹¹ edges through the CC loop.  Here
    the transitive closure runs over the FINGERPRINT graph (one node
    per distinct shingle set, edges = verified rep pairs — skew-free by
    construction), and members join in once at the end to pick up their
    component and its min-member label: O(corpus) rows, never O(pairs).

    Output parity: exactly ``connected_components(
    minhash_near_duplicates(df, …))`` — same (id, component) rows, same
    min-member-id component labels — pinned by tests.  Docs in no
    near-dup relation (singleton sets, empty shingle sets) do not
    appear, matching the pair-graph semantics.  Compose downstream:
    drop list = ``filter(id != component)``; leakage-safe split =
    ``component_split(components=…)``.
    """
    if n_hashes % bands != 0:
        raise ValueError("n_hashes must be divisible by bands")
    members, reps = _minhash_members_reps(
        df, id_col, text_col, shingle=shingle
    )
    members, reps = _persist_tracked(members, reps)
    nonempty_reps = reps.filter(F.size("__elems") > 0)
    vr = _verified_rep_pairs(
        nonempty_reps, threshold=threshold, n_hashes=n_hashes, bands=bands
    )
    mem = members.filter(F.size("__elems") > 0).select("__id", "__fp")
    return _lift_components(vr, nonempty_reps, mem)


def _lift_components(
    fp_pairs: DataFrame, fps: DataFrame, members: DataFrame
) -> DataFrame:
    """Member component map ``(id, component)`` from the fingerprint
    graph: ``fp_pairs`` ``(fp_a, fp_b)`` are its verified edges,
    ``fps`` ``(__fp, __cnt)`` its nodes with their member counts,
    ``members`` ``(__id, __fp)`` one row per document.

    The transitive closure runs over fingerprints (a k-copy cluster is
    ONE node); members join in once and take their component's
    min-member id as label — O(corpus) rows, never O(pairs)."""
    # fp-level components; identical clusters (__cnt > 1) with no
    # cross-fp edge are their own component — their members form a
    # clique in the pair graph
    fp_cc = connected_components(fp_pairs, id_a="fp_a", id_b="fp_b")
    lone_multi = fps.filter(F.col("__cnt") > 1).select(
        F.col("__fp").alias("id"), F.col("__fp").alias("component")
    )
    fp_comp = (
        fp_cc.unionByName(lone_multi)
        .groupBy("id")
        .agg(F.min("component").alias("__fpc"))
    )
    tagged = members.join(
        fp_comp, on=members["__fp"] == fp_comp["id"]
    ).select("__id", "__fpc")
    from pyspark.sql.window import Window

    w = Window.partitionBy("__fpc")
    return tagged.select(
        F.col("__id").alias("id"),
        F.min("__id").over(w).alias("component"),
    )


def _minhash_members_reps(
    df: DataFrame, id_col: str, text_col: str, *, shingle: int
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the MinHash pipeline: per-doc hashed shingle
    sets plus one representative per DISTINCT set.

    Shingles are hashed to int64 immediately (one xxhash64 pass): every
    downstream shuffle/join/intersect moves 8-byte longs, never string
    arrays.  Jaccard on hashed sets equals Jaccard on string sets up to
    64-bit collisions (~1e-10 at 1e5 distinct shingles); the set
    fingerprint stays a hash of the *string* array.  Also the basis of
    the persistent incremental index (operators.incremental) — the
    fingerprint/element hashing must stay bit-stable across runs.
    """
    if shingle > 1:
        from data_toolz_spark.functions.text import word_shingles

        elems_expr = F.array_sort(
            F.array_distinct(word_shingles(text_col, shingle))
        )
    else:
        elems_expr = F.array_sort(_distinct_tokens(text_col))

    from data_toolz_spark.operators._util import spread

    members = spread(df).select(
        F.col(id_col).alias("__id"),
        F.xxhash64(elems_expr).alias("__fp"),
        F.transform(elems_expr, lambda e: F.xxhash64(e)).alias("__elems"),
    )
    reps = members.groupBy("__fp").agg(
        F.min("__id").alias("__rid"),
        F.any_value("__elems").alias("__elems"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    return members, reps


#: Normalized-edge count up to which ``connected_components`` runs
#: driver-side union-find over one bounded collect (256k edges ≈ 4 MB
#: of longs) instead of the distributed star loop; tests set it to 0
#: to force the loop.
_LOCAL_CC_CAP = 1 << 18


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an edge list — alternating large-star
    / small-star (Kiveris et al., "Connected Components in MapReduce
    and Beyond"), the standard O(log d)-round distributed CC.

    Output: ``(id, component)`` for every node appearing in ``pairs``,
    where ``component`` is the minimum id in the node's component
    (roots map to themselves).

    Each round is two grouped aggregates over the edge set:

    * **large-star** — for each node u, connect every *larger* neighbor
      to m = min(Γ(u) ∪ {u}); run over the symmetrized neighborhood.
    * **small-star** — orient edges large→small; for each u, connect
      its smaller neighbors and itself to their minimum.

    Both stars strictly shrink the forest toward star graphs rooted at
    component minima; convergence (edge set unchanged) is detected via
    a count + order-independent hash signature, so the driver loop does
    O(log d) tiny actions, never ``collect()``ing edges.  Edges shuffle
    as bare (long, long) pairs throughout.

    Cost shape (r5 tightening):

    * the input pair frame is scanned ONCE — the normalized pairs are
      checkpointed and both the edge set and the final isolated-node
      set derive from that checkpoint.  (Previously the isolated-node
      anti-join re-read ``pairs``, silently re-running the entire
      upstream pipeline — e.g. a full MinHash-LSH pass — a second
      time when the caller had not persisted it.)
    * each round schedules ONE job — the lineage-truncating checkpoint
      is lazy and the signature aggregate is the action that
      materializes it — and three exchanges: large-star's output ships
      to small-star WITHOUT its own distinct (small-star's
      min-aggregate is duplicate-insensitive and its trailing distinct
      restores edge uniqueness before the signature).
    * when the NORMALIZED edge list is at most ``_LOCAL_CC_CAP`` rows
      (known from the same pre-pass aggregate the loop needed
      anyway), the transitive closure runs as driver-side union-find
      over one bounded collect instead of O(log d) distributed rounds
      — a few hundred verified near-dup edges do not need five
      3-exchange jobs of pure scheduling overhead.  The output is the
      identical (id, component-min) mapping (union-find by min label
      is order-independent), and the bound (256k edges ≈ 4 MB of
      longs) is far below driver limits; a real crawl's edge set
      exceeds it and takes the distributed loop.
    """
    spark = pairs.sparkSession

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            # xor-fold: order-independent, overflow-free (edges are
            # distinct, so cancellation needs a real hash collision)
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        # no trailing distinct: the only consumer is small_star, whose
        # min() aggregate ignores duplicate (u, v) rows and whose own
        # distinct restores uniqueness; skipping it saves one full
        # edge shuffle per round (duplicates here are cross-group
        # collisions on (v, m), bounded by the pre-contraction degree)
        return (
            sym.join(m, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input oriented u > v; group the small neighbors per u
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            e.join(m, on="u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return (
            moved.unionAll(self_edge)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # Iterative plans MUST truncate lineage each round — persist alone
    # keeps the logical plan growing (stack overflow by ~10 rounds).
    # The truncation is lazy: the signature aggregate right after is
    # the action that materializes it, so each round schedules ONE
    # job, not a checkpoint job plus a signature job.
    from data_toolz_spark.operators._util import truncate_lineage

    # One pass over the (possibly expensive) input: normalized pairs —
    # self-pairs retained so isolated nodes survive — checkpointed,
    # then the loop's edge set and the final node set both read the
    # checkpoint instead of the caller's lineage.
    base = truncate_lineage(
        pairs.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .select(F.least("a", "b").alias("v"), F.greatest("a", "b").alias("u"))
        .select("u", "v")  # u >= v invariant (large → small)
        .distinct()
    )
    # one pre-pass aggregate yields BOTH the total normalized-edge
    # count (the local-path bound) and the non-self edge signature the
    # loop's convergence test starts from
    pre = base.select(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(
            F.when(F.col("u") != F.col("v"), 1).otherwise(0)
        ).alias("n_edges"),
        F.coalesce(
            F.expr(
                "bit_xor(CASE WHEN u != v THEN xxhash64(u, v) END)"
            ),
            F.lit(0),
        ).alias("h"),
    ).collect()[0]
    n_all = int(pre["n_all"] or 0)
    if n_all <= _LOCAL_CC_CAP:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in base.collect():
            u, v = int(row["u"]), int(row["v"])
            for node in (u, v):
                if node not in parent:
                    parent[node] = node
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by MIN label so every root is its component's
                # minimum — the star loop's fixed-point labeling
                lo, hi = min(ru, rv), max(ru, rv)
                parent[hi] = lo
        if not parent:
            return spark.createDataFrame([], "id long, component long")
        import pandas as pd

        out = pd.DataFrame(
            sorted((x, find(x)) for x in parent),
            columns=["id", "component"],
        ).astype("int64")
        return spark.createDataFrame(out)
    cur = base.filter(F.col("u") != F.col("v"))
    cur_sig = (int(pre["n_edges"] or 0), int(pre["h"]))
    converged = False
    for _ in range(max_iterations):
        nxt = truncate_lineage(small_star(large_star(cur)))
        nxt_sig = signature(nxt)
        if nxt_sig == cur_sig:
            cur = nxt
            converged = True
            break
        cur, cur_sig = nxt, nxt_sig
    if not converged:
        # A partial fixed point is a WRONG (id, component) mapping —
        # near_duplicate_drop_list would silently corrupt the drop
        # list.  Star contraction halves component diameter per round,
        # so 25 rounds cover diameters up to ~2^25; hitting this means
        # pathological data or too-low max_iterations.
        raise RuntimeError(
            "connected_components did not converge within "
            f"{max_iterations} iterations; raise max_iterations "
            "(rounds needed ~ log2 of the largest component diameter)"
        )
    # fixed point: every edge is (node, component-min); roots self-map
    members = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    isolated = (
        base.select(F.explode(F.array("u", "v")).alias("id"))
        .distinct()
        .join(members.select("id"), on="id", how="left_anti")
        .join(roots.select("id"), on="id", how="left_anti")
        .withColumn("component", F.col("id"))
    )
    return members.unionByName(roots).unionByName(isolated).distinct()


def near_duplicate_drop_list(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep-lowest-id dedup policy over near-dup pairs.

    Clusters are the TRUE transitive closure via
    ``connected_components``; every non-minimum member of a component
    is dropped — correct even when the pair relation only covers
    clusters through chains (a~b, b~c but never a~c).
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    return cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("drop_id")
    )


def component_representatives(
    components: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "id",
    component_col: str = "component",
    score_col: str,
    keep_highest: bool = True,
    salt_buckets: int = 16,
) -> DataFrame:
    """Quality-aware canonical member per near-dup cluster: instead of
    the min-id policy (:func:`near_duplicate_drop_list` — right for
    determinism, blind to content), keep the member with the BEST
    score — what production dedup actually wants, since near-dup
    clusters mix clean originals with boilerplate-wrapped or truncated
    copies and "lowest id" keeps whichever crawled first.  Feed it any
    per-doc signal: ``quality_score``, ``bg_nll``
    (``keep_highest=False`` — lower perplexity is better), token
    count, PageRank.

    Selection is deterministic: best score, ties → smallest id;
    members missing from ``scores`` (or with NULL score) sort LAST, so
    an unscored copy never beats a scored one and an all-unscored
    cluster falls back to exactly the min-id policy.  ``scores`` must
    carry ONE row per id: the membership joins it by id, so a
    duplicate id would multiply its member's row (pre-aggregate
    upstream — forcing a defensive groupBy here would shuffle the
    corpus-sized score frame on every call).

    Scale shape: the argmax-per-component runs as the same two-stage
    skew-safe top-1 as ``cap_per_domain`` (stage 1 within
    ``(component, salt)``, stage 2 over the ≤ ``salt_buckets``
    finalists), so a mega-cluster — the known failure mode of
    real-world LSH graphs — never pins one task.  The winner map
    (one row per component) then equi-joins back onto the membership;
    AQE's skew-join split handles the mega-component's member side.

    Output: ``(id_col, component_col, kept_id, kept_score)`` — one row
    per MEMBER; the drop list is ``id != kept_id``, the keep list is
    the distinct ``kept_id``.
    """
    if salt_buckets < 1:
        raise ValueError(
            "component_representatives: salt_buckets must be >= 1"
        )
    from data_toolz_spark.operators._util import skew_safe_top_n

    direction = (
        F.desc_nulls_last(score_col)
        if keep_highest
        else F.asc_nulls_last(score_col)
    )
    scored = components.select(
        F.col(id_col), F.col(component_col)
    ).join(
        scores.select(
            F.col(id_col), F.col(score_col)
        ),
        on=id_col,
        how="left",
    )
    kept = skew_safe_top_n(
        scored,
        partition_by=[component_col],
        order_by=[direction, F.asc(id_col)],
        n=1,
        salt=F.xxhash64(F.col(id_col)),
        salt_buckets=salt_buckets,
    ).select(
        F.col(component_col),
        F.col(id_col).alias("kept_id"),
        F.col(score_col).alias("kept_score"),
    )
    return components.select(F.col(id_col), F.col(component_col)).join(
        kept, on=component_col, how="inner"
    ).select(id_col, component_col, "kept_id", "kept_score")


def quality_aware_drop_list(
    pairs: DataFrame,
    scores: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "id",
    score_col: str,
    keep_highest: bool = True,
) -> DataFrame:
    """Drop list that keeps the BEST-scoring member of every near-dup
    cluster: transitive closure over ``pairs``
    (:func:`connected_components`), then
    :func:`component_representatives` — the quality-aware twin of
    ``near_duplicate_drop_list``.  Output: ``drop_id``.
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    reps = component_representatives(
        cc,
        scores.select(F.col(id_col).alias("id"), F.col(score_col)),
        id_col="id",
        component_col="component",
        score_col=score_col,
        keep_highest=keep_highest,
    )
    return reps.filter(F.col("id") != F.col("kept_id")).select(
        F.col("id").alias("drop_id")
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_cols: Sequence[str],
    threshold: float,
    shingle: int = 1,
) -> DataFrame:
    """Exact-Jaccard pairs via an inverted-index (set-similarity) join.

    Instead of the naive blocked O(block²) cross join with per-pair
    ``array_intersect``, the shingle sets are exploded into an inverted
    index ``(block, element, id, set_size)``; a self-join on
    ``(block, element)`` followed by a count aggregate yields the
    intersection size per candidate pair, and
    ``J = inter / (|A| + |B| - inter)`` finishes the job.  Pairs that
    share no element never materialize, so with ``threshold > 0`` this
    is equivalent to — and at scale orders of magnitude cheaper than —
    the cross join (standard inverted-index set-similarity join; see
    e.g. the PPJoin family).  Requires ``threshold > 0``.

    ``block_cols`` bound the index (same language, length bucket, …);
    ``shingle > 1`` compares n-word-shingle sets instead of token sets.
    The PPJoin length bound (prune pairs whose size ratio is below
    ``threshold`` before the count aggregate) is not applied: on sf0.1
    its gain at θ=0.05 and θ=0.8 stayed inside the run-to-run spread
    (BASELINE.md).
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 for the inverted-index join")
    from data_toolz_spark.functions.text import word_shingles

    elems = F.array_sort(
        _distinct_tokens(text_col)
        if shingle == 1
        else F.array_distinct(word_shingles(text_col, shingle))
    )
    from data_toolz_spark.operators._util import spread

    blocks = [F.col(c) for c in block_cols]
    # hash elements to int64 up front: the inverted index explodes one
    # row per element, so 8-byte keys instead of shingle strings cut
    # the index shuffle by ~an order of magnitude
    members = spread(df).select(
        *blocks,
        F.col(id_col).alias("__id"),
        F.xxhash64(*blocks, elems).alias("__fp"),
        F.transform(elems, lambda e: F.xxhash64(e)).alias("__elems"),
    )
    # collapse identical sets (within a block) to one representative:
    # a cluster of k identical docs costs O(k) instead of inflating the
    # inverted index with k copies of every element
    reps = members.groupBy(*block_cols, "__fp").agg(
        F.any_value("__elems").alias("__elems"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    members, reps = _persist_tracked(members, reps)
    index = reps.select(
        *block_cols,
        "__fp",
        F.size("__elems").alias("__n"),
        F.explode("__elems").alias("__elem"),
    )
    a, b = index.alias("a"), index.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond.append(F.col("a.__elem") == F.col("b.__elem"))
    cond.append(F.col("a.__fp") < F.col("b.__fp"))
    pair_inter = (
        a.join(b, on=cond)
        .groupBy(
            *[F.col(f"a.{c}").alias(c) for c in block_cols],
            F.col("a.__fp").alias("fp_a"),
            F.col("b.__fp").alias("fp_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    rep_pairs = pair_inter.select(
        *block_cols,
        "fp_a",
        "fp_b",
        F.round(
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return _expand_rep_pairs(rep_pairs, members, block_cols)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _token_hash32(token: Column) -> Column:
    """Engine-portable 32-bit token hash: first 8 hex chars of md5.

    Chosen over xxhash64 so ANSI-SQL oracles (DuckDB etc.) can
    reproduce SimHash values exactly; swap for ``F.xxhash64`` when
    cross-engine equality is not required.
    """
    return F.conv(F.substring(F.md5(F.encode(token, "UTF-8")), 1, 8), 16, 10).cast(
        "long"
    )


def simhash_expr(text_col: Column | str) -> Column:
    """32-bit SimHash as a pure JVM expression (reference formulation).

    bit b of the result = 1 iff Σ_tokens (2·bit_b(hash(tok)) - 1) > 0.
    One aggregate expression per row: fold the token array into a
    32-slot sign-count array, then repack the sign bits.  Kept as the
    no-Python formulation; ``simhash32`` below computes the identical
    value through an Arrow batch (faster — higher-order lambdas are
    interpreted, md5+conv per token×bit adds up).
    """
    toks = _distinct_tokens(text_col)
    zero = F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS)
    bit_votes = F.aggregate(
        toks,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
                lambda b: F.getbit(_token_hash32(t), b) * 2 - 1,
            ),
            lambda x, y: x + y.cast("long"),
        ),
    )
    # pack sign bits: bit b contributes 2^b when the vote is positive
    # (pow-based because shiftleft needs a literal count; 2^b is exact
    # in double for b < 53)
    packed = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda vote, b: F.when(
                vote > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return packed


def _simhash32_kernel(toks: pd.Series) -> pd.Series:
    """Arrow-batched SimHash kernel — same md5-derived value as
    ``simhash_expr`` / the ANSI-SQL oracle, bit for bit."""
    import hashlib

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    out = []
    for arr in toks:
        if arr is None:
            out.append(None)
            continue
        votes = np.zeros(SIMHASH_BITS, dtype=np.int64)
        for t in arr:
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
            votes += 2 * ((h >> bit_idx) & 1) - 1
        out.append(int(((votes > 0).astype(np.int64) << bit_idx).sum()))
    return pd.Series(out, dtype="object")


def simhash32(text_col: Column | str) -> Column:
    """32-bit SimHash of the distinct token set (bigint).

    Value-identical to ``simhash_expr`` (verified in tests) but
    computed per Arrow batch with numpy bit math — the hot path for
    corpus-wide fingerprinting.
    """
    from pyspark.sql.functions import pandas_udf

    kernel = pandas_udf(_simhash32_kernel, "long")
    return kernel(_distinct_tokens(text_col))


def _token_hash64_portable(token: Column) -> Column:
    """Engine-portable 64-bit token hash: first 16 hex chars of md5,
    assembled from two 32-bit halves (a single conv of 16 hex chars
    overflows the signed-long cast for values ≥ 2⁶³)."""
    hex16 = F.substring(F.md5(F.encode(token, "UTF-8")), 1, 16)
    hi = F.conv(F.substring(hex16, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex16, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _simhash64_kernel_udf():
    """Arrow-batched 64-bit SimHash from per-token int64 hashes.

    Token hashing stays JVM-side (codegen'd md5/xxhash64); the kernel
    only does the bit-vote fold — one (|tokens| × 64) numpy broadcast
    per row instead of 64 interpreted lambda passes.
    """
    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(64, dtype=np.uint64)

    @pandas_udf("long")
    def kernel(hashed: pd.Series) -> pd.Series:
        out = []
        for arr in hashed:
            if arr is None:
                out.append(None)
                continue
            x = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if len(x) == 0:
                out.append(0)
                continue
            bits = (x[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            packed = int(
                ((votes > 0).astype(np.uint64) << bit_idx).sum(
                    dtype=np.uint64
                )
            )
            if packed >= 1 << 63:  # two's-complement into signed long
                packed -= 1 << 64
            out.append(packed)
        return pd.Series(out, dtype="object")

    return kernel


def simhash64(
    text_col: Column | str, *, portable_hash: bool = True
) -> Column:
    """64-bit SimHash of the distinct token set (bigint) — the SCALE
    fingerprint for band blocking (``simhash32`` saturates: ~10-11 bits
    per pigeonhole block ⇒ quadratic candidates on large corpora).

    ``portable_hash=True`` derives per-token hashes from md5 (first 16
    hex chars), so any ANSI-SQL engine reproduces the fingerprint bit
    for bit; ``False`` uses ``xxhash64`` — faster, Spark-only.
    """
    toks = _distinct_tokens(text_col)
    token_hash = (
        _token_hash64_portable
        if portable_hash
        else (lambda t: F.xxhash64(t))
    )
    kernel = _simhash64_kernel_udf()
    return kernel(F.transform(toks, token_hash))


def _simhash_frame(
    df: DataFrame, id_col: str, text_col: str, bits: int, portable_hash: bool
) -> DataFrame:
    """``(__id, __sh)``: the ``bits``-wide SimHash column that the
    generic Hamming band path runs on."""
    if bits == 32:
        fingerprint = simhash32(text_col)
    elif bits == 64:
        fingerprint = simhash64(text_col, portable_hash=portable_hash)
    else:
        raise ValueError("bits must be 32 or 64")
    return df.select(F.col(id_col).alias("__id"), fingerprint.alias("__sh"))


def simhash_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 2,
    n_blocks: int | None = None,
    bits: int = SIMHASH_BITS,
    portable_hash: bool = True,
) -> DataFrame:
    """SimHash component map ``(id, component)`` without materializing
    member pairs — the skew-safe drop-list path.

    Both the candidate join AND the output of ``simhash_band_pairs``
    are k² for k identical documents (identical fingerprints collide
    in every block); this is :func:`fingerprint_components` over the
    SimHash column, so band blocking runs over DISTINCT fingerprints
    (one node each), the transitive closure runs on the fingerprint
    graph, and members join in once for their component's min-member
    label.  Output parity with ``connected_components(
    simhash_band_pairs(df, …))`` is pinned by tests — including the
    same treatment of equal-fingerprint clusters (hamming 0 pairs in
    the pair graph ⇒ one fp-node component here).
    """
    return fingerprint_components(
        _simhash_frame(df, id_col, text_col, bits, portable_hash),
        "__id",
        "__sh",
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        bits=bits,
    )


def simhash_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 2,
    n_blocks: int | None = None,
    bits: int = SIMHASH_BITS,
    portable_hash: bool = True,
) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ ``max_hamming`` — band
    blocking, EXACT by pigeonhole (:func:`fingerprint_band_pairs` over
    the SimHash column).

    ``bits=32`` (default) keeps the cross-engine md5-derived
    fingerprint; ``bits=64`` is the SCALE setting — a 32-bit
    fingerprint gives each pigeonhole block only ~10-11 bits, so on
    ~10⁵+ docs the buckets saturate and candidate volume goes
    quadratic (311 M pairs at 100 k docs, SCALE_PROBE.md), while 64-bit
    blocks carry ~21 bits each and keep buckets sparse into the
    billions.  With ``bits=64``, ``portable_hash`` picks the per-token
    hash: True (default) = md5-derived (any ANSI-SQL engine reproduces
    the fingerprint), False = ``xxhash64`` (fastest; Spark-only).

    The metadata-blocked O(block²) variant survives as the brute-force
    oracle twin (``simhash_near_duplicates``).
    """
    return fingerprint_band_pairs(
        _simhash_frame(df, id_col, text_col, bits, portable_hash),
        "__id",
        "__sh",
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        bits=bits,
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 2,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Pairs whose SimHash Hamming distance ≤ ``max_hamming``.

    Blocked self-join + ``bit_count(xor)`` verify.  Brute-force oracle
    twin of ``simhash_band_pairs`` (the band-blocked scale path —
    exact via pigeonhole, use that by default).
    """
    base = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("__id"),
        simhash32(text_col).alias("__sh"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond.append(F.col("a.__id") < F.col("b.__id"))
    return (
        a.join(b, on=cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _hamming_block_bounds(
    max_hamming: int, n_blocks: int | None, bits: int
) -> list[tuple[int, int]]:
    """(lo, width) per pigeonhole block over a ``bits``-wide
    fingerprint — two fingerprints within ``max_hamming`` must agree
    on at least one whole block when ``n_blocks >= max_hamming + 1``
    (lossless blocking)."""
    n_blocks = n_blocks or (max_hamming + 1)
    if n_blocks < max_hamming + 1:
        raise ValueError(
            "n_blocks must be >= max_hamming + 1 for exact recall"
        )
    if n_blocks > bits:
        # width-0 blocks would all collide on value 0 — every doc pair
        # becomes a candidate and the join silently degrades to O(n²)
        raise ValueError(f"n_blocks must be <= bits ({bits})")
    bounds = []
    per, extra, lo = bits // n_blocks, bits % n_blocks, 0
    for b in range(n_blocks):
        width = per + (1 if b < extra else 0)
        bounds.append((lo, width))
        lo += width
    return bounds


def _hamming_block_vals(
    fp_name: str, max_hamming: int, n_blocks: int | None, bits: int
) -> Column:
    """Array of per-block values extracted from fingerprint column
    ``fp_name`` via shiftrightunsigned + mask (bitwise AND, not %:
    modulo is sign-preserving and the top block of a 64-bit
    fingerprint has the sign bit set)."""
    # width == 64 (max_hamming=0, n_blocks=1 — the exact-match case):
    # (1 << 64) - 1 overflows a long literal; -1 is the same all-ones
    # mask in two's complement
    return F.array(
        *[
            F.shiftrightunsigned(F.col(fp_name), lo).bitwiseAND(
                F.lit(-1 if width >= 64 else (1 << width) - 1)
            )
            for lo, width in _hamming_block_bounds(
                max_hamming, n_blocks, bits
            )
        ]
    )


def fingerprint_band_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    bits: int = 64,
) -> DataFrame:
    """Hamming-near pairs ``(id_a, id_b, hamming)`` over an ARBITRARY
    precomputed integer fingerprint column.  Exact by pigeonhole: with
    ``n_blocks >= max_hamming + 1`` contiguous bit blocks, any pair
    within ``max_hamming`` agrees on at least one whole block, so the
    (block_idx, block_value) self-join finds every qualifying pair and
    one ``bit_count(xor)`` verifies each candidate.  Serves every
    Hamming-space fingerprint family — SimHash
    (:func:`simhash_band_pairs`), perceptual image hashes (aHash/dHash,
    ``operators/image_dedup.py``), audio chromaprints — with the same
    scale shape: the band table carries (id, block_idx, block_value)
    longs only and candidate volume is Σ|bucket|² over blocks, never
    |corpus|².
    """
    base = df.select(
        F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")
    )
    banded = base.select(
        "__id",
        "__fp",
        F.posexplode(
            _hamming_block_vals("__fp", max_hamming, n_blocks, bits)
        ).alias("__blk", "__val"),
    )
    return _band_self_join(
        banded,
        "__id",
        ["__blk", "__val"],
        pair=("id_a", "id_b"),
        carry=[
            F.bit_count(
                F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))
            ).alias("hamming")
        ],
    ).filter(F.col("hamming") <= max_hamming)


def fingerprint_components(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    *,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    bits: int = 64,
) -> DataFrame:
    """Component map ``(id, component)`` for an arbitrary fingerprint
    column without materializing member pairs — the skew-safe path
    (:func:`simhash_components` runs it on the SimHash column).  k
    identical fingerprints produce k² pairs in the pair path; here
    banding and the transitive closure run over DISTINCT fingerprints
    (one node each, so a 20k-copy mega-cluster is ONE node), and
    members join in once for their component's min-member label.
    """
    base = df.select(
        F.col(id_col).alias("__id"), F.col(fp_col).alias("__fp")
    )
    fps = base.groupBy("__fp").agg(F.count(F.lit(1)).alias("__cnt"))
    banded = fps.select(
        "__fp",
        F.posexplode(
            _hamming_block_vals("__fp", max_hamming, n_blocks, bits)
        ).alias("__blk", "__val"),
    )
    fp_pairs = (
        _band_self_join(
            banded, "__fp", ["__blk", "__val"], pair=("fp_a", "fp_b")
        )
        .withColumn(
            "__ham",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))),
        )
        .filter(F.col("__ham") <= max_hamming)
    )
    return _lift_components(fp_pairs, fps, base)


__all__ = [
    "dedup_exact",
    "minhash_signature",
    "minhash_near_duplicates",
    "minhash_components",
    "near_duplicate_drop_list",
    "component_representatives",
    "quality_aware_drop_list",
    "connected_components",
    "exact_jaccard_pairs",
    "jaccard",
    "simhash32",
    "simhash64",
    "simhash_expr",
    "simhash_band_pairs",
    "simhash_components",
    "simhash_near_duplicates",
    "fingerprint_band_pairs",
    "fingerprint_components",
    "SIMHASH_BITS",
]

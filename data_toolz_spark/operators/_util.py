"""Shared operator helpers."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skew_safe_top_n(
    df: DataFrame,
    *,
    partition_by: Sequence[str],
    order_by: Sequence,
    n: int,
    salt: Column,
    salt_buckets: int,
) -> DataFrame:
    """Rank-within-group top-N that a mega-group cannot pin to one
    task — the shared construction under ``cap_per_domain``'s quota
    rank and ``component_representatives``' argmax (and any future
    per-key top-N): stage 1 ranks within ``(partition_by, pmod(salt,
    S))`` and keeps ≤ N per slice — every TRUE global top-N row is
    top-N within its own slice (pigeonhole), so no survivor is lost —
    and stage 2 re-ranks the ≤ S·N finalists per group.  The result
    is IDENTICAL to the single-window rank for every ``salt_buckets ≥
    1`` (pinned by both call sites' salt-invariance tests), because
    ``order_by`` must be a TOTAL order over the group's rows (the
    callers order by a hash/score plus the unique id).

    Returns the surviving rows with original columns (scratch rank
    columns dropped).  ``salt`` must be a deterministic per-row
    expression that spreads a group's rows across slices (the callers
    pass the order hash or an id hash).
    """
    if salt_buckets < 1:
        raise ValueError("skew_safe_top_n: salt_buckets must be >= 1")
    from pyspark.sql.window import Window

    w1 = Window.partitionBy(
        *partition_by, F.pmod(salt, F.lit(salt_buckets))
    ).orderBy(*order_by)
    stage1 = df.withColumn(
        "__ssrn", F.row_number().over(w1)
    ).filter(F.col("__ssrn") <= n)
    w2 = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        stage1.withColumn("__ssrn2", F.row_number().over(w2))
        .filter(F.col("__ssrn2") <= n)
        .drop("__ssrn", "__ssrn2")
    )


def right_size_iterated_state(
    df: DataFrame,
    n_rows: int,
    *,
    target_rows: int = 262144,
    floor_rows: int = 4096,
) -> tuple[DataFrame, int]:
    """Partition a bounded ITERATED state (the bpe_train device) so
    that per-round jobs are neither a storm of near-empty tasks nor a
    single serialized core.

    Three regimes (r12 optimization round, guide §2.5/§2.6):

    * cluster scale — ``n_rows // target_rows + 1`` partitions
      (~10-30 MB each), the r11 sizing that keeps a billion-row vocab
      at real shuffle-partition granularity;
    * medium tables — never BELOW ``min(defaultParallelism,
      n_rows // floor_rows + 1)``: the r11 formula collapsed a 27k-row
      trigram unit table to ONE partition, serializing every round's
      explode/replace onto one core with 31 idle (measured 2.9× on the
      r12 BPE delta loop: 24 rounds 48 s → 16 s at 7 partitions);
    * tiny tables (< ``floor_rows`` rows) — one task, so per-round
      fixed scheduling cost stays a single task-launch.

    Returns ``(df', nparts)``.  Growing the partition count needs a
    real ``repartition`` (AQE typically hands the upstream aggregate
    over as one partition, which ``coalesce`` cannot widen); that one
    vocab-sized shuffle is paid once and amortized over every round.
    """
    floor_p = min(
        df.sparkSession.sparkContext.defaultParallelism,
        n_rows // floor_rows + 1,
    )
    nparts = max(1, n_rows // target_rows + 1, floor_p)
    cur = df.rdd.getNumPartitions()
    if nparts < cur:
        df = df.coalesce(nparts)
    elif nparts > cur:
        df = df.repartition(nparts)
    return df, nparts


def truncate_lineage(df: DataFrame) -> DataFrame:
    """LAZY lineage truncation: a reliable ``checkpoint`` when the
    session has a checkpoint dir (cluster fault tolerance),
    ``localCheckpoint`` otherwise.

    The next action over the result materializes it, so no extra job
    is scheduled; downstream plans then reference a flat scan instead
    of re-walking (and re-analyzing) the whole upstream tree — the
    device iterative loops and many-consumer pipeline stages share.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    source has FAR fewer splits than the cluster has cores.

    Compute-heavy per-row stages (shingling, signatures, scoring) are
    CPU-bound: a small parquet file arrives as one split and would pin
    the whole stage to one core.  On a real cluster with many input
    splits this is a no-op — we never *shrink* the partition count, so
    wide inputs keep their natural parallelism.

    Cost guard (r13, guide §2.4 — a repartition "for parallelism" is a
    full shuffle of every byte, including the text payload): the
    round-robin only fires when the input covers under ~1/8 of the
    cores, i.e. when the idle-core deficit is at least 8× and the one
    extra pass is clearly repaid.  A mid-size input on a wide cluster
    (say 500 files on 2,000 cores) keeps its natural layout: the ≤8×
    ceiling on the stage speedup does not buy back shuffling the whole
    corpus.  The ``max(2, …)`` floor keeps the single-file demo/bench
    inputs spreading at any core count (the r12 width-fix cases).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # cheap file-count probe; df.rdd.getNumPartitions() would build
        # the whole RDD lineage (~1 s of driver time per call)
        n_inputs = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_inputs < max(2, target // 8):
        return df.repartition(target)
    return df


__all__ = [
    "spread",
    "skew_safe_top_n",
    "right_size_iterated_state",
    "truncate_lineage",
]

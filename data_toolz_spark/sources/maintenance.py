"""Dataset maintenance: small-file statistics and compaction.

The small-files problem is the dominant operational failure of long-
running ingestion at scale: a streaming sink or frequent incremental
appends leave a 100 TB dataset as millions of KB-sized files, and every
downstream scan pays one task + one open per file.  Compaction rewrites
the data into ~``target_file_mb`` files; the scan cost drops from
O(#files) to O(bytes).

Design notes (what transfers to a 1000-executor cluster):

* File sizing goes through ``maxRecordsPerFile`` computed from the
  dataset's OWN measured bytes-per-row — Spark's writer then cuts files
  at the target size regardless of partition skew, instead of trusting
  a files-per-partition guess.
* Hive-partitioned datasets keep their layout: the rewrite shuffles on
  the partition columns only (one exchange), so each output dir is
  written by tasks owning the whole partition and small partitions
  produce exactly one file.
* The rewrite lands in a temp sibling and swaps in with two renames —
  atomic on HDFS/local posix.  On object stores (S3A) rename is a
  copy, so pass an explicit ``dest`` there and swap at the table/
  catalog layer instead; the docstring caveat is load-bearing.
"""

from __future__ import annotations

import json
import math
import uuid
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_toolz_spark.fs import FsUtil
from data_toolz_spark.sources.io import DataIO


def dataset_stats(spark: SparkSession, path: str) -> dict:
    """Driver-side file census of a dataset directory (recursive):
    ``{n_files, total_bytes, min_bytes, max_bytes, avg_bytes}``.
    Hidden/committer files (``_SUCCESS``, ``.crc`` …) are excluded.
    O(#files) listing — the same cost any scan's file index pays —
    through :meth:`FsUtil._files`, which walks the local filesystem
    without forking a process per file."""
    sizes = [
        size
        for name, size in FsUtil(spark)._files(path)
        if not name.rsplit("/", 1)[-1].startswith(("_", "."))
    ]
    if not sizes:
        return {
            "n_files": 0,
            "total_bytes": 0,
            "min_bytes": 0,
            "max_bytes": 0,
            "avg_bytes": 0,
        }
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
        "avg_bytes": sum(sizes) // len(sizes),
    }


def compact_dataset(
    spark: SparkSession,
    path: str,
    *,
    filetype: str = "parquet",
    partition_by: Sequence[str] = (),
    target_file_mb: int = 128,
    dest: str | None = None,
    min_files: int = 2,
) -> Mapping[str, object]:
    """Rewrite a dataset's files at ~``target_file_mb`` each.

    With ``dest=None`` the compaction is IN PLACE: the rewrite goes to
    a temp sibling, the original moves aside, the rewrite renames in,
    and the original is deleted — two metadata renames on HDFS/local
    filesystems.  **On object stores (s3a://…) rename is a full copy:
    pass an explicit ``dest`` and swap the table location/catalog
    pointer instead.**

    **Crash window.** The two renames are individually atomic but not
    jointly: a process death between them leaves NO dataset at
    ``path`` — the data survives intact in the ``{path}__old_<uuid>``
    sibling, and the rewrite in ``{path}__compact_<uuid>``.  To make
    recovery mechanical, a ``{path}__swap_<uuid>.marker`` JSON file
    ``{"original", "old", "new"}`` is written BEFORE the first rename
    and deleted only after the swap completes; any surviving marker
    means "rename ``old`` back to ``original``, then delete ``new``"
    (the rewrite is re-runnable, the original is the source of truth).

    ``partition_by`` preserves an existing hive layout (the rewrite
    shuffles once on those columns, giving one writer per partition
    dir); row-group-internal order is not preserved — compaction is
    for datasets whose contract is row SET, not row order (pair it
    with ``cluster_by`` writes when range-pruning order matters).

    No-ops (returns ``{"compacted": False, …}``) when the dataset
    already has fewer than ``min_files`` files or is empty.  Returns
    before/after stats so schedulers can log reclaimed file counts.
    """
    if target_file_mb <= 0:
        raise ValueError("compact_dataset: target_file_mb must be positive")
    if filetype not in ("parquet", "orc") and dest is None:
        # text formats round-trip through layout defaults (sep, header,
        # compression) that this function cannot verify match the
        # original files; an in-place swap would DELETE the only good
        # copy after a potentially lossy rewrite.  Writing to an
        # explicit dest keeps the source intact for comparison.
        raise ValueError(
            "compact_dataset: in-place compaction is limited to "
            "self-describing formats (parquet/orc); for "
            f"{filetype!r} pass an explicit dest and verify the "
            "rewrite before swapping"
        )
    before = dataset_stats(spark, path)
    if before["n_files"] < min_files or before["total_bytes"] == 0:
        return {"compacted": False, "before": before, "after": before}

    io = DataIO()
    df: DataFrame = io.read(spark, path, filetype)
    rows = df.count()
    if rows == 0:
        return {"compacted": False, "before": before, "after": before}
    target_bytes = target_file_mb * (1 << 20)
    bytes_per_row = max(1.0, before["total_bytes"] / rows)
    rows_per_file = max(1, int(target_bytes / bytes_per_row))
    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))

    out_path = dest or f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    if partition_by:
        # one exchange on the layout columns; maxRecordsPerFile cuts
        # oversized partitions into multiple target-sized files
        shaped = df.repartition(*partition_by)
    else:
        shaped = df.repartition(n_out)
    if filetype in ("parquet", "orc"):
        (
            shaped.write.mode("error")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_by)
            .format(filetype)
            .save(out_path)
        )
    else:
        # text formats have no row-group cutter; file sizing comes from
        # the repartition count alone
        io.write(
            shaped, out_path, filetype, partition_by=list(partition_by)
        )

    if dest is None:
        fsu = FsUtil(spark)
        fs, root = fsu._fs(path), fsu._jpath(path)
        swap_id = uuid.uuid4().hex[:8]
        tmp_old = fsu._jpath(f"{path.rstrip('/')}__old_{swap_id}")
        new_p = fsu._jpath(out_path)
        # recovery marker BEFORE the first rename: a crash between the
        # two renames leaves no dataset at `path`, and this file is
        # what tells an operator (or a sweep job) how to undo the swap
        marker = fsu._jpath(f"{path.rstrip('/')}__swap_{swap_id}.marker")
        manifest = json.dumps(
            {
                "original": path,
                "old": tmp_old.toString(),
                "new": out_path,
            }
        ).encode()
        stream = fs.create(marker, True)
        try:
            stream.write(manifest)
        finally:
            stream.close()
        if not fs.rename(root, tmp_old):
            fs.delete(marker, False)
            raise IOError(f"compact_dataset: could not move {path} aside")
        if not fs.rename(new_p, root):
            # roll back so the dataset is never left missing
            fs.rename(tmp_old, root)
            fs.delete(marker, False)
            raise IOError(
                f"compact_dataset: could not move rewrite into {path}"
            )
        fs.delete(tmp_old, True)
        fs.delete(marker, False)
        final_path = path
    else:
        final_path = dest

    after = dataset_stats(spark, final_path)
    return {
        "compacted": True,
        "path": final_path,
        "rows": rows,
        "before": before,
        "after": after,
    }


def column_profile(df: DataFrame, *, approx_rsd: float = 0.05) -> DataFrame:
    """Per-column data-quality census in ONE pass: ``column, dtype,
    n_rows, n_nulls, null_frac, approx_distinct[, min_val, max_val]``.

    The monitoring primitive an ingest pipeline records per batch:
    joined against yesterday's profile, null-rate jumps and distinct
    collapses (a upstream join gone wrong, a column silently defaulted)
    surface before they poison a training run.  All measures are
    partial-aggregable (count / HyperLogLog++ / min / max), so the scan
    cost is one pass with map-side combine regardless of width.
    min/max are reported for orderable atomic types, rendered as
    strings so one narrow frame covers every column type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = [F.count(F.lit(1)).alias("__n")]
    orderable = (
        T.NumericType,
        T.StringType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
        T.BooleanType,
    )
    for f in df.schema.fields:
        c = F.col(f.name)
        aggs.append(
            F.sum(c.isNull().cast("long")).alias(f"__nulls_{f.name}")
        )
        aggs.append(
            F.approx_count_distinct(c, approx_rsd).alias(
                f"__dist_{f.name}"
            )
        )
        if isinstance(f.dataType, orderable):
            aggs.append(F.min(c).cast("string").alias(f"__min_{f.name}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{f.name}"))
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    out = []
    for f in df.schema.fields:
        nulls = row[f"__nulls_{f.name}"] or 0
        out.append(
            (
                f.name,
                f.dataType.simpleString(),
                n,
                nulls,
                round(nulls / n, 6) if n else 0.0,
                row[f"__dist_{f.name}"],
                row[f"__min_{f.name}"]
                if isinstance(f.dataType, orderable)
                else None,
                row[f"__max_{f.name}"]
                if isinstance(f.dataType, orderable)
                else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, dtype string, n_rows long, n_nulls long, "
        "null_frac double, approx_distinct long, "
        "min_val string, max_val string",
    )


def profile_drift(
    baseline: DataFrame,
    current: DataFrame,
    *,
    max_null_frac_jump: float = 0.05,
    min_distinct_ratio: float = 0.5,
    max_distinct_ratio: float = 10.0,
) -> list[str]:
    """Compare two :func:`column_profile` frames and report drift that
    typically signals an upstream defect, as human-readable findings
    (empty = healthy):

    * **null-rate jump** — ``null_frac`` rose by more than
      ``max_null_frac_jump`` absolute (a join gone wrong, a field
      silently defaulted);
    * **distinct collapse/explosion** — ``approx_distinct`` per row
      shrank below ``min_distinct_ratio`` × baseline or grew beyond
      ``max_distinct_ratio`` × (an id column constant-folded, a
      fan-out join duplicating rows);
    * **column set change** — columns appearing/disappearing between
      profiles (schema drift the contract check may have waived);
    * **type change** — same column, different ``dtype``.

    Ratios are per-ROW densities (distinct / n_rows), so comparing a
    small daily batch against a large baseline is meaningful.  Both
    inputs are tiny (one row per column) — this is driver-side list
    logic, the decision layer over the one-pass census.
    """
    base = {r["column"]: r for r in baseline.collect()}
    cur = {r["column"]: r for r in current.collect()}
    findings: list[str] = []
    for name in sorted(set(base) - set(cur)):
        findings.append(f"column {name!r} disappeared from the profile")
    for name in sorted(set(cur) - set(base)):
        findings.append(f"column {name!r} is new in the profile")
    for name in sorted(set(base) & set(cur)):
        b, c = base[name], cur[name]
        if b["dtype"] != c["dtype"]:
            findings.append(
                f"column {name!r} changed type "
                f"{b['dtype']} -> {c['dtype']}"
            )
            continue
        jump = c["null_frac"] - b["null_frac"]
        if jump > max_null_frac_jump:
            findings.append(
                f"column {name!r} null_frac jumped "
                f"{b['null_frac']:.4f} -> {c['null_frac']:.4f} "
                f"(+{jump:.4f} > {max_null_frac_jump})"
            )
        b_density = (
            b["approx_distinct"] / b["n_rows"] if b["n_rows"] else 0.0
        )
        c_density = (
            c["approx_distinct"] / c["n_rows"] if c["n_rows"] else 0.0
        )
        if b_density > 0 and c["n_rows"]:
            ratio = c_density / b_density
            if ratio < min_distinct_ratio:
                findings.append(
                    f"column {name!r} distinct density collapsed "
                    f"{b_density:.4f} -> {c_density:.4f} "
                    f"(x{ratio:.2f} < {min_distinct_ratio})"
                )
            elif ratio > max_distinct_ratio:
                findings.append(
                    f"column {name!r} distinct density exploded "
                    f"{b_density:.4f} -> {c_density:.4f} "
                    f"(x{ratio:.2f} > {max_distinct_ratio})"
                )
    return findings


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: str | None = None,
) -> DataFrame:
    """Content-level diff of two corpus snapshots — the dataset-
    versioning read a long-lived 100 TB corpus needs between
    yesterday's table and today's (r12): which documents were ADDED,
    REMOVED, or CHANGED.

    Comparison is by canonical text fingerprint (the X1b md5 the
    dedup tier already keys on), so 'changed' means the CONTENT
    changed — rewritten files, re-crawled pages — never that a
    timestamp or storage layout moved.  Pass ``fingerprint_col`` to
    reuse a precomputed fingerprint (e.g. the catalog's) and skip the
    text hash entirely; otherwise both sides hash ``text_col`` in the
    scan.

    Returns ONLY the delta rows — ``(id_col, status, old_fingerprint,
    new_fingerprint)`` with ``status ∈ {'added', 'removed',
    'changed'}`` — because at scale the unchanged bulk is the whole
    corpus and emitting it would make the diff corpus-sized by
    definition.  ``corpus_diff_summary`` folds the delta to three
    bounded counts.

    Scale shape: ONE full-outer equi-join on the id — both sides
    shuffle once; snapshots written bucketed on the id
    (``DataIO.write_bucketed``, the X18 device) co-locate and the
    whole diff runs with ZERO Exchange (plan-asserted in
    ``tests/test_maintenance.py``).  Contract: ids are unique within
    each snapshot (the corpus-table invariant every dedup tier here
    maintains); duplicate ids would fan the join out.
    """
    from data_toolz_spark.functions.text import text_fingerprint

    def fp_side(df: DataFrame, alias: str) -> DataFrame:
        if fingerprint_col is not None:
            fp = F.col(fingerprint_col)
        else:
            fp = text_fingerprint(F.col(text_col))
        return df.select(
            F.col(id_col), fp.alias(alias)
        )
    o = fp_side(old, "old_fingerprint")
    n = fp_side(new, "new_fingerprint")
    joined = o.join(n, on=id_col, how="full_outer")
    status = (
        F.when(F.col("old_fingerprint").isNull(), F.lit("added"))
        .when(F.col("new_fingerprint").isNull(), F.lit("removed"))
        .when(
            F.col("old_fingerprint") != F.col("new_fingerprint"),
            F.lit("changed"),
        )
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(id_col, "status", "old_fingerprint", "new_fingerprint")
    )


def corpus_diff_summary(diff: DataFrame) -> dict:
    """Fold a :func:`corpus_diff` delta to its three bounded counts —
    ``{"added": n, "removed": n, "changed": n}`` (one aggregate, a
    ≤ 3-row collect)."""
    counts = {
        r["status"]: int(r["n"])
        for r in diff.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "added": counts.get("added", 0),
        "removed": counts.get("removed", 0),
        "changed": counts.get("changed", 0),
    }


def schema_problems(existing, incoming) -> list[str]:
    """Data-contract check for appending ``incoming`` onto a dataset
    whose files carry ``existing`` (both ``StructType``).

    Returns human-readable problems (empty = compatible):

    * a column present in both with a DIFFERENT type — parquet
      ``mergeSchema`` refuses to reconcile (e.g. int vs bigint), so a
      single append would brick every future full-dataset read;
    * an existing column missing from the append — older readers see
      NULLs for the new files, which is only safe if surfaced
      deliberately, so it is reported and the caller opts in.

    NEW incoming columns are allowed (additive evolution —
    ``mergeSchema`` unions them; old files read them as NULL).
    """
    ex = {f.name: f for f in existing.fields}
    inc = {f.name: f for f in incoming.fields}
    problems = []
    for name, f in ex.items():
        if name not in inc:
            problems.append(
                f"column {name!r} ({f.dataType.simpleString()}) missing "
                "from the append — new files would read as NULL"
            )
        elif inc[name].dataType != f.dataType:
            problems.append(
                f"column {name!r} changes type "
                f"{f.dataType.simpleString()} → "
                f"{inc[name].dataType.simpleString()} — mergeSchema "
                "cannot reconcile; the dataset would become unreadable"
            )
    return problems


def assert_append_compatible(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    filetype: str = "parquet",
    allow_missing: bool = False,
) -> None:
    """Raise ``ValueError`` (with the full problem list) if appending
    ``df`` to the dataset at ``path`` would corrupt its read contract.
    A missing/empty target is trivially compatible (first write).

    ``allow_missing=True`` waives the missing-column problems (the
    append simply lacks some columns; readers get NULLs) while still
    failing hard on type changes — the unrecoverable class.
    """
    fsu = FsUtil(spark)
    if not fsu._fs(path).exists(fsu._jpath(path)):
        return
    try:
        existing = DataIO().read(spark, path, filetype).schema
    except Exception:
        return  # empty dir — nothing to conflict with
    problems = schema_problems(existing, df.schema)
    if allow_missing:
        problems = [p for p in problems if "missing from" not in p]
    if problems:
        raise ValueError(
            "append would break the dataset's schema contract:\n  - "
            + "\n  - ".join(problems)
        )


def zorder_value(
    cols: Sequence[str],
    ranges: Mapping[str, tuple[float, float]],
    *,
    bits: int = 10,
):
    """Column expression: interleaved-bit Z-value over ``cols``.

    Each column is quantized to ``2^bits`` uniform buckets inside its
    ``(min, max)`` range, then the bucket bits are interleaved
    (column 0 owns the most-significant position of each group).  Rows
    close in Z-value are close in EVERY quantized dimension, which is
    what makes a range-partitioned, Z-sorted file carry narrow min/max
    stats on all the clustered columns at once.

    Uniform quantization is deliberate: it needs only one (min, max)
    per column — no quantile sketch job — and Z-order survives skew
    with degraded (never wrong) pruning.  Pass tighter ranges to zoom
    the resolution into the hot region when the skew is known.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 20:
        raise ValueError("zorder_value: bits must be in [1, 20]")
    if len(cols) < 2:
        raise ValueError(
            "zorder_value: needs >= 2 columns (use cluster_by for one)"
        )
    if len(cols) * bits > 62:
        raise ValueError(
            f"zorder_value: {len(cols)} cols x {bits} bits exceeds the "
            "62-bit long budget; lower bits"
        )
    n_buckets = 1 << bits
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = ranges[c]
        span = float(hi) - float(lo) or 1.0
        scaled = (
            (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span)
        ) * F.lit(n_buckets)
        bucket = F.least(
            F.greatest(F.floor(scaled).cast("long"), F.lit(0)),
            F.lit(n_buckets - 1),
        )
        for bit in range(bits):
            src = F.shiftrightunsigned(bucket, bit).bitwiseAND(F.lit(1))
            # bit position: group `bit` holds one bit per column,
            # column 0 most significant within the group
            dst = bit * len(cols) + (len(cols) - 1 - ci)
            z = z.bitwiseOR(F.shiftleft(src, dst))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    *,
    bits: int = 10,
    n_files: int | None = None,
    mode: str = "error",
    ranges: Mapping[str, tuple[float, float]] | None = None,
) -> None:
    """Write ``df`` Z-ordered on ``zorder_cols`` (numeric): range
    partition + local sort on the interleaved Z-value, so every output
    file covers a narrow min/max window in EVERY clustered column and
    parquet row-group stats prune multi-column range predicates — the
    multi-dimensional counterpart of ``DataIO.write(cluster_by=…)``
    (which orders on one key at the expense of all others).

    One extra aggregate job computes per-column (min, max) unless
    ``ranges`` is given; the write itself is one range exchange + local
    sort, identical in shape to ``cluster_by``.
    """
    from pyspark.sql import functions as F

    cols = list(zorder_cols)
    if ranges is None:
        aggs = []
        for c in cols:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__hi_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        ranges = {
            c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols
        }
        for c, (lo, hi) in ranges.items():
            if lo is None or hi is None:
                # an all-NULL (or empty-input) column has no range; a
                # bare float(None) TypeError deep in zorder_value would
                # hide which column is at fault
                raise ValueError(
                    f"zorder_write: column {c!r} has no non-NULL values "
                    "to derive a range from — pass an explicit "
                    f"ranges={{{c!r}: (lo, hi)}} or drop it from "
                    "zorder_cols"
                )
    z = zorder_value(cols, ranges, bits=bits)
    shaped = df.withColumn("__z", z)
    ranged = (
        shaped.repartitionByRange(n_files, "__z")
        if n_files
        else shaped.repartitionByRange("__z")
    )
    (
        ranged.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


__all__ = [
    "dataset_stats",
    "compact_dataset",
    "corpus_diff",
    "corpus_diff_summary",
    "schema_problems",
    "assert_append_compatible",
    "column_profile",
    "profile_drift",
    "zorder_value",
    "zorder_write",
]

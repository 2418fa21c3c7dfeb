"""DataIO — dataset read/write with hive-partitioned + chunked layout.

Spark-first re-expression of the reference's ``DataIO``
(datatoolz/io.py:11-219).  The mapping, per SURVEY.md §2.1-2.3:

* parquet / dsv / jsonlines scans (io.py:102-147) →
  ``spark.read.format(...)`` with recursive file lookup; multi-file
  union, schema merge, and task-per-split parallelism are native.
  ORC is an engine extension beyond the reference trio (same typed
  round-trip, partitioning, chunking, and bucketing machinery).
* gzip (io.py:9,115-116,184-185) → codec inferred from the ``.gz``
  extension on read, ``option("compression", "gzip")`` on write.
* hive-style ``field=value`` partitioned writes (io.py:36-59,61-100) →
  ``df.write.partitionBy(cols)`` — identical directory encoding, plus
  partition *discovery and pruning* on read, which the reference never
  had (io.py:144 lists and reads everything).
* chunked output (``suffix`` list of N names → N files per partition,
  io.py:73-83,93-100) → deterministic ``floor((row_number()-1) /
  ceil(n/N))`` bucketing — the reference's exact ``iloc`` slice sizes
  (10 rows / 4 chunks → 3/3/3/1), including materialized empty tail
  files (io.py:79-83).
* ``drop_partitions`` (io.py:87-88,157): Spark's partitionBy always
  strips partition columns from data files and restores them on read,
  so the *whole-dataset* round trip is lossless either way.  Passing
  ``drop_partitions=False`` emits a warning and keeps a duplicate data
  column (``<col>__data``) for single-file-read parity.
* ``partition_transformer`` (io.py:22,31-34): Spark's FileFormatWriter
  owns file layout, so custom naming runs as a post-write rename pass
  over the Hadoop FileSystem (driver-side, O(#partition dirs) — fine to
  ~10⁴ dirs, SURVEY §7.4.7).
* ``tsv`` deprecation shim (io.py:112,209-219) → same DeprecationWarning.

Scale notes: all writes go through Spark's committer protocol (no
makedirs races); reads list+prune via InMemoryFileIndex instead of the
reference's read-everything ``find()``; DSV/jsonlines keep all options
declarative so Catalyst sees real scans (pushdown + pruning stay live).
"""

from __future__ import annotations

import warnings
from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType
from pyspark.sql.window import Window

from data_toolz_spark.fs import FsUtil
from data_toolz_spark.plans.filtering import compile_filter

FILETYPES = ("parquet", "dsv", "jsonlines", "orc")

# PathTransformer(prefix, partition_cols, partition_values) -> relative dir
PathTransformer = Callable[[str, Sequence[str], Sequence[str]], str]


def _hive_path(prefix: str, partitions: Sequence[str], values: Sequence[str]) -> str:
    """Default hive-style layout: ``prefix/f1=v1/f2=v2`` (io.py:36-59)."""
    if len(partitions) != len(values):
        raise ValueError("partitions and values must have equal length")
    if any(v is None for v in values):
        raise ValueError("partition values must not be None")
    segments = [f"{p}={v}" for p, v in zip(partitions, values)]
    return "/".join([prefix.rstrip("/"), *segments])


class DataIO:
    """Read/write datasets as parquet, dsv (TSV-default CSV), jsonlines.

    >>> io = DataIO()
    >>> io.write(df, "/data/out", partition_by=["col1"], suffix=["c0", "c1"])
    >>> back = io.read(spark, "/data/out")
    """

    def __init__(
        self,
        partition_transformer: PathTransformer | None = None,
    ) -> None:
        self.partition_transformer = partition_transformer
        #: metrics from the most recent ``write(observe=...)`` call
        self.last_write_metrics: dict | None = None

    # ------------------------------------------------------------------
    # read
    # ------------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        path: str | Sequence[str],
        filetype: str = "parquet",
        *,
        schema: StructType | str | None = None,
        header: bool = True,
        sep: str = "\t",
        filters: list[dict] | None = None,
        options: Mapping[str, str] | None = None,
        on_corrupt: str = "fail",
    ) -> DataFrame:
        """Load every file under ``path`` (file or directory prefix).

        The reference's list-then-read-everything (io.py:142-147)
        becomes list → prune → read-some: partition dirs are discovered
        natively and ``filters`` (the Filter DSL, §2.4) compile into the
        scan so Catalyst pushes eligible predicates into parquet
        row-group skipping.

        ``on_corrupt`` governs malformed records on the TEXT formats
        (dsv/jsonlines) — at crawl scale some corrupt lines are a
        certainty and a job that dies at 97% on one bad byte is the
        operational failure mode this guards:

        * ``"fail"`` (default, reference parity) — first malformed
          record aborts the job (FAILFAST);
        * ``"drop"`` — malformed records are silently dropped
          (DROPMALFORMED);
        * ``"keep"`` — malformed records survive as NULL-columned rows
          with the raw line in ``_corrupt_record`` (PERMISSIVE) for
          quarantine-and-audit flows.  Requires an explicit ``schema``
          (Spark cannot infer the corrupt column).

        Parquet/ORC are structurally checksummed; ``on_corrupt`` does
        not apply (a corrupt footer is data loss, not a bad row) and a
        non-default value raises.
        """
        modes = {"fail": "FAILFAST", "drop": "DROPMALFORMED",
                 "keep": "PERMISSIVE"}
        if on_corrupt not in modes:
            raise ValueError(
                f"on_corrupt must be one of {sorted(modes)}, "
                f"got {on_corrupt!r}"
            )
        filetype = self._normalize_filetype(filetype)
        if filetype in ("parquet", "orc") and on_corrupt != "fail":
            raise ValueError(
                "on_corrupt applies to text formats (dsv/jsonlines); "
                f"{filetype} is structurally checksummed"
            )
        reader = spark.read.option("recursiveFileLookup", "false")
        if filetype in ("dsv", "jsonlines"):
            if on_corrupt == "keep":
                names = (
                    []
                    if schema is None
                    else (
                        [f.name for f in schema.fields]
                        if isinstance(schema, StructType)
                        else [
                            part.strip().split()[0].strip("`")
                            for part in str(schema).split(",")
                            if part.strip()
                        ]
                    )
                )
                if "_corrupt_record" not in names:
                    # without the column PERMISSIVE has nowhere to put
                    # the raw line: corrupt rows come back as all-NULL
                    # rows indistinguishable from real data — the
                    # quarantine contract silently vanishes
                    raise ValueError(
                        "on_corrupt='keep' needs an explicit schema "
                        "that includes a '_corrupt_record string' "
                        "column to quarantine raw malformed lines into"
                    )
            reader = reader.option("mode", modes[on_corrupt])
            if on_corrupt == "keep":
                reader = reader.option(
                    "columnNameOfCorruptRecord", "_corrupt_record"
                )
        if schema is not None:
            reader = reader.schema(schema)
        for key, value in (options or {}).items():
            reader = reader.option(key, value)

        paths = [path] if isinstance(path, str) else list(path)
        if filetype == "parquet":
            df = reader.option("mergeSchema", "true").parquet(*paths)
        elif filetype == "orc":
            df = reader.option("mergeSchema", "true").orc(*paths)
        elif filetype == "dsv":
            df = (
                reader.option("header", str(header).lower())
                .option("sep", sep)
                .option("escape", "\\")
                .option("inferSchema", "false")
                .csv(*paths)
            )
            # reference parity: dtype=str + keep_default_na=False means
            # an empty field is the empty string, never NULL/NaN
            # (io.py:120-125).  Spark's CSV reader surfaces "" as NULL,
            # so restore the stringly contract declaratively.
            # (_corrupt_record stays NULL-able so "is this row corrupt"
            # remains an isNotNull test under on_corrupt='keep')
            df = df.select(
                *[
                    F.coalesce(F.col(c), F.lit("")).alias(c)
                    if isinstance(t, StringType) and c != "_corrupt_record"
                    else F.col(c)
                    for c, t in ((f.name, f.dataType) for f in df.schema.fields)
                ]
            )
        else:  # jsonlines
            df = reader.json(*paths)

        if filters:
            df = df.filter(compile_filter(filters, schema=df.schema))
        return df

    # ------------------------------------------------------------------
    # write
    # ------------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        path: str,
        filetype: str = "parquet",
        *,
        partition_by: Sequence[str] | None = None,
        suffix: Sequence[str] | None = None,
        cluster_by: Sequence[str] | None = None,
        cluster_files: int | None = None,
        drop_partitions: bool = True,
        gzip: bool = False,
        header: bool = True,
        sep: str = "\t",
        mode: str = "overwrite",
        options: Mapping[str, str] | None = None,
        observe: bool | Mapping[str, object] = False,
    ) -> str:
        """Materialize ``df`` under ``path``; returns the output path.

        ``observe=True`` attaches a Spark ``Observation`` to the plan so
        the written row count is collected DURING the write — at 100 TB
        the alternative (a ``count()`` after the write) re-scans the
        whole output.  A mapping form supplies custom aggregate
        expressions (``{"n_rows": F.count(F.lit(1)), "max_ts":
        F.max("ts")}``).  Metrics land in ``self.last_write_metrics``
        after the call; the path return stays reference-shaped.
        Incompatible with ``suffix`` (an un-partitioned chunked write
        runs extra writes for the empty tail files) and with
        ``cluster_by`` (range partitioning's sampling pass is a
        separate action over the same plan).

        ``suffix=[...]`` requests exactly ``len(suffix)`` files per
        partition directory with the reference's exact ceil-division
        slice sizes (io.py:73-83).

        ``cluster_by=[...]`` data-clusters the output on the given
        columns: rows are range-partitioned and sorted so each output
        file (and each parquet/ORC row group) covers a narrow,
        near-disjoint value range.  Readers filtering on those columns
        then skip whole files/row groups via min/max footer stats — at
        100 TB this is the difference between scanning a shard and
        scanning the table for time-range or key-range queries.  With
        ``partition_by`` it sorts within each partition dir instead
        (dir pruning handles the coarse level, stats the fine level).
        ``cluster_files`` pins the range-partition count (file count);
        default lets AQE size partitions (~shuffle target) — at small
        scale AQE may coalesce to one file, so tests/demos pin it.
        Incompatible with ``suffix`` (chunking owns row order).

        With a custom ``partition_transformer`` the renamed layout loses
        native partition discovery (dirs are no longer ``f=v``), so the
        partition columns are always kept in the data files as
        ``<col>__data`` copies regardless of ``drop_partitions``.
        """
        filetype = self._normalize_filetype(filetype)
        partition_by = list(partition_by or [])
        cluster_by = list(cluster_by or [])
        if gzip and filetype == "orc":
            raise ValueError(
                "orc has no gzip codec; pass options="
                "{'compression': 'zlib'} (or zstd/snappy) instead"
            )
        if cluster_by and suffix:
            raise ValueError(
                "cluster_by cannot combine with suffix: chunked writes "
                "own the row order (reference iloc slicing contract)"
            )
        obs = None
        if observe:
            if suffix or cluster_by:
                raise ValueError(
                    "observe requires a single-action write: an "
                    "un-partitioned chunked (suffix) write runs extra "
                    "writes for the empty tail files and cluster_by runs "
                    "a range-sampling pass, either of which would run "
                    "the observed plan more than once"
                )
            from pyspark.sql import Column, Observation

            if observe is True:
                metric_cols = [F.count(F.lit(1)).alias("n_rows")]
            else:
                metric_cols = [
                    (v if isinstance(v, Column) else F.expr(str(v))).alias(k)
                    for k, v in observe.items()
                ]
            obs = Observation("dtz_write_metrics")
            df = df.observe(obs, *metric_cols)

        if self.partition_transformer is not None and partition_by:
            # A custom layout moves data out of hive-style f=v dirs, so
            # native partition discovery cannot restore the partition
            # columns on read — without an in-file copy the values would
            # be unrecoverable.  Force the `<col>__data` copy (the
            # reference keeps partition columns in data files by
            # default, io.py:157, so transformed layouts stay lossless
            # there too).
            drop_partitions = False
        if not drop_partitions and partition_by:
            # Spark always strips partition columns from data files and
            # restores them from the directory encoding on read — the
            # whole-dir round trip is lossless.  Keep an explicit copy
            # for single-file-read parity with the reference's default
            # (io.py:87-88; SURVEY §7.4.3).
            warnings.warn(
                "Spark partitionBy always drops partition columns from data "
                "files; keeping duplicates as '<col>__data'",
                UserWarning,
                stacklevel=2,
            )
            for col in partition_by:
                df = df.withColumn(f"{col}__data", F.col(col))

        n_chunks = len(suffix) if suffix else 0
        if n_chunks > 0:
            return self._write_chunked(
                df,
                path,
                filetype,
                partition_by=partition_by,
                n_chunks=n_chunks,
                gzip=gzip,
                header=header,
                sep=sep,
                mode=mode,
                options=options,
            )
        if partition_by:
            # one shuffle so each partition dir is written by one task
            # (avoids the many-small-files problem at scale); AQE may
            # split skewed partitions.
            out = df.repartition(*partition_by)
            if cluster_by:
                out = out.sortWithinPartitions(*cluster_by)
            writer = out.write.mode(mode)
        elif cluster_by:
            # range shuffle + local sort: files cover near-disjoint
            # cluster-key ranges, so footer min/max stats prune scans
            ranged = (
                df.repartitionByRange(cluster_files, *cluster_by)
                if cluster_files
                else df.repartitionByRange(*cluster_by)
            )
            writer = ranged.sortWithinPartitions(*cluster_by).write.mode(mode)
        else:
            writer = df.write.mode(mode)

        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if gzip:
            writer = writer.option("compression", "gzip")
        for key, value in (options or {}).items():
            writer = writer.option(key, value)

        self._finish_write(writer, filetype, path, header=header, sep=sep)
        if obs is not None:
            self.last_write_metrics = dict(obs.get)

        if self.partition_transformer is not None and partition_by:
            self._apply_partition_transformer(df, path, partition_by)
        return path

    @staticmethod
    def _finish_write(writer, filetype: str, path: str, *, header: bool, sep: str) -> None:
        """Dispatch a configured DataFrameWriter to its format call."""
        if filetype == "parquet":
            writer.parquet(path)
        elif filetype == "orc":
            writer.orc(path)
        elif filetype == "dsv":
            writer.option("header", str(header).lower()).option(
                "sep", sep
            ).option("escape", "\\").option("emptyValue", "").csv(path)
        else:
            writer.json(path)

    def _write_chunked(
        self,
        df: DataFrame,
        path: str,
        filetype: str,
        *,
        partition_by: Sequence[str],
        n_chunks: int,
        gzip: bool,
        header: bool,
        sep: str,
        mode: str,
        options: Mapping[str, str] | None,
    ) -> str:
        """Exactly ``n_chunks`` files per partition dir (reference W7).

        Chunk assignment reproduces the reference's ``iloc`` slicing
        bit-for-bit (io.py:79,94): chunk i holds rows
        ``[i*ceil(n/k), (i+1)*ceil(n/k))`` in sorted row order, i.e.
        ``floor((row_number()-1) / ceil(n/k))`` — 10 rows into 4 chunks
        gives 3/3/3/1, NOT ntile's balanced 3/3/2/2.  Each chunk is
        written as one file by the one task that holds its partition
        dir's rows.  Un-partitioned writes materialize empty
        tail chunks as schema-only files (``coalesce(1)`` keeps the
        single write task alive), matching the reference's guarantee
        (io.py:79-83); partitioned writes emit one file per *non-empty*
        chunk per dir (Spark's partitionBy skips empty dirs — delta,
        SURVEY §7.4.4).  Spark also owns the task-file names (the
        ``suffix`` names select chunk *count*, not file names).

        Scale note: this is a parity operator — it costs ONE write job
        with ONE exchange, the window's own (the chunk id rides along
        as a trailing ``partitionBy`` column, written straight from the
        window's partitioning, then a driver-side O(#dirs) rename
        hoists the files out of the ``__chunk=i`` dirs), and with NO
        partition columns the row-order contract forces the whole
        dataset through a single-task sort window (warned below).  For
        bulk output sizing at scale prefer ``maxRecordsPerFile`` /
        plain ``partitionBy``, which need no row-order contract.
        """
        if not partition_by:
            warnings.warn(
                "chunked write without partition_by sorts the whole "
                "dataset through one task; use maxRecordsPerFile for "
                "bulk sizing at scale",
                UserWarning,
                stacklevel=3,
            )
        order_cols = [c for c in df.columns if c not in partition_by]
        window = Window.partitionBy(
            *(partition_by or [F.lit(1)])
        ).orderBy(*(order_cols or [F.lit(1)]))
        counts = Window.partitionBy(*(partition_by or [F.lit(1)]))
        chunk_size = F.ceil(
            F.count(F.lit(1)).over(counts) / F.lit(n_chunks)
        )
        chunked = df.withColumn(
            "__chunk",
            (
                F.floor((F.row_number().over(window) - 1) / chunk_size) + 1
            ).cast("int"),
        )
        # One job, one exchange: the window already hash-partitions on
        # the partition columns (a single partition without them), and
        # AQE may coalesce those tasks but never splits a key, so every
        # partition dir — and every __chunk dir under it — is written
        # by exactly one task: one file per chunk per dir.  The
        # per-task sort puts rows in the writer's required order
        # (partition cols, __chunk), so Spark adds no sort of its own,
        # and keeps the reference's sorted slice order inside each file.
        writer = (
            chunked.sortWithinPartitions(*partition_by, "__chunk", *order_cols)
            .write.mode(mode)
            .partitionBy(*partition_by, "__chunk")
        )
        if mode == "overwrite":
            # the session default (dynamic partition overwrite) would
            # only replace the __chunk= dirs this job writes — files a
            # PREVIOUS chunked write hoisted up into the partition dirs
            # would survive and duplicate the data.  A chunked
            # overwrite therefore replaces the whole dataset root.
            writer = writer.option("partitionOverwriteMode", "static")
        if gzip:
            writer = writer.option("compression", "gzip")
        for key, value in (options or {}).items():
            writer = writer.option(key, value)
        self._finish_write(writer, filetype, path, header=header, sep=sep)

        seen = self._hoist_chunk_dirs(df.sparkSession, path)
        # Un-partitioned writes materialize empty tail chunks as
        # schema-only files (reference io.py:79-83); partitionBy skips
        # empty groups, so emit the tails explicitly (rare, tiny jobs).
        if not partition_by:
            for _ in range(n_chunks - len(seen)):
                tail = df.limit(0).coalesce(1).write.mode("append")
                if gzip:
                    tail = tail.option("compression", "gzip")
                for key, value in (options or {}).items():
                    tail = tail.option(key, value)
                self._finish_write(tail, filetype, path, header=header, sep=sep)
        if self.partition_transformer is not None and partition_by:
            self._apply_partition_transformer(df, path, partition_by)
        return path

    @staticmethod
    def _hoist_chunk_dirs(spark: SparkSession, path: str) -> set[int]:
        """Move data files out of trailing ``__chunk=i`` dirs (one level
        up) and delete the dirs; returns the set of chunk ids seen.
        Driver-side Hadoop FileSystem pass, O(#partition dirs) — same
        cost class as ``_apply_partition_transformer``.  The chunk id is
        woven into each hoisted name, so hoisting cannot collide."""
        jvm = spark._jvm
        fsu = FsUtil(spark)
        fs, root = fsu._fs(path), fsu._jpath(path)
        seen: set[int] = set()

        def _walk(p) -> None:
            for status in fs.listStatus(p):
                if not status.isDirectory():
                    continue
                name = status.getPath().getName()
                if name.startswith("__chunk="):
                    chunk = int(name.split("=", 1)[1])
                    seen.add(chunk)
                    for f in fs.listStatus(status.getPath()):
                        fname = f.getPath().getName()
                        if fname.startswith((".", "_")):
                            # checksum/commit markers; a data file's crc
                            # moves with it via ChecksumFileSystem.rename
                            continue
                        # task-file names are only unique PER DIRECTORY
                        # (one task writing several chunk dirs reuses its
                        # part-<task> name in each) — weave the chunk id
                        # into the hoisted name to stay collision-free
                        new_name = (
                            f"part-c{chunk:03d}-{fname[len('part-'):]}"
                            if fname.startswith("part-")
                            else f"part-c{chunk:03d}-{fname}"
                        )
                        ok = fs.rename(
                            f.getPath(),
                            jvm.org.apache.hadoop.fs.Path(p, new_name),
                        )
                        if not ok:
                            raise IOError(
                                f"failed to hoist chunk file {fname} "
                                f"out of {name}"
                            )
                    fs.delete(status.getPath(), True)
                elif "=" in name:
                    _walk(status.getPath())

        _walk(root)
        return seen

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        *,
        bucket_by: Sequence[str],
        n_buckets: int,
        sort_by: Sequence[str] | None = None,
        path: str | None = None,
        filetype: str = "parquet",
        mode: str = "overwrite",
    ) -> str:
        """Persist ``df`` as a bucketed table for co-located joins.

        Bucketing pre-shuffles the data at write time: two tables
        bucketed by the same key into the same bucket count join with
        NO exchange on either side — at 100 TB that converts every
        fact-fact join on the bucket key from a full-cluster shuffle
        into a local merge (verified by ``tests/test_plans.py``).
        ``path`` makes it an external table (data under ``path``,
        metadata in the session catalog).
        """
        filetype = self._normalize_filetype(filetype)
        if filetype == "dsv":
            raise ValueError("bucketed tables require parquet, orc, or jsonlines")
        fmt = {"parquet": "parquet", "orc": "orc"}.get(filetype, "json")
        writer = (
            df.write.mode(mode)
            .format(fmt)
            .bucketBy(n_buckets, *bucket_by)
        )
        if sort_by:
            writer = writer.sortBy(*sort_by)
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(table)
        return table

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    @staticmethod
    def _normalize_filetype(filetype: str) -> str:
        if filetype == "tsv":
            warnings.warn(
                "'tsv' filetype is deprecated, use 'dsv' with sep='\\t'",
                DeprecationWarning,
                stacklevel=3,
            )
            return "dsv"
        if filetype not in FILETYPES:
            raise ValueError(
                f"filetype must be one of {FILETYPES + ('tsv',)}, got {filetype!r}"
            )
        return filetype

    def _apply_partition_transformer(
        self, df: DataFrame, path: str, partition_by: Sequence[str]
    ) -> None:
        """Post-write rename pass for custom partition-dir naming.

        The reference injects a ``partition_transformer`` into path
        construction (io.py:31-34,82,97-99); Spark's FileFormatWriter
        owns layout, so equivalent naming is applied by renaming each
        ``f=v`` directory chain afterwards via the Hadoop FileSystem —
        driver-side, O(#partition dirs).
        """
        fsu = FsUtil(df.sparkSession)
        fs, root = fsu._fs(path), fsu._jpath(path)

        leaf_dirs: list[tuple[str, list[str]]] = []

        def _walk(p, values: list[str]) -> None:
            if len(values) == len(partition_by):
                leaf_dirs.append((str(p.toUri().getPath()), values))
                return
            for status in fs.listStatus(p):
                if status.isDirectory():
                    name = status.getPath().getName()
                    if "=" in name:
                        _walk(status.getPath(), values + [name.split("=", 1)[1]])

        _walk(root, [])
        for leaf, values in leaf_dirs:
            new_rel = self.partition_transformer(path, list(partition_by), values)
            src = fsu._jpath(leaf)
            dst = fsu._jpath(new_rel)
            fs.mkdirs(dst.getParent())
            fs.rename(src, dst)


__all__ = ["DataIO", "PathTransformer", "_hive_path"]

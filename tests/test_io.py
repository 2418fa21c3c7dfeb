"""DataIO tests — the reference's round-trip matrix (SURVEY §5 pattern 1)
with value-level assertions (stronger than the reference's shape-only).

Matrix: {parquet, dsv, dsv|sep, jsonlines} × {gzip on/off} × header,
partitioned layout checks, chunk-count contract, deprecation shim.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_toolz_spark.sources.io import DataIO


@pytest.fixture()
def sample_df(spark):
    # canonical reference fixture (tests/test_io.py:24-30): string +
    # low-cardinality int partition keys, nullable floats, negatives, zero
    return spark.createDataFrame(
        [
            Row(col1="a", col2=1, col3=1.0),
            Row(col1="a", col2=1, col3=None),
            Row(col1="b", col2=1, col3=123.0),
            Row(col1="b", col2=1, col3=-42.0),
            Row(col1="b", col2=2, col3=0.0),
        ]
    )


def _rows(df, cols=("col1", "col2", "col3")):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize("gzip", [False, True])
@pytest.mark.parametrize("filetype", ["parquet", "dsv", "jsonlines"])
def test_round_trip_value_parity(spark, sample_df, tmp_path, filetype, gzip):
    io = DataIO()
    path = str(tmp_path / "t1")
    io.write(sample_df, path, filetype=filetype, gzip=gzip and filetype != "parquet")
    back = io.read(spark, path, filetype=filetype)
    if filetype == "dsv":
        # stringly contract: all columns come back as strings, None → ""
        assert [f.dataType.simpleString() for f in back.schema.fields] == [
            "string"
        ] * 3
        back = back.select(
            F.col("col1"),
            F.col("col2").cast("long"),
            F.when(F.col("col3") == "", None)
            .otherwise(F.col("col3"))
            .cast("double")
            .alias("col3"),
        )
    assert _rows(back) == _rows(sample_df)


def test_orc_round_trip_value_parity(spark, sample_df, tmp_path):
    """ORC joins the format surface (engine extension beyond the
    reference trio): typed round trip, hive partitioning, chunking and
    bucketing all share the same write machinery."""
    io = DataIO()
    path = str(tmp_path / "t_orc")
    io.write(sample_df, path, filetype="orc")
    back = io.read(spark, path, filetype="orc")
    assert _rows(back) == _rows(sample_df)


def test_orc_partitioned_and_chunked(spark, tmp_path):
    io = DataIO()
    df = spark.range(40).withColumn("key", (F.col("id") % 2).cast("string"))
    path = str(tmp_path / "t_orc_part")
    io.write(df, path, filetype="orc", partition_by=["key"], suffix=["a", "b"])
    for key in ("key=0", "key=1"):
        files = [
            f
            for f in os.listdir(os.path.join(path, key))
            if f.startswith("part-")
        ]
        assert len(files) == 2, (key, files)
    back = io.read(spark, path, filetype="orc")
    assert back.count() == 40
    assert set(back.columns) == {"id", "key"}


def test_orc_rejects_gzip_flag(spark, sample_df, tmp_path):
    with pytest.raises(ValueError, match="zlib"):
        DataIO().write(
            sample_df, str(tmp_path / "t"), filetype="orc", gzip=True
        )


def test_dsv_custom_separator_and_no_header(spark, sample_df, tmp_path):
    io = DataIO()
    path = str(tmp_path / "t1")
    io.write(sample_df, path, filetype="dsv", sep="|", header=False)
    back = io.read(spark, path, filetype="dsv", sep="|", header=False)
    assert back.count() == 5
    assert back.columns == ["_c0", "_c1", "_c2"]


def test_dsv_null_round_trips_as_empty_string(spark, sample_df, tmp_path):
    # the reference's deliberate None→""→"" collapse (SURVEY §1.2)
    io = DataIO()
    path = str(tmp_path / "t1")
    io.write(sample_df, path, filetype="dsv")
    back = io.read(spark, path, filetype="dsv")
    vals = {r.col3 for r in back.collect()}
    assert "" in vals and None not in vals


def test_partitioned_write_layout(spark, sample_df, tmp_path):
    """File layout: one hive dir per distinct partition tuple
    (reference tests/test_io.py:221-225)."""
    io = DataIO()
    path = str(tmp_path / "t1")
    io.write(sample_df, path, partition_by=["col1", "col2"])
    leaf_dirs = set()
    for root, _dirs, files in os.walk(path):
        if any(f.startswith("part-") for f in files):
            leaf_dirs.add(os.path.relpath(root, path))
    assert leaf_dirs == {
        "col1=a/col2=1",
        "col1=b/col2=1",
        "col1=b/col2=2",
    }
    back = io.read(spark, path)
    # partition columns restored on read; types survive via hive
    # partition-value inference (int for col2)
    assert back.count() == 5
    assert set(back.columns) == {"col1", "col2", "col3"}
    per_part = {
        (r.col1, r.col2): r.n
        for r in back.groupBy("col1", "col2").agg(F.count("*").alias("n")).collect()
    }
    assert per_part == {("a", 1): 2, ("b", 1): 2, ("b", 2): 1}


def test_chunked_write_exact_file_counts(spark, tmp_path):
    """suffix=[N names] → exactly N files per partition dir when every
    partition has ≥N rows (reference io.py:73-83 contract)."""
    io = DataIO()
    df = spark.range(100).withColumn("key", (F.col("id") % 2).cast("string"))
    path = str(tmp_path / "t1")
    io.write(df, path, partition_by=["key"], suffix=["c0", "c1", "c2"])
    for key in ("key=0", "key=1"):
        files = [
            f
            for f in os.listdir(os.path.join(path, key))
            if f.startswith("part-")
        ]
        assert len(files) == 3, (key, files)
    back = io.read(spark, path)
    assert back.count() == 100


def test_chunked_overwrite_replaces_previous_output(spark, tmp_path):
    """Re-running a chunked overwrite must not leave the previous
    run's hoisted files behind (dynamic partition overwrite only sees
    the transient __chunk= dirs, so the chunked path forces static)."""
    io = DataIO()
    df = spark.range(100).withColumn("key", (F.col("id") % 2).cast("string"))
    path = str(tmp_path / "t1")
    io.write(df, path, partition_by=["key"], suffix=["c0", "c1"])
    io.write(df, path, partition_by=["key"], suffix=["c0", "c1"])
    back = io.read(spark, path)
    assert back.count() == 100  # not 200
    for key in ("key=0", "key=1"):
        files = [
            f
            for f in os.listdir(os.path.join(path, key))
            if f.startswith("part-")
        ]
        assert len(files) == 2, (key, files)


def test_chunked_write_rows_split_ceil(spark, tmp_path):
    """ceil-division sizing: 5 rows into 2 chunks → 3 + 2."""
    io = DataIO()
    df = spark.range(5)
    path = str(tmp_path / "t1")
    with pytest.warns(UserWarning, match="single-task|one task"):
        io.write(df, path, suffix=["c0", "c1"])
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(files) == 2
    sizes = sorted(
        spark.read.parquet(os.path.join(path, f)).count() for f in files
    )
    assert sizes == [2, 3]


def test_chunked_write_reference_slicing_not_ntile(spark, tmp_path):
    """10 rows into 4 chunks → iloc slices 3/3/3/1 (ntile would give
    the balanced 3/3/2/2 — reference io.py:79 contract differs)."""
    io = DataIO()
    df = spark.range(10)
    path = str(tmp_path / "t1")
    with pytest.warns(UserWarning):
        io.write(df, path, suffix=["c0", "c1", "c2", "c3"])
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    sizes = sorted(
        spark.read.parquet(os.path.join(path, f)).count() for f in files
    )
    assert sizes == [1, 3, 3, 3]
    # short input: 2 rows into 4 chunks → 1/1 plus two EMPTY tail
    # files — the reference materializes empty tails too (io.py:79-83)
    path2 = str(tmp_path / "t2")
    with pytest.warns(UserWarning):
        io.write(spark.range(2), path2, suffix=["c0", "c1", "c2", "c3"])
    files2 = [f for f in os.listdir(path2) if f.startswith("part-")]
    sizes2 = sorted(
        spark.read.parquet(os.path.join(path2, f)).count() for f in files2
    )
    assert sizes2 == [0, 0, 1, 1]


def test_chunked_write_property_matches_reference_slicing(spark, tmp_path):
    """Property check of the iloc contract over a sweep of (rows,
    chunks): chunk sizes must be ceil(n/k) slices — sizes
    [ceil, ceil, ..., remainder, 0...] — and exactly k files exist."""
    import itertools

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        n_rows=st.integers(min_value=1, max_value=40),
        n_chunks=st.integers(min_value=1, max_value=6),
    )
    def check(n_rows, n_chunks):
        path = str(tmp_path / f"prop_{n_rows}_{n_chunks}")
        with pytest.warns(UserWarning):
            DataIO().write(
                spark.range(n_rows),
                path,
                suffix=[f"c{i}" for i in range(n_chunks)],
            )
        files = [f for f in os.listdir(path) if f.startswith("part-")]
        assert len(files) == n_chunks, (n_rows, n_chunks, files)
        sizes = sorted(
            (
                spark.read.parquet(os.path.join(path, f)).count()
                for f in files
            ),
            reverse=True,
        )
        chunk = -(-n_rows // n_chunks)  # ceil division, reference io.py:79
        expected = []
        remaining = n_rows
        for _ in range(n_chunks):
            expected.append(min(chunk, max(remaining, 0)))
            remaining -= chunk
        assert sizes == sorted(expected, reverse=True), (
            n_rows, n_chunks, sizes, expected,
        )

    check()


def test_drop_partitions_false_warns_and_keeps_copy(spark, sample_df, tmp_path):
    io = DataIO()
    path = str(tmp_path / "t1")
    with pytest.warns(UserWarning):
        io.write(sample_df, path, partition_by=["col1"], drop_partitions=False)
    back = io.read(spark, path)
    assert "col1__data" in back.columns
    assert back.filter(F.col("col1") != F.col("col1__data")).count() == 0


def test_tsv_deprecation_shim(spark, sample_df, tmp_path):
    io = DataIO()
    path = str(tmp_path / "t1")
    with pytest.warns(DeprecationWarning):
        io.write(sample_df, path, filetype="tsv")
    with pytest.warns(DeprecationWarning):
        back = io.read(spark, path, filetype="tsv")
    assert back.count() == 5


def test_unsupported_filetype_raises(spark, sample_df, tmp_path):
    io = DataIO()
    with pytest.raises(ValueError):
        io.write(sample_df, str(tmp_path / "t1"), filetype="excel")
    with pytest.raises(ValueError):
        io.read(spark, str(tmp_path / "t1"), filetype="excel")


def test_read_with_filter_spec_pushdown(spark, sample_df, tmp_path):
    io = DataIO()
    path = str(tmp_path / "t1")
    io.write(sample_df, path)
    got = io.read(spark, path, filters=[{"col1": ["a"]}])
    assert got.count() == 2


def test_cluster_by_write_gives_disjoint_file_ranges(spark, tmp_path):
    """Data clustering: each output file covers a near-disjoint key
    range, so parquet footer min/max stats can prune range scans."""
    io = DataIO()
    # shuffled input so clustering has to actually reorder
    df = spark.range(10_000).withColumn(
        "k", F.xxhash64("id")
    ).repartition(8)
    path = str(tmp_path / "t1")
    io.write(
        df.select(F.col("id").alias("key"), "k"),
        path,
        cluster_by=["key"],
        cluster_files=4,
    )
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(files) > 1  # range shuffle kept parallelism
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(os.path.join(path, f))
            .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
            .first()
        )
        if r["lo"] is not None:
            ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b  # disjoint: every file is a skippable shard
    back = DataIO().read(spark, path)
    assert back.count() == 10_000


def test_cluster_by_rejects_suffix_combination(spark, tmp_path):
    with pytest.raises(ValueError, match="cluster_by"):
        DataIO().write(
            spark.range(10),
            str(tmp_path / "t"),
            cluster_by=["id"],
            suffix=["a", "b"],
        )


def test_cluster_by_with_partition_dirs_sorts_within(spark, tmp_path):
    io = DataIO()
    df = spark.range(1000).select(
        (F.col("id") % 2).cast("string").alias("p"),
        F.col("id").alias("key"),
    )
    path = str(tmp_path / "t1")
    io.write(df, path, partition_by=["p"], cluster_by=["key"])
    # within one partition dir the single task wrote rows sorted by key
    part0 = os.path.join(path, "p=0")
    f = [x for x in os.listdir(part0) if x.startswith("part-")][0]
    keys = [
        r["key"]
        for r in spark.read.parquet(os.path.join(part0, f)).collect()
    ]
    assert keys == sorted(keys)
    assert io.read(spark, path).count() == 1000


def test_partition_transformer_rename_pass(spark, sample_df, tmp_path):
    """Custom partition naming via the post-write rename pass (W8)."""

    def transformer(prefix, partitions, values):
        return f"{prefix}/custom-{'-'.join(values)}"

    io = DataIO(partition_transformer=transformer)
    path = str(tmp_path / "t1")
    with pytest.warns(UserWarning):  # forced `<col>__data` copy notice
        io.write(sample_df, path, partition_by=["col1"])
    names = sorted(
        d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))
    )
    assert names == ["custom-a", "custom-b"]
    # transformed dirs are no longer f=v, so partition values must
    # survive INSIDE the data files (forced copy regardless of
    # drop_partitions) — otherwise the layout is lossy
    back = spark.read.parquet(f"{path}/custom-a", f"{path}/custom-b")
    assert "col1__data" in back.columns
    assert sorted(
        r["col1__data"] for r in back.select("col1__data").distinct().collect()
    ) == ["a", "b"]


def test_partition_transformer_composes_with_chunking(spark, tmp_path):
    """W8 + W7 together: the chunk hoist must finish (no __chunk= dirs
    left) before the rename pass moves the partition dirs."""

    def transformer(prefix, partitions, values):
        return f"{prefix}/c{'-'.join(values)}"

    io = DataIO(partition_transformer=transformer)
    df = spark.range(40).withColumn("key", (F.col("id") % 2).cast("string"))
    path = str(tmp_path / "t1")
    with pytest.warns(UserWarning):
        io.write(df, path, partition_by=["key"], suffix=["a", "b"])
    names = sorted(
        d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))
    )
    assert names == ["c0", "c1"]
    for d in names:
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.startswith("part-")
        ]
        assert len(files) == 2, (d, files)  # exactly len(suffix) chunks
    back = spark.read.parquet(f"{path}/c0", f"{path}/c1")
    assert back.count() == 40


def test_chunked_write_preserves_intra_file_row_order(spark, tmp_path):
    """ADVICE r4: the reference's iloc slices are cut from SORTED row
    order, so each chunk file must also be internally sorted — the
    one-job repartition alone would leave rows hash-shuffled in-file."""
    io = DataIO()
    df = (
        spark.range(200)
        .withColumn("key", (F.col("id") % 2).cast("string"))
        .repartition(7)  # scramble the incoming layout
    )
    path = str(tmp_path / "ordered")
    io.write(df, path, partition_by=["key"], suffix=["c0", "c1"])
    for key in ("key=0", "key=1"):
        d = os.path.join(path, key)
        files = sorted(f for f in os.listdir(d) if f.startswith("part-"))
        assert len(files) == 2
        chunk_rows = [
            [r["id"] for r in spark.read.parquet(os.path.join(d, f)).collect()]
            for f in files
        ]
        for rows in chunk_rows:
            assert rows == sorted(rows), rows[:10]  # in-file order
        # chunks partition the sorted sequence contiguously
        flat = [x for rows in chunk_rows for x in rows]
        assert flat == sorted(flat)

    # un-partitioned path too (single sort task, warned)
    path2 = str(tmp_path / "ordered_flat")
    with pytest.warns(UserWarning):
        io.write(spark.range(50).repartition(5), path2, suffix=["c0", "c1"])
    files = sorted(f for f in os.listdir(path2) if f.startswith("part-"))
    for f in files:
        rows = [r["id"] for r in spark.read.parquet(os.path.join(path2, f)).collect()]
        assert rows == sorted(rows)


def _last_final_plan(spark) -> str:
    """The final physical plan tree of the session's last SQL execution
    (with AQE: the ``Final Plan`` section, not the initial one)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    tree = executions.last().physicalPlanDescription().split("\n\n")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return tree


def test_chunked_write_is_one_exchange(spark, tmp_path):
    """A partitioned chunked write is written straight from the sort
    window's hash exchange: the final plan has ONE Exchange (a second
    repartition on (partition cols, __chunk) would shuffle every row
    again) and no more than the two per-task Sorts (the window's and
    the writer-order one)."""
    import re

    df = spark.range(300).withColumn("key", (F.col("id") % 3).cast("string"))
    path = str(tmp_path / "one_exchange")
    DataIO().write(df, path, "dsv", partition_by=["key"], suffix=["c0", "c1"])
    plan = _last_final_plan(spark)
    assert "InsertIntoHadoopFsRelationCommand" in plan, plan
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1, plan
    assert len(re.findall(r"\bSort \(\d+\)", plan)) <= 2, plan
    for key in ("key=0", "key=1", "key=2"):
        files = [
            f
            for f in os.listdir(os.path.join(path, key))
            if f.startswith("part-")
        ]
        assert len(files) == 2, (key, files)


class TestCorruptRecords:
    """on_corrupt: fail (reference parity) / drop / keep-and-quarantine
    on the text formats; rejected for checksummed formats."""

    def _bad_jsonl(self, tmp_path):
        p = tmp_path / "j"
        p.mkdir()
        (p / "part-0.json").write_text(
            '{"a": 1, "b": "x"}\n'
            "{this is not json}\n"
            '{"a": 2, "b": "y"}\n'
        )
        return str(p)

    def test_fail_is_default(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        io = DataIO()
        df = io.read(
            spark,
            self._bad_jsonl(tmp_path),
            "jsonlines",
            schema="a long, b string",
        )
        with pytest.raises(Exception):
            df.collect()

    def test_drop_skips_bad_rows(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        io = DataIO()
        df = io.read(
            spark,
            self._bad_jsonl(tmp_path),
            "jsonlines",
            schema="a long, b string",
            on_corrupt="drop",
        )
        assert sorted((r["a"], r["b"]) for r in df.collect()) == [
            (1, "x"),
            (2, "y"),
        ]

    def test_keep_quarantines_raw_line(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        io = DataIO()
        df = io.read(
            spark,
            self._bad_jsonl(tmp_path),
            "jsonlines",
            schema="a long, b string, _corrupt_record string",
            on_corrupt="keep",
        )
        rows = df.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert len(bad) == 1
        assert bad[0]["_corrupt_record"] == "{this is not json}"
        assert bad[0]["a"] is None
        good = sorted(
            (r["a"], r["b"]) for r in rows if r["_corrupt_record"] is None
        )
        assert good == [(1, "x"), (2, "y")]

    def test_keep_requires_schema(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        with pytest.raises(ValueError, match="schema"):
            DataIO().read(
                spark, self._bad_jsonl(tmp_path), "jsonlines",
                on_corrupt="keep",
            )

    def test_rejected_for_parquet(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        with pytest.raises(ValueError, match="checksummed"):
            DataIO().read(
                spark, str(tmp_path), "parquet", on_corrupt="drop"
            )

    def test_bad_mode_name(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        with pytest.raises(ValueError, match="on_corrupt"):
            DataIO().read(
                spark, str(tmp_path), "jsonlines", on_corrupt="ignore"
            )

    def test_dsv_drop(self, spark, tmp_path):
        from data_toolz_spark import DataIO

        p = tmp_path / "d"
        p.mkdir()
        (p / "part-0.csv").write_text(
            "a\tb\n1\tx\nonly-one-field\n2\ty\n"
        )
        io = DataIO()
        df = io.read(
            spark,
            str(p),
            "dsv",
            schema="a string, b string",
            on_corrupt="drop",
        )
        assert sorted((r["a"], r["b"]) for r in df.collect()) == [
            ("1", "x"),
            ("2", "y"),
        ]


class TestObservedWrites:
    """write(observe=...): metrics collected DURING the write action —
    no second scan of the output."""

    def test_default_row_count(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from data_toolz_spark.sources.io import DataIO

        io = DataIO()
        df = spark.range(1234).select(
            F.col("id"), (F.col("id") % 7).alias("g")
        )
        io.write(df, str(tmp_path / "obs"), "parquet", observe=True)
        assert io.last_write_metrics == {"n_rows": 1234}

    def test_custom_metrics_and_partitioned(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from data_toolz_spark.sources.io import DataIO

        io = DataIO()
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).alias("g")
        )
        io.write(
            df,
            str(tmp_path / "obs2"),
            "parquet",
            partition_by=["g"],
            observe={
                "n_rows": F.count(F.lit(1)),
                "max_id": F.max("id"),
            },
        )
        assert io.last_write_metrics == {"n_rows": 100, "max_id": 99}

    def test_rejects_multi_action_paths(self, spark, tmp_path):
        import pytest

        from data_toolz_spark.sources.io import DataIO

        io = DataIO()
        df = spark.range(10)
        with pytest.raises(ValueError, match="observe"):
            io.write(
                df, str(tmp_path / "x"), "parquet",
                suffix=["a", "b"], observe=True,
            )
        with pytest.raises(ValueError, match="observe"):
            io.write(
                df, str(tmp_path / "y"), "parquet",
                cluster_by=["id"], observe=True,
            )

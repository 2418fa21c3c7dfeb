"""Session builder + S3 configuration mapping (reference FS2-FS4).

No live S3 in this environment; what is testable — and what matters —
is the *mapping*: the reference FileSystem's knobs (endpoint override,
static/session credentials) must land on the right ``fs.s3a.*`` Hadoop
settings.  The STS chain resolver is covered by its driver-side shape
(boto3 import deferred, one hop per role).
"""

from __future__ import annotations

import pytest

from data_toolz_spark.session import configure_s3, get_spark


def _hconf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


def test_engine_defaults_applied(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    core = spark.sparkContext.getConf()
    assert core.get("spark.io.compression.codec") == "zstd"
    assert core.get("spark.shuffle.sort.bypassMergeThreshold") == "0"


def _shuffle_deps(rdd):
    """Every ShuffleDependency in a JVM RDD's lineage."""
    found, stack = [], [rdd]
    while stack:
        deps = stack.pop().dependencies()
        for i in range(deps.size()):
            dep = deps.apply(i)
            if dep.getClass().getSimpleName() == "ShuffleDependency":
                found.append(dep)
            stack.append(dep.rdd())
    return found


def test_zstd_serialized_shuffle_round_trips(spark):
    """Spark's transient bytes go through zstd, a 200-partition shuffle
    takes the serialized writer (one compression stream per map task,
    not one per reduce partition), and frames that pass through a
    shuffle, a broadcast and a serialized cache read back exactly."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    jvm = spark._jvm
    conf = spark.sparkContext._jsc.sc().conf()
    codec = jvm.org.apache.spark.io.CompressionCodec.createCodec(conf)
    assert codec.getClass().getSimpleName() == "ZStdCompressionCodec"

    n = 5000
    src = spark.range(n).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    expected = {(r.id, r.payload) for r in src.collect()}

    wide = src.repartition(200)
    deps = _shuffle_deps(wide._jdf.queryExecution().toRdd())
    assert deps and all(d.partitioner().numPartitions() == 200 for d in deps)
    sort = jvm.org.apache.spark.shuffle.sort
    for dep in deps:
        assert not sort.SortShuffleWriter.shouldBypassMergeSort(conf, dep)
        assert sort.SortShuffleManager.canUseSerializedShuffle(dep)
    rows = wide.collect()
    assert len(rows) == n and {(r.id, r.payload) for r in rows} == expected

    small = spark.range(0, n, 7).select(
        "id", (F.col("id") * 2).alias("twice")
    )
    joined = src.join(F.broadcast(small), "id").collect()
    assert {(r.id, r.payload, r.twice) for r in joined} == {
        (i, p, i * 2) for i, p in expected if i % 7 == 0
    }

    cached = src.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert cached.count() == n
        rows = cached.collect()
        assert len(rows) == n and {(r.id, r.payload) for r in rows} == expected
    finally:
        cached.unpersist()


def test_codegen_cache_holds_a_warm_pass(spark):
    """A second pass over 120 frames with distinct generated code
    compiles nothing.

    Each frame's literal lands in its generated source, so every frame
    compiles classes of its own (two each, 240 in all).  At Spark's
    default cache of 100 entries the second pass, walking them in the
    same order, evicts each class before it comes round again and
    recompiles all of them."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    frames = [
        spark.range(8).select((F.col("id") * i + i).alias("x"))
        for i in range(1, 121)
    ]

    def run_pass() -> int:
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        return compiles.METRIC_COMPILATION_TIME().getCount() - before

    assert run_pass() > 0
    assert run_pass() == 0


def test_endpoint_override_maps_to_s3a(spark):
    configure_s3(spark, endpoint_url="http://localhost:9000")
    conf = _hconf(spark)
    assert conf.get("fs.s3a.endpoint") == "http://localhost:9000"
    # minio/localstack need path-style addressing — implied default
    assert conf.get("fs.s3a.path.style.access") == "true"


def test_static_session_credentials_map_to_s3a(spark):
    configure_s3(
        spark,
        access_key="AKTEST",
        secret_key="SECRET",
        session_token="TOKEN",
    )
    conf = _hconf(spark)
    assert conf.get("fs.s3a.access.key") == "AKTEST"
    assert conf.get("fs.s3a.secret.key") == "SECRET"
    assert conf.get("fs.s3a.session.token") == "TOKEN"
    assert "TemporaryAWSCredentialsProvider" in conf.get(
        "fs.s3a.aws.credentials.provider"
    )


def test_role_chain_requires_boto3_only_when_used(spark):
    # the boto3 import is deferred into the role-chain path; a missing
    # dependency must not break local-only configure_s3 calls
    configure_s3(spark, endpoint_url="http://localhost:9000")
    try:
        import boto3  # noqa: F401

        have_boto3 = True
    except ImportError:
        have_boto3 = False
    if not have_boto3:
        with pytest.raises(ImportError):
            configure_s3(spark, assumed_roles=["arn:aws:iam::1:role/x"])


def test_credential_refresher_mocked_clock(spark):
    """FS3 parity: the reference auto-renews its STS chain via
    RefreshableCredentials (filesystem.py:37-45); the Spark equivalent
    re-resolves the chain and re-sets fs.s3a confs before the TTL."""
    from data_toolz_spark.session import S3CredentialRefresher

    now = [1000.0]
    calls = []

    def resolver(roles, endpoint_url=None):
        calls.append(list(roles))
        n = len(calls)
        # 3600 s TTL from "now" at each resolve, like a real STS hop
        return (f"AK{n}", f"SK{n}", f"TOK{n}", now[0] + 3600.0)

    ref = S3CredentialRefresher(
        spark,
        ["arn:aws:iam::1:role/a", "arn:aws:iam::1:role/b"],
        refresh_margin=600.0,
        clock=lambda: now[0],
        resolver=resolver,
    )
    conf = _hconf(spark)
    # constructor resolved once and installed the session creds
    assert len(calls) == 1 and calls[0][-1].endswith("role/b")
    assert conf.get("fs.s3a.access.key") == "AK1"
    assert conf.get("fs.s3a.session.token") == "TOK1"
    # refreshed confs must bypass the cached S3A filesystem instance
    assert conf.get("fs.s3a.impl.disable.cache") == "true"

    # inside the TTL and outside the margin: no-op
    now[0] += 1800.0
    assert ref.refresh_if_needed() is False
    assert conf.get("fs.s3a.access.key") == "AK1"
    # within the margin: renew and re-set confs
    now[0] += 1300.0  # 500 s remaining < 600 s margin
    assert ref.refresh_if_needed() is True
    assert conf.get("fs.s3a.access.key") == "AK2"
    assert conf.get("fs.s3a.session.token") == "TOK2"

    # a job longer than the remaining TTL must fail loudly up front
    with pytest.raises(RuntimeError, match="expires in"):
        ref.assert_headroom(7200.0)
    ref.assert_headroom(120.0)  # plenty of headroom: no raise


def test_credential_refresher_staleness_window(spark):
    """The mid-task staleness contract: a refresh only swaps confs for
    the NEXT filesystem lookup — a task already holding an S3A client
    keeps the old token until its own creds expire.  The operational
    guard is therefore headroom, not mid-task swap: an explicit
    ``refresh()`` before launching a job must restore a full TTL of
    margin (> refresh_margin), so every client created during the job
    starts from fresh creds that outlive the longest task."""
    from data_toolz_spark.session import S3CredentialRefresher

    now = [0.0]
    resolves = []

    def resolver(roles, endpoint_url=None):
        resolves.append(now[0])
        return ("AK", "SK", f"TOK@{now[0]:.0f}", now[0] + 3600.0)

    ref = S3CredentialRefresher(
        spark,
        ["arn:aws:iam::1:role/a"],
        refresh_margin=900.0,
        clock=lambda: now[0],
        resolver=resolver,
    )
    conf = _hconf(spark)
    # 40 min in: still outside the margin, so refresh_if_needed is a
    # no-op — but a 35-min task launched NOW would outlive the token.
    now[0] += 2400.0
    assert ref.refresh_if_needed() is False
    with pytest.raises(RuntimeError, match="expires in"):
        ref.assert_headroom(2100.0)  # 35 min task vs 20 min left
    # the documented remedy: proactive refresh() before the job, which
    # re-walks the chain and restores full-TTL headroom
    ref.refresh()
    assert ref.seconds_until_expiry() == 3600.0
    ref.assert_headroom(2100.0)  # now fits
    assert conf.get("fs.s3a.session.token") == "TOK@2400"
    # the refresher never mutated confs behind the job's back between
    # the two explicit calls — exactly constructor + refresh()
    assert resolves == [0.0, 2400.0]


def test_catalog_registers_views(spark, sf_dir):
    from data_toolz_spark.catalog import register_directory

    names = register_directory(spark, sf_dir)
    assert "lineitem" in names and "events" in names
    n = spark.sql("SELECT COUNT(*) AS n FROM region").first()["n"]
    assert n == 5


def test_catalog_register_single_dataset(spark, sf_dir, tmp_path):
    from data_toolz_spark.catalog import register_dataset
    from data_toolz_spark.sources.io import DataIO

    src = spark.range(10).selectExpr("id", "id * 2 AS dbl")
    DataIO().write(src, str(tmp_path / "t"), filetype="jsonlines")
    df = register_dataset(
        spark, "tiny_t", str(tmp_path / "t"), filetype="jsonlines"
    )
    assert df.count() == 10
    assert spark.sql("SELECT SUM(dbl) AS s FROM tiny_t").first()["s"] == 90

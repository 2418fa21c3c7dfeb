"""SparkSession construction + filesystem configuration helpers.

Replaces the reference's ``datatoolz/filesystem.py`` (FileSystem wrapper
over fsspec local/S3 backends, STS assume-role chains, endpoint
overrides — filesystem.py:20-52,69-107).  On Spark the reader/writer
owns filesystem access through the Hadoop FileSystem API, so the
library's job reduces to *configuration*: build a well-tuned session and
translate the reference's S3 options (role chain, endpoint override)
into ``fs.s3a.*`` settings.

Design notes for scale (100 TB / 1000 executors):
* AQE on by default — runtime partition coalescing + skew-join splitting.
* ``spark.sql.files.maxPartitionBytes`` left at 128m (one task per
  row-group-sized split); shuffle partitions default to a value the
  caller can size to the cluster (AQE coalesces down when small).
* Arrow enabled for the few Pandas-UDF code paths (multimodal decode).
* The generated-code cache holds the session's working set.  Spark keeps
  at most ``spark.sql.codegen.cache.maxEntries`` Janino-compiled classes
  (default 100); a session that cycles through more than that in a fixed
  order misses on every lookup and recompiles every class on every pass.
  Measured distinct generated classes per operation (perfbench, 14 s
  runs, unbounded cache): ``query_mix`` 217, ``corpus_prepare`` 208,
  ``lake_etl`` 47.  ``DEFAULT_CONF`` sets 1024 entries, 4.7x the largest;
  an entry retains about 45 KB of heap.  The setting is a *static* SQL
  conf: it takes effect only when :func:`get_spark` builds the JVM's
  first session.  A caller that builds its own session must set it
  before that session starts.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Callable, Mapping

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: keep predicate pushdown + vectorized reader explicit
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # answer bare MIN/MAX/COUNT aggregates from parquet footer stats
    # instead of scanning data — at 100 TB a stats query over a table
    # becomes a metadata read (off by default in Spark; only applies
    # when no residual filter needs row evaluation, so always safe)
    "spark.sql.parquet.aggregatePushdown": "true",
    # partition discovery over hive-style field=value dirs
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # session timezone pinned for deterministic timestamp round-trips
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP(NANOS) parquet columns (e.g. events.ts) surface as long
    # nanos instead of failing the vectorized reader; loaders convert
    # explicitly (lossless at micro precision) — see sources.io.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # generated-class cache sized to the working set: query_mix needs 217
    # classes per pass, corpus_prepare 208, lake_etl 47; at Spark's 100 a
    # cyclic pass misses on every lookup and recompiles all of them.
    # Static: only applies when get_spark builds the JVM's first session.
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def get_spark(
    app_name: str = "data_toolz_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry points run under the driver harness and on a real
    cluster (where ``--master`` comes from spark-submit and this stays
    None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    for key, value in DEFAULT_CONF.items():
        builder = builder.config(key, value)
    # SPARK_GRAFT_ANSI=1 runs every entry point under ANSI SQL mode
    # (Spark 4's default posture: overflow/cast errors raise instead
    # of yielding NULL).  The per-round validation sweep sets this to
    # catch silent-NULL dependencies (the r5 semantic_dedup CAST bug's
    # class) — see BASELINE.md "ANSI sweep".
    if os.environ.get("SPARK_GRAFT_ANSI"):
        builder = builder.config("spark.sql.ansi.enabled", "true")
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def configure_s3(
    spark: SparkSession,
    *,
    endpoint_url: str | None = None,
    path_style_access: bool | None = None,
    assumed_roles: list[str] | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
) -> SparkSession:
    """Translate the reference FileSystem's S3 knobs onto ``fs.s3a.*``.

    Reference parity (datatoolz/filesystem.py):
    * ``endpoint_url`` override (filesystem.py:47-50) →
      ``fs.s3a.endpoint`` (+ path-style access for minio/localstack).
    * STS assume-role *chain* (filesystem.py:69-107): Hadoop's
      ``AssumedRoleCredentialProvider`` handles a single hop natively;
      for a multi-hop chain we pre-resolve credentials driver-side with
      boto3 (each hop's creds feed the next) and inject the final static
      session credentials.  Good for jobs ≤ the STS token lifetime; a
      custom JVM credentials provider is the long-job path (SURVEY
      §7.4.6).
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if endpoint_url is not None:
        hconf.set("fs.s3a.endpoint", endpoint_url)
        if path_style_access is None:
            path_style_access = True
    if path_style_access is not None:
        hconf.set("fs.s3a.path.style.access", str(path_style_access).lower())

    if assumed_roles:
        access_key, secret_key, session_token = _resolve_role_chain(
            assumed_roles, endpoint_url=endpoint_url
        )
    if access_key is not None:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key is not None:
        hconf.set("fs.s3a.secret.key", secret_key)
    if session_token is not None:
        hconf.set("fs.s3a.session.token", session_token)
        hconf.set(
            "fs.s3a.aws.credentials.provider",
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider",
        )
    return spark


def _resolve_role_chain(
    roles: list[str], endpoint_url: str | None = None
) -> tuple[str, str, str]:
    """Walk an STS assume-role chain driver-side; return final creds."""
    access, secret, token, _ = _resolve_role_chain_with_expiry(
        roles, endpoint_url=endpoint_url
    )
    return access, secret, token


def _resolve_role_chain_with_expiry(
    roles: list[str], endpoint_url: str | None = None
) -> tuple[str, str, str, float | None]:
    """Walk an STS assume-role chain driver-side; return final creds +
    their expiry as a unix timestamp (None if STS omits it).

    Mirrors the reference's multi-hop chain (filesystem.py:69-107) where
    each hop's temporary credentials authenticate the next
    ``sts:AssumeRole`` call.  boto3 is imported lazily so local-only
    deployments never need it installed.
    """
    import boto3  # deferred: only needed on the s3 path

    creds: dict = {}
    for i, role_arn in enumerate(roles):
        client = boto3.client(
            "sts",
            endpoint_url=endpoint_url,
            aws_access_key_id=creds.get("AccessKeyId"),
            aws_secret_access_key=creds.get("SecretAccessKey"),
            aws_session_token=creds.get("SessionToken"),
        )
        resp = client.assume_role(
            RoleArn=role_arn, RoleSessionName=f"data-toolz-spark-hop-{i}"
        )
        creds = resp["Credentials"]
    expiration = creds.get("Expiration")
    expiry_ts = expiration.timestamp() if expiration is not None else None
    return (
        creds["AccessKeyId"],
        creds["SecretAccessKey"],
        creds["SessionToken"],
        expiry_ts,
    )


class S3CredentialRefresher:
    """Auto-renewal for STS assume-role chains (reference parity:
    ``RefreshableCredentials``, filesystem.py:37-45).

    The pre-resolved static-credential path in :func:`configure_s3`
    loses S3 access when a job outlives the STS token TTL (default
    3600 s).  This hook closes that gap driver-side: it re-walks the
    chain and re-sets the ``fs.s3a`` session confs before expiry —
    either on demand (``refresh_if_needed()`` between jobs / from a
    listener) or on a timer (``start()``).

    S3A caches filesystem instances per URI, so refreshed confs only
    reach *new* filesystem instances; the constructor therefore sets
    ``fs.s3a.impl.disable.cache=true`` while a refresher is active.
    In-flight tasks keep their current client — renewal takes effect
    from the next filesystem lookup, which is why ``refresh_margin``
    defaults to a whole task-attempt's worth of headroom.

    **Mid-task staleness window**: a single task that holds one S3A
    client across a refresh (e.g. a multi-hour multipart upload) keeps
    the OLD credentials until that client is re-created — the refresher
    cannot swap tokens inside a live connection.  Size
    ``refresh_margin`` to at least your longest task attempt, so any
    client a task creates has a token that outlives the task; for
    known-long jobs, call :meth:`refresh` (or :meth:`assert_headroom`)
    up front rather than relying on the timer mid-flight
    (``tests/test_session.py::test_credential_refresher_staleness_window``).

    ``clock`` and ``resolver`` are injectable for tests (mocked STS).
    """

    def __init__(
        self,
        spark: SparkSession,
        roles: list[str],
        *,
        endpoint_url: str | None = None,
        refresh_margin: float = 600.0,
        clock: Callable[[], float] = time.time,
        resolver: Callable[..., tuple[str, str, str, float | None]]
        | None = None,
    ) -> None:
        self._spark = spark
        self._roles = list(roles)
        self._endpoint_url = endpoint_url
        self._margin = float(refresh_margin)
        self._clock = clock
        self._resolver = resolver or _resolve_role_chain_with_expiry
        self._expiry: float | None = None
        self._timer: threading.Timer | None = None
        self._lock = threading.Lock()
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        hconf.set("fs.s3a.impl.disable.cache", "true")
        self.refresh()

    # -- core ----------------------------------------------------------
    def refresh(self) -> None:
        """Re-walk the chain and re-set the fs.s3a session confs."""
        access, secret, token, expiry = self._resolver(
            self._roles, endpoint_url=self._endpoint_url
        )
        with self._lock:
            configure_s3(
                self._spark,
                endpoint_url=self._endpoint_url,
                access_key=access,
                secret_key=secret,
                session_token=token,
            )
            self._expiry = expiry

    def seconds_until_expiry(self) -> float | None:
        return None if self._expiry is None else self._expiry - self._clock()

    def refresh_if_needed(self) -> bool:
        """Refresh when inside the margin; returns True if refreshed."""
        remaining = self.seconds_until_expiry()
        if remaining is not None and remaining > self._margin:
            return False
        self.refresh()
        return True

    def assert_headroom(self, expected_duration_sec: float) -> None:
        """Raise loudly when a planned job would outlive the token.

        For deployments that do not want a background timer: call this
        before launching a long job instead of discovering mid-flight
        403s an hour in.
        """
        remaining = self.seconds_until_expiry()
        if remaining is not None and expected_duration_sec > remaining:
            raise RuntimeError(
                f"STS token expires in {remaining:.0f}s but the job is "
                f"expected to run {expected_duration_sec:.0f}s; call "
                "refresh() first or start() a background renewal timer"
            )

    # -- background timer ---------------------------------------------
    def start(self, interval_sec: float | None = None) -> None:
        """Renew on a daemon timer (default: margin-driven cadence)."""
        if interval_sec is None:
            remaining = self.seconds_until_expiry()
            interval_sec = (
                max(60.0, remaining - self._margin)
                if remaining is not None
                else 1800.0
            )

        def _tick() -> None:
            try:
                self.refresh_if_needed()
            finally:
                self.start(interval_sec)

        self.stop()
        self._timer = threading.Timer(interval_sec, _tick)
        self._timer.daemon = True
        self._timer.start()

    def stop(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None

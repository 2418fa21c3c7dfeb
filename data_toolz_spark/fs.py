"""Driver-side filesystem utilities — FS6 parity surface.

The reference exposes explicit delegates on its ``FileSystem`` wrapper
(datatoolz/filesystem.py:109-129): ``_rm``, ``cp_file``, ``created``,
``ls``, ``modified``, ``sign``, ``fsid`` — the operations a data-toolz
script runs *around* its reads and writes (listing a prefix, cleaning
up, presigning a download link).  In the Spark engine the reader/writer
never touches these (Spark's InMemoryFileIndex + committers own file
access), so this is a small driver-side utility over the Hadoop
``FileSystem`` API: one implementation that follows whatever
filesystems the active session is configured for (``file://``,
``s3a://`` with the session.py S3 conf helpers, hdfs, …).

Semantics vs the reference (tests/test_filesystem.py:89-110 matrix):

* ``ls(detail=True)`` returns dicts with name/size/type/modified —
  fsspec-shaped, so ported call sites keep working.
* ``created``: local → datetime (st_ctime); S3 → NotImplementedError
  (same as fsspec's s3 backend).
* ``modified``: datetime for ANY Hadoop filesystem (improvement: the
  reference's s3 backend raises NotImplementedError; Hadoop tracks
  modification time uniformly).
* ``sign``: S3 → boto3 presigned GET URL (expiration seconds); local →
  NotImplementedError (reference behavior).
* ``rm``/``cp_file``: recursive delete / server-side copy via Hadoop.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

from pyspark.sql import SparkSession

_S3_SCHEMES = ("s3", "s3a", "s3n")


def _require_spark(spark: SparkSession | None) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "FsUtil needs an active SparkSession (its JVM hosts the "
            "Hadoop FileSystem connectors)"
        )
    return spark


def _scheme(path: str) -> str:
    head, sep, _ = path.partition("://")
    return head if sep else "file"


#: fsspec verbs whose SECOND positional is also a path — the only
#: methods where delegation dispatch may look past the first arg
#: (payload-bearing methods like pipe/write carry non-path strings
#: there that must not hijack the scheme choice)
_TWO_PATH_METHODS = frozenset(
    {
        "put", "put_file", "upload", "get", "get_file", "download",
        "copy", "cp_file", "mv", "move", "rename", "rsync",
    }
)


class FsUtil:
    """Unified local / S3 / HDFS file utilities for driver-side plumbing.

    >>> fs = FsUtil(spark)
    >>> fs.ls("/data/out")            # detail dicts
    >>> fs.rm("/data/tmp", recursive=True)
    >>> fs.sign("s3a://bucket/key", expiration=300)
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        fsspec_storage_options: dict | None = None,
    ) -> None:
        self._spark = _require_spark(spark)
        self._jvm = self._spark._jvm
        self._conf = self._spark.sparkContext._jsc.hadoopConfiguration()
        #: per-protocol kwargs for FS5 fsspec delegation, e.g.
        #: ``{"s3": {"key": ..., "secret": ...}}`` — fsspec does NOT
        #: read the session's fs.s3a.* Hadoop configuration, so a
        #: credentialed session must pass its credentials here for the
        #: delegated surface to see the same principal
        self._fsspec_opts = dict(fsspec_storage_options or {})

    # -- internals ----------------------------------------------------

    def _jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._jpath(path).getFileSystem(self._conf)

    @staticmethod
    def _status_name(status) -> str:
        # fsspec-shaped names: local paths are bare ('/tmp/x'), remote
        # paths keep the authority ('bucket/key' for s3a://bucket/key)
        # — dropping the bucket would break name-based joins in ported
        # fsspec call sites.
        uri = status.getPath().toUri()
        authority = uri.getAuthority()
        name = uri.getPath()
        return authority + name if authority else name

    @classmethod
    def _status_detail(cls, status) -> dict[str, Any]:
        return {
            "name": cls._status_name(status),
            "size": status.getLen(),
            "type": "directory" if status.isDirectory() else "file",
            "modified": _dt.datetime.fromtimestamp(
                status.getModificationTime() / 1000.0,
                tz=_dt.timezone.utc,
            ),
        }

    # -- FS6 surface (filesystem.py:109-129) --------------------------

    def ls(self, path: str, detail: bool = True) -> list:
        """List a file or directory (one level, like fsspec ls)."""
        statuses = self._fs(path).listStatus(self._jpath(path))
        details = [self._status_detail(s) for s in statuses]
        if detail:
            return details
        return [d["name"] for d in details]

    def rm(self, path: str, recursive: bool = False) -> bool:
        """Delete a path; ``recursive`` required for non-empty dirs."""
        return self._fs(path).delete(self._jpath(path), recursive)

    # reference name (filesystem.py:108) — same operation
    _rm = rm

    def cp_file(self, path1: str, path2: str) -> None:
        """Copy one file (within or across Hadoop filesystems)."""
        src_fs, dst_fs = self._fs(path1), self._fs(path2)
        util = self._jvm.org.apache.hadoop.fs.FileUtil
        ok = util.copy(
            src_fs,
            self._jpath(path1),
            dst_fs,
            self._jpath(path2),
            False,  # deleteSource
            True,  # overwrite
            self._conf,
        )
        if not ok:
            raise IOError(f"copy failed: {path1} -> {path2}")

    def created(self, path: str) -> _dt.datetime:
        """Creation time — local files only (S3 has no creation time;
        the reference's s3 backend raises NotImplementedError too)."""
        if _scheme(path) in _S3_SCHEMES:
            raise NotImplementedError("created() is not available on S3")
        local = path[len("file://"):] if path.startswith("file://") else path
        return _dt.datetime.fromtimestamp(
            os.stat(local).st_ctime, tz=_dt.timezone.utc
        )

    def modified(self, path: str) -> _dt.datetime:
        """Modification time from Hadoop FileStatus (any filesystem)."""
        status = self._fs(path).getFileStatus(self._jpath(path))
        return _dt.datetime.fromtimestamp(
            status.getModificationTime() / 1000.0, tz=_dt.timezone.utc
        )

    def sign(self, path: str, expiration: int = 100, **kwargs: Any) -> str:
        """Presigned GET URL for an S3 object (expiration in seconds).

        Local paths raise NotImplementedError — reference behavior
        (fsspec LocalFileSystem.sign does the same).
        """
        scheme = _scheme(path)
        if scheme not in _S3_SCHEMES:
            raise NotImplementedError(f"sign() unsupported for {scheme}://")
        import boto3  # deferred: only needed on the s3 path

        rest = path.split("://", 1)[1]
        bucket, _, key = rest.partition("/")
        client = boto3.client("s3", **kwargs)
        return client.generate_presigned_url(
            "get_object",
            Params={"Bucket": bucket, "Key": key},
            ExpiresIn=expiration,
        )

    @property
    def fsid(self) -> str:
        """Stable id for the default filesystem (scheme + authority)."""
        uri = self._jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
            self._conf
        )
        return str(uri)

    # -- extras the reference gets via fsspec delegation (FS5) --------

    def exists(self, path: str) -> bool:
        return self._fs(path).exists(self._jpath(path))

    def makedirs(self, path: str) -> bool:
        return self._fs(path).mkdirs(self._jpath(path))

    def open(self, path: str, mode: str = "rb"):
        """Small driver-side reads/writes (config files, manifests —
        NOT data paths; datasets go through DataIO/Spark)."""
        if mode not in ("rb", "wb"):
            raise ValueError("only 'rb'/'wb' supported")
        jpath = self._jpath(path)
        fs = self._fs(path)
        if mode == "rb":
            stream = fs.open(jpath)
            sink = self._jvm.java.io.ByteArrayOutputStream()
            # JVM-side copy; byte[] return values cross py4j as bytes
            # (a Python bytearray arg would be passed by VALUE, so
            # readFully-style mutation never reaches the driver)
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, sink, self._conf, True
            )
            import io

            return io.BytesIO(bytes(sink.toByteArray()))
        stream = fs.create(jpath, True)
        return _JvmWriter(stream)

    def glob(self, pattern: str, detail: bool = False):
        """Hadoop glob (``*``, ``?``, ``[abc]``, ``{a,b}``) — the
        fsspec method the FS6 delegate list most obviously lacked;
        served by ``FileSystem.globStatus`` rather than fsspec.
        ``detail=True`` returns the fsspec mapping shape
        ``{name: info}`` (r12, ADVICE fix — ported call sites expect
        the dict, and the plain list was unsorted)."""
        statuses = self._fs(pattern).globStatus(self._jpath(pattern))
        if statuses is None:
            return {} if detail else []
        details = sorted(
            (self._status_detail(s) for s in statuses),
            key=lambda d: d["name"],
        )
        if detail:
            return {d["name"]: d for d in details}
        return [d["name"] for d in details]

    def _files(self, path: str):
        """(name, size) of every file under a path, recursively.

        The local filesystem is walked with ``listStatus``: its
        ``listFiles`` builds a ``LocatedFileStatus`` per file, which
        reads the permissions and, without native Hadoop, forks an
        ``ls -ld`` for each one.  Other schemes keep ``listFiles`` —
        on S3A that is one flat paginated LIST, where a walk would
        cost one LIST per directory."""
        fs = self._fs(path)
        root = self._jpath(path)
        if fs.getUri().getScheme() != "file":
            it = fs.listFiles(root, True)
            while it.hasNext():
                status = it.next()
                yield self._status_name(status), status.getLen()
            return
        pending = [root]
        while pending:
            for status in fs.listStatus(pending.pop()):
                if status.isDirectory():
                    pending.append(status.getPath())
                else:
                    yield self._status_name(status), status.getLen()

    def find(self, path: str) -> list[str]:
        """All FILES under a path, recursively (fsspec ``find``)."""
        return sorted(name for name, _ in self._files(path))

    def du(self, path: str, total: bool = True):
        """Bytes under a path (fsspec ``du``): one number, or a
        per-file dict with ``total=False``."""
        sizes = dict(self._files(path))
        return sum(sizes.values()) if total else sizes

    def size(self, path: str) -> int:
        return int(
            self._fs(path).getFileStatus(self._jpath(path)).getLen()
        )

    def isfile(self, path: str) -> bool:
        fs = self._fs(path)
        jpath = self._jpath(path)
        return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isFile())

    def isdir(self, path: str) -> bool:
        fs = self._fs(path)
        jpath = self._jpath(path)
        return bool(fs.exists(jpath)) and bool(
            fs.getFileStatus(jpath).isDirectory()
        )

    def cat(self, path: str) -> bytes:
        """Whole-file bytes (fsspec ``cat`` — driver-side small reads
        only; datasets go through DataIO/Spark)."""
        with self.open(path, "rb") as f:
            return f.read()

    def touch(self, path: str) -> None:
        """Create an empty file (or truncate an existing one)."""
        self._fs(path).create(self._jpath(path), True).close()

    # -- FS5: dynamic method delegation (filesystem.py:54-67) ---------

    def __getattr__(self, name: str):
        """Anything not implemented above delegates to the matching
        fsspec filesystem method, dispatched per call on the path's
        scheme — the reference's FS5 surface (filesystem.py:54-67
        copies every fsspec bound method onto the wrapper; here the
        lookup is lazy, so the wrapper works without fsspec until an
        undelegated method is actually called).  Import-gated: without
        fsspec installed the AttributeError names the gap and the
        Hadoop-served surface above is unaffected.

        Two documented caveats of the lazy form: (1) with fsspec
        installed, ``hasattr(fs, name)`` is True for ANY non-dunder
        name — a misspelling surfaces at CALL time as fsspec's own
        AttributeError, not at lookup; (2) fsspec does not read the
        session's Hadoop configuration — pass ``fsspec_storage_options``
        at construction so delegated calls act as the same principal
        as the Hadoop-served surface."""
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            import fsspec
        except ImportError as exc:
            raise AttributeError(
                f"FsUtil has no Hadoop-served method {name!r}; dynamic "
                "fsspec delegation (reference FS5) needs the optional "
                "fsspec package"
            ) from exc
        opts = self._fsspec_opts

        def delegate(*args, **kwargs):
            # dispatch on the PATH arguments only (r12, VERDICT r11
            # task 2 + review fix): the first positional is a path for
            # every fsspec method; the second is a path ONLY for the
            # known two-path verbs — put/upload(lpath, rpath) would
            # otherwise bind the LOCAL filesystem and treat the remote
            # URL as a literal local destination, silently writing an
            # 's3a:' directory on disk.  Scanning EVERY string arg is
            # wrong the other way: pipe/write-shaped methods carry
            # payload strings ('see https://example.com') that must
            # not hijack the dispatch.  Among the considered path
            # args a remote scheme wins; all-local calls stay local.
            cand = []
            if args and isinstance(args[0], str):
                cand.append(args[0])
            if (
                name in _TWO_PATH_METHODS
                and len(args) > 1
                and isinstance(args[1], str)
            ):
                cand.append(args[1])
            for k in ("path", "path1", "path2", "lpath", "rpath",
                      "url", "urlpath"):
                v = kwargs.get(k)
                if isinstance(v, str):
                    cand.append(v)
            scheme = None
            for a in cand:
                s = _scheme(a)
                if scheme is None:
                    scheme = s
                if s != "file":
                    scheme = s
                    break
            if scheme is None:
                scheme = "file"
            proto = {"file": "file", "s3a": "s3", "s3n": "s3"}.get(
                scheme, scheme
            )
            fs = fsspec.filesystem(proto, **opts.get(proto, {}))
            return getattr(fs, name)(*args, **kwargs)

        delegate.__name__ = name
        return delegate


class _JvmWriter:
    """Context-managed byte writer over a Hadoop output stream."""

    def __init__(self, stream) -> None:
        self._stream = stream

    def write(self, data: bytes) -> int:
        self._stream.write(bytearray(data))
        return len(data)

    def close(self) -> None:
        self._stream.close()

    def __enter__(self) -> "_JvmWriter":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


__all__ = ["FsUtil"]

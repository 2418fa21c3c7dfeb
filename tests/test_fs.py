"""FsUtil parity tests — mirrors the reference's filesystem matrix
(reference tests/test_filesystem.py:60-110: ls/rm/cp round trip,
created/modified datetimes, sign error paths) on the local backend."""

from __future__ import annotations

import datetime

import pytest

from data_toolz_spark.fs import FsUtil
from data_toolz_spark.sources.maintenance import dataset_stats


@pytest.fixture()
def fs(spark):
    return FsUtil(spark)


def _touch(tmp_path, name, data=b"x"):
    p = tmp_path / name
    p.write_bytes(data)
    return str(p)


def test_ls_detail_and_names(fs, tmp_path):
    _touch(tmp_path, "a.txt", b"aa")
    (tmp_path / "sub").mkdir()
    details = fs.ls(str(tmp_path))
    assert {d["name"].rsplit("/", 1)[1] for d in details} == {"a.txt", "sub"}
    by_name = {d["name"].rsplit("/", 1)[1]: d for d in details}
    assert by_name["a.txt"]["type"] == "file"
    assert by_name["a.txt"]["size"] == 2
    assert by_name["sub"]["type"] == "directory"
    assert isinstance(by_name["a.txt"]["modified"], datetime.datetime)
    names = fs.ls(str(tmp_path), detail=False)
    assert sorted(n.rsplit("/", 1)[1] for n in names) == ["a.txt", "sub"]


def test_rm_file_and_recursive_dir(fs, tmp_path):
    path = _touch(tmp_path, "gone.txt")
    assert fs.rm(path) is True
    assert not fs.exists(path)
    d = tmp_path / "dir"
    d.mkdir()
    _touch(d, "x.txt")
    assert fs.rm(str(d), recursive=True) is True
    assert not fs.exists(str(d))
    # reference name survives as an alias (filesystem.py:108)
    path2 = _touch(tmp_path, "gone2.txt")
    assert fs._rm(path2) is True


def test_cp_file_round_trip(fs, tmp_path):
    src = _touch(tmp_path, "src.bin", b"payload")
    dst = str(tmp_path / "dst.bin")
    fs.cp_file(src, dst)
    assert fs.open(dst).read() == b"payload"


def test_created_modified_local(fs, tmp_path):
    path = _touch(tmp_path, "t.txt")
    assert isinstance(fs.created(path), datetime.datetime)
    mod = fs.modified(path)
    assert isinstance(mod, datetime.datetime)
    now = datetime.datetime.now(tz=datetime.timezone.utc)
    assert abs((now - mod).total_seconds()) < 300


def test_created_s3_not_implemented(fs):
    with pytest.raises(NotImplementedError):
        fs.created("s3a://bucket/key")


def test_sign_local_not_implemented(fs, tmp_path):
    # reference behavior: sign on the local backend raises
    # (tests/test_filesystem.py:109-110)
    with pytest.raises(NotImplementedError):
        fs.sign(_touch(tmp_path, "s.txt"))


def test_open_write_read(fs, tmp_path):
    path = str(tmp_path / "w.bin")
    with fs.open(path, "wb") as fo:
        fo.write(b"abc123")
    assert fs.open(path).read() == b"abc123"


def test_fsid_is_stable_string(fs):
    assert isinstance(fs.fsid, str)
    assert fs.fsid == fs.fsid


def test_glob_find_du_size_predicates(fs, tmp_path):
    """r11: the widened Hadoop-served surface (glob/find/du/size/
    isfile/isdir/cat/touch) — the methods the reference gets via FS5
    fsspec delegation, served by the Hadoop FileSystem instead."""
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.txt").write_bytes(b"12345")
    (tmp_path / "a" / "y.txt").write_bytes(b"678")
    (tmp_path / "a" / "z.log").write_bytes(b"9")
    (tmp_path / "b").mkdir()
    (tmp_path / "b" / "w.txt").write_bytes(b"00")

    got = fs.glob(str(tmp_path / "a" / "*.txt"))
    assert [g.rsplit("/", 1)[1] for g in got] == ["x.txt", "y.txt"]
    assert fs.glob(str(tmp_path / "nope" / "*")) == []
    # detail=True returns the fsspec mapping shape {name: info} (r12)
    d = fs.glob(str(tmp_path / "a" / "*.log"), detail=True)
    assert isinstance(d, dict) and len(d) == 1
    ((nm, info),) = d.items()
    assert nm.endswith("z.log")
    assert info["size"] == 1 and info["type"] == "file"
    assert fs.glob(str(tmp_path / "nope" / "*"), detail=True) == {}
    # detail=False list comes back sorted
    multi = fs.glob(str(tmp_path / "a" / "*"))
    assert multi == sorted(multi)

    found = fs.find(str(tmp_path))
    # sorted by FULL path: a/* before b/*
    assert [f.rsplit("/", 1)[1] for f in found] == [
        "x.txt", "y.txt", "z.log", "w.txt",
    ]
    assert fs.du(str(tmp_path)) == 11
    per = fs.du(str(tmp_path / "a"), total=False)
    assert set(per.values()) == {5, 3, 1}
    assert fs.size(str(tmp_path / "a" / "x.txt")) == 5
    assert fs.isfile(str(tmp_path / "a" / "x.txt"))
    assert not fs.isfile(str(tmp_path / "a"))
    assert fs.isdir(str(tmp_path / "a"))
    assert not fs.isdir(str(tmp_path / "missing"))
    assert fs.cat(str(tmp_path / "a" / "y.txt")) == b"678"
    fs.touch(str(tmp_path / "new.bin"))
    assert fs.isfile(str(tmp_path / "new.bin"))
    assert fs.size(str(tmp_path / "new.bin")) == 0


def test_find_du_local_walk_matches_list_files(spark, fs, tmp_path):
    """On the local filesystem find/du (and dataset_stats) walk the
    tree with listStatus; they must return exactly what Hadoop's
    recursive listFiles does on a nested tree holding a Spark-written
    dataset (_SUCCESS markers listed, .crc checksum files hidden) next
    to plain files."""
    root = tmp_path / "tree"
    (root / "a" / "b").mkdir(parents=True)
    (root / "a" / "x.txt").write_bytes(b"12345")
    (root / "a" / "b" / "y.bin").write_bytes(b"678")
    (root / "empty").mkdir()
    spark.range(20).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(str(root / "ds"))

    jvm = spark._jvm
    jroot = jvm.org.apache.hadoop.fs.Path(str(root))
    it = jroot.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).listFiles(jroot, True)
    listed = {}
    while it.hasNext():
        status = it.next()
        listed[status.getPath().toUri().getPath()] = status.getLen()

    assert fs.find(str(root)) == sorted(listed)
    assert fs.du(str(root), total=False) == listed
    assert fs.du(str(root)) == sum(listed.values())
    names = [f.rsplit("/", 1)[1] for f in listed]
    assert "_SUCCESS" in names
    assert not any(n.endswith(".crc") for n in names)
    assert any(f.endswith("/a/b/y.bin") for f in listed)
    # a file path lists itself
    one = str(root / "a" / "x.txt")
    assert fs.find(one) == [one]
    assert fs.du(one, total=False) == {one: 5}
    # dataset_stats walks the same way and drops _/. names from the
    # listing (the _SUCCESS markers here)
    kept = [
        size
        for f, size in listed.items()
        if not f.rsplit("/", 1)[1].startswith(("_", "."))
    ]
    stats = dataset_stats(spark, str(root))
    assert len(kept) < len(listed)
    assert stats["n_files"] == len(kept)
    assert stats["total_bytes"] == sum(kept)
    assert (stats["min_bytes"], stats["max_bytes"]) == (min(kept), max(kept))


def test_fs5_dynamic_delegation_gate(fs):
    """FS5: unknown methods resolve through fsspec when installed;
    without it the AttributeError names the gap (import-gated — this
    container has no fsspec, so the gate path is what executes)."""
    try:
        import fsspec  # noqa: F401

        have = True
    except ImportError:
        have = False
    if have:
        walked = fs.walk("/tmp")  # any fsspec method name
        assert walked is not None
    else:
        with pytest.raises(AttributeError, match="fsspec"):
            fs.walk
    # underscore names never delegate (pickle/dunder safety)
    with pytest.raises(AttributeError):
        fs._not_a_method


# ---------------------------------------------------------------------------
# r12 (VERDICT r11 task 2): execute the FS5 delegation arm with a
# test-double fsspec module — the container has no fsspec, so without
# the double only the AttributeError gate path ever runs.
# ---------------------------------------------------------------------------


class _FakeFs:
    def __init__(self, proto, options):
        self.proto = proto
        self.options = options
        self.calls = []

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)

        def method(*args, **kwargs):
            self.calls.append((name, args, kwargs))
            return {"proto": self.proto, "method": name, "args": args,
                    "options": self.options}

        return method


@pytest.fixture()
def fake_fsspec(monkeypatch):
    """Inject a recording ``fsspec`` double into sys.modules; yields
    the registry of constructed filesystems keyed by protocol."""
    import sys
    import types

    made = {}
    mod = types.ModuleType("fsspec")

    def filesystem(proto, **options):
        fs = _FakeFs(proto, options)
        made.setdefault(proto, []).append(fs)
        return fs

    mod.filesystem = filesystem
    monkeypatch.setitem(sys.modules, "fsspec", mod)
    return made


def test_fs5_delegated_call_executes(fs, fake_fsspec):
    """A single-path delegated method routes by the path's scheme and
    actually calls through the fsspec filesystem object."""
    out = fs.walk("/tmp/somewhere")
    assert out["proto"] == "file" and out["method"] == "walk"
    assert out["args"] == ("/tmp/somewhere",)
    (ffs,) = fake_fsspec["file"]
    assert ffs.calls == [("walk", ("/tmp/somewhere",), {})]


def test_fs5_s3a_protocol_map_and_storage_options(spark, fake_fsspec):
    """s3a:// and s3n:// both map to fsspec's 's3' protocol, and the
    per-protocol fsspec_storage_options reach the constructor — the
    credential pass-through a credentialed session needs."""
    fs = FsUtil(
        spark,
        fsspec_storage_options={"s3": {"key": "AK", "secret": "SK"}},
    )
    out = fs.checksum("s3a://bucket/key")
    assert out["proto"] == "s3"
    assert out["options"] == {"key": "AK", "secret": "SK"}
    fs.checksum("s3n://bucket/key2")
    assert len(fake_fsspec["s3"]) == 2
    assert all(f.options == {"key": "AK", "secret": "SK"}
               for f in fake_fsspec["s3"])


def test_fs5_two_path_put_binds_remote_fs(fs, fake_fsspec):
    """The r11 defect, pinned right: put(local, s3a://…) must bind the
    S3 filesystem (the first-arg dispatch bound LocalFileSystem and
    wrote a literal 's3a:' directory on disk).  get(remote, local) and
    all-local two-path calls keep their correct binding."""
    out = fs.put("/tmp/local.bin", "s3a://bucket/key")
    assert out["proto"] == "s3"
    assert out["args"] == ("/tmp/local.bin", "s3a://bucket/key")
    out = fs.upload("/tmp/local.bin", "s3://bucket/key")
    assert out["proto"] == "s3"
    out = fs.get("s3a://bucket/key", "/tmp/local.bin")
    assert out["proto"] == "s3"
    out = fs.copy("/tmp/a", "/tmp/b")
    assert out["proto"] == "file"
    # kwarg-passed remote paths dispatch too
    out = fs.put(lpath="/tmp/local.bin", rpath="s3a://bucket/key")
    assert out["proto"] == "s3"


def test_fs5_payload_strings_do_not_hijack_dispatch(fs, fake_fsspec):
    """Review fix (r12): only PATH arguments steer the dispatch — a
    payload string containing '://' (file contents, notes, URLs) must
    neither crash the scheme lookup nor silently rebind the call to a
    remote filesystem."""
    out = fs.pipe("/tmp/notes.txt", "see https://example.com for docs")
    assert out["proto"] == "file"
    assert out["args"][0] == "/tmp/notes.txt"
    out = fs.write_text("/tmp/url.txt", "s3://bucket/key")
    assert out["proto"] == "file"
    # but a genuinely remote FIRST path still routes remotely
    out = fs.pipe("s3a://bucket/k", "payload")
    assert out["proto"] == "s3"

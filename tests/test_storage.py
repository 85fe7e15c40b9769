"""The storage seam (``goodtables_pandas_py_spark.storage``): local
roots go through Python ``os`` whatever the session, other schemes
through Hadoop ``FileSystem``. The Hadoop backend is exercised on a
local root by forcing the path classifier to call every path
non-local (Hadoop's default filesystem then serves the plain path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodtables_pandas_py_spark import sources, storage
from goodtables_pandas_py_spark.extensions import pipeline as pl

from .test_connect_fallbacks import _NoGateway

SCHEMA = "doc_id long, text string, split string"
COLS = ("doc_id", "text", "split")


def _force_hadoop(monkeypatch) -> None:
    monkeypatch.setattr(storage, "_local_fs_path", lambda path: None)


def _corpus(spark):
    rows = [(i, f"t{i}", "ab"[i % 2]) for i in range(10)]
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _edit_split_a(df):
    return df.withColumn(
        "text",
        F.when(F.col("split") == "a", F.concat("text", F.lit("!")))
        .otherwise(F.col("text")),
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_require_local_unwraps_file_uris_and_refuses_other_schemes(spark):
    assert storage.require_local(spark, "/tmp/ix", "f") == "/tmp/ix"
    assert storage.require_local(spark, "file:///tmp/a%20b", "f") == (
        "/tmp/a b"
    )
    with pytest.raises(ValueError, match="s3a://"):
        storage.require_local(spark, "s3a://bucket/ix", "f")


def test_default_filesystem_looked_up_once_per_session(spark, monkeypatch):
    """A plain path means the session's fs.defaultFS (local here); a
    gateway-less session reads plain paths locally. The lookup is
    cached, so later classifications make no gateway call."""
    assert storage._default_scheme(spark) == "file"
    assert storage._default_scheme(_NoGateway()) == "file"
    calls = []
    monkeypatch.setattr(
        storage, "_jvm_fs", lambda session: calls.append(session)
    )
    assert storage._local(spark, "/tmp/x") == "/tmp/x"
    assert calls == []


def test_plain_root_on_a_cluster_default_fs_goes_through_hadoop(
    spark, tmp_path, monkeypatch
):
    """Where fs.defaultFS is not local (HDFS on a YARN cluster), a
    plain release root names that filesystem, as it does for Spark's
    own writes: every store operation goes through Hadoop. (Hadoop's
    real default here is local, so the root lands in ``tmp_path``;
    its checksummed FS leaves ``.CURRENT.crc`` to show which backend
    wrote.) A file:// URI stays local, and IVF roots are refused."""
    monkeypatch.setattr(storage, "_default_scheme", lambda session: "hdfs")
    root = str(tmp_path / "rel")
    assert storage._local(spark, root) is None
    assert storage._local(spark, f"file://{root}") == root

    df = _corpus(spark)
    pl.write_release_version(df, root)
    assert (tmp_path / "rel" / ".CURRENT.crc").exists()
    m2 = pl.write_release_increment(_edit_split_a(df), root)
    assert m2["incremental"]["reused"] == ["b"]
    got, man = pl.read_release(spark, root)
    assert man["version"] == "v00000002"
    assert _rows(got) == _rows(_edit_split_a(df))

    for ix in (str(tmp_path / "ivf"), f"file://{tmp_path}/ivf"):
        with pytest.raises(ValueError, match="default filesystem is hdfs"):
            storage.require_local(spark, ix, "write_ivf_index")


def test_mixed_session_publishes_stay_readable(spark, tmp_path):
    """A classic publish, then a gateway-less (Connect-style) publish,
    then a classic read: every session reads and writes a local root
    the same way, so no stale Hadoop checksum can fail the read."""
    root = str(tmp_path / "rel")
    df = _corpus(spark)
    pl.write_release_version(df, root)
    pl.write_release_version(
        _edit_split_a(df), root, spark_for_fs=_NoGateway()
    )
    got, man = pl.read_release(spark, root)
    assert man["version"] == "v00000002"
    assert man["n_rows"] == 10
    assert _rows(got) == _rows(_edit_split_a(df))


def test_hadoop_written_root_takes_a_local_increment(
    spark, tmp_path, monkeypatch
):
    """A root published through Hadoop's checksummed local FS (as
    every classic-session publish once was) takes a local increment
    and still reads back through Hadoop: the local backend drops the
    ``.CURRENT.crc`` sidecar before it replaces CURRENT."""
    root = str(tmp_path / "rel")
    df = _corpus(spark)
    _force_hadoop(monkeypatch)
    pl.write_release_version(df, root)
    assert (tmp_path / "rel" / ".CURRENT.crc").exists()
    monkeypatch.undo()

    m2 = pl.write_release_increment(_edit_split_a(df), root)
    assert m2["incremental"]["rewritten"] == ["a"]
    assert not (tmp_path / "rel" / ".CURRENT.crc").exists()

    _force_hadoop(monkeypatch)
    got, man = pl.read_release(spark, root)
    assert man["version"] == "v00000002"
    assert _rows(got) == _rows(_edit_split_a(df))


def test_file_uri_root_keeps_escaped_split_dirs(spark, tmp_path):
    """Spark writes split value ``b?c`` as the directory
    ``split=b%3Fc``. On a ``file://`` root the listed name is quoted
    onto the URI, so the percent-decoding local backend reaches that
    directory, not ``split=b?c``: an increment reusing it and a
    compaction counting its files read back every row."""
    root = f"file://{tmp_path}/rel"
    v1 = [(1, "t1", "a"), (2, "t2", "b?c"), (3, "t3", "d")]
    pl.write_release_version(spark.createDataFrame(v1, SCHEMA), root)
    v2 = [(1, "t1!", "a"), (2, "t2", "b?c"), (3, "t3", "d")]
    m2 = pl.write_release_increment(spark.createDataFrame(v2, SCHEMA), root)
    assert m2["incremental"]["reused"] == ["b?c", "d"]
    assert _rows(pl.read_release(spark, root)[0]) == sorted(v2)
    data = tmp_path / "rel" / "versions" / "v00000002" / "data.parquet"
    assert sorted(p.name for p in data.glob("split=*")) == [
        "split=a", "split=b%3Fc", "split=d",
    ]

    v3 = v2 + [(4, "t4", "b?c")]
    pl.write_release_append(spark.createDataFrame(v3[3:], SCHEMA), root)
    m4 = pl.compact_release_version(spark, root)
    assert m4["incremental"]["rewritten"] == ["b?c"]
    assert _rows(pl.read_release(spark, root)[0]) == sorted(v3)


@pytest.mark.parametrize("backend", ["local", "hadoop"])
def test_release_round_trip(spark, tmp_path, monkeypatch, backend):
    """Every store operation on one root, through one backend: full
    publish, increment, merge, append, compaction with retention,
    orphan vacuum, rollback and reads."""
    if backend == "hadoop":
        _force_hadoop(monkeypatch)
    root = str(tmp_path / "rel")
    df = _corpus(spark)
    pl.write_release_version(df, root)

    m2 = pl.write_release_increment(_edit_split_a(df), root)
    assert m2["incremental"]["rewritten"] == ["a"]
    assert m2["incremental"]["reused"] == ["b"]

    m3 = pl.write_release_merge(
        spark.createDataFrame([(0, "new", "a")], SCHEMA),
        root,
        deletes=spark.createDataFrame([(1, "b")], "doc_id long, split string"),
    )
    assert m3["n_rows"] == 9
    m4 = pl.write_release_append(
        spark.createDataFrame([(10, "t10", "b")], SCHEMA), root
    )
    assert m4["n_rows"] == 10
    want = sorted(
        [(0, "new", "a")]
        + [(i, f"t{i}!", "a") for i in (2, 4, 6, 8)]
        + [(i, f"t{i}", "b") for i in (3, 5, 7, 9, 10)]
    )
    assert _rows(pl.read_release(spark, root)[0]) == want

    # the append left partition b with more than one file
    m5 = pl.compact_release_version(spark, root, keep_versions=3)
    assert m5["version"] == "v00000005"
    assert m5["incremental"]["compaction"] is True
    assert "b" in m5["incremental"]["rewritten"]
    assert _rows(pl.read_release(spark, root)[0]) == want
    assert pl.list_release_versions(spark, root) == [
        "v00000003", "v00000004", "v00000005",
    ]

    # a claimed, never-published dir below CURRENT is an orphan
    pl._claim_version(spark, root, "v00000001")
    assert pl.vacuum_release_orphans(spark, root) == []  # within grace
    assert pl.vacuum_release_orphans(spark, root, grace_seconds=0) == [
        "v00000001"
    ]
    assert pl.list_release_versions(spark, root) == [
        "v00000003", "v00000004", "v00000005",
    ]

    assert pl.rollback_release(spark, root, "v00000003")["n_rows"] == 9
    got, man = pl.read_release(spark, root)
    assert man["version"] == "v00000003" and got.count() == 9
    assert pl.read_release(spark, root, "v00000005")[0].count() == 10


@pytest.mark.parametrize("backend", ["local", "hadoop"])
def test_gateway_calls_only_off_local_roots(
    spark, tmp_path, monkeypatch, backend
):
    """An incremental publish plus readback on a local root never
    touches the JVM gateway; through the Hadoop backend it does (so
    the counter is live)."""
    storage._default_scheme(spark)  # the once-per-session lookup
    calls = []
    real = storage._jvm_fs

    def counting(session):
        calls.append(session)
        return real(session)

    monkeypatch.setattr(storage, "_jvm_fs", counting)
    monkeypatch.setattr(sources, "_jvm_fs", counting)
    if backend == "hadoop":
        _force_hadoop(monkeypatch)
    root = str(tmp_path / "rel")
    df = _corpus(spark)
    pl.write_release_increment(df, root, keep_versions=3)
    pl.write_release_increment(_edit_split_a(df), root, keep_versions=3)
    assert pl.read_release(spark, root)[0].count() == 10
    assert (len(calls) == 0) == (backend == "local")


def test_current_rereads_a_pointer_missing_mid_swap(
    spark, monkeypatch, tmp_path
):
    """A non-local pointer swap is delete-then-rename, so a CURRENT read
    can miss on a live release: it is re-read (a bounded number of
    times) before it counts as unpublished. A local swap is
    os.replace, so a local miss is final after one read. Through the
    Hadoop backend the delete may land as the file is opened: that
    open's FileNotFoundException is a miss too."""
    reads = []

    def misses_once(spark, path):
        reads.append(path)
        return None if len(reads) == 1 else "v00000002\n"

    monkeypatch.setattr(storage, "read_text", misses_once)
    assert pl._current(None, "hdfs://nn/rel") == "v00000002"
    assert reads == ["hdfs://nn/rel/CURRENT"] * 2

    reads.clear()
    monkeypatch.setattr(
        storage, "read_text", lambda spark, path: reads.append(path)
    )
    assert pl._current(None, "hdfs://nn/rel") is None
    assert len(reads) == 4
    reads.clear()
    assert pl._current(None, str(tmp_path / "rel")) is None
    assert len(reads) == 1

    monkeypatch.undo()
    root = tmp_path / "swap"
    root.mkdir()
    (root / "CURRENT").write_text("v00000002\n")
    _force_hadoop(monkeypatch)
    real, opens = storage._hadoop, []

    def vanishing_once(session, path):
        jvm, fs, jpath = real(session, path)
        gone = jvm.org.apache.hadoop.fs.Path(f"{path}.gone")

        class _Fs:  # the first open finds the pointer deleted
            def open(self, p):
                opens.append(p)
                return fs.open(gone if len(opens) == 1 else p)

        return jvm, _Fs(), jpath

    monkeypatch.setattr(storage, "_hadoop", vanishing_once)
    assert pl._current(spark, str(root)) == "v00000002"
    assert len(opens) == 2

"""Spark-Connect / private-API hardening (VERDICT r5 item 6).

The package touches two private classic-session surfaces: the py4j
JVM gateway (Hadoop FS calls in sources/pipeline) and ``df._jdf``
(JVM-side partition count in ensure_parallelism). Connect sessions
expose neither, so every touchpoint must either fall back to a public
path or raise a RuntimeError naming the remedy. These tests exercise
the fallbacks directly — a fake gateway-less session for the FS
helpers, a delegating wrapper with a broken ``_jdf`` for
ensure_parallelism — without needing a real Connect server.
"""

from __future__ import annotations

import pytest

from goodtables_pandas_py_spark import sources


class _NoGateway:
    """A session-like object with no _jvm/_jsc, like a Connect client."""


class _BrokenJdf:
    """Delegates everything to a real DataFrame except ``_jdf``, which
    raises — the shape of a future Spark that drops the handle."""

    def __init__(self, df):
        object.__setattr__(self, "_df", df)

    def __getattr__(self, name):
        if name == "_jdf":
            raise AttributeError("_jdf is gone")
        return getattr(object.__getattribute__(self, "_df"), name)


def test_jvm_fs_raises_without_gateway():
    with pytest.raises(RuntimeError, match="Spark Connect"):
        sources._jvm_fs(_NoGateway())


def test_local_fs_path_classification():
    assert sources._local_fs_path("/tmp/x.csv") == "/tmp/x.csv"
    assert sources._local_fs_path("file:///tmp/a%20b.csv") == "/tmp/a b.csv"
    assert sources._local_fs_path("s3a://bucket/key.csv") is None
    assert sources._local_fs_path("hdfs://nn/x.csv") is None


def test_first_file_local_matches_jvm_path(spark, tmp_path):
    d = tmp_path / "data"
    d.mkdir()
    (d / "b.csv").write_text("b\n")
    (d / "a.csv").write_text("a\n")
    (d / "_SUCCESS").write_text("")
    (d / ".hidden").write_text("")
    sub = d / "inner"
    sub.mkdir()
    (sub / "z.csv").write_text("z\n")
    jvm_first = sources._first_file(spark, str(d))
    local_first = sources._first_file_local(str(d))
    assert local_first == str(d / "a.csv")
    # same leaf the Hadoop-FS route resolves (modulo file: prefix)
    assert jvm_first.endswith("a.csv")
    assert sources._first_file_local(str(d / "missing*")) is None


def test_read_first_line_falls_back_without_gateway(tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes("café;x|second;y|".encode("latin-1"))
    line = sources._read_first_line(_NoGateway(), str(p), "latin-1", "|")
    assert line == "café;x"


def test_read_first_line_fallback_rejects_remote_scheme():
    with pytest.raises(RuntimeError, match="Spark Connect"):
        sources._read_first_line(
            _NoGateway(), "s3a://bucket/x.csv", "utf-8", "\n"
        )


def test_ensure_parallelism_survives_missing_jdf(spark):
    df = spark.range(10).coalesce(1)
    out = sources.ensure_parallelism(_BrokenJdf(df), target=8)
    # fell back to public df.rdd partition count and still widened
    assert out.rdd.getNumPartitions() == 8
    assert out.count() == 10


def test_write_release_manifest_without_gateway(spark, tmp_path):
    """write_release's manifest lands via plain open() when no JVM
    gateway exists; the parquet write itself still uses the real
    session (only the session handle passed for FS work is faked)."""
    from goodtables_pandas_py_spark.extensions import pipeline as xpipe

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "rel")
    manifest = xpipe.write_release(
        df, out, spark_for_fs=_NoGateway()
    )
    assert manifest["n_rows"] == 5
    import json
    import os

    with open(os.path.join(out, "manifest.json")) as fh:
        assert json.load(fh)["n_rows"] == 5


def test_versioned_release_retention_without_gateway(spark, tmp_path):
    """The whole publish protocol (version listing, claim, manifest,
    swap, retention) runs on the ``spark_for_fs`` session: with no
    JVM gateway there, the second publish still prunes v1."""
    import os

    from goodtables_pandas_py_spark.extensions import pipeline as xpipe

    df = spark.range(5).withColumnRenamed("id", "doc_id")
    root = str(tmp_path / "rel")
    for _ in range(2):
        man = xpipe.write_release_version(
            df, root, spark_for_fs=_NoGateway(), keep_versions=1
        )
    assert man["version"] == "v00000002"
    assert sorted(os.listdir(os.path.join(root, "versions"))) == [
        "v00000002"
    ]
    with open(os.path.join(root, "CURRENT")) as fh:
        assert fh.read().strip() == "v00000002"

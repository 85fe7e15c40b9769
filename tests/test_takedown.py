"""Composite takedown across a versioned release + its IVF index
(extensions/takedown.py, r11): one audited call, both surfaces,
idempotent replay as the crash-recovery story."""

import os

import pytest

from goodtables_pandas_py_spark.extensions.pipeline import (
    list_release_versions,
    read_release,
    write_release_version,
)
from goodtables_pandas_py_spark.extensions.takedown import takedown_documents
from goodtables_pandas_py_spark.extensions.vecindex import (
    read_ivf_index_current,
    write_ivf_index_version,
)


def _publish_pair(spark, tmp_path):
    """A 8-doc release partitioned by split + a versioned IVF index
    over the same ids."""
    rows = [
        (i, f"document {i}", "train" if i % 2 == 0 else "test")
        for i in range(8)
    ]
    rel = str(tmp_path / "rel")
    write_release_version(
        spark.createDataFrame(rows, "doc_id long, text string, split string"),
        rel,
    )
    vecs = [
        (i, [1.0 if j == i % 4 else 0.0 for j in range(4)])
        for i in range(8)
    ]
    idx = str(tmp_path / "idx")
    write_ivf_index_version(
        spark.createDataFrame(vecs, "vec_id long, embedding array<float>"),
        idx,
        nlist=2,
        refine=2,
    )
    return rel, idx


def test_takedown_purges_release_and_index(spark, tmp_path):
    rel, idx = _publish_pair(spark, tmp_path)
    audit = takedown_documents(
        spark, rel, [2, 5], index_root=idx, verify=True
    )
    assert audit["requested"] == 2
    assert audit["release"]["n_deleted"] == 2
    assert not audit["release"]["noop_replay"]
    # id 2 is train, id 5 is test — both partitions rewritten
    assert audit["release"]["touched_splits"] == ["test", "train"]
    assert audit["index"]["n_deleted"] == 2
    assert not audit["index"].get("noop_replay", False)

    cur, man = read_release(spark, rel)
    got = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert got == {0, 1, 3, 4, 6, 7}
    assert man["version"] == audit["release"]["version"]
    postings = read_ivf_index_current(spark, idx).postings
    assert {r["id"] for r in postings.select("id").collect()} == got


@pytest.mark.slow
def test_takedown_replay_is_noop_on_both_roots(spark, tmp_path):
    rel, idx = _publish_pair(spark, tmp_path)
    takedown_documents(spark, rel, [2, 5], index_root=idx)
    rel_versions = list_release_versions(spark, rel)
    idx_versions = sorted(os.listdir(os.path.join(idx, "versions")))

    replay = takedown_documents(
        spark, rel, [2, 5], index_root=idx, verify=True
    )
    assert replay["requested"] == 2
    assert replay["release"]["noop_replay"]
    assert replay["release"]["n_deleted"] == 0
    assert replay["index"]["noop_replay"]
    # NOTHING published twice on either root
    assert list_release_versions(spark, rel) == rel_versions
    assert (
        sorted(os.listdir(os.path.join(idx, "versions"))) == idx_versions
    )


def test_takedown_crash_between_halves_completes_by_replay(
    spark, tmp_path
):
    """Release publishes, index half fails (its root has no CURRENT)
    → the audit trail is the exception; replaying the SAME call with
    the index repaired completes only the missing half."""
    rel, idx = _publish_pair(spark, tmp_path)
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        takedown_documents(
            spark, rel, [2, 5], index_root=str(tmp_path / "nowhere")
        )
    # release half went through
    cur, _ = read_release(spark, rel)
    assert cur.where("doc_id in (2, 5)").count() == 0

    done = takedown_documents(spark, rel, [2, 5], index_root=idx)
    assert done["release"]["noop_replay"]          # already purged
    assert done["index"]["n_deleted"] == 2         # completed now
    postings = read_ivf_index_current(spark, idx).postings
    assert postings.where("id in (2, 5)").count() == 0


def test_takedown_release_only_and_id_guards(spark, tmp_path):
    rel, _ = _publish_pair(spark, tmp_path)
    with pytest.raises(TypeError, match="non-integral floats"):
        takedown_documents(spark, rel, [5.7])
    with pytest.raises(ValueError, match="does not cast"):
        takedown_documents(spark, rel, ["not-an-id"])

    audit = takedown_documents(spark, rel, [0, 99], verify=True)
    assert audit["index"] is None
    assert audit["requested"] == 2
    assert audit["release"]["n_deleted"] == 1      # 99 never existed
    cur, _ = read_release(spark, rel)
    assert cur.where("doc_id = 0").count() == 0


@pytest.mark.slow
def test_takedown_property_conservation_and_replay(spark, tmp_path):
    """Hypothesis property (r11): over random corpora, splits, and
    delete sets (existing, absent, and mixed ids), the composite
    takedown conserves exactly — survivors on BOTH surfaces are the
    base ids minus the requested set, version counts advance only
    when something matched, and an immediate replay publishes nothing
    on either root."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    counter = {"n": 0}

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seed=st.integers(min_value=0, max_value=10**6))
    def run(seed):
        rng = random.Random(seed)
        counter["n"] += 1
        rel = str(tmp_path / f"p{counter['n']}_rel")
        idx = str(tmp_path / f"p{counter['n']}_idx")
        n = rng.randint(10, 30)
        splits = ["train", "val", "test"][: rng.randint(1, 3)]
        rows = [
            (i, f"doc {i}", rng.choice(splits)) for i in range(n)
        ]
        write_release_version(
            spark.createDataFrame(
                rows, "doc_id long, text string, split string"
            ),
            rel,
        )
        dim = 4
        vecs = [
            (i, [rng.uniform(-4, 4) for _ in range(dim)])
            for i in range(n)
        ]
        write_ivf_index_version(
            spark.createDataFrame(
                vecs, "vec_id long, embedding array<double>"
            ),
            idx,
            nlist=rng.randint(2, 4),
            refine=1,
        )
        # requested set mixes present and absent ids; may match nothing
        requested = sorted(
            set(
                rng.sample(
                    range(0, 2 * n), rng.randint(0, min(8, n))
                )
            )
        )
        matched = sorted(i for i in requested if i < n)
        audit = takedown_documents(
            spark, rel, requested, index_root=idx, verify=True
        )
        assert audit["requested"] == len(requested)
        assert audit["release"]["n_deleted"] == len(matched)
        expect = set(range(n)) - set(matched)
        cur, man = read_release(spark, rel)
        assert {
            r["doc_id"] for r in cur.select("doc_id").collect()
        } == expect
        postings = read_ivf_index_current(spark, idx).postings
        assert {
            r["id"] for r in postings.select("id").collect()
        } == expect
        rel_versions = list_release_versions(spark, rel)
        idx_versions = sorted(os.listdir(os.path.join(idx, "versions")))
        if matched:
            assert audit["index"]["n_deleted"] == len(matched)
            assert len(rel_versions) == 2
        else:
            assert audit["release"]["noop_replay"]
            assert len(rel_versions) == 1
            assert len(idx_versions) == 1
        replay = takedown_documents(
            spark, rel, requested, index_root=idx
        )
        assert replay["release"]["noop_replay"]
        assert replay["index"] is None or replay["index"].get(
            "noop_replay", requested == []
        )
        assert list_release_versions(spark, rel) == rel_versions
        assert (
            sorted(os.listdir(os.path.join(idx, "versions")))
            == idx_versions
        )

    run()


def test_ingest_updates_and_inserts_both_surfaces(spark, tmp_path):
    """ingest_documents (r11): one call upserts a document wave into
    the release AND its embeddings into the index — matched ids
    replaced on both surfaces, new ids inserted on both."""
    from goodtables_pandas_py_spark.extensions.takedown import (
        ingest_documents,
    )

    rel, idx = _publish_pair(spark, tmp_path)
    updates = spark.createDataFrame(
        [(0, "rewritten zero", "train"), (100, "brand new", "test")],
        "doc_id long, text string, split string",
    )
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 2.0]), (100, [0.0, 0.0, 2.0, 0.0])],
        "doc_id long, embedding array<float>",
    )
    audit = ingest_documents(
        spark, rel, updates, index_root=idx, embeddings=emb,
        verify=True,
    )
    assert not audit["release"]["noop_replay"]
    assert audit["index"]["n_changed"] == 2
    assert audit["index"]["n_inserted"] == 1
    assert audit["index"]["n_replaced"] == 1

    cur, _ = read_release(spark, rel)
    got = {r["doc_id"]: r["text"] for r in cur.collect()}
    assert got[0] == "rewritten zero"
    assert got[100] == "brand new"
    assert len(got) == 9
    postings = read_ivf_index_current(spark, idx).postings
    assert postings.count() == 9
    assert postings.where("id = 100").count() == 1

    # replay: NOTHING published on either root
    rel_versions = list_release_versions(spark, rel)
    idx_versions = sorted(os.listdir(os.path.join(idx, "versions")))
    replay = ingest_documents(
        spark, rel, updates, index_root=idx, embeddings=emb,
        verify=True,
    )
    assert replay["release"]["noop_replay"]
    assert replay["index"]["noop_replay"]
    assert list_release_versions(spark, rel) == rel_versions
    assert (
        sorted(os.listdir(os.path.join(idx, "versions"))) == idx_versions
    )


@pytest.mark.slow
def test_ingest_crash_between_halves_completes_by_replay(
    spark, tmp_path
):
    """Release half lands, index half fails → replaying the same
    call no-ops the release and completes the index."""
    from goodtables_pandas_py_spark.extensions.takedown import (
        ingest_documents,
    )

    rel, idx = _publish_pair(spark, tmp_path)
    updates = spark.createDataFrame(
        [(50, "late doc", "train")],
        "doc_id long, text string, split string",
    )
    emb = spark.createDataFrame(
        [(50, [0.5, 0.5, 0.5, 0.5])],
        "doc_id long, embedding array<float>",
    )
    with pytest.raises(FileNotFoundError, match="CURRENT"):
        ingest_documents(
            spark, rel, updates,
            index_root=str(tmp_path / "nowhere"), embeddings=emb,
        )
    cur, _ = read_release(spark, rel)
    assert cur.where("doc_id = 50").count() == 1   # content landed

    done = ingest_documents(
        spark, rel, updates, index_root=idx, embeddings=emb,
    )
    assert done["release"]["noop_replay"]
    assert done["index"]["n_inserted"] == 1
    postings = read_ivf_index_current(spark, idx).postings
    assert postings.where("id = 50").count() == 1


def test_ingest_derives_embeddings_and_requires_them(spark, tmp_path):
    """embeddings=None derives (id, vec) from updates when the column
    is there — and refuses loudly when it is not."""
    from goodtables_pandas_py_spark.extensions.takedown import (
        ingest_documents,
    )
    from goodtables_pandas_py_spark.extensions.pipeline import (
        write_release_version,
    )
    from goodtables_pandas_py_spark.extensions.vecindex import (
        write_ivf_index_version,
    )

    rel = str(tmp_path / "rel")
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(i, f"d{i}", "train", [float(i), 0.0]) for i in range(4)],
        "doc_id long, text string, split string, "
        "embedding array<float>",
    )
    write_release_version(base, rel)
    write_ivf_index_version(
        base.select("doc_id", "embedding"), idx,
        id_col="doc_id", nlist=2, refine=1,
    )
    updates = spark.createDataFrame(
        [(9, "with vec", "train", [9.0, 1.0])],
        "doc_id long, text string, split string, "
        "embedding array<float>",
    )
    audit = ingest_documents(
        spark, rel, updates, index_root=idx, verify=True
    )
    assert audit["index"]["n_inserted"] == 1
    postings = read_ivf_index_current(spark, idx).postings
    assert postings.where("id = 9").count() == 1

    bare = updates.drop("embedding")
    with pytest.raises(ValueError, match="embeddings"):
        ingest_documents(spark, rel, bare, index_root=idx)


def test_lifecycle_composites_refuse_null_split_col(spark, tmp_path):
    """r11 review: split_col=None could never work (the merge half
    requires a partitioned release) — refuse up front with the remedy
    instead of failing only when ids happen to match."""
    from goodtables_pandas_py_spark.extensions.takedown import (
        ingest_documents,
    )

    rel, _ = _publish_pair(spark, tmp_path)
    with pytest.raises(ValueError, match="split_col must name"):
        takedown_documents(spark, rel, [0], split_col=None)
    with pytest.raises(ValueError, match="split_col must name"):
        ingest_documents(
            spark, rel,
            spark.createDataFrame(
                [(0, "x", "train")],
                "doc_id long, text string, split string",
            ),
            split_col=None,
        )

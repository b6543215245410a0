"""VersionedMirrorSink: the object-store-safe commit-manifest protocol.

Contracts under test:
  * merge correctness (upsert/delete/insert, last-write-wins)
  * untouched buckets are never rewritten — their files are immutable
    and byte-identical across merges
  * fully-deleted buckets vanish from the manifest with NO directory
    delete (the rmtree-free property)
  * a crash mid-merge (data files written, manifest not) leaves the
    mirror readable and exactly at the previous committed state
  * batch replay after checkpoint recovery commits nothing twice
  * vacuum removes only unreferenced commits and never the live ones
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

from pyspark.sql import functions as F

from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink
from postgres_opensearch_cdc_spark.streaming.commits import manifest_names

from conftest import spark_jobs


def chg(spark, rows):
    return spark.createDataFrame(rows, "op string, id long, v string, offset long")


def data_file_hashes(path):
    out = {}
    for f in glob.glob(os.path.join(path, "data", "commit-*", "_bucket=*", "*.parquet")):
        with open(f, "rb") as fh:
            out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def bucket_of(spark, key, n=8):
    return (
        spark.createDataFrame([(key,)], "id long")
        .select(F.pmod(F.xxhash64("id"), F.lit(n)).alias("b"))
        .head()["b"]
    )


@pytest.fixture()
def sink(tmp_path):
    return VersionedMirrorSink(
        path=str(tmp_path / "mirror"),
        key_cols=["id"],
        seq_cols=["offset"],
        num_buckets=8,
    )


def test_merge_correctness(spark, sink):
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(100)]), batch_id=0)
    sink.apply_batch(
        chg(spark, [("u", 5, "v5b", 200), ("d", 7, None, 201), ("c", 100, "new", 202)]),
        batch_id=1,
    )
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert len(state) == 100
    assert state[5] == "v5b"
    assert 7 not in state
    assert state[100] == "new"


def test_untouched_bucket_files_byte_identical(spark, sink):
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(200)]), batch_id=0)
    before = data_file_hashes(sink.path)
    assert before
    sink.apply_batch(chg(spark, [("u", 5, "v5b", 300)]), batch_id=1)
    after = data_file_hashes(sink.path)
    # immutability: every pre-existing file still present, bytes unchanged
    for f, h in before.items():
        assert after[f] == h, f"immutable data file changed: {f}"
    # new files appear only under the new commit, only the touched bucket
    tb = bucket_of(spark, 5)
    for f in set(after) - set(before):
        assert f"_bucket={tb}" in f
    assert sink.read(spark).count() == 200
    # and the manifest points untouched buckets at the OLD commit
    m = sink.latest_manifest()
    commits = set(m["buckets"].values())
    assert len(commits) == 2


def test_fully_deleted_bucket_absent_without_rmtree(spark, sink):
    ids = list(range(20))
    sink.apply_batch(chg(spark, [("c", i, "x", i) for i in ids]), batch_id=0)
    vb = bucket_of(spark, 3)
    doomed = [i for i in ids if bucket_of(spark, i) == vb]
    first_commit = next(iter(sink.latest_manifest()["buckets"].values()))
    sink.apply_batch(chg(spark, [("d", i, None, 100 + i) for i in doomed]), batch_id=1)
    state = {r["id"] for r in sink.read(spark).collect()}
    assert state == set(ids) - set(doomed)
    m = sink.latest_manifest()
    assert str(vb) not in m["buckets"]
    # rmtree-free: the old commit's data for that bucket is still on disk
    assert os.path.isdir(
        os.path.join(sink.path, "data", first_commit, f"_bucket={vb}")
    )


def test_crash_mid_merge_leaves_consistent_mirror(spark, sink):
    """Data files written but no manifest = uncommitted. Readers see the
    previous version; the next apply proceeds normally."""
    sink.apply_batch(chg(spark, [("c", i, f"v{i}", i) for i in range(50)]), batch_id=0)
    committed = {(r["id"], r["v"]) for r in sink.read(spark).collect()}
    v1 = sink.latest_manifest()["version"]

    # simulate the crash: run the data-file phase of a merge by hand —
    # write a full orphan commit dir, then "die" before the manifest
    orphan = chg(spark, [("u", 1, "CRASHED", 999)]).withColumn(
        "_bucket", F.pmod(F.xxhash64("id"), F.lit(8))
    )
    orphan.write.partitionBy("_bucket").parquet(
        os.path.join(sink.path, "data", "commit-99999999-deadbeef")
    )

    assert sink.latest_manifest()["version"] == v1
    assert {(r["id"], r["v"]) for r in sink.read(spark).collect()} == committed

    # recovery: the stream replays the batch; merge applies cleanly
    sink.apply_batch(chg(spark, [("u", 1, "v1-new", 1000)]), batch_id=1)
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert state[1] == "v1-new"
    assert len(state) == 50


def test_replay_same_batch_id_is_noop(spark, sink):
    sink.apply_batch(chg(spark, [("c", 1, "a", 1)]), batch_id=0)
    sink.apply_batch(chg(spark, [("u", 1, "b", 2)]), batch_id=1)
    v = sink.latest_manifest()["version"]
    # checkpoint recovery re-delivers batch 1 — must not commit again
    sink.apply_batch(chg(spark, [("u", 1, "b", 2)]), batch_id=1)
    assert sink.latest_manifest()["version"] == v
    assert {r["v"] for r in sink.read(spark).collect()} == {"b"}


def test_vacuum_keeps_live_commits(spark, sink):
    for i in range(4):
        sink.apply_batch(chg(spark, [("u", 1, f"v{i}", i)]), batch_id=i)
    live = set(sink.latest_manifest()["buckets"].values())
    removed = sink.vacuum(keep_versions=1)
    assert removed >= 2
    remaining = set(os.listdir(os.path.join(sink.path, "data")))
    assert live <= remaining
    assert {r["v"] for r in sink.read(spark).collect()} == {"v3"}
    # exactly one manifest left
    assert len(manifest_names(sink._commits_dir)) == 1


def test_vacuum_zero_keep_versions_rejected(spark, sink):
    """vacuum(keep_versions=0) would delete every manifest and leave the
    mirror permanently unreadable — it must be rejected up front and
    leave the mirror untouched."""
    for i in range(3):
        sink.apply_batch(chg(spark, [("u", 1, f"v{i}", i)]), batch_id=i)
    manifests_before = manifest_names(sink._commits_dir)
    with pytest.raises(ValueError, match="keep_versions"):
        sink.vacuum(keep_versions=0)
    with pytest.raises(ValueError, match="keep_versions"):
        sink.vacuum(keep_versions=-1)
    assert manifest_names(sink._commits_dir) == manifests_before
    assert {r["v"] for r in sink.read(spark).collect()} == {"v2"}


def test_versioned_mirror_schema_evolution(spark, tmp_path):
    """Schema evolution across commits: a column added mid-stream
    null-fills untouched buckets' older commit files on read, and the
    evolved column survives later batches without it."""
    sink = VersionedMirrorSink(
        path=str(tmp_path / "vmirror"),
        key_cols=["id"],
        seq_cols=["offset"],
        num_buckets=4,
    )
    b1 = spark.createDataFrame(
        [("c", 1, "ok", 1), ("c", 2, "new", 2), ("c", 3, "x", 3)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b1, 0)
    b2 = spark.createDataFrame(
        [("u", 2, "upd", 4, "gold")],
        "op string, id long, status string, offset long, tier string",
    )
    sink.apply_batch(b2, 1)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[2]["tier"] == "gold"
    assert rows[1]["tier"] is None and rows[3]["tier"] is None
    b3 = spark.createDataFrame(
        [("u", 3, "y", 5)],
        "op string, id long, status string, offset long",
    )
    sink.apply_batch(b3, 2)
    rows = {r["id"]: r for r in sink.read(spark).collect()}
    assert rows[3]["status"] == "y"
    assert rows[2]["tier"] == "gold", "evolved column lost across commits"


def test_equal_seq_replay_batch_row_wins(spark, sink):
    """Equal-seq tie-break: a re-run backfill where the batch and the
    mirror carry the same seq must resolve the SAME way every run —
    the batch row wins. Covers the delete-vs-mirrored-update flip."""
    sink.apply_batch(
        chg(spark, [("c", 1, "a", -1), ("c", 2, "b", -1)]), batch_id=0
    )
    # replayed backfill: same seq (-1), one row now a delete, one changed
    sink.apply_batch(
        chg(spark, [("d", 1, None, -1), ("u", 2, "b2", -1)]), batch_id=1
    )
    state = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert state == {2: "b2"}


def test_empty_mirror_after_full_delete_readable(spark, sink):
    sink.apply_batch(chg(spark, [("c", 1, "a", 1), ("c", 2, "b", 2)]), batch_id=0)
    sink.apply_batch(
        chg(spark, [("d", 1, None, 10), ("d", 2, None, 11)]), batch_id=1
    )
    df = sink.read(spark)
    assert df.count() == 0
    assert "id" in df.columns and "v" in df.columns


def test_frame_builds_start_no_jobs_and_buckets_hold_one_file(spark, tmp_path):
    """All 64 buckets live, then one more merge: building the read
    frame and a merge slice starts zero Spark jobs (manifest-named
    paths listed in-process, manifest schema instead of footer
    inference), and the merge writes exactly one file per bucket."""
    sink = VersionedMirrorSink(
        path=str(tmp_path / "mirror"), key_cols=["id"], seq_cols=["offset"],
    )
    sink.apply_batch(
        chg(spark, [("c", i, f"v{i}", i) for i in range(2000)]), batch_id=0
    )
    assert len(sink.latest_manifest()["buckets"]) == 64
    sink.apply_batch(
        chg(spark, [("u", i, f"w{i}", 5000 + i) for i in range(0, 2000, 3)]),
        batch_id=1,
    )
    manifest = sink.latest_manifest()
    assert len(manifest["buckets"]) == 64
    assert set(manifest["buckets"].values()) == {
        max(manifest["buckets"].values())
    }, "every bucket was touched, so every bucket moved to the new commit"

    frame, jobs = spark_jobs(spark.sparkContext, lambda: sink.read(spark))
    assert jobs == 0
    slice_, jobs = spark_jobs(
        spark.sparkContext,
        lambda: sink._read_manifest_slice(spark, manifest, buckets=list(range(64))),
    )
    assert jobs == 0
    assert frame.count() == slice_.count() == 2000

    commit_dir = os.path.join(
        sink.path, "data", next(iter(manifest["buckets"].values()))
    )
    for b in range(64):
        files = glob.glob(os.path.join(commit_dir, f"_bucket={b}", "*.parquet"))
        assert len(files) == 1, (b, files)


def test_type_widening_across_commits(spark, sink):
    """An INT column widened to BIGINT upstream, arriving in a batch
    that touches one of 8 buckets: reads with the manifest's (widened)
    schema must widen the seven buckets still held in the older
    commit's INT files."""
    def batch(rows, qty_type):
        return spark.createDataFrame(
            rows, f"op string, id long, qty {qty_type}, offset long"
        )

    ids = list(range(40))
    sink.apply_batch(batch([("c", i, i, i) for i in ids], "int"), batch_id=0)
    sink.apply_batch(batch([("u", 3, 6_000_000_000, 100)], "long"), batch_id=1)
    manifest = sink.latest_manifest()
    assert len(set(manifest["buckets"].values())) == 2, "one bucket moved"
    out = sink.read(spark)
    assert out.schema["qty"].dataType.typeName() == "long"
    state = {r["id"]: r["qty"] for r in out.collect()}
    assert state == {**{i: i for i in ids}, 3: 6_000_000_000}
    # a later merge over an untouched (still INT-file) bucket widens too
    other = next(i for i in ids if bucket_of(spark, i) != bucket_of(spark, 3))
    sink.apply_batch(batch([("u", other, 7, 101)], "int"), batch_id=2)
    state = {r["id"]: r["qty"] for r in sink.read(spark).collect()}
    assert state[other] == 7 and state[3] == 6_000_000_000
    assert len(state) == len(ids)


def test_bucket_expr_must_be_function_of_key(spark, tmp_path):
    """A bucket over a non-key column could move a key between buckets
    and leave its old copy behind — rejected; a range expression over
    the key is accepted."""
    def make(expr, name):
        return VersionedMirrorSink(
            path=str(tmp_path / name), key_cols=["id"], seq_cols=["offset"],
            bucket_expr=expr,
        )

    rows = spark.createDataFrame(
        [("c", 1, "a", 1, "2024-01-01")],
        "op string, id long, v string, offset long, created_at string",
    )
    with pytest.raises(ValueError, match="bucket_expr"):
        make("created_at", "bad").apply_batch(rows, batch_id=0)
    good = make("id div 100000", "good")
    good.apply_batch(rows, batch_id=0)
    assert [r["id"] for r in good.read(spark).collect()] == [1]

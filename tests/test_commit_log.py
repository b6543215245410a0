"""The ``_commits/`` manifest log, pinned for every store that publishes
through it (streaming/commits.py): after N commits the log holds exactly
``v00000001.json … v0000000N.json`` — no temp file left behind, no gap —
and a replayed (writer_id, batch_id) commits nothing."""

from __future__ import annotations

import os

import pytest

from postgres_opensearch_cdc_spark.streaming.apply import (
    RollupSink,
    VersionedMirrorSink,
)
from postgres_opensearch_cdc_spark.streaming.gram import GramRollupSink
from postgres_opensearch_cdc_spark.streaming.sketch import (
    CmsRollupSink,
    HllRollupSink,
)

# store kind -> (factory(path), batch(spark, i) for commit i)
STORES = {
    "versioned_mirror": (
        lambda p: VersionedMirrorSink(
            path=p, key_cols=["id"], seq_cols=["offset"], num_buckets=4
        ),
        lambda spark, i: spark.createDataFrame(
            [("u", i % 2, f"v{i}", i)],
            "op string, id long, v string, offset long",
        ),
    ),
    "rollup": (
        lambda p: RollupSink(path=p, group_col="g", sum_cols=("v",)),
        lambda spark, i: spark.createDataFrame(
            [("a", 1, float(i), 1)],
            "g string, doc_count long, sum_v double, valcnt_v long",
        ),
    ),
    "gram": (
        lambda p: GramRollupSink(path=p, dim=2),
        lambda spark, i: spark.createDataFrame(
            [(i, [1.0, float(i)])], "vec_id long, embedding array<double>"
        ),
    ),
    "hll": (
        lambda p: HllRollupSink(path=p),
        lambda spark, i: spark.createDataFrame(
            [("a", i)], "g string, v long"
        ),
    ),
    "cms": (
        lambda p: CmsRollupSink(path=p),
        lambda spark, i: spark.createDataFrame([(f"x{i}",)], "v string"),
    ),
}

N = 3


@pytest.mark.parametrize("kind", sorted(STORES))
def test_commit_log_names_and_replay(spark, tmp_path, kind):
    make, batch = STORES[kind]
    sink = make(str(tmp_path / kind))
    for i in range(N):
        sink.apply_batch(batch(spark, i), batch_id=i, writer_id="ckptA")
    expected = [f"v{v:08d}.json" for v in range(1, N + 1)]
    assert sorted(os.listdir(sink._commits_dir)) == expected
    assert sink.latest_manifest()["version"] == N

    # checkpoint recovery re-delivers the last batch: nothing commits
    sink.apply_batch(batch(spark, N - 1), batch_id=N - 1, writer_id="ckptA")
    assert sink.latest_manifest()["version"] == N
    assert sorted(os.listdir(sink._commits_dir)) == expected

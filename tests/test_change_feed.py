"""Store-level change-data-feed edges the seam suite doesn't reach:
purge semantics, merge diffs, sidecar vacuum lifecycle."""

import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from feature_store_implementation_spark.store.materialize import (
    compact_incremental_feature,
    update_incremental_feature,
)
from feature_store_implementation_spark.store.offline import (
    OfflineStore,
    compact_version_partition,
    vacuum_orphans,
)


def _rows(spark, tag, n=10):
    return spark.range(n).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("entity_id"),
        F.concat(F.lit(tag), F.lit(":"), F.col("id").cast("string")).alias("value"),
    )


@pytest.fixture()
def store(spark, tmp_path):
    return OfflineStore(spark, str(tmp_path / "store"))


def test_purged_delete_feeds_null_payload(spark, store):
    """GDPR purge: the feed must carry the erasure (downstream consumers
    must delete too) but NOT the erased payload."""
    store.write_values(1, _rows(spark, "a"))
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    store.delete_rows(1, entity_ids=["e2"], purge=True)
    feed = store.changes_for_version(1, since=mid).collect()
    dels = [r for r in feed if r["_change_type"] == "delete"]
    assert [r["entity_id"] for r in dels] == ["e2"]
    assert dels[0]["value"] is None  # payload retained nowhere
    # the purge physically removed the append's matched data file, so a
    # window REACHING BACK over that append must refuse, not leak or
    # fabricate the missing inserts.
    with pytest.raises(ValueError, match="resync"):
        store.changes_for_version(1).collect()


def test_unpurged_delete_feeds_full_rows(spark, store):
    store.write_values(1, _rows(spark, "a"))
    store.delete_rows(1, entity_ids=["e2"])
    dels = [
        r
        for r in store.changes_for_version(1).collect()
        if r["_change_type"] == "delete"
    ]
    assert [(r["entity_id"], r["value"]) for r in dels] == [("e2", "a:2")]


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v double")


def test_merge_commit_feeds_partials_as_deletes_merged_as_inserts(spark, store):
    """compact_incremental_feature rewrites the rows themselves (partial
    states -> one merged state per entity), so its "merge" commit feeds
    an exact multiset diff: every partial row as a delete, every merged
    row as an insert."""
    update_incremental_feature(store, 1, _batch(spark, [("a", 1.0), ("b", 2.0)]), "k", "v")
    update_incremental_feature(store, 1, _batch(spark, [("a", 3.0)]), "k", "v")

    def rows(rs):
        return sorted((r["entity_id"], r["value"], r["computed_at"]) for r in rs)

    partials = rows(store.values_for_version(1).collect())
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    compact_incremental_feature(store, 1)
    merged = rows(store.values_for_version(1).collect())
    assert len(partials) == 3 and len(merged) == 2

    feed = store.changes_for_version(1, since=mid).collect()
    assert rows(r for r in feed if r["_change_type"] == "delete") == partials
    assert rows(r for r in feed if r["_change_type"] == "insert") == merged


def test_orphan_change_sidecar_is_vacuumed_referenced_stays(spark, store):
    store.write_values(1, _rows(spark, "a"))
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    store.delete_rows(1, entity_ids=["e2"])
    cdc_root = os.path.join(store.path, "_change_data", "v1")
    referenced = os.listdir(cdc_root)
    assert len(referenced) == 1
    # fake a crashed delete: sidecar renamed into place, segment never committed
    orphan = os.path.join(cdc_root, "deadbeef0000")
    os.makedirs(orphan)
    removed = vacuum_orphans(store, min_age_seconds=0)
    assert orphan in removed
    assert os.listdir(cdc_root) == referenced  # the real sidecar survives
    # and the delete window still serves from it (the append window is
    # gone — vacuum collected the superseded originals at retention 0)
    assert any(
        r["_change_type"] == "delete"
        for r in store.changes_for_version(1, since=mid).collect()
    )


def test_empty_feed_has_schema(spark, store):
    df = store.changes_for_version(99)
    assert df.count() == 0
    assert "_change_type" in df.columns and "_commit_ts" in df.columns


def test_txn_replay_sweeps_crashed_staging_dir(spark, store):
    """A crashed prior attempt of the same txn leaves .staging/<txn>
    behind; the replay must sweep it instead of failing error-if-exists
    forever — the exactly-once streaming sink's retry path (review r11)."""
    txn = "deadbeef0001"
    # simulate: the orphan of a kill inside the parquet write
    staging = os.path.join(store.path, ".staging", txn)
    os.makedirs(staging)
    with open(os.path.join(staging, "part-00000-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    n = store.write_values(1, _rows(spark, "a"), txn=txn)
    assert n == 10
    # and the short-circuit still holds on a true replay
    assert store.write_values(1, _rows(spark, "a"), txn=txn) == 10
    assert store.count_for_version(1) == 10


def test_corrupt_segment_record_fails_loudly(spark, store):
    """Malformed segment JSON must raise, not silently vanish from the
    change-feed universe (review r11)."""
    store.write_values(1, _rows(spark, "a"))
    seg_dir = store._segment_dir(1)
    bad = os.path.join(seg_dir, "0000corrupted.json")
    with open(bad, "w") as f:
        f.write("{truncated")
    with pytest.raises(ValueError, match="corrupt segment record"):
        store.changes_for_version(1)
    os.remove(bad)
    assert store.changes_for_version(1).count() == 10


def test_commit_seq_monotone_and_counter_recovers(spark, store):
    """Round-12 commit sequencing: every segment commit gets a store-wide
    strictly increasing seq (clock-free ordering for the sync ledger), and
    a lost counter file recovers from the committed docs — never re-issuing
    a live seq."""
    store.write_values(1, _rows(spark, "a", 3))
    store.write_values(2, _rows(spark, "b", 3))
    store.write_values(1, _rows(spark, "c", 3))
    seqs = sorted(
        r["seq"] for vid in (1, 2) for r in store.history(vid)
    )
    assert seqs == [1, 2, 3]  # dense, monotone, per-STORE

    # lose the counter: the next allocation must resume past max committed
    os.remove(os.path.join(store._manifest_dir(), ".commit_seq"))
    store.write_values(2, _rows(spark, "d", 3))
    assert max(r["seq"] for r in store.history(2)) == 4

    # a delete, a restore, a file compaction and an incremental-state
    # merge are commits too — they take seqs in order
    before_delete = time.time()
    store.delete_rows(1, entity_ids=["e0"])
    assert max(r["seq"] for r in store.history(1)) == 5
    store.restore_version(1, as_of=before_delete)
    assert max(r["seq"] for r in store.history(1)) == 6
    compact_version_partition(spark, store.path, 2)
    assert max(r["seq"] for r in store.history(2)) == 7
    update_incremental_feature(store, 3, _batch(spark, [("a", 1.0)]), "k", "v")
    update_incremental_feature(store, 3, _batch(spark, [("a", 2.0)]), "k", "v")
    compact_incremental_feature(store, 3)
    assert [r["seq"] for r in store.history(3)] == [8, 9, 10]

    # the invariant the readers rest on: every segment record names its
    # seq, its commit instant and its op
    ops = set()
    for p in glob.glob(os.path.join(store._manifest_dir(), "v*", "*.json")):
        with open(p) as f:
            doc = json.load(f)
        assert doc["seq"] >= 1 and isinstance(doc["committed_at"], float), p
        ops.add(doc["cdc"]["op"])
    assert ops == {"append", "delete", "restore", "compact", "merge"}

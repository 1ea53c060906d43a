"""Incremental online-snapshot sync: the change-data-feed consumer that
keeps the no-Spark-job serving tier fresh without re-exporting the table."""

import glob
import os
import time

import pytest

from feature_store_implementation_spark.serving.online_snapshot import (
    FEED_LEDGER_SEQ_LAG,
    lookup_online_snapshot,
    read_online_snapshot,
    shard_live_files,
)

N_SHARDS = 4


def _seed(fs, n=12):
    t = fs.register_raw_table("t_sync", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt", t.id, "SUM(amount)", "numeric")
    v = fs.compute_version(
        f.id, "v1.0", [{"id": f"e{i:02d}", "amount": float(i)} for i in range(n)]
    )
    return f, v


def _shard_state(path):
    return {
        d: sorted(os.path.basename(f) for f in shard_live_files(os.path.join(path, d)))
        for d in sorted(os.listdir(path))
        if d.startswith("shard=")
    }


def test_sync_upserts_only_changed_shards(fs, spark, tmp_path):
    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    before = _shard_state(out)
    assert lookup_online_snapshot(out, "e03").features["amt"] == 3.0

    # a later UPDATE of e03 (delete + append — the CDC upsert shape;
    # serve_matrix takes one value per entity, so an update is exactly
    # this) and a brand-new entity
    fs.store.delete_rows(v.id, entity_ids=["e03"])
    more = spark.createDataFrame(
        [("e03", "333.0"), ("zz9", "99.0")], "entity_id string, value string"
    )
    fs.store.write_values(v.id, more)
    rep = fs.sync_online_snapshot(out)
    assert rep["changed_entities"] == 2
    assert 1 <= rep["shards_rewritten"] <= 2

    # freshness: the snapshot now serves the new values, no re-export
    assert lookup_online_snapshot(out, "e03").features["amt"] == 333.0
    assert lookup_online_snapshot(out, "zz9").features["amt"] == 99.0
    # untouched shards kept their ORIGINAL generation-0 files
    after = _shard_state(out)
    untouched = [d for d in before if before[d] == after[d]]
    assert len(untouched) == N_SHARDS - rep["shards_rewritten"]
    # rewritten shards moved to a gen file
    assert all(
        after[d][0].startswith("gen1-") for d in before if before[d] != after[d]
    )
    # batch parity: gen-aware read == serve_matrix
    back = {
        (r["entity_id"], r["amt"]) for r in read_online_snapshot(spark, out).collect()
    }
    want = {(r["entity_id"], r["amt"]) for r in fs.serve_matrix().collect()}
    assert back == want


def test_lookup_follows_reexport_with_new_shard_count(fs, spark, tmp_path):
    """Lookups keep the meta and shard rows they read and trust them while
    the routed shard's live file names are unchanged: a snapshot
    re-exported at the same path with another shard count must route by
    the new count, not the remembered one, and what the lookups keep
    afterwards is the new generation only, one entry per shard
    directory."""
    import shutil

    from feature_store_implementation_spark.serving import online_snapshot

    _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=2)
    for i in range(12):
        assert lookup_online_snapshot(out, f"e{i:02d}").features["amt"] == float(i)
    shutil.rmtree(out)
    fs.export_online_snapshot(out, n_shards=5)
    for i in range(12):
        assert lookup_online_snapshot(out, f"e{i:02d}").features["amt"] == float(i)
    held = {
        d: live
        for d, (live, _) in online_snapshot._SHARDS.items()
        if d.startswith(out + os.sep)
    }
    assert 0 < len(held) <= 5
    assert held == {d: shard_live_files(d) for d in held}


def test_sync_propagates_erasure_and_is_idempotent(fs, spark, tmp_path):
    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    fs.store.delete_rows(v.id, entity_ids=["e05"], purge=True)
    rep = fs.sync_online_snapshot(out)
    assert rep["changed_entities"] == 1
    with pytest.raises(KeyError):
        lookup_online_snapshot(out, "e05")
    assert lookup_online_snapshot(out, "e06").features["amt"] == 6.0
    # a second sync over the drained window is a no-op
    rep2 = fs.sync_online_snapshot(out)
    assert rep2["changed_entities"] == 0 and rep2["shards_rewritten"] == 0


def test_sync_refuses_version_drift_and_legacy_meta(fs, spark, tmp_path):
    f, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)

    # version drift: a NEW version of the feature becomes latest
    fs.compute_version(f.id, "v2.0", [{"id": "e00", "amount": 1.0}])
    with pytest.raises(ValueError, match="drifted"):
        fs.sync_online_snapshot(out)


def test_sync_refuses_churn_above_threshold(fs, spark, tmp_path):
    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    more = spark.createDataFrame(
        [(f"n{i}", str(float(i))) for i in range(6)], "entity_id string, value string"
    )
    fs.store.write_values(v.id, more)
    with pytest.raises(ValueError, match="re-export"):
        fs.sync_online_snapshot(out, max_changed=3)
    # the refusal changed nothing: original snapshot intact
    assert lookup_online_snapshot(out, "e01").features["amt"] == 1.0


def test_export_pins_its_instant(fs, spark, tmp_path):
    """Values committed AFTER the export's pin are the first sync's
    window, not silently half-included in the export."""
    _, v = _seed(fs, n=4)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=2)
    more = spark.createDataFrame([("late", "7.0")], "entity_id string, value string")
    fs.store.write_values(v.id, more)
    with pytest.raises(KeyError):
        lookup_online_snapshot(out, "late")
    fs.sync_online_snapshot(out)
    assert lookup_online_snapshot(out, "late").features["amt"] == 7.0


def test_maintain_online_snapshot_picks_the_right_mode(fs, spark, tmp_path):
    """One scheduled call: create when absent, sync in the steady state,
    re-export (swap-in-place) on version drift — serving the NEW matrix."""
    f, v = _seed(fs, n=8)
    out = str(tmp_path / "snap")

    rep = fs.maintain_online_snapshot(out, n_shards=N_SHARDS)
    assert rep["mode"] == "created" and rep["rows"] == 8

    more = spark.createDataFrame([("x1", "5.0")], "entity_id string, value string")
    fs.store.write_values(v.id, more)
    rep = fs.maintain_online_snapshot(out)
    assert rep["mode"] == "synced" and rep["changed_entities"] == 1
    assert lookup_online_snapshot(out, "x1").features["amt"] == 5.0

    # drift -> rebuild, swapped in place, serving v2 values
    fs.compute_version(f.id, "v2.0", [{"id": "e00", "amount": 42.0}])
    rep = fs.maintain_online_snapshot(out)
    assert rep["mode"] == "reexported" and "drift" in rep["reason"]
    assert lookup_online_snapshot(out, "e00").features["amt"] == 42.0
    with pytest.raises(KeyError):  # v1-only entities left the matrix
        lookup_online_snapshot(out, "e01")
    # and the rebuilt snapshot is immediately syncable again
    rep = fs.maintain_online_snapshot(out)
    assert rep["mode"] == "synced" and rep["changed_entities"] == 0


def test_sync_consumes_late_visible_commit(fs, spark, tmp_path):
    """The ADVICE-r10 loss mode: a commit whose committed_at lands INSIDE an
    already-drained window (slow footer scan / writer clock skew publishes
    the segment JSON after the sync's listing). Timestamp windows skip it
    forever; the consumed-segment ledger applies it the round it appears."""
    import json

    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    rep = fs.sync_online_snapshot(out)  # drain: ledger now covers everything
    assert rep["changed_entities"] == 0

    # commit an append, then backdate its committed_at to BEFORE the sync —
    # exactly what a commit that was mid-_commit_segment during the sync's
    # os.listdir looks like to the next sync
    more = spark.createDataFrame(
        [("late1", "7.5")], "entity_id string, value string"
    )
    fs.store.write_values(v.id, more)
    seg_dir = fs.store._segment_dir(v.id)
    newest = max(
        (p for p in glob.glob(os.path.join(seg_dir, "*.json"))),
        key=os.path.getmtime,
    )
    with open(newest) as fh:
        doc = json.load(fh)
    # backdate by minutes — a real capture→rename gap is sub-second; the
    # seq-keyed ledger consumes it however far back the stamp lands
    doc["committed_at"] = float(doc["committed_at"]) - 300.0
    with open(newest, "w") as fh:
        json.dump(doc, fh)

    rep2 = fs.sync_online_snapshot(out)
    assert rep2["changed_entities"] == 1
    assert lookup_online_snapshot(out, "late1").features["amt"] == 7.5
    # and it is consumed exactly once
    rep3 = fs.sync_online_snapshot(out)
    assert rep3["changed_entities"] == 0


def test_ledger_floor_prunes_but_never_loses(fs, spark, tmp_path):
    """The explicit segment-id list stays O(recent commits): seq-bearing
    ids more than FEED_LEDGER_SEQ_LAG commits behind the newest consumed
    seq fold into the seq floor (round-12 clock-free pruning rule);
    everything still syncs."""
    import json

    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    for i in range(3):
        fs.store.write_values(
            v.id,
            spark.createDataFrame(
                [(f"p{i}", str(float(i)))], "entity_id string, value string"
            ),
        )
    fs.store.write_values(
        v.id,
        spark.createDataFrame([("fresh", "4.0")], "entity_id string, value string"),
    )
    # simulate a long-lived store: the FRESH commit's seq sits far past the
    # older ones (as if thousands of other commits landed store-wide), so
    # the seq floor advance (max consumed − SEQ_LAG) folds the aged ids
    seg_dir = fs.store._segment_dir(v.id)
    docs = {}
    for p in glob.glob(os.path.join(seg_dir, "*.json")):
        with open(p) as fh:
            docs[p] = json.load(fh)
    newest = max(docs, key=lambda p: docs[p].get("seq", 0))
    far_seq = FEED_LEDGER_SEQ_LAG + 2000
    docs[newest]["seq"] = far_seq
    with open(newest, "w") as fh:
        json.dump(docs[newest], fh)
    with open(os.path.join(fs.store._manifest_dir(), ".commit_seq"), "w") as fh:
        fh.write(str(far_seq))
    aged = {
        os.path.basename(p)[: -len(".json")] for p in docs if p != newest
    }
    rep = fs.sync_online_snapshot(out)
    assert rep["changed_entities"] == 4
    with open(os.path.join(out, "_snapshot_meta.json")) as fh:
        meta = json.load(fh)
    ent = meta["consumed_segments"][str(v.id)]
    assert not aged & set(ent["segments"])  # aged ids folded into the floor
    assert len(ent["segments"]) == 1  # only the far-seq commit stays explicit
    assert ent["seq_floor"] >= far_seq - FEED_LEDGER_SEQ_LAG
    assert lookup_online_snapshot(out, "p2").features["amt"] == 2.0
    assert lookup_online_snapshot(out, "fresh").features["amt"] == 4.0
    assert fs.sync_online_snapshot(out)["changed_entities"] == 0


def test_ledger_seq_immune_to_writer_clock_skew(fs, spark, tmp_path):
    """The r11 verdict's task-4 proof: a second writer whose wall clock
    runs FAR behind stamps its commit below every timestamp floor the
    ledger could ever have advanced to — under the pre-round-12 timestamp
    algebra that commit was presumed consumed and lost from every future
    window. The seq-keyed ledger consumes it by sequence number, which no
    writer clock can forge."""
    import json

    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    assert fs.sync_online_snapshot(out)["changed_entities"] == 0

    # writer B: clock skewed a full hour behind
    fs.store.write_values(
        v.id,
        spark.createDataFrame([("skw", "13.0")], "entity_id string, value string"),
    )
    seg_dir = fs.store._segment_dir(v.id)
    newest = max(glob.glob(os.path.join(seg_dir, "*.json")), key=os.path.getmtime)
    with open(newest) as fh:
        doc = json.load(fh)
    assert doc.get("seq", 0) > 0  # round-12 stores always stamp one
    doc["committed_at"] = float(doc["committed_at"]) - 3600.0
    with open(newest, "w") as fh:
        json.dump(doc, fh)

    rep = fs.sync_online_snapshot(out)
    assert rep["changed_entities"] == 1  # NOT lost
    assert lookup_online_snapshot(out, "skw").features["amt"] == 13.0
    # consumed exactly once — and a clock AHEAD by an hour is merely
    # deferred (stays pending until `now` passes it), never skipped
    assert fs.sync_online_snapshot(out)["changed_entities"] == 0
    fs.store.write_values(
        v.id,
        spark.createDataFrame([("ahd", "14.0")], "entity_id string, value string"),
    )
    newest = max(glob.glob(os.path.join(seg_dir, "*.json")), key=os.path.getmtime)
    with open(newest) as fh:
        doc = json.load(fh)
    doc["committed_at"] = float(doc["committed_at"]) + 3600.0
    with open(newest, "w") as fh:
        json.dump(doc, fh)
    assert fs.sync_online_snapshot(out)["changed_entities"] == 0  # deferred
    with open(os.path.join(out, "_snapshot_meta.json")) as fh:
        meta = json.load(fh)
    ent = meta["consumed_segments"][str(v.id)]
    # the deferred commit is neither listed consumed nor below the floor
    seg_id = os.path.basename(newest)[: -len(".json")]
    assert seg_id not in ent["segments"]
    assert ent["seq_floor"] < doc["seq"]


def test_maintain_recovers_crashed_swap(fs, spark, tmp_path):
    """A crash between the re-export swap's two renames leaves NO snapshot
    at the path and the only meta copy in the trash dir; the next maintain
    must adopt the committed rebuild — selector, shard count and all — not
    re-create with defaults (ADVICE r10)."""
    import json

    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=3, feature_names=["amt"])
    # the crash window, reproduced literally: rebuild committed whole,
    # final renamed aside, second rename never happened
    rebuild = out + ".rebuild-deadbeef"
    fs.export_online_snapshot(rebuild, n_shards=3, feature_names=["amt"])
    os.rename(out, out + ".retired-deadbeef")

    rep = fs.maintain_online_snapshot(out)
    assert rep["mode"] == "synced"  # adopted, then the steady-state path
    with open(os.path.join(out, "_snapshot_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["n_shards"] == 3
    assert meta["feature_names"] == ["amt"]
    assert lookup_online_snapshot(out, "e03").features["amt"] == 3.0
    assert not os.path.exists(out + ".retired-deadbeef")  # trash swept


def test_maintain_reports_contended_on_live_sync_lock(fs, spark, tmp_path):
    """ADVICE r11: a DIRECT sync_online_snapshot caller holding .sync.lock
    must make maintain report contention — not fail, and NOT fall through
    to a competing full re-export."""
    _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    lock = os.path.join(out, ".sync.lock")
    with open(lock, "w") as fh:
        fh.write("999999\nsome-other-host")  # fresh lease: a LIVE holder
    try:
        rep = fs.maintain_online_snapshot(out)
    finally:
        os.remove(lock)
    assert rep["mode"] == "contended"
    assert "in flight" in rep["reason"]
    # and the snapshot was not clobbered by a re-export
    assert lookup_online_snapshot(out, "e03").features["amt"] == 3.0


def test_replayed_txn_append_fails_fast_on_live_writer(fs, spark, tmp_path):
    """ADVICE r11: two LIVE writers replaying the SAME txn must not sweep
    each other's staging mid-write — the second fails fast on the per-txn
    replay fence (a dead holder's lease still expires and unblocks)."""
    from feature_store_implementation_spark.store.offline import LockContention

    _, v = _seed(fs)
    txn = "ab" * 6
    staging_lock = os.path.join(fs.store.path, ".staging", f"{txn}.lock")
    os.makedirs(os.path.dirname(staging_lock), exist_ok=True)
    with open(staging_lock, "w") as fh:
        fh.write("999999\nsome-other-host")
    rows = spark.createDataFrame([("zz", "1.0")], "entity_id string, value string")
    try:
        with pytest.raises(LockContention, match="append replay"):
            fs.store.write_values(v.id, rows, txn=txn)
    finally:
        os.remove(staging_lock)
    # with the fence free, the same replay commits exactly once
    n = fs.store.write_values(v.id, rows, txn=txn)
    assert fs.store.write_values(v.id, rows, txn=txn) == n  # short-circuit


def _spark_jobs(spark, fn, *args, **kwargs):
    """(fn's result, the number of Spark jobs it ran), counted in a job
    group of its own on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_export_and_sync_spark_job_counts(fs, spark, tmp_path):
    """One export runs 4 Spark jobs and one single-increment sync 11. Job
    counts repeat exactly from run to run, so a change that adds a pass
    over the data, or drops one, shows here as a changed count."""
    _, v = _seed(fs)
    out = str(tmp_path / "snap")
    rows, export_jobs = _spark_jobs(
        spark, fs.export_online_snapshot, out, n_shards=N_SHARDS
    )
    assert rows == 12
    fs.store.write_values(
        v.id,
        spark.createDataFrame(
            [("e03", "33.0"), ("new", "5.0")], "entity_id string, value string"
        ),
    )
    rep, sync_jobs = _spark_jobs(spark, fs.sync_online_snapshot, out)
    assert rep["changed_entities"] == 2
    assert (export_jobs, sync_jobs) == (4, 11)


def test_lookup_relists_when_a_sync_retires_the_listed_generation(fs, tmp_path, monkeypatch):
    """A sync can retire the generation a lookup has just listed, before
    the lookup opens it. The lookup lists the shard again and reads the
    new generation instead of failing with FileNotFoundError (which the
    online route would answer with a 404)."""
    import shutil

    import pyarrow.dataset

    _seed(fs)
    out = str(tmp_path / "snap")
    fs.export_online_snapshot(out, n_shards=N_SHARDS)
    real = pyarrow.dataset.dataset
    retired = []

    def dataset(source, *args, **kwargs):
        if not retired:
            # what a sync does between the lookup's listing and its read:
            # rename the next generation in, delete the listed one
            for f in source:
                d, name = os.path.split(f)
                shutil.copy(f, os.path.join(d, f"gen1-{name}"))
                os.remove(f)
                retired.append(f)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pyarrow.dataset, "dataset", dataset)
    assert lookup_online_snapshot(out, "e03").features["amt"] == 3.0
    assert retired and not any(os.path.exists(f) for f in retired)

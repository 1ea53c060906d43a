"""Incremental feature materialization: mergeable rollup STATE through the
append-only offline store.

The reference recomputes every feature version from the FULL raw table on
each request (reference compute.py:57-88). The scale replacement composes
two verified pieces:

* `operators/incremental.py` — the mergeable-state algebra
  (count/sum/sumsq/min/max in exact DECIMAL, so
  merge(partial(A), partial(B)) == partial(A ∪ B) bit-for-bit), and
* `store/offline.py` — crash-atomic, concurrent-append-safe value storage
  partitioned by version.

Each arriving batch writes ONE partial-state row per touched entity (the
state JSON-encoded into the store's string value column — the same codec
envelope as any other feature value), and a read merges an entity's
partials on the fly. Maintenance cost is O(batch + touched entities) per
update — history is never rescanned — and because updates are plain store
appends they inherit the manifest-segment guarantees: a killed writer is
invisible, concurrent daily loads cannot hide each other, and time-travel
(`as_of`) reproduces any historical state. Reads stay cheap as partials
accumulate by COMPACTING: merge all partials per entity into one row and
write through the store's atomic file swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.incremental import rollup_partial
from contextlib import ExitStack

from .offline import OfflineStore, _fsync_path, _pid_lock

# the JSON envelope for one partial state; decimals travel as STRINGS so
# the exact-arithmetic discipline survives the text round-trip
_STATE_SCHEMA = (
    "cnt long, sum_v string, sum_sq string, min_v double, max_v double"
)
# merge-side accumulator types mirror what rollup_partial's Spark sums
# produce — sum(decimal(28,8)) -> decimal(38,8), sum((28,8)x(28,8)) ->
# (38,16) — so the JSON string round-trip is lossless and the merged
# result stays bit-identical to a full recompute
_DEC_SUM = "decimal(38,8)"
_DEC_SQ = "decimal(38,16)"


def update_incremental_feature(
    store: OfflineStore,
    version_id: int,
    batch: DataFrame,
    entity_col: str,
    value_col: str,
) -> int:
    """Fold one batch into the feature: ONE mergeable partial row per
    touched entity, appended to the store (crash-atomic segment commit).
    Never reads existing state — updates are append-only and commute, so
    concurrent/replayed daily loads follow the store's multi-writer
    rules rather than a read-modify-write race."""
    part = rollup_partial(batch, [entity_col], value_col)
    payload = F.to_json(
        F.struct(
            F.col("cnt"),
            F.col("sum_v").cast("string").alias("sum_v"),
            F.col("sum_sq").cast("string").alias("sum_sq"),
            F.col("min_v").cast("double").alias("min_v"),
            F.col("max_v").cast("double").alias("max_v"),
        )
    )
    rows = part.select(
        F.col(entity_col).cast("string").alias("entity_id"),
        payload.alias("value"),
    )
    return store.write_values(int(version_id), rows)


def _merge_partials(vals: DataFrame) -> DataFrame:
    s = vals.select(
        "entity_id", F.from_json("value", _STATE_SCHEMA).alias("st")
    )
    return s.groupBy("entity_id").agg(
        F.sum(F.col("st.cnt")).alias("cnt"),
        F.sum(F.col("st.sum_v").cast(_DEC_SUM)).alias("sum_v"),
        F.sum(F.col("st.sum_sq").cast(_DEC_SQ)).alias("sum_sq"),
        F.min(F.col("st.min_v")).alias("min_v"),
        F.max(F.col("st.max_v")).alias("max_v"),
    )


def _merged_state(store: OfflineStore, version_id: int, as_of=None) -> DataFrame:
    vals = (
        store.values_for_version_as_of(int(version_id), as_of)
        if as_of is not None
        else store.values_for_version(int(version_id))
    )
    return _merge_partials(vals)


def read_incremental_feature(
    store: OfflineStore, version_id: int, as_of=None
) -> DataFrame:
    """Current (or ``as_of`` time-travel) statistics per entity: merge the
    entity's partial states — sums in exact DECIMAL, so the result is
    bit-identical to a full recompute over every batch ever folded in —
    then derive the user-facing stats. Returns
    (entity_id, cnt, mean_v, var_v, min_v, max_v)."""
    m = _merged_state(store, version_id, as_of)
    mean = F.col("sum_v").cast("double") / F.col("cnt").cast("double")
    var = (F.col("sum_sq").cast("double") / F.col("cnt").cast("double")) - mean * mean
    return m.select(
        "entity_id",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(mean, 6).alias("mean_v"),
        F.round(F.greatest(var, F.lit(0.0)), 6).alias("var_v"),
        F.col("min_v"),
        F.col("max_v"),
    )


def compact_incremental_feature(
    store: OfflineStore, version_id: int, _after_snapshot=None
) -> int:
    """Collapse accumulated partials to ONE state row per entity so reads
    stop paying the per-batch merge: the merged state is written to a
    fresh store at a temp path, then swapped in via the store's segment
    protocol — a new segment superseding every live segment, the same
    atomic cutover as file compaction (readers see the complete old
    partial set or the complete merged set, never a mix). Returns the
    row count after compaction. Concurrent compactions of the same
    version are excluded by the store's O_EXCL ``.compact.lock`` (shared
    with :func:`~.offline.compact_version_partition` — a state merge and
    a file compaction racing each other would double-publish the same
    snapshot just as badly as two of either). The snapshot is taken
    FIRST and the merge reads exactly the snapshot's files, so an append
    landing mid-compaction keeps its own live segment (never superseded,
    merged on read) instead of being silently retired unmerged."""
    import os
    import shutil
    import uuid

    vid = int(version_id)
    os.makedirs(store._segment_dir(vid), exist_ok=True)
    lock = os.path.join(store._segment_dir(vid), ".compact.lock")
    _lock = ExitStack()
    _lock.enter_context(_pid_lock(lock, f"compaction for version {vid}"))
    try:
        # snapshot first; merge from exactly these files — values_for_version
        # would re-resolve the manifest at action time and could fold in an
        # append that the supersedes list below does not retire... or worse,
        # retire one it never merged
        snapshot = store._read_segments(vid)
        if _after_snapshot is not None:  # test hook: interleave an append here
            _after_snapshot()
        snap_rel = sorted({f for s in snapshot.values() for f in s["files"]})
        vals = store._read_files(snap_rel).filter(F.col("feature_version_id") == vid)
        merged = _merge_partials(vals).select(
            "entity_id",
            F.to_json(
                F.struct(
                    F.col("cnt"),
                    F.col("sum_v").cast("string").alias("sum_v"),
                    F.col("sum_sq").cast("string").alias("sum_sq"),
                    F.col("min_v"),
                    F.col("max_v"),
                )
            ).alias("value"),
        )
        # stage the merged rows as data files via a throwaway store, then move
        # them in and commit ONE segment superseding the snapshot
        tmp_root = os.path.join(store.root, f".compact-state-{uuid.uuid4().hex[:8]}")
        tmp_store = OfflineStore(store.spark, tmp_root)
        try:
            tmp_store.write_values(vid, merged)
            part_rel = f"feature_version_id={vid}"
            src_dir = os.path.join(tmp_store.path, part_rel)
            dst_dir = os.path.join(store.path, part_rel)
            os.makedirs(dst_dir, exist_ok=True)
            txn = uuid.uuid4().hex[:12]
            new_rel = []
            for i, name in enumerate(sorted(os.listdir(src_dir))):
                if not name.endswith(".parquet"):
                    continue
                dst = f"{txn}-part-{i:05d}.parquet"
                _fsync_path(os.path.join(src_dir, name))
                os.rename(os.path.join(src_dir, name), os.path.join(dst_dir, dst))
                new_rel.append(f"{part_rel}/{dst}")
            # the destination dir entries must be durable BEFORE the
            # superseding segment commits (write_values discipline,
            # offline.py:407-411): this segment retires the whole prior
            # snapshot, so a power loss that keeps the fsynced segment
            # JSON but loses the renames would leave the version
            # unreadable, not merely stale
            _fsync_path(dst_dir)
            # "merge": the rows themselves change (partials -> one merged
            # state), so the change feed diffs it against the snapshot
            store._commit_segment(
                vid,
                new_rel,
                cdc={"op": "merge"},
                supersedes=list(snapshot),
                name=txn,
            )
        finally:
            shutil.rmtree(tmp_root, ignore_errors=True)
    finally:
        _lock.close()
    return store.values_for_version(vid).count()

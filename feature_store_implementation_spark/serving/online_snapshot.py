"""The exported online snapshot: its on-disk format, its writers
(:func:`export`, :func:`sync`, :func:`maintain`, to which ``FeatureStore``'s
``*_online_snapshot`` methods delegate) and its point reader.

A snapshot directory holds ``_snapshot_meta.json`` (router shard count,
version selector, feature names, resolved version ids, sync ledger) and
one ``shard={k}`` directory per ``k = pmod(xxhash64(entity_id),
n_shards)``, holding one entity-SORTED parquet file per generation: the
export's part files are generation 0, each sync renames in a ``gen{G}-``
file, and readers take the highest generation present.

:func:`lookup_online_snapshot` is the online router: hash the entity id
driver-side (a pure-Python XXH64 bit-identical to Spark's ``xxhash64`` —
pinned against Spark in tests/test_feature_store.py) and answer from the
ONE shard the key routes to. **No Spark job, no JVM round-trip**: each
shard file is read once and its rows kept by entity id, and the meta once
per export, so a warm lookup costs one listdir of the routed shard and a
dict probe — the data path a RocksDB/HBase tier would serve after
bulk-ingesting these exact files. At 100 TB the snapshot lives behind a
real KV store; this module is the single-file-per-shard degenerate of
that tier and the latency floor SCALING.md's serving table records.

No reference counterpart (the reference serves every read through
SQLAlchemy + a per-process dict cache, main.py:249-336); this is the
extension surface's bulk-export/serve posture.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from datetime import datetime, timezone
from typing import TYPE_CHECKING

import pyarrow.dataset as ds
from pyspark.sql import Column, Observation
from pyspark.sql import functions as F

from ..functions.obs import observed_metrics
from ..store.codec import decode_value_py
from ..store.offline import LockContention, _pid_lock
from .feature_vector import FeatureVector

if TYPE_CHECKING:
    from .vectors import FeatureStore

_META = "_snapshot_meta.json"
# staging dirs older than this are presumed crashed and swept by the
# next same-name export; younger ones may be a LIVE concurrent export
# (see export). Sized generously above any plausible export wall time —
# debris costs only disk until then.
STAGING_SWEEP_AGE_S = 24 * 3600
# consumed-segment-ledger margin (sync): segments carry a store-wide
# monotone commit seq allocated under a lock held across the publishing
# rename, so visibility order equals seq order and the ledger's seq floor
# can advance to (max consumed seq − this margin) with NO clock involved —
# keeping the explicit id list O(recent commits), not O(all commits
# ever). The margin exists solely for the lease-takeover double fault (a
# writer stalled ≥ the 300 s lease TTL mid-commit publishing an old seq
# late): that writer's commit stays pending unless ≥ this many commits
# landed store-wide during its stall.
FEED_LEDGER_SEQ_LAG = 1024
# reads of a routed shard per lookup: a sync can retire the listed
# generation before the read opens it, and its successor is then listed
_READ_ATTEMPTS = 3
_GEN_RE = re.compile(r"^gen(\d+)-")

# XXH64 constants — public algorithm (Collet), the same the JVM-side
# org.apache.spark.sql.catalyst.expressions.XxHash64 implements.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 over ``data``, returned as a SIGNED 64-bit int —
    bit-identical to Spark's ``xxhash64(string_col)`` expression (which
    hashes the UTF-8 bytes with seed 42). Driver-side router hashing must
    agree with the executor-side export hashing or every point read opens
    the wrong shard."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def snapshot_shard(entity_id: str, n_shards: int) -> int:
    """The router rule: ``pmod(xxhash64(entity_id), n_shards)`` — Java
    pmod of the signed hash, identical to :func:`shard_col`."""
    return xxhash64(str(entity_id).encode("utf-8")) % int(n_shards)


def shard_col(n_shards: int) -> Column:
    """The writers' shard column, Spark's side of :func:`snapshot_shard`."""
    return F.pmod(F.xxhash64("entity_id"), F.lit(int(n_shards)))


def _shard_dir(path: str, shard: int) -> str:
    return os.path.join(path, f"shard={shard}")


def _file_gen(name: str) -> int:
    """Generation of a shard data file: ``gen{G}-*.parquet`` from
    incremental sync, generation 0 for the original export's part files."""
    m = _GEN_RE.match(name)
    return int(m.group(1)) if m else 0


def shard_live_files(shard_dir: str) -> list[str]:
    """The files a reader of this shard must open: the HIGHEST generation
    present. :func:`sync` replaces a shard by renaming a ``gen{G+1}-``
    file in (atomic) and deleting the old generation after — a reader
    racing the sync sees either generation complete, never a mix, and a
    crash between the two steps leaves both (the next reader takes the
    newer; the next sync sweeps the older)."""
    try:
        files = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")]
    except FileNotFoundError:
        return []
    if not files:
        return []
    top = max(_file_gen(f) for f in files)
    return sorted(
        os.path.join(shard_dir, f) for f in files if _file_gen(f) == top
    )


def read_online_snapshot(spark, path: str):
    """The whole snapshot as a DataFrame for batch consumers/parity
    checks — generation-aware (a plain ``spark.read.parquet(path)``
    double-counts a shard mid-sync or after a crashed sweep)."""
    files = []
    for d in sorted(os.listdir(path)):
        if d.startswith("shard="):
            files.extend(shard_live_files(os.path.join(path, d)))
    if not files:
        return spark.read.parquet(path)  # surfaces the empty/absent error
    return spark.read.option("basePath", path).parquet(*files)


def _snapshot_meta(path: str) -> dict:
    """The export's ``_snapshot_meta.json`` (router shard count, version
    selector, sync ledger). Every committed snapshot has one — the export
    writes it before its commit rename — so its absence means there is no
    snapshot at ``path``."""
    try:
        with open(os.path.join(path, _META)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(f"no online snapshot at {path}") from None


def _write_meta(path: str, meta: dict) -> None:
    """Replace ``path``'s meta atomically, fsynced first: every point read
    routes through it, so a torn one would brick them all with a
    JSONDecodeError."""
    tmp = os.path.join(path, ".snapshot_meta.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _META))


# What lookups last read: the meta per snapshot path, and per shard
# directory its live files and rows. An entry is replaced, never kept
# beside a newer one, so the memory is one generation of each snapshot.
_METAS: dict[str, dict] = {}
_SHARDS: dict[str, tuple[list[str], dict[str, dict]]] = {}


def _routed_rows(path: str, probe: str, fresh: bool) -> tuple[dict, dict[str, dict]]:
    """(meta, entity_id → row of the shard ``probe`` routes to). A data
    file is never rewritten under its name (an export writes unique part
    names, a sync renames in a new ``gen{G}-`` file), and the meta fields
    a lookup reads (``n_shards``, ``version``) change only by an export,
    which names every file anew. So unless ``fresh``, an unchanged listing
    of the routed shard proves both entries current: one listdir. This
    assumes a shard fits in memory as Python rows, true of the
    single-file-per-shard tier; a bigger shard wants a reader that
    bisects the sorted file's footer instead."""
    meta = None if fresh else _METAS.get(path)
    if meta is None:
        meta = _METAS[path] = _snapshot_meta(path)
    shard_dir = _shard_dir(path, snapshot_shard(probe, meta["n_shards"]))
    live = shard_live_files(shard_dir)
    hit = _SHARDS.get(shard_dir)
    if hit is not None and hit[0] == live:
        return meta, hit[1]
    if not fresh:  # a new generation, maybe of a re-export: read the meta
        return _routed_rows(path, probe, fresh=True)
    for retries_left in reversed(range(_READ_ATTEMPTS)):
        try:
            rows = ds.dataset(live, format="parquet").to_table().to_pylist() if live else []
            break
        except FileNotFoundError:
            if not retries_left:
                raise
            live = shard_live_files(shard_dir)
    by_id = {r["entity_id"]: r for r in reversed(rows)}  # first row wins
    _SHARDS[shard_dir] = (live, by_id)
    return meta, by_id


def lookup_online_snapshot(
    path: str,
    entity_id: str,
    feature_names: list[str] | None = None,
) -> FeatureVector:
    """Shard-routed point read from an :func:`export` artifact: ONE shard
    consulted, its file read on first use only, no Spark job.
    Raises ``KeyError`` for an entity the snapshot doesn't hold (the
    snapshot is a frozen export — an unknown key is a router miss, not a
    batch-tier fallback; callers wanting freshness go through
    ``serve_vector``)."""
    # the exported entity_id column is string (the router hashes UTF-8
    # bytes, matching Spark's xxhash64 over a string column) — coerce the
    # probe the same way snapshot_shard does, so a numeric id from a JSON
    # body probes instead of raising an Arrow type error
    probe = str(entity_id)
    meta, rows = _routed_rows(path, probe, fresh=False)
    if probe not in rows:  # a miss is answered from a fresh meta
        meta, rows = _routed_rows(path, probe, fresh=True)
    if probe not in rows:
        raise KeyError(f"entity '{entity_id}' not in snapshot")
    row = rows[probe]
    # B8 parity with serve_vector: a feature the entity LACKS (NULL pivot
    # cell in the export) is omitted, not returned as None, and a request
    # that matches nothing the entity holds is a miss (404 at the route)
    # — a client switching tiers sees one shape. A feature whose stored
    # VALUE is null is distinct: the export preserves it as the codec
    # string "null" (serve_matrix preserve_stored_nulls), which decodes
    # to None below and stays in the vector, exactly like serve_vector.
    keep = set(row if feature_names is None else feature_names) - {"shard", "entity_id"}
    row = {k: v for k, v in row.items() if k in keep and v is not None}
    if not row:
        raise KeyError(f"entity '{entity_id}' holds no features for this request")
    # the snapshot holds the store's string-encoded values; decode with
    # the same codec serve_vector applies (B6 parity)
    row = {k: decode_value_py(v) for k, v in row.items()}
    return FeatureVector(
        entity_id=probe,
        features=row,
        version=meta["version"],
        retrieved_at=datetime.now(timezone.utc).isoformat(),
    )


# -- writers -------------------------------------------------------------


def _mtime(p: str) -> float:
    try:
        return os.path.getmtime(p)
    except OSError:
        return 0.0  # vanished (operator sweep) — sorts oldest


def _sweep_aged(pattern: str) -> None:
    """Remove the crashed writers' dirs matching ``pattern``: only those
    older than STAGING_SWEEP_AGE_S, never on sight, because a young one
    may belong to a LIVE concurrent writer."""
    for d in glob.glob(pattern):
        if time.time() - _mtime(d) > STAGING_SWEEP_AGE_S:
            shutil.rmtree(d, ignore_errors=True)


def export(
    fs: FeatureStore,
    path: str,
    n_shards: int = 16,
    feature_names: list[str] | None = None,
    version: str | None = None,
    as_of=None,
) -> int:
    """Bulk-load export for an online serving tier — the production
    posture behind the cold-serve numbers in SCALING.md ("Serving-path
    latency"): batch Spark computes/export, a KV store serves. The
    ``fs.serve_matrix`` rows are written as ``n_shards`` hash-sharded
    (:func:`shard_col` — the same rule an online router applies to point
    reads), ENTITY-SORTED parquet files, one file per shard — the
    standard bulk-ingest layout (HBase bulk load / RocksDB SST ingest:
    each shard streams in key order into one run). ``as_of`` pins the
    export to a storage snapshot. Returns the exported row count. Read
    back with :func:`lookup_online_snapshot` — a no-Spark-job
    shard-routed point read off the meta this writes (router shard count
    + pinned version).

    Commit protocol (staging + atomic directory rename — the same
    discipline as every other writer in the repo): shards and meta
    are written into a sibling ``.staging-<name>-<nonce>`` dir and
    ``os.rename``d into place only after the meta lands, so ``path``
    either holds a COMPLETE snapshot or nothing. Without it, a crash
    mid-export leaves a partial dir that the frozen-export existence
    pre-check then rejects forever, with no committed-vs-leftover
    distinction for the operator. A leftover same-name staging dir from
    a crashed exporter is swept AGE-GATED at the next export — never on
    sight, because a young same-name staging dir may be a LIVE
    concurrent exporter (a client retry racing the original), and
    rmtree'ing it mid-write would fail its Spark job or, in the worst
    interleaving (between its count and its rename), let it commit a
    partially-deleted snapshot. The racer instead loses cleanly at the
    rename. Raises ``FileExistsError`` if the destination is already
    committed."""
    final = path.rstrip("/")
    if os.path.exists(final):
        raise FileExistsError(f"online snapshot already exists at {final}")
    parent = os.path.dirname(os.path.abspath(final))
    base = os.path.basename(final)
    os.makedirs(parent, exist_ok=True)
    _sweep_aged(os.path.join(parent, f".staging-{base}-*"))
    staging = os.path.join(parent, f".staging-{base}-{uuid.uuid4().hex[:8]}")

    # pin the export to ONE instant even when the caller gave none:
    # values committed while the export job runs are then cleanly "the
    # next sync's work" (absent from the ledger below) instead of
    # maybe-included
    pin = fs.store._as_of_seconds(as_of) if as_of is not None else time.time()
    resolved = fs.catalog.resolve_versions(version, pin, feature_names)
    vids = sorted({vid for _fid, _name, vid, _v in resolved})
    # the sync ledger: which commits this snapshot's CONTENT covers, by
    # SEGMENT ID (not timestamp — a commit that becomes visible after a
    # timestamp window closes is lost forever under (since, now] rules;
    # an id ledger just consumes it whenever it appears).
    # Captured BEFORE the matrix builds its plan: the matrix's own
    # (later) listing is a superset, so every ledgered segment is
    # guaranteed IN the data; a segment the matrix saw but the ledger
    # missed is merely re-upserted by the first sync (idempotent).
    # seq_floor=0 with the full visible id list ON PURPOSE: the
    # ledger's no-loss contract only holds when the export's consumed
    # set is exactly what it observed. Cost is bounded and transient:
    # the list mirrors the segment listing the export walks anyway, and
    # the FIRST sync's seq-floor advance prunes it back to O(recent
    # commits).
    consumed = {
        str(v): {
            "seq_floor": 0,
            "segments": sorted(
                seg
                for seg, doc in fs.store._feed_segments(v).items()
                if doc["committed_at"] <= pin
            ),
        }
        for v in vids
    }
    m = fs._matrix(resolved, pin, preserve_stored_nulls=True)
    # the exported row count rides the shard write itself as an
    # Observation, not a count-back read of the snapshot just written
    # (at 100 TB: a second pass over the whole export)
    row_obs = Observation()
    try:
        (
            m.withColumn("shard", shard_col(n_shards))
            .observe(row_obs, F.count(F.lit(1)).alias("n"))
            .repartition(int(n_shards), "shard")
            .sortWithinPartitions("shard", "entity_id")
            .write.partitionBy("shard")
            .parquet(staging)
        )
        # meta is the LAST artifact before commit. Its names filter,
        # resolved version ids (sync refuses on resolution drift — a
        # feature whose backing version changed needs a re-export, not a
        # row patch) and consumed-segment ledger are sync's contract.
        _write_meta(
            staging,
            {
                "n_shards": int(n_shards),
                "version": version,
                "feature_names": list(feature_names) if feature_names else None,
                "feature_version_ids": [int(v) for v in vids],
                "consumed_segments": consumed,
            },
        )
        row_m = observed_metrics(row_obs)
        if row_m is not None:
            rows = int(row_m["n"] or 0)
        else:
            # tiny LocalRelation-folded plans can defeat observed-metrics
            # conversion, and a never-materializing metrics row would
            # hang an unbounded get — count the written files back,
            # correctness over speed
            rows = fs.spark.read.parquet(staging).count()
        os.rename(staging, final)  # atomic commit
    except BaseException as exc:
        # clean our OWN staging on ANY failure — Spark-side errors
        # surface as Py4J/AnalysisException, not OSError, and would
        # otherwise strand parquet debris until the age-gated sweep
        shutil.rmtree(staging, ignore_errors=True)
        if isinstance(exc, OSError) and os.path.exists(final):
            # a concurrent exporter won the rename
            raise FileExistsError(
                f"online snapshot already exists at {final}"
            ) from None
        raise
    return rows


def maintain(
    fs: FeatureStore, path: str, n_shards: int | None = None, max_changed: int = 100_000
) -> dict:
    """ONE idempotent scheduled-maintenance call for the online
    serving tier (the :func:`~..pipelines.pretraining.maintain_corpus`
    discipline applied to snapshots): try the O(changed) incremental
    sync; when the snapshot cannot be patched — version resolution
    drift, a restore/vacuum hole in the feed, churn past
    ``max_changed``, or no snapshot at all yet — fall back to a FULL
    re-export, staged and swapped in (old dir renamed aside, new
    renamed in, old removed), so the caller never decides which mode
    applies. Returns the underlying report plus ``mode`` ∈
    {"synced", "reexported", "created", "contended"} and, for rebuilds
    and contention, ``reason``.

    The swap is two renames, so a point read racing it can see a
    brief not-found between them — the same cutover window any bulk
    re-load has; schedule it accordingly (the sync path, which is the
    steady state, has no such window: shard generations swap
    atomically). A crash INSIDE that window is recovered on the next
    call: a rebuild dir is only ever renamed to its final name after
    :func:`export` committed it whole (its own staging protocol), so
    when ``final`` is missing but a ``.rebuild-*`` sibling exists, the
    newest one — meta, version selector, shard count and all — is
    adopted before anything else runs; otherwise the crash would strand
    the ONLY copy of the meta in the trash dir and the next call would
    silently re-create the snapshot with default settings. Leftover
    ``.retired-*`` / stale ``.rebuild-*`` dirs are swept here too. Sync
    and export go through ``fs``'s methods, so instance wrappers nest."""
    final = path.rstrip("/")
    # the whole adopt/sweep/swap sequence runs under a leased lock:
    # unguarded, two concurrent maintainers race the rebuild glob
    # against each other's renames (one adopts the other's rebuild
    # mid-swap, or getmtime hits a dir the other just renamed away).
    # sync's own .sync.lock nests below this one (different file, fixed
    # order — no deadlock).
    os.makedirs(os.path.dirname(os.path.abspath(final)), exist_ok=True)
    with _pid_lock(f"{final}.maintain.lock", "online-snapshot maintenance"):
        rebuilds = sorted(glob.glob(f"{final}.rebuild-*"), key=_mtime)
        while not os.path.exists(final) and rebuilds:
            # crashed between rename(final→trash) and
            # rename(rebuild→final): adopt the newest committed
            # rebuild — it IS the snapshot
            try:
                os.rename(rebuilds.pop(), final)
            except FileNotFoundError:
                continue  # that candidate vanished — try the next
        # retired dirs are always dead; a leftover rebuild is only swept
        # AGE-GATED — a young one may be a live concurrent maintain's
        # export mid-swap
        for leftover in glob.glob(f"{final}.retired-*"):
            shutil.rmtree(leftover, ignore_errors=True)
        _sweep_aged(f"{final}.rebuild-*")
        if os.path.exists(final):
            try:
                return {"mode": "synced", **fs.sync_online_snapshot(final, max_changed=max_changed)}
            except LockContention as exc:
                # a DIRECT sync caller holds .sync.lock right now — the
                # snapshot is being refreshed by someone else, so falling
                # through to a full re-export would race it for nothing.
                # Report contention instead of failing the whole maintain.
                return {"mode": "contended", "reason": str(exc)}
            except ValueError as exc:
                reason = str(exc)
            meta = _snapshot_meta(final)
            rebuild = f"{final}.rebuild-{uuid.uuid4().hex[:8]}"
            rows = fs.export_online_snapshot(
                rebuild,
                n_shards=n_shards or meta["n_shards"],
                feature_names=meta["feature_names"],
                version=meta["version"],  # keep the original selector
            )
            trash = f"{final}.retired-{uuid.uuid4().hex[:8]}"
            os.rename(final, trash)
            os.rename(rebuild, final)
            shutil.rmtree(trash, ignore_errors=True)
            return {"mode": "reexported", "reason": reason, "rows": rows}
        rows = fs.export_online_snapshot(final, n_shards=n_shards or 16)
        return {"mode": "created", "rows": rows}


def sync(fs: FeatureStore, path: str, max_changed: int = 100_000) -> dict:
    """Incrementally refresh an exported online snapshot from the
    offline store's CHANGE DATA FEED — the hourly companion to the
    nightly :func:`export` bulk load. Cost is O(changed entities), never
    O(snapshot): a per-version CONSUMED-SEGMENT LEDGER in the snapshot
    meta names exactly the commits already applied; the complement of
    the visible listing is this round's work
    (:meth:`~..store.offline.OfflineStore.changes_for_segments` —
    exactly-once even when a commit's ``committed_at`` lands inside an
    already-closed wall-clock window, which a ``(last sync, now]`` rule
    would lose). The feed names the entities whose vectors moved, their
    matrix rows are recomputed with an entity-pruned read, and ONLY the
    hash shards holding them are rewritten — an unchanged shard's file
    is not opened, not rewritten, not even stat'd by readers any
    differently.

    Shard replacement is generation-based (``gen{G}-`` file prefix, see
    :func:`shard_live_files`): the new file is staged and renamed in
    (atomic), the old generation deleted after — a point read racing
    the sync resolves one complete generation, never a mix, and a crash
    between the steps is self-healing (readers take the newer, the next
    sync sweeps). Deleted subjects (GDPR erasures in the feed) simply
    vanish from the rewritten shard — the erasure propagates to the
    serving tier in the same pass.

    Refuses — with re-export guidance — when version resolution has
    drifted since the export (a feature's backing version changed:
    every row is potentially stale, a patch would lie), when the feed
    window contains a RESTORE or vacuumed files, or when more than
    ``max_changed`` entities moved (at that churn a bulk re-export
    is cheaper than a point-patch storm). Returns
    ``{"changed_entities", "shards_rewritten", "rows_upserted",
    "synced_through"}``; a no-change window rewrites no shard."""
    final = path.rstrip("/")
    with _pid_lock(os.path.join(final, ".sync.lock"), "online snapshot sync"):
        meta = _snapshot_meta(final)
        now = time.time()
        resolved = fs.catalog.resolve_versions(
            meta["version"], now, meta["feature_names"]
        )
        vids_now = sorted({vid for _fid, _name, vid, _v in resolved})
        if vids_now != [int(v) for v in meta["feature_version_ids"]]:
            raise ValueError(
                f"version resolution drifted since export "
                f"({meta['feature_version_ids']} -> {vids_now}); every row "
                "is potentially stale — re-export the snapshot"
            )
        # CONSUMED-SEGMENT LEDGER (not a timestamp window): each vid's
        # ledger is (seq_floor, explicit ids), and a commit is consumed
        # iff seq <= seq_floor OR its id is listed. Pending = every
        # VISIBLE commit that is neither; a commit that publishes late
        # is simply absent from this round's listing and consumed the
        # round it appears.
        #
        # The seq floor is clock-free: seqs are allocated under a lock
        # held across the publishing rename, so visibility order equals
        # seq order regardless of any writer's wall clock; the floor
        # advances to (max consumed seq − FEED_LEDGER_SEQ_LAG), never
        # past a visible-but-unconsumed commit. The only way a commit
        # can land below the seq floor unconsumed is the lease-takeover
        # double fault (writer stalled ≥ the 300 s lease TTL mid-commit
        # while ≥ SEQ_LAG commits landed store-wide).
        #
        # Commits stamped after `now` stay pending: the fresh matrix
        # reads as_of=now (keyed on committed_at), so consuming them
        # here would ledger data the read can't see.
        changed: set[str] = set()
        new_ledger: dict = {}
        for vid in vids_now:
            ent = meta["consumed_segments"][str(vid)]
            seq_floor = ent["seq_floor"]
            done = set(ent["segments"])
            listing = fs.store._feed_segments(vid)
            ts_of = {s: d["committed_at"] for s, d in listing.items()}
            seq_of = {s: d["seq"] for s, d in listing.items()}
            pending = sorted(
                s
                for s in listing
                if ts_of[s] <= now and seq_of[s] > seq_floor and s not in done
            )
            if pending:
                try:
                    feed = fs.store.changes_for_segments(vid, pending)
                except ValueError as exc:
                    raise ValueError(
                        f"change feed unusable for version {vid} ({exc}); "
                        "re-export the snapshot"
                    ) from exc
                changed.update(
                    r["entity_id"]
                    for r in feed.select("entity_id").distinct().collect()
                )
                if len(changed) > max_changed:
                    raise ValueError(
                        f"{len(changed)}+ entities changed since the last "
                        f"sync (max_changed={max_changed}) — churn this "
                        "heavy is cheaper as a bulk re-export"
                    )
            # fold everything observed (<= now) into the ledger, then
            # advance the seq floor and drop the ids it implies — the
            # ledger stays O(recent commits)
            observed = {s for s, ts in ts_of.items() if ts <= now}
            all_done = done | observed
            # never advance past a visible commit left unconsumed this
            # round (stamped after `now` — a writer clock running
            # ahead): it must stay pending for a future sync
            unconsumed = [seq_of[s] for s in listing if s not in all_done]
            cand = (
                max((seq_of[s] for s in observed), default=seq_floor)
                - FEED_LEDGER_SEQ_LAG
            )
            new_seq_floor = max(
                seq_floor, min([cand] + [q - 1 for q in unconsumed])
            )
            new_ledger[str(vid)] = {
                "seq_floor": new_seq_floor,
                "segments": sorted(
                    s
                    for s in all_done
                    if s not in seq_of or seq_of[s] > new_seq_floor
                ),
            }
        shards, rows_upserted = 0, 0
        if changed:
            shards, rows_upserted = _rewrite_shards(
                fs, final, meta["n_shards"], resolved, changed, now
            )
        # the advanced ledger is persisted even on a no-op: compacts and
        # restores observed this round are folded in so they are not
        # re-examined every sync
        meta["consumed_segments"] = new_ledger
        _write_meta(final, meta)
        return {
            "changed_entities": len(changed),
            "shards_rewritten": shards,
            "rows_upserted": rows_upserted,
            "synced_through": now,
        }


def _rewrite_shards(
    fs: FeatureStore,
    final: str,
    n_shards: int,
    resolved: list[tuple[int, str, int, str]],
    changed: set[str],
    now: float,
) -> tuple[int, int]:
    """Rewrite the shards holding ``changed`` as their next generation,
    with those entities' rows recomputed as of ``now``. Returns (shards
    rewritten, rows upserted)."""
    shards = sorted({snapshot_shard(e, n_shards) for e in changed})
    changed_df = F.broadcast(
        fs.spark.createDataFrame([(e,) for e in sorted(changed)], "entity_id string")
    )
    # small change sets push the id list into the store read
    # (manifest entity-range file skipping: ~K files opened, not
    # the version); big ones would bloat the plan as an IN-list,
    # so they row-filter via the broadcast semi-join instead
    prune = sorted(changed) if len(changed) <= 1000 else None
    fresh = fs._matrix(resolved, now, preserve_stored_nulls=True, entity_ids=prune)
    if prune is None:
        fresh = fresh.join(changed_df, "entity_id", "left_semi")
    fresh = fresh.withColumn(
        "shard",
        # int: matches the partition-directory-inferred type of
        # the old files so the unionByName needs no cast
        shard_col(n_shards).cast("int"),
    ).localCheckpoint(eager=True)  # bounded by max_changed; reused
    # by the shard write, the empty-shard path, and the row count
    old_files = [f for k in shards for f in shard_live_files(_shard_dir(final, k))]
    combined = fresh
    if old_files:
        combined = (
            fs.spark.read.option("basePath", final).parquet(*old_files)
            .join(changed_df, "entity_id", "left_anti")
            .unionByName(fresh)
        )
    staging = os.path.join(final, f".sync-staging-{uuid.uuid4().hex[:8]}")
    try:
        (
            combined.repartition(max(len(shards), 1), "shard")
            .sortWithinPartitions("shard", "entity_id")
            .write.partitionBy("shard")
            .parquet(staging)
        )
        for k in shards:
            shard_dir = _shard_dir(final, k)
            os.makedirs(shard_dir, exist_ok=True)
            staged = sorted(glob.glob(os.path.join(_shard_dir(staging, k), "part-*.parquet")))
            if not staged:
                # every entity of this shard was deleted: write one
                # EMPTY schema-bearing file (partitionBy drops empty
                # partitions; a generation must still supersede)
                empty_dir = os.path.join(staging, f"empty-{k}")
                combined.filter(F.col("shard") == k).drop("shard").coalesce(
                    1
                ).write.parquet(empty_dir)
                staged = sorted(glob.glob(os.path.join(empty_dir, "part-*.parquet")))
            if len(staged) != 1:
                raise RuntimeError(
                    f"sync expected one file for shard {k}, got {len(staged)}"
                )
            current = os.listdir(shard_dir)
            next_gen = 1 + max(
                (_file_gen(f) for f in current if f.endswith(".parquet")),
                default=0,
            )
            name = f"gen{next_gen}-{os.path.basename(staged[0])}"
            os.rename(staged[0], os.path.join(shard_dir, name))
            for f in current:  # retire the superseded generation(s)
                if f.endswith(".parquet") and _file_gen(f) < next_gen:
                    try:
                        os.remove(os.path.join(shard_dir, f))
                    except FileNotFoundError:
                        pass
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return len(shards), fresh.count()

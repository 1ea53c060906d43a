"""The offline store: feature_values, the table that actually scales.

Reference shape (models.py:65-80): (id, feature_version_id FK, entity_id
str, value Text, computed_at), with a B-tree index on
(entity_id, feature_version_id) (models.py:78-80).

Spark-first design:

* **Partitioned by feature_version_id** — every serve/read names a version
  (or resolves latest → a version id), so partition pruning eliminates all
  other versions before the scan. At 100 TB with thousands of versions this
  is the difference between scanning one version's files and the world.
* **Values written in ONE distributed append** (vs the reference's
  row-at-a-time INSERT loop, compute.py:74-88).
* **Manifest-SEGMENT commit protocol** (crash safety AND multi-writer
  append safety without delta-spark, which the sandbox cannot install —
  SCALING.md "Storage"): every append stages its parquet files, fsyncs
  them, moves them into the version's partition directory, and only then
  atomically renames ITS OWN per-append segment JSON
  (``_manifests/v{id}/{txn}.json``) listing only the files that append
  created. Readers resolve the file list as the UNION of a version's live
  segments, so:

  - a writer killed at ANY point leaves at worst orphaned un-manifested
    files no read ever sees (crash atomicity), and
  - two CONCURRENT appends to the same version each commit their own
    segment — there is no shared manifest read-modify-write to race, so
    neither append can make the other's files invisible (the lost-update
    hazard of a single per-version manifest).

  Compaction is the one operation that must *retire* segments: it commits
  a segment whose ``supersedes`` list names the exact segment set it
  compacted — one atomic rename flips readers from the old file set to the
  new one, and appends that land DURING compaction stay visible because
  their segments are not in the snapshot being superseded. Concurrent
  *compactions* of the same version are excluded by an O_EXCL lock file
  (a true mutex on POSIX/HDFS; on object stores, schedule one compactor —
  the same discipline Delta's OPTIMIZE assumes without its commit-conflict
  retry). This is the multi-writer core of what Delta's transaction log
  provides; the transactional production drop-in remains ``format("delta")``
  here and in :func:`compact_version_partition`.
* **Range-partitioned and sorted by entity_id at write**, with each
  segment recording per-file entity [min,max] (``entity_ranges``): point
  and IN-list reads skip whole FILES from the manifest alone (Delta/
  Iceberg-style data skipping — no footer is even opened), and parquet
  min/max page stats skip pages within the survivors — the columnar
  analog of the reference's idx_entity_feature (models.py:78-80), held
  through compaction by ``repartitionByRange``.

Segment record format (the only one readers accept): each
``_manifests/v{id}/{segment}.json`` holds

- ``files`` — the data files this commit references, relative to the store;
- ``entity_ranges`` — per-file entity_id [min, max] (files whose footer had
  no usable stats are absent and never pruned);
- ``row_counts`` — per-file row counts (same omission rule);
- ``committed_at`` — unix seconds, captured just before the publishing
  rename;
- ``seq`` — the store-wide monotone commit number (≥ 1);
- ``cdc.op`` — what kind of commit it was: ``append`` (``write_values``),
  ``delete`` (``delete_rows``, with ``cdc.change_files``), ``compact``
  (``compact_version_partition``), ``restore`` (``restore_version``) or
  ``merge`` (``compact_incremental_feature`` in ``store/materialize.py``);
- ``supersedes`` — the segment ids a ``delete``, ``compact``, ``restore``
  or ``merge`` retires.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import uuid
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VALUES_SCHEMA = T.StructType(
    [
        T.StructField("feature_version_id", T.LongType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("computed_at", T.TimestampType(), False),
    ]
)

# on-disk file schema: the partition column lives in the directory name
_FILE_SCHEMA = T.StructType([f for f in VALUES_SCHEMA.fields if f.name != "feature_version_id"])


def _live_segments(segs: dict[str, dict], as_of: float | None = None) -> dict[str, dict]:
    """The LIVE subset of a version's segment records: those committed at
    or before ``as_of`` (all when None), minus any named in another
    visible segment's ``supersedes`` list."""
    if as_of is not None:
        segs = {k: v for k, v in segs.items() if v["committed_at"] <= as_of}
    superseded = {s for v in segs.values() for s in v.get("supersedes", [])}
    return {k: v for k, v in segs.items() if k not in superseded}


def _fsync_path(path: str) -> None:
    """fsync a file or directory by path (O_RDONLY works for both on
    Linux — directory fsync persists the entry rename)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _lock_holder(lock: str) -> tuple[int, str]:
    """Parse a lock file's recorded holder: line 1 is the pid, line 2 the
    hostname. Legacy pid-only files (written before hostnames were
    recorded) parse as (pid, "") — an UNKNOWN host, which auto-clear
    must treat as possibly-remote. Unreadable/garbage files parse as
    (0, "")."""
    try:
        with open(lock) as lf:
            lines = lf.read().splitlines()
    except OSError:
        return 0, ""
    try:
        pid = int((lines[0] if lines else "").strip() or "0")
    except ValueError:
        pid = 0
    host = lines[1].strip() if len(lines) > 1 else ""
    return pid, host


# mutation-lock lease: the holder's heartbeat touches the lock mtime every
# LOCK_HEARTBEAT_S; an acquirer may reclaim ANY holder — local or remote —
# whose lease has gone LOCK_LEASE_TTL_S without a beat. The TTL is sized
# 20× the beat so scheduler stalls, GC pauses, and NFS attribute-cache
# staleness (typically ≤60 s) cannot expire a LIVE holder.
LOCK_HEARTBEAT_S = 15.0
LOCK_LEASE_TTL_S = 300.0

# _commit_segment re-stamps committed_at when the capture->rename gap
# exceeded this, so a timestamp window that closed during the stall still
# sees the commit in its next window
PUBLISH_RESTAMP_S = 300.0


class LockContention(RuntimeError):
    """A `_pid_lock` found a LIVE holder (fresh lease, live pid). Distinct
    from other RuntimeErrors so callers that want to degrade gracefully on
    contention — maintain_online_snapshot reporting ``mode: contended``
    instead of failing the whole maintenance call (ADVICE r11) — can catch
    exactly this without swallowing real faults."""


def _lease_expired(lock: str, ttl: float = LOCK_LEASE_TTL_S) -> bool:
    import time

    try:
        return time.time() - os.stat(lock).st_mtime > ttl
    except OSError:
        return False  # gone (or unreadable): nothing to expire


@contextmanager
def _pid_lock(lock: str, what: str):
    """O_EXCL pid+hostname lock with LEASED dead-holder recovery. Two
    reclaim paths, both serialized behind an O_EXCL ``<lock>.takeover``
    sidecar with a re-verify, so two acquirers observing the same stale
    holder cannot race remove-then-recreate and both enter:

    * **dead local pid** — immediate: the holder recorded THIS host and
      ``kill(pid, 0)`` says it is gone. (``kill`` can only probe local
      processes, so this path never judges a remote holder.)
    * **expired lease** — any holder, any host (round-10 verdict: a
      remote holder that died used to block forever, and a crash between
      the O_EXCL open and the pid write left a ``(0, "")`` lock nothing
      would ever clear). While held, a daemon heartbeat touches the lock
      mtime every LOCK_HEARTBEAT_S; a lock whose mtime is older than
      LOCK_LEASE_TTL_S has therefore missed ~20 consecutive beats — the
      holder is dead (or partitioned long past any plausible pause), and
      the lease-expiry re-verify under the sidecar (same holder AND still
      expired) means one fresh beat from a merely-slow holder cancels the
      takeover. The half-written ``(0, "")`` lock ages out on the same
      clock — it never beats.

    A live holder on another host is never swept: its heartbeat keeps the
    lease fresh, exactly the NFS-safety property the hostname check alone
    used to provide."""
    import threading
    import time

    local_host = os.uname().nodename
    fd = None
    # up to TWO reclaim passes before the final attempt: an expired
    # takeover sidecar and the expired lock behind it each cost one
    for attempt in (0, 1, 2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            pid, host = _lock_holder(lock)
            dead_local = False
            if pid > 0 and host == local_host:
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    dead_local = True
                except PermissionError:
                    pass
            expired = _lease_expired(lock)
            if attempt < 2 and (dead_local or expired):
                takeover = lock + ".takeover"
                try:
                    tfd = os.open(takeover, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    # a stuck takeover sidecar ages out on the lease clock
                    # too (its writer may have died holding it)
                    if _lease_expired(takeover):
                        try:
                            os.remove(takeover)
                        except FileNotFoundError:
                            pass
                        continue
                    raise LockContention(
                        f"a stale-lock takeover for {what} is itself in "
                        f"flight (sidecar: {takeover}); remove it (and the "
                        "lock, if its owner is known dead) to re-enable"
                    ) from None
                try:
                    # re-verify under the sidecar: sweep only if the lock
                    # still records the holder we observed AND (for the
                    # lease path) the lease is STILL expired — one fresh
                    # heartbeat in between means the holder lives
                    if _lock_holder(lock) == (pid, host) and (
                        dead_local or _lease_expired(lock)
                    ):
                        try:
                            os.remove(lock)
                        except FileNotFoundError:
                            pass
                finally:
                    os.close(tfd)
                    try:
                        os.remove(takeover)
                    except FileNotFoundError:
                        pass
                continue
            raise LockContention(
                f"another {what} is in flight (lock: {lock}, pid "
                f"{pid or '?'} on host {host or '?'}); remove the file "
                "only if its owner is known dead"
            )
    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(LOCK_HEARTBEAT_S):
            try:
                os.utime(lock, None)
            except FileNotFoundError:
                return  # lock swept (we were judged dead) — stop beating
            except OSError:
                # transient I/O hiccup (NFS ESTALE/EIO): KEEP beating —
                # one missed beat is 1/20th of the lease; exiting here
                # would let a contender lawfully sweep a LIVE holder
                # (review r11)
                continue
    hb = threading.Thread(target=_beat, name=f"lock-heartbeat:{what}", daemon=True)
    try:
        os.write(fd, f"{os.getpid()}\n{local_host}".encode())
        os.close(fd)
        hb.start()
        yield
    finally:
        stop.set()
        # release ONLY a lock that still records this holder: if our lease
        # was swept mid-mutation (long suspend), the lock on disk now
        # belongs to the contender — unlinking it would let a THIRD
        # mutator in while the second still runs (review r11)
        try:
            if _lock_holder(lock) == (os.getpid(), local_host):
                os.remove(lock)
        except FileNotFoundError:
            pass


@contextmanager
def _pid_lock_blocking(lock: str, what: str, timeout: float = 2 * LOCK_LEASE_TTL_S):
    """`_pid_lock` that WAITS on a live holder instead of failing fast —
    for short critical sections (commit sequencing: two fsync'd writes and
    a rename) where contention between concurrent appends is normal and
    momentary. Dead holders still age out on the lease clock, so the wait
    is bounded; past ``timeout`` (default 2×TTL — one full lease expiry
    plus takeover slack) the contention propagates."""
    import sys
    import time

    deadline = time.time() + timeout
    while True:
        cm = _pid_lock(lock, what)
        try:
            cm.__enter__()
        except LockContention:
            if time.time() >= deadline:
                raise
            time.sleep(0.05)
            continue
        try:
            yield
        except BaseException:
            if not cm.__exit__(*sys.exc_info()):
                raise
        else:
            cm.__exit__(None, None, None)
        return


class OfflineStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "feature_values")

    def exists(self) -> bool:
        """True when the store has COMMITTED data. Manifest-based, not a
        bare path check: a crashed first write leaves staging/orphan files
        under the path with nothing committed, and callers branching on
        ``exists()`` (serving's empty-store fast path, the streaming
        upsert sink) must treat that exactly like an empty store.

        Short-circuits on the FIRST version with committed files: this
        runs on every UNCACHED serve, and a full walk parses every segment
        JSON of every version — O(store metadata) driver I/O per cold
        request on a store with thousands of versions."""
        return any(self._manifest_files(vid) for vid in self._manifest_version_ids())

    # -- manifest-segment protocol ------------------------------------------

    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "_manifests")

    def _segment_dir(self, version_id: int) -> str:
        return os.path.join(self._manifest_dir(), f"v{int(version_id)}")

    def _read_segments(
        self, version_id: int, as_of: float | None = None
    ) -> dict[str, dict]:
        """All LIVE segments for one version: every segment record minus
        any segment named in another segment's ``supersedes`` list (how
        compaction retires what it replaced).

        ``as_of`` (unix seconds) gives the SNAPSHOT view: only segments
        committed at or before that instant participate — including in
        supersedes resolution, so a compaction committed after the
        snapshot does not retire what the snapshot saw. Superseded
        segment records are never deleted, so snapshots stay resolvable
        until ``vacuum_orphans`` removes the compacted-away DATA files
        (age-gated) — the same time-travel lifetime contract as Delta's
        VACUUM."""
        return _live_segments(self._feed_segments(version_id), as_of)

    def _manifest_files(
        self, version_id: int, entity_ids: list[str] | None = None
    ) -> list[str]:
        """Relative paths of the COMMITTED files for one version: union of
        its live segments (empty if the version has never committed).

        ``entity_ids`` enables MANIFEST-LEVEL file skipping: a file is
        dropped when its segment's recorded ``entity_ranges`` prove no
        requested entity can be in it. Files without a recorded range
        (stat-less footers) are always kept, so pruning never changes
        results — only how many files the scan opens."""
        return self._prune_segment_files(self._read_segments(version_id), entity_ids)

    @staticmethod
    def _prune_segment_files(
        segs: dict[str, dict], entity_ids: list[str] | None
    ) -> list[str]:
        if not entity_ids:
            return sorted({f for s in segs.values() for f in s["files"]})
        targets = [str(e).encode("utf-8", "surrogatepass") for e in entity_ids]
        keep: set[str] = set()
        for s in segs.values():
            ranges = s.get("entity_ranges", {})
            for f in s["files"]:
                rng = ranges.get(f)
                if rng is None or OfflineStore._range_covers(rng, targets):
                    keep.add(f)
        return sorted(keep)

    def _entity_ranges(self, rel_files: list[str]) -> dict[str, list[str]]:
        """Per-file [min, max] of ``entity_id``, read from the parquet
        footers the writer just produced (driver-side; a production task
        writer would surface the same stats from its write handles). This
        is Delta/Iceberg-style FILE-level data skipping: appends sort
        within partitions and compaction range-partitions by entity, so
        per-file ranges are (near-)disjoint and a point lookup resolves to
        ~one file per live segment instead of every file in the version.
        Parquet may store truncated bounds (min rounded down, max rounded
        up), so the recorded range is a superset of the file's true range —
        pruning on it can only over-include, never lose a row. Files whose
        footer lacks usable stats are simply omitted (readers treat them
        as unprunable)."""
        import pyarrow.parquet as pq

        ranges: dict[str, list[str]] = {}
        for rf in rel_files:
            try:
                md = pq.ParquetFile(os.path.join(self.path, rf)).metadata
                col_idx = next(
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == "entity_id"
                )
                mins: list[str] = []
                maxs: list[str] = []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("row group without min/max")
                    mins.append(str(st.min))
                    maxs.append(str(st.max))
                if mins:
                    ranges[rf] = [min(mins), max(maxs)]
            except Exception:
                continue  # stat-less file: always read, never wrong
        return ranges

    def _row_counts(self, rel_files: list[str]) -> dict[str, int]:
        """Per-file row counts from the parquet footers the writer just
        produced — the statistic that lets ``count_for_version`` answer
        COUNT(*) from the manifest without scheduling a scan (what
        Delta/Iceberg's numRecords column does). A file whose footer
        can't be read is omitted; readers fall back to scanning."""
        import pyarrow.parquet as pq

        counts: dict[str, int] = {}
        for rf in rel_files:
            try:
                counts[rf] = int(
                    pq.ParquetFile(os.path.join(self.path, rf)).metadata.num_rows
                )
            except Exception:
                continue
        return counts

    @staticmethod
    def _range_covers(rng: list[str], targets: list[bytes]) -> bool:
        # parquet orders string stats by unsigned bytes; compare the same way
        mn = rng[0].encode("utf-8", "surrogatepass")
        mx = rng[1].encode("utf-8", "surrogatepass")
        return any(mn <= t <= mx for t in targets)

    def _commit_segment(
        self,
        version_id: int,
        files: list[str],
        cdc: dict,
        supersedes: list[str] | None = None,
        name: str | None = None,
    ) -> str:
        """The commit point: tmp-write + fsync + atomic rename of a NEW
        segment file. Nothing is read-modified-written, so concurrent
        appends commute; a crash before the rename leaves every previously
        committed segment (and file set) fully intact. The segment record
        carries per-file entity_id min/max (``entity_ranges``) so reads
        with an entity predicate can skip whole files without opening a
        single footer — see :meth:`_entity_ranges`.

        Every segment is also stamped with a MONOTONE PER-STORE COMMIT
        SEQUENCE NUMBER (``seq``, round-12): allocated from a persisted
        counter under a leased ``.seq.lock`` held ACROSS the allocation
        AND the publishing rename, so among commits that ever become
        visible, visibility order equals seq order — independent of any
        writer's wall clock. The incremental-sync ledger keys consumed-ness
        on seq, so no writer's clock skew can make it skip a commit.
        A crash between counter persist and rename burns a seq (a
        permanent hole — the replayed txn allocates a fresh one); holes
        are harmless because nothing ever waits on a specific seq. The
        one residual ordering violation is a holder whose lease was swept
        mid-span (≥300 s stall) publishing an OLD seq after newer ones —
        the ledger keeps an online_snapshot.FEED_LEDGER_SEQ_LAG-commit
        margin for exactly that double-fault."""
        seg_dir = self._segment_dir(version_id)
        os.makedirs(seg_dir, exist_ok=True)
        import time

        seg_id = name or uuid.uuid4().hex[:12]
        doc: dict = {"files": sorted(files)}
        ranges = self._entity_ranges(sorted(files))
        if ranges:
            doc["entity_ranges"] = ranges
        counts = self._row_counts(sorted(files))
        if counts:
            doc["row_counts"] = counts
        # committed_at is captured AFTER the footer scans, immediately
        # before the write+rename: stamping it first (pre-round-11) meant a
        # slow footer scan could publish a segment whole SECONDS after its
        # recorded instant, so any timestamp-windowed consumer whose window
        # closed in between missed the commit forever (ADVICE r10). The
        # residual capture→visible gap is now one fsync'd JSON write;
        # feed consumers additionally track consumed SEGMENT IDS
        # (changes_for_segments) so even that gap cannot lose a commit.
        doc["committed_at"] = time.time()
        if supersedes:
            doc["supersedes"] = sorted(supersedes)
        # change-data-feed record: what KIND of commit this was ("append" |
        # "delete" | "compact" | "restore" | "merge") plus, for deletes, the
        # sidecar change files holding the removed rows — see
        # changes_for_version
        doc["cdc"] = cdc
        final = os.path.join(seg_dir, f"{seg_id}.json")
        # seq allocation and the publishing rename share one leased lock
        # span: that is what makes visibility order equal seq order (see
        # the docstring). The span is two tiny fsync'd writes + a rename —
        # the expensive footer scans above run UNLOCKED.
        with _pid_lock_blocking(
            os.path.join(self._manifest_dir(), ".seq.lock"), "commit sequencing"
        ):
            doc["seq"] = self._next_commit_seq()
            tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(doc, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, final)
            _fsync_path(seg_dir)
        # publish-delay re-stamp: if this process stalled between the
        # committed_at capture and the rename (SIGSTOP, VM pause, NFS
        # outage) for longer than PUBLISH_RESTAMP_S, a timestamp-window
        # consumer (changes_for_version) whose window closed during the
        # stall would never see this commit. Re-stamp with a fresh instant
        # via the same atomic replace: a consumer that already saw the old
        # stamp has consumed the segment (fine); one that never saw it now
        # finds it inside its next window.
        if time.time() - doc["committed_at"] > PUBLISH_RESTAMP_S:
            doc["committed_at"] = time.time()
            tmp2 = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp2, "w") as f:
                json.dump(doc, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp2, final)
            _fsync_path(seg_dir)
        return seg_id

    def _next_commit_seq(self) -> int:
        """Allocate the next per-store commit sequence number. Caller must
        hold ``.seq.lock``. The counter file is persisted (fsync + rename)
        BEFORE the caller's segment rename, so a crash in between burns a
        seq — a permanent, harmless hole (the replayed txn allocates a
        fresh one) — but never duplicates one. A missing/corrupt counter
        recovers from the max seq recorded across committed segments, so
        losing the counter file alone cannot re-issue a live seq."""
        ctr = os.path.join(self._manifest_dir(), ".commit_seq")
        n = None
        try:
            with open(ctr) as f:
                n = int(f.read().strip())
        except (OSError, ValueError):
            n = self._max_committed_seq()
        n += 1
        tmp = f"{ctr}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(n))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, ctr)
        return n

    def _max_committed_seq(self) -> int:
        """Max ``seq`` across every committed segment record — the rare
        counter-recovery scan (0 for an empty store)."""
        return max(
            (
                doc["seq"]
                for vid in self._manifest_version_ids()
                for doc in self._feed_segments(vid).values()
            ),
            default=0,
        )

    def _manifest_version_ids(self) -> set[int]:
        """Version ids whose ``v{id}/`` segment dir holds at least one
        segment JSON — whether each actually has committed FILES still
        needs `_manifest_files`. The single parser of this layout."""
        md = self._manifest_dir()
        try:
            names = os.listdir(md)
        except FileNotFoundError:
            return set()
        return {
            int(n[1:])
            for n in names
            if n.startswith("v")
            and os.path.isdir(os.path.join(md, n))
            and any(s.endswith(".json") for s in os.listdir(os.path.join(md, n)))
        }

    def _read_files(self, rel_files: list[str]) -> DataFrame:
        if not rel_files:
            return self.spark.createDataFrame([], VALUES_SCHEMA)
        paths = [os.path.join(self.path, rf) for rf in rel_files]
        return (
            self.spark.read.option("basePath", self.path)
            .schema(VALUES_SCHEMA)
            .parquet(*paths)
            .select(*[f.name for f in VALUES_SCHEMA.fields])
        )

    # -- writes ------------------------------------------------------------

    def write_values(
        self,
        version_id: int,
        values: DataFrame,
        txn: str | None = None,
        _crash_before_commit: bool = False,
        _before_commit=None,
    ) -> int:
        """Append (entity_id, value) rows for one version in a single
        distributed job, made crash-atomic AND concurrent-append-safe by
        the segment protocol: stage → fsync → move into the partition dir
        → commit this append's OWN manifest segment (atomic rename; no
        shared state is read-modified-written, so a concurrent append to
        the same version can never hide these files). ``values`` must have
        columns entity_id (castable to string) and value (already
        codec-encoded string). Returns the number of committed rows for
        the version.

        ``_crash_before_commit`` is the test hook for the kill-during-write
        proof: it aborts after the data files are fully in place but before
        the segment commit — the exact window a crash would leave — and
        tests assert readers see none of the staged rows.
        ``_before_commit`` is the interleaving hook for the two-writer
        proof: it runs just before this append's commit point (e.g. a
        second writer's complete append), and tests assert BOTH appends'
        rows are visible afterwards.

        ``txn`` names the commit (12 lowercase hex chars — it also prefixes
        the append's data-file names): an append whose
        segment already exists SHORT-CIRCUITS without reading or writing
        anything — the exactly-once primitive for epoch-keyed streaming
        sinks (a replayed foreachBatch trigger re-derives the same txn
        from (query id, epoch id) and becomes a no-op). Callers must
        derive it deterministically from the retry scope; a REUSED txn
        across different payloads silently drops the second."""
        vid = int(version_id)
        if txn is not None:
            if not re.fullmatch(r"[0-9a-f]{12}", txn):
                raise ValueError(
                    f"txn must be 12 lowercase hex chars, got {txn!r} "
                    "(derive it e.g. sha256(query_id/epoch).hexdigest()[:12])"
                )
            if os.path.exists(
                os.path.join(self._segment_dir(vid), f"{txn}.json")
            ):
                return self.count_for_version(vid)
        out = values.select(
            F.col("entity_id").cast("string").alias("entity_id"),
            F.col("value").cast("string").alias("value"),
            F.current_timestamp().alias("computed_at"),
        )
        # Range-partition by entity + sort within files: this append's
        # files get DISJOINT entity ranges, which is what makes the
        # manifest's entity_ranges skip whole files on point reads and
        # parquet page stats skip pages within the survivor. No explicit
        # partition count — AQE coalesces the range shuffle to the DATA
        # size, so a small append (e.g. one batch of rollup partials
        # arriving over 32 shuffle partitions) lands as one file instead
        # of 32 micro-files, while a large append fans into many
        # range-disjoint ones. Single-partition inputs skip the shuffle:
        # one file covers the whole range either way.
        if out.rdd.getNumPartitions() > 1:
            out = out.repartitionByRange("entity_id")
        out = out.sortWithinPartitions("entity_id")
        with ExitStack() as fence:
            if txn is None:
                # fresh uuid: no second writer can name this staging dir,
                # so the replay fence below has nothing to exclude
                txn = uuid.uuid4().hex[:12]
            else:
                # replay fence (ADVICE r11): the orphan sweep below removed
                # the accidental mutual exclusion the error-if-exists
                # parquet write used to provide — two LIVE writers replaying
                # the SAME txn (a zombie streaming driver plus its
                # replacement) could sweep each other's in-flight staging
                # dir and interleave the rename/commit sequence. The leased
                # per-txn lock restores fail-fast: a second live replayer
                # gets LockContention immediately, while a DEAD prior
                # holder's lease expires and the retry proceeds. The lock
                # file is a SIBLING of the staging dir (.staging/<txn>.lock)
                # so neither sweep ever removes a held lock.
                os.makedirs(os.path.join(self.path, ".staging"), exist_ok=True)
                fence.enter_context(
                    _pid_lock(
                        os.path.join(self.path, ".staging", f"{txn}.lock"),
                        f"append replay of txn {txn}",
                    )
                )
                # re-check the exactly-once short-circuit under the lock:
                # the competing replayer may have committed between our
                # first check and this acquisition
                if os.path.exists(
                    os.path.join(self._segment_dir(vid), f"{txn}.json")
                ):
                    return self.count_for_version(vid)
            staging = os.path.join(self.path, ".staging", txn)
            # a crashed prior attempt of THIS txn (killed inside the parquet
            # write, before the finally swept it) leaves the staging dir
            # behind; error-if-exists would then fail every replay of the
            # epoch forever — the exactly-once sink's retry path must sweep
            # the orphan first (its files are unreferenced by construction:
            # the txn's segment does not exist or we would have
            # short-circuited above, and no LIVE writer holds it — the
            # fence excluded that) (review r11)
            shutil.rmtree(staging, ignore_errors=True)
            out.write.parquet(staging)
            part_rel = f"feature_version_id={vid}"
            part_dir = os.path.join(self.path, part_rel)
            os.makedirs(part_dir, exist_ok=True)
            new_rel = []
            try:
                for src in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
                    _fsync_path(src)
                    name = f"{txn}-{os.path.basename(src)}"
                    os.rename(src, os.path.join(part_dir, name))
                    new_rel.append(f"{part_rel}/{name}")
                _fsync_path(part_dir)
                if _crash_before_commit:
                    raise RuntimeError("simulated crash before manifest commit")
                if _before_commit is not None:
                    _before_commit()
                self._commit_segment(vid, new_rel, name=txn, cdc={"op": "append"})
            finally:
                shutil.rmtree(os.path.join(self.path, ".staging", txn), ignore_errors=True)
        # manifest-stat count: no read-back scan of the whole version per
        # append (falls back to the scan only for stat-less files)
        return self.count_for_version(vid)

    # -- reads -------------------------------------------------------------

    def values(self) -> DataFrame:
        """The full offline store as a DataFrame — only manifest-committed
        files, so in-flight/crashed appends are invisible. Version
        predicates still prune: the partition value is carried by each
        file's directory name."""
        rel = [
            f for vid in sorted(self._manifest_version_ids()) for f in self._manifest_files(vid)
        ]
        return self._read_files(rel)

    def values_for_version(
        self, version_id: int, entity_ids: list[str] | None = None
    ) -> DataFrame:
        """One version's committed rows: the file list comes from that
        version's manifest segments alone — the read plans over exactly
        the files it needs (manifest-level pruning, same effect as
        partition pruning with a pre-pruned listing). ``entity_ids``
        additionally skips files whose recorded entity range excludes
        every requested id (callers still row-filter; this only shrinks
        the scan). Entity ids are str-coerced at the store boundary (see
        :meth:`values_for_versions`)."""
        vid = int(version_id)
        if entity_ids is not None:
            entity_ids = [str(e) for e in entity_ids]
        return self._read_files(self._manifest_files(vid, entity_ids)).filter(
            F.col("feature_version_id") == vid
        )

    def count_for_version(self, version_id: int, as_of=None) -> int:
        """COUNT(*) for one version answered from manifest statistics
        alone — zero Spark jobs, zero files opened — whenever every live
        file's row count was recorded at commit time (Delta/Iceberg answer
        the same query from their logs' numRecords). A file whose footer
        could not be read at commit time falls back to the scan count, so
        the answer is always exact. ``as_of`` gives the snapshot count
        under the same time-travel rules as
        :meth:`values_for_version_as_of`.

        This is what the write path returns after every append: at 100 TB
        a scan-count after each micro-batch append would read the whole
        version back per commit."""
        vid = int(version_id)
        secs = self._as_of_seconds(as_of) if as_of is not None else None
        segs = self._read_segments(vid, as_of=secs)
        files = sorted({f for s in segs.values() for f in s["files"]})
        counts: dict[str, int] = {}
        for s in segs.values():
            counts.update(s.get("row_counts", {}))
        if all(f in counts for f in files):
            return sum(counts[f] for f in files)
        if as_of is not None:
            return self.values_for_version_as_of(vid, as_of).count()
        return self.values_for_version(vid).count()

    @staticmethod
    def _as_of_seconds(as_of) -> float:
        if isinstance(as_of, str):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(as_of)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt.timestamp()
        return float(as_of)

    def values_for_version_as_of(self, version_id: int, as_of) -> DataFrame:
        """TIME-TRAVEL read: one version's rows exactly as a reader at
        instant ``as_of`` (unix seconds, or an ISO-8601 string — naive
        times are UTC) would have resolved them. Appends committed later
        are invisible; a compaction committed later does NOT retire the
        segments the snapshot saw (superseded records are kept on disk
        precisely for this). The reproducible-training-set primitive:
        pin the snapshot instant in the experiment config and the same
        rows come back no matter how the version grew since — valid
        until ``vacuum_orphans`` collects compacted-away data files
        (age-gated, Delta-VACUUM lifetime contract).

        One narrow repeatability caveat (ADVICE r11): a writer that
        stalled > PUBLISH_RESTAMP_S (300 s — SIGSTOP, VM pause, NFS
        outage) between capturing ``committed_at`` and publishing the
        segment RE-STAMPS it with a fresh instant after it is already
        visible. An ``as_of`` pinned inside that (old stamp, new stamp)
        gap is therefore non-repeatable for that one segment: it is
        included before the re-stamp and excluded after. Pin snapshot
        instants at least PUBLISH_RESTAMP_S in the past (or use the
        monotone per-segment ``seq`` in :meth:`history`) to be immune;
        in exchange, the re-stamp is what guarantees a timestamp-window
        consumer whose window closed during the stall still sees the
        commit."""
        vid = int(version_id)
        secs = self._as_of_seconds(as_of)
        segs = self._read_segments(vid, as_of=secs)
        files = sorted({f for s in segs.values() for f in s["files"]})
        return self._read_files(files).filter(F.col("feature_version_id") == vid)

    def history(self, version_id: int) -> list[dict]:
        """The version's commit log, oldest first: every segment record
        ever committed — including superseded ones — as
        ``(segment, seq, committed_at, n_files, supersedes)``. The
        audit/debug face of the manifest protocol (what Delta's DESCRIBE
        HISTORY is to its transaction log); feed a row's ``committed_at``
        to :meth:`values_for_version_as_of` to reproduce that moment.
        ``seq`` is the store-wide monotone commit number — the clock-free
        ordering key."""
        all_segs = self._feed_segments(version_id)
        live = _live_segments(all_segs)
        return sorted(
            (
                {
                    "segment": k,
                    "seq": v["seq"],
                    "committed_at": v["committed_at"],
                    "n_files": len(v["files"]),
                    "supersedes": v.get("supersedes", []),
                    "live": k in live,
                }
                for k, v in all_segs.items()
            ),
            key=lambda r: (r["committed_at"], r["segment"]),
        )

    def changes_for_version(
        self, version_id: int, since=None, until=None
    ) -> DataFrame:
        """CHANGE DATA FEED for one version (Delta's ``table_changes`` /
        CDF analog): every row-level change committed in the half-open
        window ``(since, until]`` — inserts from appends, deletes from
        row-level erasures — as one DataFrame with ``_change_type``
        (``insert`` | ``delete``), ``_commit_ts`` and ``_commit_segment``
        alongside the row columns. ``since``/``until`` take unix seconds
        or ISO-8601 (see :meth:`values_for_version_as_of`); ``since=None``
        means "from the beginning", ``until=None`` "through now".

        This is the incremental-consumer primitive at 100 TB: a
        downstream materialization reads ONLY the files the window's
        commits created (appends' own segment files, deletes' sidecar
        change files) — never the table — so consuming a day's changes
        costs O(day), not O(table). Semantics per commit kind:

        * **append** — its files ARE the inserted rows (zero write
          amplification: the data files double as the feed).
        * **delete** — the rows come from the ``_change_data`` sidecar
          committed with the delete (under ``purge=True`` the sidecar
          carries entity ids with NULL values: downstream must erase too,
          and the payload is retained nowhere).
        * **compact** — content-neutral: contributes nothing.
        * **restore** — not representable as row deltas (Delta's RESTORE
          has the same property); raises ``ValueError`` telling the
          consumer to resync from a snapshot read.
        * **merge** (an incremental-state compaction, which rewrites the
          rows themselves) — an exact multiset diff of the superseded
          snapshot vs the new file set: the partial rows as deletes, the
          merged rows as inserts. Needs the superseded files to still
          exist; otherwise raises with resync guidance.

        Deletes that remove N copies of a row emit N delete rows
        (multiset semantics, matching ``exceptAll``)."""
        vid = int(version_id)
        lo = None if since is None else self._as_of_seconds(since)
        hi = None if until is None else self._as_of_seconds(until)
        all_segs = self._feed_segments(vid)

        def keep(seg: str, ts: float) -> bool:
            return not ((lo is not None and ts <= lo) or (hi is not None and ts > hi))

        return self._changes_from_segments(vid, all_segs, keep)

    def _feed_segments(self, version_id: int) -> dict[str, dict]:
        """Every segment record ever committed for the version — live AND
        superseded — keyed by segment id: the one place segment JSON is
        listed and parsed. Live views (:meth:`_read_segments`), the commit
        log and the change feed all derive from it; the feed needs the
        superseded records to diff a merge against what it replaced."""
        seg_dir = self._segment_dir(version_id)
        try:
            names = os.listdir(seg_dir)
        except FileNotFoundError:
            return {}
        all_segs: dict[str, dict] = {}
        for n in names:
            if not n.endswith(".json"):
                continue  # tmp files pre-rename are "*.json.tmp-*"
            try:
                with open(os.path.join(seg_dir, n)) as f:
                    all_segs[n[:-5]] = json.load(f)
            except FileNotFoundError:
                pass  # the version was dropped between listdir and open
            except ValueError as e:
                # segments are staged + atomically renamed, so a parse
                # failure is real on-disk corruption, not a torn read.
                # Skipping would silently erase the commit from every view
                # (its rows never reach any reader or feed consumer, with
                # zero diagnostics) — fail loudly instead
                raise ValueError(
                    f"corrupt segment record for version {version_id}: "
                    f"{os.path.join(seg_dir, n)} — the version cannot be "
                    "resolved past it; restore the file from a replica"
                ) from e
        return all_segs

    def changes_for_segments(self, version_id: int, segment_ids) -> DataFrame:
        """The change feed of EXACTLY the named commits (by segment id) —
        the exactly-once consumer primitive. Timestamp windows
        (:meth:`changes_for_version`) can lose a commit that becomes
        VISIBLE after the window closed but carries a ``committed_at``
        inside it (the capture→rename gap in :meth:`_commit_segment`, or
        wall-clock skew between writers); a consumer that instead records
        the segment ids it has processed and feeds the complement here is
        immune — a late-visible commit is simply absent from this round's
        listing and consumed next round (ADVICE r10, medium). Same output
        schema and op semantics as the windowed feed."""
        vid = int(version_id)
        want = {str(s) for s in segment_ids}
        all_segs = self._feed_segments(vid)
        missing = sorted(want - set(all_segs))
        if missing:
            raise ValueError(
                f"change feed for version {vid}: unknown segment ids "
                f"{missing[:3]} — the consumer's ledger names commits this "
                "store has no record of; resync from a snapshot read"
            )
        return self._changes_from_segments(
            vid, all_segs, lambda seg, ts: seg in want
        )

    def _changes_from_segments(
        self, vid: int, all_segs: dict[str, dict], keep
    ) -> DataFrame:
        meta = T.StructType(
            _FILE_SCHEMA.fields
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_ts", T.DoubleType(), False),
                T.StructField("_commit_segment", T.StringType(), False),
            ]
        )

        def tagged(df: DataFrame, kind: str, ts: float, seg: str) -> DataFrame:
            return df.select(
                *[f.name for f in _FILE_SCHEMA.fields],
                F.lit(kind).alias("_change_type"),
                F.lit(float(ts)).alias("_commit_ts"),
                F.lit(seg).alias("_commit_segment"),
            )

        def read_rel(rel_files: list[str]) -> DataFrame:
            missing = [
                rf
                for rf in rel_files
                if not os.path.exists(os.path.join(self.path, rf))
            ]
            if missing:
                raise ValueError(
                    f"change feed for version {vid} needs files that were "
                    f"vacuumed/purged ({missing[:3]}...); resync the consumer "
                    "from a snapshot read (values_for_version) instead"
                )
            return self._read_files(rel_files).select(
                *[f.name for f in _FILE_SCHEMA.fields]
            )

        parts: list[DataFrame] = []
        for seg, doc in sorted(
            all_segs.items(), key=lambda kv: (kv[1]["committed_at"], kv[0])
        ):
            ts = doc["committed_at"]
            if not keep(seg, ts):
                continue
            op = doc["cdc"]["op"]
            if op == "compact":
                continue
            if op == "restore":
                raise ValueError(
                    f"change feed window for version {vid} contains a RESTORE "
                    f"commit (segment {seg}); a restore is not representable "
                    "as row deltas — resync the consumer from a snapshot read"
                )
            if op == "append":
                parts.append(tagged(read_rel(doc["files"]), "insert", ts, seg))
            elif op == "delete":
                cfiles = doc["cdc"]["change_files"]
                gone = [
                    rf
                    for rf in cfiles
                    if not os.path.exists(os.path.join(self.path, rf))
                ]
                if gone:
                    raise ValueError(
                        f"change feed for version {vid} needs change-data "
                        f"sidecars that were vacuumed ({gone}); resync the "
                        "consumer from a snapshot read instead"
                    )
                rows = self.spark.read.schema(_FILE_SCHEMA).parquet(
                    *[os.path.join(self.path, rf) for rf in cfiles]
                )
                parts.append(tagged(rows, "delete", ts, seg))
            elif op == "merge":  # rows rewritten in place: exact file diff
                old_rel = sorted(
                    {
                        f
                        for s_name in doc.get("supersedes", [])
                        for f in all_segs[s_name]["files"]
                    }
                )
                new = read_rel(doc["files"])
                old = read_rel(old_rel)
                parts.append(tagged(new.exceptAll(old), "insert", ts, seg))
                parts.append(tagged(old.exceptAll(new), "delete", ts, seg))
            else:
                raise ValueError(
                    f"segment {seg} of version {vid} records commit op {op!r}, "
                    "which this reader does not support"
                )
        if not parts:
            return self.spark.createDataFrame([], meta)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def restore_version(self, version_id: int, as_of, _before_commit=None) -> dict:
        """RESTORE the version to its snapshot at ``as_of`` (Delta's
        ``RESTORE TABLE ... TO TIMESTAMP``): commit ONE new segment whose
        file list is exactly what a time-travel read at ``as_of``
        resolves, superseding every currently-live segment. Nothing is
        rewritten or deleted — the snapshot's files are re-referenced, so
        a restore of a 100 TB version is a metadata operation (one JSON
        rename), and every intermediate state stays time-travelable
        (restore is a NEW commit, not history surgery; Delta semantics).

        Requires the snapshot's data files to still exist — a snapshot
        past its :func:`vacuum_orphans` retention raises
        ``FileNotFoundError``. Shares the compaction/delete mutation lock
        so it can never race a concurrent rewrite. Returns
        ``{"segment", "restored_files", "superseded_segments"}``; a
        restore to the CURRENT state is a no-op (``segment=None``)."""
        vid = int(version_id)
        secs = self._as_of_seconds(as_of)
        os.makedirs(self._segment_dir(vid), exist_ok=True)
        lock = os.path.join(self._segment_dir(vid), ".compact.lock")
        with _pid_lock(lock, f"restore for version {vid}"):
            snap = self._read_segments(vid, as_of=secs)
            files = sorted({f for s in snap.values() for f in s["files"]})
            missing = [
                rf for rf in files if not os.path.exists(os.path.join(self.path, rf))
            ]
            if missing:
                raise FileNotFoundError(
                    f"restore target snapshot needs vacuumed files: {missing[:3]}..."
                )
            live = self._read_segments(vid)
            live_files = sorted({f for s in live.values() for f in s["files"]})
            if live_files == files:
                return {
                    "segment": None,
                    "restored_files": len(files),
                    "superseded_segments": [],
                }
            if _before_commit is not None:  # test hook (crash window)
                _before_commit()
            seg = self._commit_segment(
                vid,
                files,
                supersedes=list(live),
                cdc={"op": "restore", "as_of": secs},
            )
            return {
                "segment": seg,
                "restored_files": len(files),
                "superseded_segments": sorted(live),
            }

    def values_for_versions(
        self, version_ids: list[int], as_of=None, entity_ids: list[str] | None = None
    ) -> DataFrame:
        """Several versions' committed rows in one read — the serving-path
        shape: the file list is the union of exactly the named versions'
        manifests, so with thousands of versions in the store a serve that
        resolves to a handful reads a handful (manifest-level pruning,
        before any Spark planning happens). ``as_of`` applies the
        time-travel snapshot per version (see
        :meth:`values_for_version_as_of`) — the reproducible
        training-export read. ``entity_ids`` applies manifest-level file
        skipping on top (see :meth:`_manifest_files`) — the serving cold
        path passes the single requested entity, so the scan opens ~one
        file per live segment instead of every file of every resolved
        version.

        Entity ids are coerced to ``str`` HERE, at the store boundary:
        the store is string-keyed, and a caller's numeric id would prune
        by str(7)'s byte range while any downstream equality against the
        raw int numerically coerces the column ('007' == 7) — wrong and
        pruning-dependent."""
        vids = sorted({int(v) for v in version_ids})
        if entity_ids is not None:
            entity_ids = [str(e) for e in entity_ids]
        if as_of is None:
            rel = [f for vid in vids for f in self._manifest_files(vid, entity_ids)]
        else:
            secs = self._as_of_seconds(as_of)
            rel = [
                f
                for vid in vids
                for f in self._prune_segment_files(
                    self._read_segments(vid, as_of=secs), entity_ids
                )
            ]
        rel = sorted(set(rel))
        return self._read_files(rel).filter(F.col("feature_version_id").isin(vids))

    def point_lookup(self, version_id: int, entity_id: str) -> DataFrame:
        """Single-entity point read, three pruning layers deep: manifest
        pruning (version) → FILE skipping (segment entity_ranges — files
        whose [min,max] excludes the entity are never opened) → parquet
        page skipping within the survivors (entity sort order) — the
        serving hot path. The id is normalized to str for BOTH layers —
        a raw numeric id would prune by the string's bytes but row-filter
        with numeric coercion ('007' == 7), returning pruning-dependent
        results."""
        probe = str(entity_id)
        return self.values_for_version(version_id, entity_ids=[probe]).filter(
            F.col("entity_id") == probe
        )

    def drop_version_values(self, version_id: int) -> bool:
        """Remove one version's committed data (crash recovery of a writer
        that died mid-activation, or version retirement). The manifests are
        deleted FIRST — readers stop seeing the version atomically once the
        segment dir is gone — then the partition directory. Returns True if
        anything was deleted."""
        vid = int(version_id)
        deleted = False
        seg_dir = self._segment_dir(vid)
        if os.path.isdir(seg_dir):
            shutil.rmtree(seg_dir)
            _fsync_path(self._manifest_dir())
            deleted = True
        part_dir = os.path.join(self.path, f"feature_version_id={vid}")
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)
            deleted = True
        return deleted

    def delete_rows(
        self,
        version_id: int,
        entity_ids: list[str] | None = None,
        where: str | None = None,
        purge: bool = False,
        _before_commit=None,
    ) -> dict:
        """Row-level DELETE for one version — the GDPR-erasure /
        bad-batch-retraction operation (Delta's ``DELETE FROM``): rewrite
        only the files that can contain matching rows, commit the survivors
        plus every untouched file as ONE new segment superseding the
        snapshot. The reference can ``DELETE`` in SQLite trivially; at
        100 TB delete cost is governed by how few files you rewrite, which
        is what the manifest's per-file ``entity_ranges`` buys here: an
        erasure request for K subjects opens ~K files, not the version.

        ``entity_ids`` — erase whole subjects (range-pruned to the files
        whose [min,max] can contain them). ``where`` — an arbitrary SQL
        predicate over (entity_id, value, computed_at) for retraction by
        content/time; no file pruning unless combined with ``entity_ids``
        (both given = AND). At least one is required — an unconstrained
        delete must be the explicit :meth:`drop_version_values`.

        Crash-atomic and append-safe exactly like compaction (whose
        mutation lock this shares, so a concurrent compaction can never
        supersede the same snapshot): survivors stage → fsync → move in
        under new names → one atomic segment commit. An append landing
        mid-delete keeps its own segment — it is not in the snapshot, so
        it is never superseded (rows it re-adds for a deleted subject are
        NEW data, correctly retained).

        Time travel vs erasure: with ``purge=False`` the matched rows'
        old files stay on disk un-referenced by live segments — as-of
        reads of pre-delete snapshots still resolve them until the
        age-gated :func:`vacuum_orphans` sweep (Delta's VACUUM retention
        contract). ``purge=True`` removes them NOW: physical erasure that
        deliberately breaks older snapshots' access to those rows —
        which is the entire point of an erasure request.

        Returns ``{"deleted_rows", "rewritten_files", "untouched_files",
        "new_files", "purged_files"}``.
        """
        if entity_ids is None and where is None:
            raise ValueError(
                "delete_rows: pass entity_ids and/or where; an unconstrained "
                "delete must be the explicit drop_version_values()"
            )
        vid = int(version_id)
        os.makedirs(self._segment_dir(vid), exist_ok=True)
        lock = os.path.join(self._segment_dir(vid), ".compact.lock")
        report = {
            "deleted_rows": 0,
            "rewritten_files": 0,
            "untouched_files": 0,
            "new_files": 0,
            "purged_files": [],
        }
        with _pid_lock(lock, f"row delete for version {vid}"):
            snapshot = self._read_segments(vid)
            all_rel = sorted({f for s in snapshot.values() for f in s["files"]})
            if not all_rel:
                return report
            affected = self._prune_segment_files(snapshot, entity_ids)
            untouched = [rf for rf in all_rel if rf not in set(affected)]
            report["untouched_files"] = len(untouched)
            if not affected:
                return report

            match = F.lit(True)
            if entity_ids is not None:
                match = match & F.col("entity_id").isin(
                    [str(e) for e in entity_ids]
                )
            if where is not None:
                match = match & F.expr(where)
            src = self._read_files(affected).select(
                *[f.name for f in _FILE_SCHEMA.fields]
            )

            # change-data sidecar (Delta CDF's _change_data analog): the
            # removed rows, so downstream incremental consumers can apply
            # the delete without diffing snapshots. Under purge (physical
            # GDPR erasure) the PAYLOAD must not be retained anywhere —
            # the sidecar carries entity ids with a NULL value, which is
            # exactly what a downstream eraser needs and nothing more.
            # The total/hit counts ride THIS write as an Observation
            # (above the match filter, so they see every affected row) —
            # through r11 they were a dedicated agg job, a full extra scan
            # of the affected files before the sidecar re-scanned them.
            # The sidecar is staged first and renamed into place only when
            # hit > 0, so the zero-match early-exit commits nothing, same
            # as before.
            from pyspark.sql import Observation as _Observation

            _cnt_obs = _Observation()
            deleted_rows = src.observe(
                _cnt_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(match.cast("long")).alias("hit"),
            ).filter(match)
            if purge:
                deleted_rows = deleted_rows.select(
                    "entity_id",
                    F.lit(None).cast("string").alias("value"),
                    "computed_at",
                )
            txn_cdc = uuid.uuid4().hex[:12]
            cdc_stage = os.path.join(self.path, ".staging", f"cdc-{txn_cdc}")
            deleted_rows.write.parquet(cdc_stage)
            from ..functions.obs import observed_metrics as _observed

            _cnt = _observed(_cnt_obs)
            if _cnt is not None:
                counts = {"n": int(_cnt["n"] or 0), "hit": int(_cnt["hit"] or 0)}
            else:
                # folded-plan observed-metrics caveat (or a metrics row
                # that never materialized — the bounded wait, ADVICE r12)
                # — fall back to the pre-r12 dedicated agg
                counts = src.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(match.cast("long")).alias("hit"),
                ).collect()[0]
            n_deleted = int(counts["hit"] or 0)
            if n_deleted == 0:
                shutil.rmtree(cdc_stage, ignore_errors=True)
                return report  # range over-inclusion only — nothing to do
            report["deleted_rows"] = n_deleted
            report["rewritten_files"] = len(affected)
            cdc_rel = f"_change_data/v{vid}/{txn_cdc}"
            os.makedirs(os.path.join(self.path, "_change_data", f"v{vid}"), exist_ok=True)
            os.rename(cdc_stage, os.path.join(self.path, cdc_rel))

            survivors = src.filter(~match)
            size = sum(
                os.path.getsize(os.path.join(self.path, rf)) for rf in affected
            )
            # survivors shrink proportionally; keep ~source file sizing
            surv_bytes = size * (int(counts["n"]) - n_deleted) // max(int(counts["n"]), 1)
            n_files = max(1, -(-surv_bytes // (128 * 1024 * 1024)))
            txn = uuid.uuid4().hex[:12]
            staging = os.path.join(self.path, ".staging", txn)
            (
                survivors.repartitionByRange(n_files, "entity_id")
                .sortWithinPartitions("entity_id")
                .write.parquet(staging)
            )
            part_rel = f"feature_version_id={vid}"
            part_dir = os.path.join(self.path, part_rel)
            os.makedirs(part_dir, exist_ok=True)
            new_rel: list[str] = []
            try:
                for s in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
                    _fsync_path(s)
                    name = f"{txn}-{os.path.basename(s)}"
                    os.rename(s, os.path.join(part_dir, name))
                    new_rel.append(f"{part_rel}/{name}")
                _fsync_path(part_dir)
                if _before_commit is not None:  # test hook (crash/interleave)
                    _before_commit()
                self._commit_segment(
                    vid,
                    new_rel + untouched,
                    supersedes=list(snapshot),
                    name=txn,
                    cdc={
                        "op": "delete",
                        "change_files": [cdc_rel],
                        "purged": bool(purge),
                    },
                )
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            report["new_files"] = len(new_rel)
            if purge:
                for rf in affected:
                    try:
                        os.remove(os.path.join(self.path, rf))
                        report["purged_files"].append(rf)
                    except FileNotFoundError:
                        pass
        return report


def vacuum_orphans(store: OfflineStore, min_age_seconds: float = 24 * 3600) -> list[str]:
    """Remove data files that no manifest references — the garbage a
    crashed writer leaves behind (staged-and-moved but never committed) or
    a compaction was interrupted before deleting. Mirrors Delta's VACUUM:
    age-gated (default 24 h) so an IN-FLIGHT writer's files — moved into
    the partition dir but not yet manifest-committed — are never swept
    from under it. Readers are unaffected either way: they only ever
    resolve manifested files. Returns the removed paths."""
    import time

    # committed data files (live segments) and referenced change-data
    # sidecars (every segment: superseded ones still feed historical
    # windows, and share the data files' retention story) in one pass
    committed: set[str] = set()
    referenced_cdc: set[str] = set()
    for vid in store._manifest_version_ids():
        segs = store._feed_segments(vid)
        committed.update(f for s in _live_segments(segs).values() for f in s["files"])
        referenced_cdc.update(
            f for s in segs.values() for f in s["cdc"].get("change_files", [])
        )
    removed: list[str] = []
    cutoff = time.time() - min_age_seconds
    for part in glob.glob(os.path.join(store.path, "feature_version_id=*")):
        for f in os.listdir(part):
            if not f.endswith(".parquet"):
                continue
            rel = f"{os.path.basename(part)}/{f}"
            full = os.path.join(part, f)
            if rel not in committed and os.path.getmtime(full) < cutoff:
                os.remove(full)
                removed.append(full)
    # stale per-txn staging dirs (same age gate — never an in-flight writer's)
    for stage in glob.glob(os.path.join(store.path, ".staging", "*")):
        try:
            if os.path.getmtime(stage) < cutoff:
                shutil.rmtree(stage, ignore_errors=True)
                removed.append(stage)
        except FileNotFoundError:
            pass
    # change-data sidecars no committed segment references (a delete that
    # crashed between the sidecar rename and its segment commit); same age
    # gate
    for cdir in glob.glob(os.path.join(store.path, "_change_data", "v*", "*")):
        rel = os.path.relpath(cdir, store.path)
        try:
            if rel not in referenced_cdc and os.path.getmtime(cdir) < cutoff:
                shutil.rmtree(cdir, ignore_errors=True)
                removed.append(cdir)
        except FileNotFoundError:
            pass
    return removed


def compact_version_partition(
    spark: SparkSession,
    root: str,
    version_id: int,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_old_files: bool = False,
    _before_commit=None,
) -> int:
    """Compact one version's committed files: many small files (from
    incremental/streaming appends) → ceil(bytes/target) files, re-sorted by
    entity_id so page-stat skipping survives compaction.

    Small-files is THE silent killer of big scans (one task + one open per
    file); streaming sinks make it chronic. Crash-atomic AND safe against
    concurrent APPENDS via the segment protocol: the compacted files are
    staged and moved in under new names ALONGSIDE the old ones, then ONE
    atomic segment commit both publishes the new file list and
    ``supersedes`` the exact segment snapshot that was compacted — a
    reader always resolves either the complete old set or the complete new
    set, and an append that lands mid-compaction keeps its own segment
    (never in the snapshot, so never superseded). Concurrent compactions
    of the same version are excluded by an O_EXCL lock file. Only after
    the commit are the old data files and retired segment JSONs removed
    (a crash in between leaves them invisible; vacuum sweeps the data
    files). Delta/Iceberg ``OPTIMIZE`` is the transactional production
    drop-in. Returns the resulting committed file count.

    ``keep_old_files=True`` skips the immediate delete of the replaced
    data files, leaving them un-manifested for the age-gated
    :func:`vacuum_orphans` — the production mode when long-running readers
    may have resolved the pre-compaction snapshot (the same reader-vs-
    delete window Delta's VACUUM retention exists for)."""
    vid = int(version_id)
    # callers pass store.path (the feature_values dir); rebuild a store on it
    store = OfflineStore.__new__(OfflineStore)
    store.spark = spark
    store.root = os.path.dirname(root)
    store.path = root
    os.makedirs(store._segment_dir(vid), exist_ok=True)
    lock = os.path.join(store._segment_dir(vid), ".compact.lock")
    _lock = ExitStack()
    _lock.enter_context(_pid_lock(lock, f"compaction for version {vid}"))
    try:
        snapshot = store._read_segments(vid)  # the segment set we replace
        old_rel = sorted({f for s in snapshot.values() for f in s["files"]})
        if not old_rel:
            raise FileNotFoundError(os.path.join(root, f"feature_version_id={vid}"))
        size = sum(os.path.getsize(os.path.join(root, rf)) for rf in old_rel)
        n_files = max(1, -(-size // target_file_bytes))
        df = (
            store._read_files(old_rel)
            .select(*[f.name for f in _FILE_SCHEMA.fields])
            # RANGE partitioning (not hash): compacted files get disjoint
            # entity ranges, so manifest entity_ranges skipping and parquet
            # page stats keep working after compaction — a hash repartition
            # would smear every entity range across every output file
            .repartitionByRange(n_files, "entity_id")
            .sortWithinPartitions("entity_id")
        )
        txn = uuid.uuid4().hex[:12]
        staging = os.path.join(root, ".staging", txn)
        df.write.parquet(staging)
        part_rel = f"feature_version_id={vid}"
        part_dir = os.path.join(root, part_rel)
        os.makedirs(part_dir, exist_ok=True)
        new_rel = []
        try:
            for src in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
                _fsync_path(src)
                name = f"{txn}-{os.path.basename(src)}"
                os.rename(src, os.path.join(part_dir, name))
                new_rel.append(f"{part_rel}/{name}")
            _fsync_path(part_dir)
            if _before_commit is not None:  # test hook: interleave an append here
                _before_commit()
            # the atomic cutover: publish new files + retire the snapshot
            store._commit_segment(
                vid,
                new_rel,
                supersedes=list(snapshot),
                name=txn,
                cdc={"op": "compact"},
            )
            if not keep_old_files:
                for rf in old_rel:  # old files are garbage once the swap lands
                    if rf in new_rel:
                        continue
                    try:
                        os.remove(os.path.join(root, rf))
                    except FileNotFoundError:
                        pass
            # retired segment records are KEPT (r7): they are inert for live
            # reads (the compactor's supersedes list hides them) but are the
            # commit log — history() and values_for_version_as_of resolve
            # pre-compaction snapshots through them. KB-scale JSON; the data
            # files they name follow keep_old_files/vacuum, so a snapshot
            # outlives a compaction only in keep_old_files mode (the
            # Delta-VACUUM retention contract).
        finally:
            shutil.rmtree(os.path.join(root, ".staging", txn), ignore_errors=True)
    finally:
        _lock.close()
    return len(new_rel)

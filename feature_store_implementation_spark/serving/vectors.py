"""FeatureStore facade: the reference's API surface as one Spark-first class.

Compute path (reference main.py:140-230 → compute.py): resolve feature →
uniqueness check → schema-validate raw data → evaluate computation_logic →
codec-encode → ONE distributed append of values → version row committed
*after* values land (fixing the orphan-version bug, main.py:216 vs 224,
while keeping observable success behavior identical).

Serve path (reference main.py:249-336): which version serves is resolved
by :meth:`Catalog.resolve_versions` — the pin ``version == V`` (B1-B3) or
the latest active version per feature (B4-B5) — in plain Python over the
registry rows (KBs), with no Spark job. The values read is then
pruned to exactly those version ids before the scan. ``serve_vector`` maps
version id → feature name in Python (B7), behind the reference-parity TTL
cache (B9); ``serve_matrix`` runs ONE plan instead of the reference's N+1
loop: values ⋈ broadcast(version id → name) → pivot name→value."""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compute.engine import compute_feature, rewrap_executor_computation_error
from ..errors import ComputationError, NotFoundError
from ..registry.catalog import Catalog, VersionRow
from ..registry.schema_validation import validate_raw_data_schema
from ..store.codec import decode_value_py, encode_value_col
from ..store.offline import OfflineStore
from .cache import FeatureCache, SingleFlight


@dataclass
class FeatureVector:
    entity_id: str
    features: dict[str, Any]
    version: str | None
    retrieved_at: str


class FeatureStore:
    # staging dirs older than this are presumed crashed and swept by the
    # next same-name export; younger ones may be a LIVE concurrent export
    # (see export_online_snapshot). Sized generously above any plausible
    # export wall time — debris costs only disk until then.
    STAGING_SWEEP_AGE_S = 24 * 3600
    # consumed-segment-ledger margin (sync_online_snapshot): segments carry
    # a store-wide monotone commit seq allocated under a lock held across
    # the publishing rename, so visibility order equals seq order and the
    # ledger's seq floor can advance to (max consumed seq − this margin)
    # with NO clock involved — keeping the explicit id list O(recent
    # commits), not O(all commits ever). The margin exists solely for the
    # lease-takeover double fault (a writer stalled ≥ the 300 s lease TTL
    # mid-commit publishing an old seq late): that writer's commit stays
    # pending unless ≥ this many commits landed store-wide during its stall.
    FEED_LEDGER_SEQ_LAG = 1024

    def __init__(self, spark: SparkSession, root: str, cache: FeatureCache | None = None):
        self.spark = spark
        self.root = root
        self.catalog = Catalog(f"{root}/catalog")
        self.store = OfflineStore(spark, root)
        self.cache = cache if cache is not None else FeatureCache(maxsize=1000, ttl=3600)
        self._flight = SingleFlight()  # stampede guard for cold keys

    # -- compute path ------------------------------------------------------

    def compute_version(
        self,
        feature_id: int,
        version: str,
        data: DataFrame | list[dict],
        entity_id_column: str = "id",
        metadata: dict[str, Any] | None = None,
    ) -> VersionRow:
        """POST /features/{id}/versions (main.py:140-230), Spark-first."""
        feature = self.catalog.get_feature(feature_id)
        self.catalog.check_version_free(feature_id, version)

        df = (
            data
            if isinstance(data, DataFrame)
            else self.spark.createDataFrame(data)  # JSON records (main.py:176)
        )
        raw_table = self.catalog.get_raw_table(feature.raw_table_id)
        validate_raw_data_schema(df.schema, raw_table.schema_definition)

        result = compute_feature(df, feature.computation_logic, entity_id_column)
        value_type = result.schema["value"].dataType
        encoded = result.select(
            "entity_id", encode_value_col(F.col("value"), value_type).alias("value")
        )

        # two-phase commit: reserve the id as 'pending' (invisible to the
        # latest-active serving resolution), write the values, then flip to
        # 'active' — neither an exception nor a crash between steps can
        # expose a version without values (§1.4/§1.5 orphan bug, fixed)
        row = self.catalog.create_version(feature_id, version, metadata, status="pending")
        try:
            n = self.store.write_values(row.id, encoded)
            if n == 0:
                raise ComputationError("computation produced no values")
        except Exception as exc:
            self.catalog.delete_version(row.id)
            # pandas_by_entity programs fail on EXECUTORS at this action —
            # recover the ComputationError → HTTP 500 contract from the
            # PythonException traceback (engine.py rewrap helper)
            wrapped = rewrap_executor_computation_error(exc)
            if wrapped is not exc:
                raise wrapped from exc
            raise
        activated = self.catalog.set_version_status(row.id, "active")
        # Deliberate divergence from the reference: it never invalidates the
        # serve cache, so a freshly-activated version keeps serving the OLD
        # values for up to ttl (3600 s). Key semantics stay reference-exact
        # (cache.py:22-30); activation just cold-starts the (driver-local,
        # cheap-to-refill) cache so serves reflect the newest active version.
        self.cache.clear()
        return activated

    def recover_stale_pending(self, min_age_seconds: float = 0.0) -> list[int]:
        """Crash recovery: a writer that died between reserving a version id
        ('pending') and flipping it to 'active' leaves behind a pending row
        and possibly partial value files. Both are invisible to serving (the
        latest-active resolution filters on status), but they block re-computing
        the same version string and the partial files waste storage. Run at
        service startup — any pending row seen then belongs to a dead writer
        (live writers hold pending only inside compute_version). Drops the
        partial partition directory and the row; returns recovered ids.

        In a MULTI-INSTANCE deployment one instance's startup can observe
        another LIVE writer's pending row; set ``min_age_seconds`` above
        the longest expected compute_version wall time so recovery only
        sweeps rows old enough to be provably dead. (Version ids are
        allocate-once — catalog._next_id's high-water mark — so even a
        mistimed sweep strands the victim's committed files as vacuumable
        orphans rather than bleeding them into a reused id.)

        The reference has no recovery story: its orphan version rows are
        permanent (main.py:216 commits the row before values can fail)."""
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        recovered = []
        for v in self.catalog.list_pending():
            if min_age_seconds > 0:
                try:
                    born = datetime.fromisoformat(v.computed_at)
                    if born.tzinfo is None:
                        born = born.replace(tzinfo=timezone.utc)
                    if (now - born).total_seconds() < min_age_seconds:
                        continue  # young enough to be a live writer's
                except (ValueError, TypeError):
                    # unparsable (garbage string) or absent (NULL
                    # computed_at in a legacy/hand-edited catalog row —
                    # fromisoformat(None) is TypeError) — treat as stale:
                    # aborting here would kill create_app startup on one
                    # bad row
                    pass
            self.store.drop_version_values(v.id)
            self.catalog.delete_version(v.id)
            recovered.append(v.id)
        return recovered

    # -- serve path --------------------------------------------------------

    def serve_vector(
        self,
        entity_id: str,
        feature_names: list[str] | None = None,
        version: str | None = None,
    ) -> FeatureVector:
        """POST /feature-vectors (main.py:249-336): cache probe → one plan →
        pivot → cache fill. Cold keys are SINGLE-FLIGHTED: N concurrent
        requests for the same uncached key run the Spark plan once (the
        leader) and coalesce the rest — the stampede behavior the
        reference's per-miss recompute (cache.py:32-35) degrades under;
        job-count contract pinned in tests/test_feature_store.py and
        measured in SCALING.md's serving table."""
        # normalize ONCE at entry: the store is string-keyed, and a numeric
        # id from a JSON body would otherwise numerically coerce the row
        # filter (entity "007" matches 7) while manifest pruning compares
        # str(7)'s bytes — wrong AND pruning-dependent results. Also keys
        # the request cache consistently ("7" and 7 are one entry).
        entity_id = str(entity_id)
        key = FeatureCache.make_key(entity_id, feature_names, version)
        cached = self.cache.get(key)
        if cached is not None:
            return cached
        result, _led = self._flight.do(
            key, lambda: self._serve_vector_uncached(key, entity_id, feature_names, version)
        )
        return result

    def _serve_vector_uncached(
        self,
        key: str,
        entity_id: str,
        feature_names: list[str] | None,
        version: str | None,
    ) -> FeatureVector:
        # re-probe under the flight: a follower that lost the race AFTER
        # the leader filled the cache must not recompute. serve_vector's
        # probe already counted this request's hit or miss.
        cached = self.cache._peek(key)
        if cached is not None:
            return cached

        if not self.store.exists():
            # no version has EVER written values: same observable outcome as
            # an unknown entity (B8) — not a parquet path error
            raise NotFoundError(f"No feature values found for entity '{entity_id}'")

        # the values read opens ONLY the resolved versions' manifested files
        # — with thousands of versions in the store, a serve touching two
        # features reads two versions' files, not the store's
        name_of = {
            vid: name
            for _fid, name, vid, _v in self.catalog.resolve_versions(
                version, feature_names=feature_names  # B3
            )
        }
        if not name_of:
            raise NotFoundError(f"No feature values found for entity '{entity_id}'")
        # entity_ids prunes at the MANIFEST: files whose recorded entity
        # range excludes this id are never opened (the row filter below
        # still applies — pruning only shrinks the scan)
        rows = (
            self.store.values_for_versions(sorted(name_of), entity_ids=[entity_id])
            .filter(F.col("entity_id") == entity_id)  # B2
            .select("feature_version_id", "value")
            .collect()
        )
        if not rows:
            raise NotFoundError(  # B8, main.py:312-316
                f"No feature values found for entity '{entity_id}'"
            )
        feats = {  # B1, B6
            name_of[r["feature_version_id"]]: decode_value_py(r["value"]) for r in rows
        }
        vec = FeatureVector(
            entity_id=entity_id,
            features=feats,
            version=version,
            retrieved_at=datetime.now(timezone.utc).isoformat(),
        )
        self.cache.set(key, vec)
        return vec

    def serve_matrix(
        self,
        feature_names: list[str] | None = None,
        version: str | None = None,
        as_of=None,
        preserve_stored_nulls: bool = False,
        entity_ids: list[str] | None = None,
    ) -> DataFrame:
        """Batch serving: the full entity × feature matrix as ONE pivoted
        DataFrame (the training-set export path — what the reference would
        need N×M requests for). ``as_of`` (unix seconds or ISO-8601) pins
        the values read to a storage snapshot: the matrix an export at
        that instant produced, reproducible later no matter how the
        versions grew — the experiment-config primitive
        (store.values_for_versions as-of resolution; valid until vacuum
        collects compacted-away files).

        ``preserve_stored_nulls`` re-encodes a STORED NULL value as the
        codec string ``"null"`` (which ``decode_value_py`` round-trips to
        None) before the pivot, so a consumer can tell 'entity lacks this
        feature' (NULL cell) from 'feature value is legitimately null'
        (``"null"`` cell) — the pivot otherwise conflates the two. The
        online-snapshot export sets it so the lookup tier keeps B8 shape
        parity with serve_vector for null-valued features.

        ``entity_ids`` restricts the matrix to those entities AND pushes
        the list into the store read (manifest-level entity-range file
        skipping + a row filter) — the incremental-sync path recomputes K
        changed vectors by opening ~K files, not the version."""
        as_of_s = self.store._as_of_seconds(as_of) if as_of is not None else None
        resolved = self.catalog.resolve_versions(version, as_of_s, feature_names)
        return self._matrix(resolved, as_of, preserve_stored_nulls, entity_ids)

    def _matrix(
        self,
        resolved: list[tuple[int, str, int, str]],
        as_of,
        preserve_stored_nulls: bool,
        entity_ids: list[str] | None = None,
    ) -> DataFrame:
        """:meth:`serve_matrix` over already-resolved
        :meth:`Catalog.resolve_versions` rows, so an operation that also
        needs the version ids (export, sync) resolves once."""
        if not self.store.exists() or not resolved:
            raise NotFoundError("No feature values have been written yet")
        # the matrix read opens only the resolved versions' manifested
        # files (same pruning as serve_vector)
        names = sorted({name for _fid, name, _vid, _v in resolved})
        vids = sorted({vid for _fid, _name, vid, _v in resolved})
        values = self.store.values_for_versions(vids, as_of=as_of, entity_ids=entity_ids)
        if entity_ids is not None:  # pruning shrinks the scan; this is the answer
            values = values.filter(
                F.col("entity_id").isin([str(e) for e in entity_ids])
            )
        if preserve_stored_nulls:
            values = values.withColumn(
                "value", F.coalesce(F.col("value"), F.lit("null"))
            )
        names_side = F.broadcast(self.catalog.df(self.spark, resolved))
        return (
            values.join(names_side, "feature_version_id")
            .groupBy("entity_id")
            .pivot("feature_name", names)  # explicit values → no extra pass
            .agg(F.first("value"))
        )

    def export_online_snapshot(
        self,
        path: str,
        n_shards: int = 16,
        feature_names: list[str] | None = None,
        version: str | None = None,
        as_of=None,
    ) -> int:
        """Bulk-load export for an online serving tier — the production
        posture behind the cold-serve numbers in SCALING.md ("Serving-path
        latency"): batch Spark computes/export, a KV store serves. The
        :meth:`serve_matrix` rows are written as ``n_shards`` hash-sharded
        (``shard = pmod(xxhash64(entity_id), n_shards)`` — the same rule an
        online router applies to point reads), ENTITY-SORTED parquet files,
        one file per shard — the standard bulk-ingest layout (HBase bulk
        load / RocksDB SST ingest: each shard streams in key order into one
        run). ``as_of`` pins the export to a storage snapshot. Returns the
        exported row count. Read back with
        :func:`~.online_snapshot.lookup_online_snapshot` — a no-Spark-job
        shard-routed point read off the ``_snapshot_meta.json`` this
        writes (router shard count + pinned version).

        Commit protocol (staging + atomic directory rename — the same
        discipline as every other writer in the repo): shards and meta
        are written into a sibling ``.staging-<name>-<nonce>`` dir and
        ``os.rename``d into place only after the meta lands, so ``path``
        either holds a COMPLETE snapshot or nothing. Without it, a crash
        mid-export leaves a partial dir that the frozen-export existence
        pre-check then rejects forever, with no committed-vs-leftover
        distinction for the operator (ADVICE r9). A leftover same-name
        staging dir from a crashed exporter is swept AGE-GATED at the
        next export — never on sight, because a young same-name staging
        dir may be a LIVE concurrent exporter (a client retry racing the
        original), and rmtree'ing it mid-write would fail its Spark job
        or, in the worst interleaving (between its count and its rename),
        let it commit a partially-deleted snapshot. The racer instead
        loses cleanly at the rename. Raises ``FileExistsError`` if the
        destination is already committed."""
        import glob as _glob
        import json as _json
        import os as _os
        import shutil as _shutil
        import time as _time
        import uuid as _uuid

        final = path.rstrip("/")
        if _os.path.exists(final):
            raise FileExistsError(f"online snapshot already exists at {final}")
        parent = _os.path.dirname(_os.path.abspath(final))
        base = _os.path.basename(final)
        _os.makedirs(parent, exist_ok=True)
        for stale in _glob.glob(_os.path.join(parent, f".staging-{base}-*")):
            try:
                age = _time.time() - _os.stat(stale).st_mtime
            except OSError:
                continue  # already gone — the owner cleaned up
            if age > self.STAGING_SWEEP_AGE_S:
                _shutil.rmtree(stale, ignore_errors=True)
        staging = _os.path.join(parent, f".staging-{base}-{_uuid.uuid4().hex[:8]}")

        # pin the export to ONE instant even when the caller gave none:
        # values committed while the export job runs are then cleanly "the
        # next sync's work" (absent from the ledger below) instead of
        # maybe-included
        pin = self.store._as_of_seconds(as_of) if as_of is not None else _time.time()
        resolved = self.catalog.resolve_versions(version, pin, feature_names)
        vids = sorted({vid for _fid, _name, vid, _v in resolved})
        # the sync ledger: which commits this snapshot's CONTENT covers, by
        # SEGMENT ID (not timestamp — a commit that becomes visible after a
        # timestamp window closes is lost forever under (since, now] rules;
        # an id ledger just consumes it whenever it appears, ADVICE r10).
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
                    for seg, doc in self.store._feed_segments(v).items()
                    if doc["committed_at"] <= pin
                ),
            }
            for v in vids
        }
        m = self._matrix(resolved, pin, preserve_stored_nulls=True)
        out = m.withColumn(
            "shard", F.pmod(F.xxhash64("entity_id"), F.lit(int(n_shards)))
        )
        # the exported row count rides the shard write itself as an
        # Observation — through r11 it was a dedicated
        # read.parquet(staging).count() job, i.e. one full re-scan of the
        # snapshot just written (at 100 TB: a second pass over the whole
        # export) purely to return a number the write already saw
        from pyspark.sql import Observation as _Observation

        _row_obs = _Observation()
        try:
            (
                out.observe(_row_obs, F.count(F.lit(1)).alias("n"))
                .repartition(int(n_shards), "shard")
                .sortWithinPartitions("shard", "entity_id")
                .write.partitionBy("shard")
                .parquet(staging)
            )
            # meta is the LAST artifact before commit: fsynced so the
            # renamed-in dir can never hold a torn file — every point read
            # routes through it, so a torn one would brick them all with a
            # JSONDecodeError
            tmp = _os.path.join(staging, ".snapshot_meta.tmp")
            with open(tmp, "w") as f:
                _json.dump(
                    {
                        "n_shards": int(n_shards),
                        "version": version,
                        # the incremental-sync contract (sync_online_snapshot):
                        # the names filter, the resolved version ids (sync
                        # refuses on resolution drift — a feature whose
                        # backing version changed needs a re-export, not a
                        # row patch) and the consumed-segment ledger;
                        # exported_at records the pinned instant
                        "exported_at": float(pin),
                        "feature_names": list(feature_names) if feature_names else None,
                        "feature_version_ids": [int(v) for v in vids],
                        "consumed_segments": consumed,
                    },
                    f,
                )
                f.flush()
                _os.fsync(f.fileno())
            _os.replace(tmp, _os.path.join(staging, "_snapshot_meta.json"))
            from ..functions.obs import observed_metrics as _observed

            _row_m = _observed(_row_obs)
            if _row_m is not None:
                rows = int(_row_m["n"] or 0)
            else:
                # tiny LocalRelation-folded plans can defeat observed-metrics
                # conversion, and a never-materializing metrics row would
                # hang an unbounded get (ADVICE r12) — fall back to the
                # pre-r12 count-back read, correctness over speed
                rows = self.spark.read.parquet(staging).count()
            _os.rename(staging, final)  # atomic commit
        except BaseException as exc:
            # clean our OWN staging on ANY failure — Spark-side errors
            # surface as Py4J/AnalysisException, not OSError, and would
            # otherwise strand parquet debris until the age-gated sweep
            _shutil.rmtree(staging, ignore_errors=True)
            if isinstance(exc, OSError) and _os.path.exists(final):
                # a concurrent exporter won the rename
                raise FileExistsError(
                    f"online snapshot already exists at {final}"
                ) from None
            raise
        return rows

    def maintain_online_snapshot(
        self, path: str, n_shards: int | None = None, max_changed: int = 100_000
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
        {"synced", "reexported", "created"} and, for rebuilds, ``reason``.

        The swap is two renames, so a point read racing it can see a
        brief not-found between them — the same cutover window any bulk
        re-load has; schedule it accordingly (the sync path, which is the
        steady state, has no such window: shard generations swap
        atomically). A crash INSIDE that window is recovered on the next
        call: a rebuild dir is only ever renamed to its final name after
        export_online_snapshot committed it whole (its own staging
        protocol), so when ``final`` is missing but a ``.rebuild-*``
        sibling exists, the newest one — meta, version selector, shard
        count and all — is adopted before anything else runs; without
        this, the crash stranded the ONLY copy of ``_snapshot_meta.json``
        in the trash dir and the next call silently re-created the
        snapshot with default settings (ADVICE r10). Leftover
        ``.retired-*`` / stale ``.rebuild-*`` dirs are swept here too."""
        import glob as _glob
        import os as _os
        import shutil as _shutil
        import uuid as _uuid

        from ..store.offline import LockContention as _LockContention
        from ..store.offline import _pid_lock
        from .online_snapshot import _snapshot_meta

        final = path.rstrip("/")
        reason = None
        # the whole adopt/sweep/swap sequence runs under a leased lock:
        # unguarded, two concurrent maintainers raced the rebuild glob
        # against each other's renames (one adopts the other's rebuild
        # mid-swap, or getmtime hits a dir the other just renamed away)
        # (review r11). sync_online_snapshot's own .sync.lock nests below
        # this one (different file, fixed order — no deadlock).
        _os.makedirs(_os.path.dirname(_os.path.abspath(final)), exist_ok=True)
        with _pid_lock(f"{final}.maintain.lock", "online-snapshot maintenance"):
            def _mtime(p: str) -> float:
                try:
                    return _os.path.getmtime(p)
                except OSError:
                    return 0.0  # vanished (operator sweep) — sorts oldest

            rebuilds = sorted(_glob.glob(f"{final}.rebuild-*"), key=_mtime)
            while not _os.path.exists(final) and rebuilds:
                # crashed between rename(final→trash) and
                # rename(rebuild→final): adopt the newest committed
                # rebuild — it IS the snapshot
                try:
                    _os.rename(rebuilds.pop(), final)
                except FileNotFoundError:
                    continue  # that candidate vanished — try the next
            # retired dirs are always dead; a leftover rebuild is only swept
            # AGE-GATED — a young one may be a live concurrent maintain's
            # export mid-swap (same rule as the staging sweep)
            import time as _time

            for leftover in _glob.glob(f"{final}.retired-*"):
                _shutil.rmtree(leftover, ignore_errors=True)
            for leftover in rebuilds:
                try:
                    if _time.time() - _os.path.getmtime(leftover) > self.STAGING_SWEEP_AGE_S:
                        _shutil.rmtree(leftover, ignore_errors=True)
                except OSError:
                    pass
            if _os.path.exists(final):
                try:
                    return {"mode": "synced", **self.sync_online_snapshot(final, max_changed=max_changed)}
                except _LockContention as exc:
                    # a DIRECT sync_online_snapshot caller holds .sync.lock
                    # right now — the snapshot is being refreshed by someone
                    # else, so falling through to a full re-export would
                    # race it for nothing. Report contention instead of
                    # failing the whole maintain (ADVICE r11).
                    return {"mode": "contended", "reason": str(exc)}
                except ValueError as exc:
                    reason = str(exc)
                meta = _snapshot_meta(final)
                rebuild = f"{final}.rebuild-{_uuid.uuid4().hex[:8]}"
                rows = self.export_online_snapshot(
                    rebuild,
                    n_shards=n_shards or meta["n_shards"],
                    feature_names=meta["feature_names"],
                    version=meta["version"],  # keep the original selector
                )
                trash = f"{final}.retired-{_uuid.uuid4().hex[:8]}"
                _os.rename(final, trash)
                _os.rename(rebuild, final)
                _shutil.rmtree(trash, ignore_errors=True)
                return {"mode": "reexported", "reason": reason, "rows": rows}
            rows = self.export_online_snapshot(final, n_shards=n_shards or 16)
            return {"mode": "created", "rows": rows}

    def sync_online_snapshot(self, path: str, max_changed: int = 100_000) -> dict:
        """Incrementally refresh an exported online snapshot from the
        offline store's CHANGE DATA FEED — the hourly companion to the
        nightly :meth:`export_online_snapshot` bulk load. Cost is
        O(changed entities), never O(snapshot): a per-version
        CONSUMED-SEGMENT LEDGER in the snapshot meta names exactly the
        commits already applied; the complement of the visible listing is
        this round's work (:meth:`~..store.offline.OfflineStore.
        changes_for_segments` — exactly-once even when a commit's
        ``committed_at`` lands inside an already-closed wall-clock window,
        the loss mode of the pre-round-11 ``(last sync, now]`` rule). The
        feed names the entities whose vectors moved, their matrix rows are
        recomputed with an entity-pruned read, and ONLY the hash shards
        holding them are rewritten — an unchanged shard's file is not
        opened, not rewritten, not even stat'd by readers any differently.

        Shard replacement is generation-based (``gen{G}-`` file prefix,
        see :func:`~.online_snapshot.shard_live_files`): the new file is
        staged and renamed in (atomic), the old generation deleted after
        — a point read racing the sync resolves one complete generation,
        never a mix, and a crash between the steps is self-healing
        (readers take the newer, the next sync sweeps). Deleted subjects
        (GDPR erasures in the feed) simply vanish from the rewritten
        shard — the erasure propagates to the serving tier in the same
        pass.

        Refuses — with re-export guidance — when version resolution has
        drifted since the export (a feature's backing version changed:
        every row is potentially stale, a patch would lie), when the feed
        window contains a RESTORE or vacuumed files, or when more than
        ``max_changed`` entities moved (at that churn a bulk re-export
        is cheaper than a point-patch storm). Returns
        ``{"changed_entities", "shards_rewritten", "rows_upserted",
        "synced_through"}``; a no-change window is a no-op."""
        import glob as _glob
        import json as _json
        import os as _os
        import shutil as _shutil
        import time as _time
        import uuid as _uuid

        from ..store.offline import _pid_lock
        from .online_snapshot import (
            _file_gen,
            _snapshot_meta,
            shard_live_files,
            snapshot_shard,
        )

        final = path.rstrip("/")
        with _pid_lock(_os.path.join(final, ".sync.lock"), "online snapshot sync"):
            meta = _snapshot_meta(final)
            now = _time.time()
            resolved = self.catalog.resolve_versions(
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
            # below reads as_of=now (keyed on committed_at), so consuming
            # them here would ledger data the read can't see.
            changed: set[str] = set()
            new_ledger: dict = {}
            for vid in vids_now:
                ent = meta["consumed_segments"][str(vid)]
                seq_floor = ent["seq_floor"]
                done = set(ent["segments"])
                listing = self.store._feed_segments(vid)
                ts_of = {s: d["committed_at"] for s, d in listing.items()}
                seq_of = {s: d["seq"] for s, d in listing.items()}
                pending = sorted(
                    s
                    for s in listing
                    if ts_of[s] <= now and seq_of[s] > seq_floor and s not in done
                )
                if pending:
                    try:
                        feed = self.store.changes_for_segments(vid, pending)
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
                    - self.FEED_LEDGER_SEQ_LAG
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
            if not changed:
                # persist the advanced ledger even on a no-op: compacts
                # and restores observed this round are folded in so they
                # are not re-examined every sync
                meta["consumed_segments"] = new_ledger
                meta["synced_at"] = now
                tmp = _os.path.join(final, ".snapshot_meta.tmp")
                with open(tmp, "w") as f:
                    _json.dump(meta, f)
                    f.flush()
                    _os.fsync(f.fileno())
                _os.replace(tmp, _os.path.join(final, "_snapshot_meta.json"))
                return {
                    "changed_entities": 0,
                    "shards_rewritten": 0,
                    "rows_upserted": 0,
                    "synced_through": now,
                }

            n_shards = meta["n_shards"]
            shards = sorted({snapshot_shard(e, n_shards) for e in changed})
            changed_df = F.broadcast(
                self.spark.createDataFrame(
                    [(e,) for e in sorted(changed)], "entity_id string"
                )
            )
            # small change sets push the id list into the store read
            # (manifest entity-range file skipping: ~K files opened, not
            # the version); big ones would bloat the plan as an IN-list,
            # so they row-filter via the broadcast semi-join instead
            prune = sorted(changed) if len(changed) <= 1000 else None
            fresh = self._matrix(
                resolved, now, preserve_stored_nulls=True, entity_ids=prune
            )
            if prune is None:
                fresh = fresh.join(changed_df, "entity_id", "left_semi")
            fresh = fresh.withColumn(
                "shard",
                # int: matches the partition-directory-inferred type of
                # the old files so the unionByName needs no cast
                F.pmod(F.xxhash64("entity_id"), F.lit(n_shards)).cast("int"),
            ).localCheckpoint(eager=True)  # bounded by max_changed; reused
            # by the shard write, the empty-shard path, and the row count
            old_files = [
                f for k in shards for f in shard_live_files(_os.path.join(final, f"shard={k}"))
            ]
            keep = (
                self.spark.read.option("basePath", final).parquet(*old_files)
                .join(changed_df, "entity_id", "left_anti")
                if old_files
                else None
            )
            combined = (
                fresh if keep is None else keep.unionByName(fresh)
            )
            staging = _os.path.join(final, f".sync-staging-{_uuid.uuid4().hex[:8]}")
            rows_upserted = 0
            try:
                (
                    combined.repartition(max(len(shards), 1), "shard")
                    .sortWithinPartitions("shard", "entity_id")
                    .write.partitionBy("shard")
                    .parquet(staging)
                )
                for k in shards:
                    shard_dir = _os.path.join(final, f"shard={k}")
                    _os.makedirs(shard_dir, exist_ok=True)
                    staged = sorted(
                        _glob.glob(_os.path.join(staging, f"shard={k}", "part-*.parquet"))
                    )
                    if not staged:
                        # every entity of this shard was deleted: write one
                        # EMPTY schema-bearing file (partitionBy drops empty
                        # partitions; a generation must still supersede)
                        empty_dir = _os.path.join(staging, f"empty-{k}")
                        combined.filter(F.col("shard") == k).drop("shard").coalesce(
                            1
                        ).write.parquet(empty_dir)
                        staged = sorted(
                            _glob.glob(_os.path.join(empty_dir, "part-*.parquet"))
                        )
                    if len(staged) != 1:
                        raise RuntimeError(
                            f"sync expected one file for shard {k}, got {len(staged)}"
                        )
                    current = _os.listdir(shard_dir)
                    next_gen = 1 + max(
                        (_file_gen(f) for f in current if f.endswith(".parquet")),
                        default=0,
                    )
                    name = f"gen{next_gen}-{_os.path.basename(staged[0])}"
                    _os.rename(staged[0], _os.path.join(shard_dir, name))
                    for f in current:  # retire the superseded generation(s)
                        if f.endswith(".parquet") and _file_gen(f) < next_gen:
                            try:
                                _os.remove(_os.path.join(shard_dir, f))
                            except FileNotFoundError:
                                pass
            finally:
                _shutil.rmtree(staging, ignore_errors=True)
            rows_upserted = fresh.count()
            meta["consumed_segments"] = new_ledger
            meta["synced_at"] = now
            tmp = _os.path.join(final, ".snapshot_meta.tmp")
            with open(tmp, "w") as f:
                _json.dump(meta, f)
                f.flush()
                _os.fsync(f.fileno())
            _os.replace(tmp, _os.path.join(final, "_snapshot_meta.json"))
            return {
                "changed_entities": len(changed),
                "shards_rewritten": len(shards),
                "rows_upserted": rows_upserted,
                "synced_through": now,
            }

    # -- registry passthrough (reference main.py:37-135, 233-244) ---------

    def register_raw_table(self, name, schema_definition, description=None):
        return self.catalog.register_raw_table(name, schema_definition, description)

    def create_feature(self, name, raw_table_id, computation_logic, feature_type):
        return self.catalog.create_feature(name, raw_table_id, computation_logic, feature_type)

    def feature_versions(self, feature_id: int):
        return self.catalog.list_versions(feature_id)

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
loop: values ⋈ broadcast(version id → name) → pivot name→value.
The online snapshot's export, sync and maintain delegate to
serving/online_snapshot.py, which owns its format."""

from __future__ import annotations

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
from . import online_snapshot
from .cache import FeatureCache, SingleFlight
from .feature_vector import FeatureVector


class FeatureStore:
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

    # -- online snapshot ---------------------------------------------------

    def export_online_snapshot(
        self,
        path: str,
        n_shards: int = 16,
        feature_names: list[str] | None = None,
        version: str | None = None,
        as_of=None,
    ) -> int:
        """Exported row count; see :func:`.online_snapshot.export`."""
        return online_snapshot.export(self, path, n_shards, feature_names, version, as_of)

    def maintain_online_snapshot(
        self, path: str, n_shards: int | None = None, max_changed: int = 100_000
    ) -> dict:
        """See :func:`.online_snapshot.maintain`."""
        return online_snapshot.maintain(self, path, n_shards, max_changed)

    def sync_online_snapshot(self, path: str, max_changed: int = 100_000) -> dict:
        """See :func:`.online_snapshot.sync`."""
        return online_snapshot.sync(self, path, max_changed)

    # -- registry passthrough (reference main.py:37-135, 233-244) ---------

    def register_raw_table(self, name, schema_definition, description=None):
        return self.catalog.register_raw_table(name, schema_definition, description)

    def create_feature(self, name, raw_table_id, computation_logic, feature_type):
        return self.catalog.create_feature(name, raw_table_id, computation_logic, feature_type)

    def feature_versions(self, feature_id: int):
        return self.catalog.list_versions(feature_id)

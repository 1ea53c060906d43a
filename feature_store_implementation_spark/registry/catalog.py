"""Metadata catalog: raw_tables, features, feature_versions.

Reference semantics (models.py:9-62, main.py:37-135, 140-230):

* ``raw_tables``: id, name (unique), description, schema_definition (JSON),
  created_at, updated_at.
* ``features``: id, name, raw_table_id (FK), computation_logic, feature_type,
  created_at.
* ``feature_versions``: id, feature_id (FK), version (unique per feature),
  status ∈ {active, deprecated, archived} (models.py:52), computed_at,
  version_metadata (JSON).

Uniqueness and FK checks are application-level pre-insert probes in the
reference (main.py:47-52, 97-103, 156-172) — same here, but inside a single
catalog mutation so there is no orphan-version window (the reference commits
the version row before values and cannot roll it back, main.py:216 vs 224 —
we write the version row only after values land; see
``FeatureStore.compute_version``).

Registry rows are metadata — a few thousand rows at most, mutated one row per
API call. The reference keeps them in SQLite; the honest cluster-scale analog
is a transactional metastore (Delta/Iceberg catalog tables — tiny, driver
query cost ~0). Here they live in a JSON-lines file per table with atomic
rename writes, and every read — version resolution for serving included
(:meth:`Catalog.resolve_versions`) — is plain Python over the in-memory
rows, with no Spark job. The offline store (feature VALUES — the part that
scales to 100 TB) is Spark-written partitioned parquet in ``store/offline.py``.
"""

from __future__ import annotations

import json
import os
import tempfile
import fcntl
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..errors import ConflictError, NotFoundError

# "pending" extends the reference's lifecycle (models.py:52) as an internal
# staging state: a version is pending while its values are being written and
# only flips to active afterwards — serving filters on active, so a crash
# mid-write can never expose a version without values (fixes the reference's
# orphan-version bug, main.py:216 vs 224, crash-window included).
VALID_STATUSES = ("pending", "active", "deprecated", "archived")

# fixed-width UTC: lexical order of two stamps is their chronological order
_TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"


def _now() -> str:
    return datetime.now(timezone.utc).strftime(_TS_FORMAT)


@dataclass
class RawTableRow:
    id: int
    name: str
    description: str | None
    schema_definition: dict[str, Any]
    created_at: str
    updated_at: str


@dataclass
class FeatureRow:
    id: int
    name: str
    raw_table_id: int
    computation_logic: str
    feature_type: str
    created_at: str


@dataclass
class VersionRow:
    id: int
    feature_id: int
    version: str
    status: str = "active"
    computed_at: str = field(default_factory=_now)
    version_metadata: dict[str, Any] | None = None
    # When the version became SERVABLE (status flipped to active) — distinct
    # from computed_at, which is stamped at (possibly 'pending') creation.
    # as-of resolution needs this: a version in-flight at an export instant
    # (created before, activated after) must not resolve under replay.
    # None on catalogs predating the field; readers coalesce to computed_at.
    activated_at: str | None = None


_TABLES = {"raw_tables": RawTableRow, "features": FeatureRow, "feature_versions": VersionRow}


class Catalog:
    """File-backed metadata catalog with reference-parity guards."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._rows: dict[str, list] = {t: self._load(t) for t in _TABLES}
        # cross-process reload gate for ALL read paths: (st_mtime_ns, st_ino)
        # per table. The inode matters: _flush mkstemp+replaces, so two
        # back-to-back writes can land within one coarse-clock mtime granule
        # (~ms kernel timestamp resolution) — mtime alone would let a reader
        # that statted between them cache the second write's mtime and serve
        # the FIRST write's rows forever; the fresh inode per flush breaks
        # the tie for free.
        self._read_stamps: dict[str, tuple[int, int]] = {}

    # -- persistence -------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.jsonl")

    def _load(self, table: str) -> list:
        cls, out = _TABLES[table], []
        if os.path.exists(self._path(table)):
            with open(self._path(table)) as f:
                out = [cls(**json.loads(line)) for line in f if line.strip()]
        return out

    def _flush(self, table: str) -> None:
        # atomic rename so a crashed write never truncates the catalog
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            for row in self._rows[table]:
                f.write(json.dumps(asdict(row)) + "\n")
        os.replace(tmp, self._path(table))
        self._stamp_mtime(table)

    def _next_id(self, table: str) -> int:
        """Monotonic id allocation, durable across deletions: a bare
        max+1 REUSES the id of a deleted max row (e.g. a pending version
        swept by crash recovery), and a reused version id would union the
        old incarnation's committed store segment into the new version's
        reads. A high-water-mark sidecar (written atomically under the
        same _write_txn flock every caller already holds) makes every id
        allocate-once for the catalog's lifetime; catalogs predating the
        sidecar seed it from max+1."""
        rows = self._rows[table]
        derived = (max(r.id for r in rows) + 1) if rows else 1
        meta_path = os.path.join(self.root, ".next_ids.json")
        hwm: dict = {}
        try:
            with open(meta_path) as f:
                hwm = json.load(f)
        except (OSError, ValueError):
            hwm = {}
        nid = max(derived, int(hwm.get(table, 1)))
        hwm[table] = nid + 1
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(hwm, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, meta_path)
        return nid

    @contextmanager
    def _write_txn(self):
        """Serialize catalog mutations ACROSS instances/processes: an
        exclusive flock on ``<root>/.lock``, with every table reloaded
        fresh under the lock before the mutation runs — so the
        read-modify-write (id assignment, uniqueness/FK guards, the flush
        of the WHOLE table file) can never lose a concurrent writer's
        row, the hazard the reference's SQLite transactions covered.
        flock is advisory/POSIX — correct on local disk and NFSv4; on an
        object store, front the catalog with a single writer (registry
        metadata is admin-plane and KB-scale — Delta/JDBC is the
        transactional production drop-in, as with the value store).
        Readers on OTHER instances pick those rows up through
        :meth:`_refresh`, which every row read calls first."""
        fd = os.open(os.path.join(self.root, ".lock"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            self.refresh()
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def refresh(self) -> None:
        """Re-read all tables from disk — picks up rows committed by other
        catalog instances since this one loaded."""
        self._rows = {t: self._load(t) for t in _TABLES}
        for t in _TABLES:
            self._stamp_mtime(t)

    def _stamp_mtime(self, table: str) -> None:
        try:
            st = os.stat(self._path(table))
            self._read_stamps[table] = (st.st_mtime_ns, st.st_ino)
        except OSError:
            self._read_stamps.pop(table, None)

    def _refresh(self, table: str) -> None:
        """mtime-gated cross-process READ freshness for every row read: a
        read-only SERVING process shares the catalog root with a compute
        process, and serving init-time ``self._rows`` would 404 / omit
        metadata the other process committed after this instance started
        (GET /features/{id}, list routes, the compute-route FK pre-check)
        and would never serve a version activated after startup (stale
        under the request cache, so no TTL would ever heal it). One
        os.stat per read; reload only when the jsonl actually changed."""
        try:
            st = os.stat(self._path(table))
        except OSError:
            return
        stamp = (st.st_mtime_ns, st.st_ino)
        if stamp != self._read_stamps.get(table):
            self._rows[table] = self._load(table)
            self._read_stamps[table] = stamp

    # -- raw tables (reference main.py:37-82) ------------------------------

    def register_raw_table(
        self, name: str, schema_definition: dict[str, Any], description: str | None = None
    ) -> RawTableRow:
        with self._write_txn():
            if any(r.name == name for r in self._rows["raw_tables"]):
                raise ConflictError(f"Table with name '{name}' already exists")
            row = RawTableRow(
                id=self._next_id("raw_tables"),
                name=name,
                description=description,
                schema_definition=schema_definition,
                created_at=_now(),
                updated_at=_now(),
            )
            self._rows["raw_tables"].append(row)
            self._flush("raw_tables")
            return row

    def list_raw_tables(self, skip: int = 0, limit: int = 100) -> list[RawTableRow]:
        self._refresh("raw_tables")
        return sorted(self._rows["raw_tables"], key=lambda r: r.id)[skip : skip + limit]

    def get_raw_table(self, table_id: int) -> RawTableRow:
        self._refresh("raw_tables")
        for r in self._rows["raw_tables"]:
            if r.id == table_id:
                return r
        raise NotFoundError(f"Raw table {table_id} not found")

    # -- features (reference main.py:87-135) -------------------------------

    def create_feature(
        self,
        name: str,
        raw_table_id: int,
        computation_logic: str,
        feature_type: str,
    ) -> FeatureRow:
        with self._write_txn():
            self.get_raw_table(raw_table_id)  # FK guard (main.py:97-103)
            row = FeatureRow(
                id=self._next_id("features"),
                name=name,
                raw_table_id=raw_table_id,
                computation_logic=computation_logic,
                feature_type=feature_type,
                created_at=_now(),
            )
            self._rows["features"].append(row)
            self._flush("features")
            return row

    def list_features(self, skip: int = 0, limit: int = 100) -> list[FeatureRow]:
        self._refresh("features")
        return sorted(self._rows["features"], key=lambda r: r.id)[skip : skip + limit]

    def get_feature(self, feature_id: int) -> FeatureRow:
        self._refresh("features")
        for r in self._rows["features"]:
            if r.id == feature_id:
                return r
        raise NotFoundError(f"Feature {feature_id} not found")

    def get_feature_by_name(self, name: str) -> FeatureRow:
        self._refresh("features")
        for r in self._rows["features"]:
            if r.name == name:
                return r
        raise NotFoundError(f"Feature named {name!r} not found")

    # -- versions (reference main.py:140-244) ------------------------------

    def check_version_free(self, feature_id: int, version: str) -> None:
        self._refresh("feature_versions")
        if any(
            v.feature_id == feature_id and v.version == version
            for v in self._rows["feature_versions"]
        ):
            raise ConflictError(f"Version '{version}' already exists for this feature")

    def create_version(
        self,
        feature_id: int,
        version: str,
        metadata: dict[str, Any] | None = None,
        status: str = "active",
    ) -> VersionRow:
        with self._write_txn():
            self.get_feature(feature_id)  # FK guard (main.py:156-161)
            self.check_version_free(feature_id, version)  # main.py:163-172
            if status not in VALID_STATUSES:
                raise ValueError(f"status must be one of {VALID_STATUSES}")
            row = VersionRow(
                id=self._next_id("feature_versions"),
                feature_id=feature_id,
                version=version,
                status=status,
                version_metadata=metadata,
            )
            if status == "active":  # born servable — activation is creation
                row.activated_at = row.computed_at
            self._rows["feature_versions"].append(row)
            self._flush("feature_versions")
            return row

    def set_version_status(self, version_id: int, status: str) -> VersionRow:
        """Version lifecycle: active → deprecated → archived (models.py:52)."""
        if status not in VALID_STATUSES:
            raise ValueError(f"status must be one of {VALID_STATUSES}")
        with self._write_txn():
            for v in self._rows["feature_versions"]:
                if v.id == version_id:
                    v.status = status
                    if status == "active" and v.activated_at is None:
                        v.activated_at = _now()
                    self._flush("feature_versions")
                    return v
            raise NotFoundError(f"Feature version {version_id} not found")

    def list_pending(self) -> list[VersionRow]:
        """All 'pending' versions — crash-recovery input (a pending row
        outside a live compute_version call means its writer died)."""
        self._refresh("feature_versions")
        return [v for v in self._rows["feature_versions"] if v.status == "pending"]

    def list_versions(self, feature_id: int) -> list[VersionRow]:
        self._refresh("feature_versions")
        return [v for v in self._rows["feature_versions"] if v.feature_id == feature_id]

    def get_version(self, version_id: int) -> VersionRow:
        self._refresh("feature_versions")
        for v in self._rows["feature_versions"]:
            if v.id == version_id:
                return v
        raise NotFoundError(f"Feature version {version_id} not found")

    def delete_version(self, version_id: int) -> None:
        """Compensating delete used when a value write fails (fixes the
        reference's orphan-version bug, main.py:216 vs 224)."""
        with self._write_txn():
            self._rows["feature_versions"] = [
                v for v in self._rows["feature_versions"] if v.id != version_id
            ]
            self._flush("feature_versions")

    # -- version resolution for serving (reference main.py:294-300) -------

    def resolve_versions(
        self,
        version: str | None = None,
        as_of_s: float | None = None,
        feature_names: list[str] | None = None,
    ) -> list[tuple[int, str, int, str]]:
        """The versions a read serves, as ``(feature_id, feature_name,
        feature_version_id, version)`` rows: the explicit ``version`` pin,
        or the latest active version of each feature (B4).

        * A pin may read deprecated/archived versions (a historical read)
          but NEVER 'pending': a pending row is an in-flight write
          (two-phase commit) — serving it would return, and cache for the
          TTL, data for a version that recovery may delete moments later.
        * Latest is the active row with the highest ``computed_at``, the
          higher id breaking ties; a NULL ``computed_at`` sorts last.
        * ``as_of_s`` (unix seconds) pins the RESOLUTION, not just the
          values read: a version not yet SERVABLE at the instant
          (activated_at > as_of — activation time, not creation time, so a
          version in-flight during an export, created pending before but
          activated after, is excluded too) is invisible, so a
          later-activated v2 cannot hijack latest-per-feature and turn a
          reproduced export's column all-NULL. Rows without activated_at
          (a version that went pending → deprecated) coalesce to
          computed_at; rows with NEITHER timestamp stay visible
          (always-visible beats silently dropping a feature from a
          replayed export). Deprecation after the instant is not
          reconstructed — status transitions other than activation are
          not timestamped in the catalog.
        * Versions of a feature with no ``features`` row are dropped, and
          ``feature_names`` filters the resolved rows (B3)."""
        self._refresh("features")
        self._refresh("feature_versions")
        names = {f.id: f.name for f in self._rows["features"]}
        rows = [v for v in self._rows["feature_versions"] if v.feature_id in names]
        if as_of_s is not None:
            boundary = datetime.fromtimestamp(as_of_s, timezone.utc).strftime(_TS_FORMAT)

            def servable(v: VersionRow) -> bool:
                at = v.computed_at if v.activated_at is None else v.activated_at
                return at is None or at <= boundary

            rows = [v for v in rows if servable(v)]
        if version is not None:
            picked = [v for v in rows if v.version == version and v.status != "pending"]
        else:
            # oldest first — a NULL computed_at counts as oldest and the
            # higher id wins a tie — so the last row kept per feature is
            # its latest
            latest = {}
            for v in sorted(
                (v for v in rows if v.status == "active"),
                key=lambda v: (v.computed_at is not None, v.computed_at or "", v.id),
            ):
                latest[v.feature_id] = v
            picked = list(latest.values())
        return sorted(
            (v.feature_id, names[v.feature_id], v.id, v.version)
            for v in picked
            if not feature_names or names[v.feature_id] in feature_names
        )

    def df(self, spark: SparkSession, resolved: list[tuple[int, str, int, str]]) -> DataFrame:
        """:meth:`resolve_versions` rows as the tiny broadcast side of a
        serving join: ``(feature_version_id, feature_name)``."""
        return spark.createDataFrame(
            [(vid, name) for _fid, name, vid, _version in resolved],
            "feature_version_id long, feature_name string",
        )


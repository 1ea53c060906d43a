"""Thin HTTP facade over the FeatureStore library — the "library + thin
service" stance: every route is parse → one FeatureStore call → serialize.
No business logic lives here; the library is the product and this file is
~deliberately~ boring.

Route/status parity with the reference FastAPI app (main.py):

================================  ======  =================================
route                             status  reference
================================  ======  =================================
POST /api/v1/raw-tables           201     main.py:37-64
GET  /api/v1/raw-tables           200     main.py:66-71 (skip/limit)
GET  /api/v1/raw-tables/<id>      200     main.py:73-84
POST /api/v1/features             201     main.py:87-117
GET  /api/v1/features             200     main.py:119-124
GET  /api/v1/features/<id>        200     main.py:126-137
POST /api/v1/features/<id>/versions  201  main.py:140-230
GET  /api/v1/features/<id>/versions  200  main.py:233-246
POST /api/v1/feature-vectors      200     main.py:249-335
GET  /api/v1/health               200     main.py:339-342
POST /api/v1/online-snapshots     201     (extension — no reference route)
POST /api/v1/online-snapshots/<name>/sync  200  (extension)
POST /api/v1/online-feature-vectors  200  (extension — no reference route)
================================  ======  =================================

The ``online-*`` routes are the snapshot serving tier
(serving/online_snapshot.py): export lays the serve matrix out as
hash-sharded entity-sorted parquet (the KV bulk-ingest layout), lookup is
a shard-routed local point read with NO Spark job — the millisecond path
SCALING.md's serving-latency table prices, exposed over the same facade.
Clients name snapshots by a validated NAME, never a filesystem path —
every snapshot lives under ``create_app``'s ``snapshot_root`` (default:
``<store root>/online_snapshots``), so the facade exposes no
write-anywhere/read-anywhere surface (every other route operates on
store-internal ids only; these two must not be the exception).

Error mapping mirrors the reference's HTTPException codes: conflicts and
schema failures → 400, missing rows / empty vectors → 404, computation
failures → 500, all as ``{"detail": msg}`` JSON (FastAPI's error shape).

Flask (synchronous WSGI) is the right weight here: requests delegate to
Spark driver calls which hold the SparkSession — one process, one driver,
no async benefit. The app is created against an existing FeatureStore so
tests drive it in-process via ``app.test_client()`` with zero sockets.
"""

from __future__ import annotations

from dataclasses import asdict
from typing import Any

from ..errors import (
    ComputationError,
    ConflictError,
    NotFoundError,
    SchemaValidationError,
)
from ..serving.vectors import FeatureStore


def create_app(
    store: FeatureStore,
    recover: bool = True,
    snapshot_root: str | None = None,
    recover_min_age_seconds: float = 0.0,
):
    """Build the WSGI app over an existing FeatureStore.

    ``recover=True`` runs :meth:`FeatureStore.recover_stale_pending` once at
    construction — service startup is exactly the moment any surviving
    'pending' version row is known to belong to a dead writer.

    ``recover_min_age_seconds`` passes through to the recovery sweep. In a
    MULTI-INSTANCE deployment it must be set above the longest expected
    compute_version wall time: a second instance starting mid-write would
    otherwise sweep the first instance's LIVE pending row (its compute
    then 404s at activation and its committed segments become orphans) —
    the hazard recover_stale_pending's own docstring warns about, which a
    single-instance default of 0 cannot trip.

    ``snapshot_root`` confines the ``online-*`` routes' artifacts; it
    defaults to ``<store root>/online_snapshots``. Request bodies carry a
    snapshot NAME resolved under it — never a raw path."""
    import os
    import re

    from flask import Flask, jsonify, request

    if recover:
        store.recover_stale_pending(min_age_seconds=recover_min_age_seconds)

    app = Flask("feature_store_implementation_spark")

    def _err(status: int, exc: Exception):
        return jsonify({"detail": str(exc)}), status

    app.register_error_handler(ConflictError, lambda e: _err(400, e))
    app.register_error_handler(SchemaValidationError, lambda e: _err(400, e))
    app.register_error_handler(NotFoundError, lambda e: _err(404, e))
    app.register_error_handler(ComputationError, lambda e: _err(500, e))

    def _body() -> dict[str, Any]:
        return request.get_json(force=True, silent=False) or {}

    def _page():
        return int(request.args.get("skip", 0)), int(request.args.get("limit", 100))

    # -- raw tables --------------------------------------------------------

    @app.post("/api/v1/raw-tables")
    def register_raw_table():
        b = _body()
        row = store.register_raw_table(
            b["name"], b.get("schema_definition", {}), b.get("description")
        )
        return jsonify(asdict(row)), 201

    @app.get("/api/v1/raw-tables")
    def list_raw_tables():
        skip, limit = _page()
        return jsonify([asdict(r) for r in store.catalog.list_raw_tables(skip, limit)])

    @app.get("/api/v1/raw-tables/<int:table_id>")
    def get_raw_table(table_id: int):
        return jsonify(asdict(store.catalog.get_raw_table(table_id)))

    # -- features ----------------------------------------------------------

    @app.post("/api/v1/features")
    def create_feature():
        b = _body()
        row = store.create_feature(
            b["name"], b["raw_table_id"], b["computation_logic"], b["feature_type"]
        )
        return jsonify(asdict(row)), 201

    @app.get("/api/v1/features")
    def list_features():
        skip, limit = _page()
        return jsonify([asdict(r) for r in store.catalog.list_features(skip, limit)])

    @app.get("/api/v1/features/<int:feature_id>")
    def get_feature(feature_id: int):
        return jsonify(asdict(store.catalog.get_feature(feature_id)))

    # -- versions ----------------------------------------------------------

    @app.post("/api/v1/features/<int:feature_id>/versions")
    def compute_feature_version(feature_id: int):
        b = _body()
        row = store.compute_version(
            feature_id,
            b["version"],
            b["data"],
            entity_id_column=b.get("entity_id_column", "id"),
            metadata=b.get("metadata"),
        )
        return jsonify(asdict(row)), 201

    @app.get("/api/v1/features/<int:feature_id>/versions")
    def list_feature_versions(feature_id: int):
        store.catalog.get_feature(feature_id)  # 404 guard (main.py:238-241)
        return jsonify([asdict(v) for v in store.feature_versions(feature_id)])

    # -- serving -----------------------------------------------------------

    @app.post("/api/v1/feature-vectors")
    def get_feature_vector():
        b = _body()
        vec = store.serve_vector(
            b["entity_id"], b.get("feature_names"), b.get("version")
        )
        return jsonify(asdict(vec))

    # -- online snapshot tier (extension) -----------------------------------

    snap_root = snapshot_root or os.path.join(store.root, "online_snapshots")
    _SNAP_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")

    def _snap_path(name: str) -> str:
        # a validated NAME under snap_root — no separators, no leading
        # dot, so a request body can never address the wider filesystem
        if not isinstance(name, str) or not _SNAP_NAME.match(name):
            raise SchemaValidationError(
                f"invalid snapshot name {name!r}: use letters, digits, "
                "'._-', not starting with '.'"
            )
        return os.path.join(snap_root, name)

    @app.post("/api/v1/online-snapshots")
    def export_online_snapshot():
        b = _body()
        path = _snap_path(b["name"])
        if os.path.exists(path):
            # deterministic pre-check: the frozen-export contract makes a
            # re-export under a live name a conflict, not an overwrite.
            # Honest by construction — the exporter stages and atomically
            # renames, so an existing path is always a COMMITTED snapshot,
            # never a crashed export's debris.
            raise ConflictError(f"online snapshot '{b['name']}' already exists")
        try:
            rows = store.export_online_snapshot(
                path,
                n_shards=int(b.get("n_shards", 16)),
                feature_names=b.get("feature_names"),
                version=b.get("version"),
            )
        except FileExistsError as exc:  # lost a race to a concurrent export
            raise ConflictError(str(exc)) from None
        return (
            jsonify(
                {"name": b["name"], "n_shards": int(b.get("n_shards", 16)), "rows": rows}
            ),
            201,
        )

    @app.post("/api/v1/online-snapshots/<name>/sync")
    def sync_online_snapshot(name: str):
        """Incremental refresh from the change data feed (see
        serving/online_snapshot.py sync): 200 with the sync
        report; 404 for an unknown snapshot; a ConflictError (400 in
        this facade's reference-parity mapping) when the snapshot needs
        a re-export (version drift, unusable feed window, churn past
        max_changed) — the same taxonomy as the export's
        conflict semantics."""
        path = _snap_path(name)
        if not os.path.exists(path):
            return jsonify({"detail": f"online snapshot '{name}' not found"}), 404
        b = _body() if request.data else {}
        # validate the request BEFORE the sync try: a non-integer
        # max_changed is a plain 400 validation error, not the
        # ConflictError "re-export needed" taxonomy (ADVICE r10)
        try:
            max_changed = int(b.get("max_changed", 100_000))
        except (TypeError, ValueError):
            return (
                jsonify(
                    {"detail": f"max_changed must be an integer, got {b.get('max_changed')!r}"}
                ),
                400,
            )
        try:
            rep = store.sync_online_snapshot(path, max_changed=max_changed)
        except ValueError as exc:
            raise ConflictError(str(exc)) from None
        return jsonify({"name": name, **rep})

    @app.post("/api/v1/online-feature-vectors")
    def get_online_feature_vector():
        from ..serving.online_snapshot import lookup_online_snapshot

        b = _body()
        path, entity_id = _snap_path(b["snapshot"]), b["entity_id"]
        try:
            vec = lookup_online_snapshot(path, entity_id, b.get("feature_names"))
        except (KeyError, FileNotFoundError) as exc:
            # router miss or missing artifact — the snapshot is a frozen
            # export, so an unknown key is 404 like an empty serve_vector
            # (exc.args[0] — str(KeyError) quotes its message)
            return jsonify({"detail": str(exc.args[0] if exc.args else exc)}), 404
        return jsonify(asdict(vec))

    @app.get("/api/v1/health")
    def health():
        return jsonify({"status": "healthy", "service": "feature-store"})

    return app

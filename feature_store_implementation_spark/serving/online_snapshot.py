"""Point reads AGAINST the exported online snapshot — the serving half of
``FeatureStore.export_online_snapshot`` (serving/vectors.py), which until
round 9 wrote the router-layout parquet nothing read back.

``export_online_snapshot`` lays the serve_matrix out exactly the way an
online router wants it: ``n_shards`` hash-sharded (``shard =
pmod(xxhash64(entity_id), n_shards)``), entity-SORTED parquet files, one
file per shard. :func:`lookup_online_snapshot` is that router: hash the
entity id driver-side (a pure-Python XXH64 bit-identical to Spark's
``xxhash64`` expression — pinned against Spark in
tests/test_feature_store.py) and answer from the ONE shard the key routes
to. **No Spark job, no JVM round-trip**: each shard file is read once and
its rows kept by entity id, and the meta once per export, so a warm
lookup costs one listdir of the routed shard and a dict probe — the
data path a RocksDB/HBase tier would serve after bulk-ingesting these
exact files. At 100 TB the snapshot
lives behind a real KV store; this module is the single-file-per-shard
degenerate of that tier and the latency floor SCALING.md's serving table
records.

No reference counterpart (the reference serves every read through
SQLAlchemy + a per-process dict cache, main.py:249-336); this is the
extension surface's bulk-export/serve posture.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from .vectors import FeatureVector

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
    pmod of the signed hash, identical to the export's shard column."""
    return xxhash64(str(entity_id).encode("utf-8")) % int(n_shards)


_GEN_RE = None  # compiled lazily (module keeps a no-deps import surface)


def _file_gen(name: str) -> int:
    """Generation of a shard data file: ``gen{G}-*.parquet`` from
    incremental sync, generation 0 for the original export's part files."""
    global _GEN_RE
    if _GEN_RE is None:
        import re

        _GEN_RE = re.compile(r"^gen(\d+)-")
    m = _GEN_RE.match(name)
    return int(m.group(1)) if m else 0


def shard_live_files(shard_dir: str) -> list[str]:
    """The files a reader of this shard must open: the HIGHEST generation
    present. :meth:`~.vectors.FeatureStore.sync_online_snapshot` replaces
    a shard by renaming a ``gen{G+1}-`` file in (atomic) and deleting the
    old generation after — a reader racing the sync sees either
    generation complete, never a mix, and a crash between the two steps
    leaves both (the next reader takes the newer; the next sync sweeps
    the older)."""
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
        with open(os.path.join(path, "_snapshot_meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(f"no online snapshot at {path}") from None


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
    import pyarrow.dataset as ds

    meta = None if fresh else _METAS.get(path)
    if meta is None:
        meta = _METAS[path] = _snapshot_meta(path)
    shard_dir = os.path.join(path, f"shard={snapshot_shard(probe, meta['n_shards'])}")
    live = shard_live_files(shard_dir)
    hit = _SHARDS.get(shard_dir)
    if hit is not None and hit[0] == live:
        return meta, hit[1]
    if not fresh:  # a new generation, maybe of a re-export: read the meta
        return _routed_rows(path, probe, fresh=True)
    rows = ds.dataset(live, format="parquet").to_table().to_pylist() if live else []
    by_id = {r["entity_id"]: r for r in reversed(rows)}  # first row wins
    _SHARDS[shard_dir] = (live, by_id)
    return meta, by_id


def lookup_online_snapshot(
    path: str,
    entity_id: str,
    feature_names: list[str] | None = None,
) -> FeatureVector:
    """Shard-routed point read from an :meth:`~.vectors.FeatureStore.
    export_online_snapshot` artifact: ONE shard consulted, its file read
    on first use only, no Spark job.
    Raises ``KeyError`` for an entity the snapshot doesn't hold (the
    snapshot is a frozen export — an unknown key is a router miss, not a
    batch-tier fallback; callers wanting freshness go through
    ``serve_vector``)."""
    from ..store.codec import decode_value_py

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

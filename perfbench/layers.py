"""Per-layer metrics from a traced run's spans.

Each metric is ``<module>.<metric>``; the README's layer table says which
end-to-end metric each one should move, and on which workload.
"""

from __future__ import annotations

from spans import self_times
from stats import median


def per_layer(spans: list[dict], bench, store, half_primary: list[float]) -> dict:
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    selfs = self_times(spans)

    def dur_ms(name: str, pred=lambda s: True) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in by_name.get(name, []) if pred(s)]

    def med(xs: list[float]) -> float:
        return median(xs) if xs else float("nan")

    requests = by_name.get("service.request", [])
    lookups = by_name.get("online_snapshot.lookup", [])
    serves = by_name.get("vectors.serve_vector", [])
    cold = [s for s in serves if s["attrs"].get("cold")]
    warm = [s for s in serves if s["attrs"].get("cold") is False]
    syncs = by_name.get("vectors.sync_online_snapshot", [])
    writes = by_name.get("store.write_values", [])
    commits = by_name.get("vectors.compute_version", [])
    hits = sum(st.fs.cache.hits for st in bench.stores)
    misses = sum(st.fs.cache.misses for st in bench.stores)
    untraced, traced = (half_primary + [float("nan")] * 2)[:2]

    out = {
        "service.self_ms_p50": (med([selfs[s["id"]] * 1e3 for s in requests]), "ms"),
        "service.non2xx": (sum(1 for s in requests if not 200 <= (s["attrs"].get("status") or 0) < 300), "count"),
        "online_snapshot.lookup_ms_p50": (med(dur_ms("online_snapshot.lookup")), "ms"),
        "online_snapshot.files_per_lookup": (
            sum(s["attrs"].get("files", 0) for s in lookups) / max(len(lookups), 1),
            "files",
        ),
        "cache.hits": (hits, "count"),
        "cache.misses": (misses, "count"),
        "cache.hit_ratio": (hits / max(hits + misses, 1), "ratio"),
        "vectors.cold_serve_ms_p50": (med([(s["end"] - s["start"]) * 1e3 for s in cold]), "ms"),
        "vectors.sync_changed_entities": (med([s["attrs"].get("changed", 0) for s in syncs]), "count"),
        "vectors.sync_shards_rewritten": (med([s["attrs"].get("shards", 0) for s in syncs]), "count"),
        "store.write_values_s_p50": (med(dur_ms("store.write_values")) / 1e3, "s"),
        "store.rows_written": (sum(s["attrs"].get("rows", 0) for s in writes), "count"),
        "store.files_written": (sum(s["attrs"].get("files", 0) for s in writes), "count"),
        "store.files_per_point_read": (files_per_point_read(bench, store), "files"),
        "compute.analyze_ms_p50": (med(dur_ms("compute.compute_feature")), "ms"),
        "registry.create_version_ms_p50": (med(dur_ms("registry.create_version")), "ms"),
        "registry.set_status_ms_p50": (med(dur_ms("registry.set_version_status")), "ms"),
        "registry.df_ms_p50": (med(dur_ms("registry.df")), "ms"),
        "spark.jobs_per_cold_serve": (med([s["attrs"].get("spark_jobs", 0) for s in cold]), "jobs"),
        "spark.jobs_per_commit": (med([s["attrs"].get("spark_jobs", 0) for s in commits]), "jobs"),
        "spark.jobs_warm": (sum(s["attrs"].get("spark_jobs", 0) for s in warm), "jobs"),
        "trace.overhead_pct": (100.0 * (traced - untraced) / untraced, "%"),
    }
    return out


def files_per_point_read(bench, store, n: int = 10) -> float:
    """Files the cold serve path's store read opens for one entity: the
    latest active version of each served feature, pruned by entity id."""
    vids = []
    for fid in store.features.values():
        active = [v.id for v in store.fs.feature_versions(fid) if v.status == "active"]
        vids.append(max(active))
    counts = []
    for e in bench.inp.perm[:n]:
        df = store.fs.store.values_for_versions(vids, entity_ids=[str(bench.inp.ids[e])])
        counts.append(len(df.inputFiles()))
    return sum(counts) / len(counts)

"""Span recorder for the benchmark's traced run.

Spans are recorded around the feature store's public entry points by
patching them at their import sites (the module attribute a caller looks
up, or the attribute on the instance the caller holds). Nothing under
``feature_store_implementation_spark/`` changes. Each span keeps name,
start, end, parent id and trace id (one per HTTP request or top-level
call); spans stay in memory until :meth:`Tracer.dump`.

Spark work is counted per call with ``setJobGroup`` and
``statusTracker().getJobIdsForGroup`` on the calling thread (PySpark pins
each Python thread to its own JVM thread, so groups do not mix across
client threads).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from datetime import datetime


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    # -- span recording ------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    def span(self, name: str, fn, *args, spark_jobs: bool = False, **kwargs):
        """Run ``fn`` inside a span; with ``spark_jobs`` also count the
        Spark jobs it started on this thread."""
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else sid,
            "attrs": {},
        }
        group = None
        if spark_jobs:
            group = f"perfbench-{sid}"
            self.sc.setJobGroup(group, name)
        st.append(rec)
        rec["start"] = time.perf_counter()
        rec["wall_start"] = time.time()
        try:
            result = fn(*args, **kwargs)
            rec["ok"] = True
            return result
        except BaseException:
            rec["ok"] = False
            raise
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            if group is not None:
                rec["attrs"]["spark_jobs"] = len(
                    self.sc.statusTracker().getJobIdsForGroup(group)
                )
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                if parent is not None and parent.get("group"):
                    self.sc.setJobGroup(parent["group"], parent["name"])
            rec["group"] = group
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, spark_jobs: bool = False, post=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if post is None:
                return self.span(name, fn, *args, spark_jobs=spark_jobs, **kwargs)
            cur_holder = {}

            def call(*a, **k):
                cur_holder["span"] = self.current()
                return fn(*a, **k)

            out = self.span(name, call, *args, spark_jobs=spark_jobs, **kwargs)
            if self.enabled and cur_holder.get("span") is not None:
                post(cur_holder["span"], args, kwargs, out)
            return out

        return wrapper

    def patch(self, owner, attr: str, name: str, spark_jobs: bool = False, post=None) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, orig, spark_jobs=spark_jobs, post=post))
        self._restore.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- patch points ------------------------------------------------------------

    def install_modules(self) -> None:
        """Module-level import sites: the online route imports
        ``lookup_online_snapshot`` from its module on every request, the
        lookup resolves ``shard_live_files`` from its module globals, and
        ``FeatureStore.compute_version`` calls ``compute_feature`` through
        the name bound in ``serving.vectors``."""
        from feature_store_implementation_spark.serving import online_snapshot, vectors

        def count_files(span, args, kwargs, out):
            owner = self.current()
            if owner is not None and owner["name"] == "online_snapshot.lookup":
                owner["attrs"]["files"] = owner["attrs"].get("files", 0) + len(out)

        self.patch(online_snapshot, "lookup_online_snapshot", "online_snapshot.lookup")
        # shard_live_files is a leaf: count its files on the enclosing lookup
        orig_slf = online_snapshot.shard_live_files

        @functools.wraps(orig_slf)
        def slf(*a, **k):
            out = orig_slf(*a, **k)
            if self.enabled:
                count_files(None, a, k, out)
            return out

        online_snapshot.shard_live_files = slf
        self._restore.append((online_snapshot, "shard_live_files", orig_slf))
        self.patch(vectors, "compute_feature", "compute.compute_feature")

    def attach(self, fs, app) -> None:
        """Instance-level patch points of one FeatureStore and its app."""

        def cold_flag(span, args, kwargs, out):
            born = datetime.fromisoformat(out.retrieved_at).timestamp()
            span["attrs"]["cold"] = born >= span["wall_start"]

        self.patch(fs, "serve_vector", "vectors.serve_vector", spark_jobs=True, post=cold_flag)
        self.patch(fs, "compute_version", "vectors.compute_version", spark_jobs=True)
        self.patch(fs, "export_online_snapshot", "vectors.export_online_snapshot", spark_jobs=True)

        def sync_report(span, args, kwargs, out):
            span["attrs"].update(
                changed=out["changed_entities"], shards=out["shards_rewritten"]
            )

        self.patch(fs, "sync_online_snapshot", "vectors.sync_online_snapshot", spark_jobs=True, post=sync_report)

        store = fs.store

        def write_values(version_id, values, *a, **k):
            vdir = os.path.join(store.path, f"feature_version_id={int(version_id)}")
            before_files = _parquet_files(vdir)
            before_rows = store.count_for_version(version_id)
            out = orig_write(version_id, values, *a, **k)
            cur = self.current()
            if cur is not None:
                cur["attrs"]["rows"] = out - before_rows
                cur["attrs"]["files"] = len(_parquet_files(vdir) - before_files)
            return out

        orig_write = store.write_values
        store.write_values = self.wrap("store.write_values", write_values)
        self._restore.append((store, "write_values", orig_write))

        cat = fs.catalog
        self.patch(cat, "create_version", "registry.create_version")
        self.patch(cat, "set_version_status", "registry.set_version_status")
        self.patch(cat, "df", "registry.df")

        def wsgi(environ, start_response):
            status = {}

            def sr(st, headers, exc_info=None):
                status["code"] = int(st.split()[0])
                return start_response(st, headers, exc_info)

            def run():
                out = orig_wsgi(environ, sr)
                cur = self.current()
                if cur is not None:
                    cur["attrs"]["status"] = status.get("code")
                    cur["attrs"]["route"] = environ.get("PATH_INFO")
                return out

            return self.span("service.request", run)

        orig_wsgi = app.wsgi_app
        app.wsgi_app = wsgi
        self._restore.append((app, "wsgi_app", orig_wsgi))

    # -- output ------------------------------------------------------------------

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps({k: v for k, v in s.items() if k != "group"}) + "\n")


def _parquet_files(d: str) -> set[str]:
    try:
        return {f for f in os.listdir(d) if f.endswith(".parquet")}
    except FileNotFoundError:
        return set()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: duration minus the union of its
    children's intervals (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out

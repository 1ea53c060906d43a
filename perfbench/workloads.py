"""The three workloads, driven only through the feature store's public
surface: ``FeatureStore``, ``OfflineStore.write_values`` (via
``FeatureStore.store``), ``create_app`` with the Flask test client, and
``lookup_online_snapshot`` behind the ``/online-feature-vectors`` route.

Every run has the same shape, after a warm-up on a tiny store (see
:meth:`Bench.warmup`):

1. set-up, repeated ``SETUPS`` times in fresh store roots (see
   :meth:`Bench.new_store`); ``setup_s`` is the median.
2. the write block on the last set-up store: the serving fixture (see
   :meth:`Bench.build_fixture`), then one refresh (see :meth:`Bench.refresh`),
   every call timed, so every write operation is timed at least twice. It
   is ``materialize``'s phase and the read workloads' preparation.
3. the cold block: Spark-path serves of uncached entities, one at a time
   with no other request in flight (see :meth:`Bench.cold_block`).
4. reads, for ``--seconds``: ``online_read``'s phase, ``materialize``'s
   read check (see :meth:`Bench.read_phase`).
5. verification: oracle checks that need the phase to be over.

Every served value is compared to the numpy oracle in ``gen.py``; a wrong
value, a non-2xx status or an exception counts as a failed operation.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

from gen import Inputs
from stats import Samples

SETUPS = 5
N_SHARDS = 8
SNAPSHOT = "snap"
# Spark-path serves in the cold block
COLD_SERVES = 4
# requests in a client's pre-generated schedule (far more than a run uses)
SCHEDULE_LEN = 20_000

# one feature per computation_logic form: aggregate SQL and row SQL
LOGIC = {
    "total": ("events", "SUM(amount)"),
    "sx2": ("profiles", "row: score * 2"),
}


@dataclass
class Store:
    fs: object
    app: object
    root: str
    features: dict[str, int]  # name -> feature id
    frames: dict = field(default_factory=dict)
    increments: list[int] = field(default_factory=list)  # applied increment ks

    def vid(self, feature: str, version: str) -> int:
        for row in self.fs.feature_versions(self.features[feature]):
            if row.version == version:
                return row.id
        raise KeyError((feature, version))


class Bench:
    def __init__(self, spark, inputs: Inputs, work: str, tracer):
        self.spark = spark
        self.inp = inputs
        self.work = work
        self.tracer = tracer
        self.s = Samples()  # end-to-end samples (seconds)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()
        self.rows_folded = 0
        self.sequence_s = 0.0  # wall seconds of materialization sequences
        self._n_roots = 0
        self.stores: list[Store] = []
        self.errors: list[str] = []
        self.record_reads = True

    # -- bookkeeping ---------------------------------------------------------

    def ok(self, good: bool, what: str = "") -> bool:
        with self._lock:
            self.attempted += 1
            if not good:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)
        return good

    def timed(self, op: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self.ok(False, f"{op}: {traceback.format_exc(limit=3)}")
            raise
        self.s.add(op, time.perf_counter() - t0)
        self.ok(True)
        return out

    # -- store construction ------------------------------------------------------

    def new_store(self) -> Store:
        """A fresh store root with ``FeatureStore`` and ``create_app``, the
        raw tables and features registered, and the generated rows handed
        to Spark (one set-up)."""
        from feature_store_implementation_spark.service.http_api import create_app
        from feature_store_implementation_spark.serving.vectors import FeatureStore

        self._n_roots += 1
        root = os.path.join(self.work, f"store{self._n_roots}")
        fs = FeatureStore(self.spark, root)
        app = create_app(fs)
        if self.tracer is not None:
            self.tracer.attach(fs, app)
        tables = {
            "events": fs.register_raw_table(
                "events", {"required_columns": ["id", "amount"]}, "purchase events"
            ),
            "profiles": fs.register_raw_table(
                "profiles", {"required_columns": ["id", "score"]}, "user profiles"
            ),
        }
        ids = {}
        for name, (table, logic) in LOGIC.items():
            ids[name] = fs.create_feature(name, tables[table].id, logic, "numeric").id
        st = Store(fs, app, root, ids)
        st.frames = {
            ("events", 1): self.spark.createDataFrame(self.inp.events_frame(1)),
            ("events", 2): self.spark.createDataFrame(self.inp.events_frame(2)),
            ("profiles", 1): self.spark.createDataFrame(self.inp.profiles_frame(1)),
            ("profiles", 2): self.spark.createDataFrame(self.inp.profiles_frame(2)),
        }
        self.stores.append(st)
        return st

    def commit(self, st: Store, feature: str, version: str, day: int) -> None:
        table = LOGIC[feature][0]
        self.timed(
            "commit", st.fs.compute_version, st.features[feature], version, st.frames[(table, day)]
        )
        self.rows_folded += self.inp.rows_for(feature, day)

    def commit_pair(self, st: Store, version: str, day: int) -> None:
        """Both features at ``version`` from ``day``'s rows: one
        aggregate-SQL and one row-form commit. The pair's sample is their
        mean, so a median over pairs does not fall between the two forms'
        different costs."""
        t0 = time.perf_counter()
        for f in LOGIC:
            self.commit(st, f, version, day)
        self.s.add("commit_pair", (time.perf_counter() - t0) / len(LOGIC))

    def export(self, st: Store, name: str = SNAPSHOT) -> None:
        """Export the ``v1`` snapshot ``name``: every entity, plus the
        increments appended to ``total@v1`` so far."""
        path = os.path.join(st.root, "online_snapshots", name)
        rows = self.timed(
            "export", st.fs.export_online_snapshot, path, n_shards=N_SHARDS, version="v1"
        )
        want = self.inp.sizes.entities + self.inp.sizes.increment_rows * len(st.increments)
        self.ok(rows == want, f"export rows {rows}, want {want}")

    def increment(self, st: Store, k: int) -> None:
        """Append increment ``k`` (new entities) to ``total@v1`` and sync
        the snapshot."""
        ids, vals = self.inp.increment(k)
        df = self.spark.createDataFrame(
            [(e, str(v)) for e, v in zip(ids, vals)], "entity_id string, value string"
        )
        self.timed("write_values", st.fs.store.write_values, st.vid("total", "v1"), df)
        path = os.path.join(st.root, "online_snapshots", SNAPSHOT)
        rep = self.timed("sync", st.fs.sync_online_snapshot, path)
        self.ok(rep["changed_entities"] == len(ids), f"sync report {rep}")
        st.increments.append(k)

    def warmup(self) -> None:
        """Every Spark code path the run measures, once, on this bench's
        (tiny) inputs: the serving fixture (a refresh runs the same calls),
        then a cold serve, a warm serve and snapshot reads, all checked."""
        st = self.new_store()
        self.build_fixture(st)
        client = st.app.test_client()
        e = int(self.inp.perm[0])
        self.check_fv(st, client, e)  # cold
        self.check_fv(st, client, e)  # warm
        for e in self.inp.keys(99, 20, self.inp.sizes.entities, self.inp.sizes.zipf_s_online):
            self.check_online(st, client, e)

    def build_fixture(self, st: Store) -> None:
        """The serving fixture on a set-up store: both features at ``v1``
        and ``v2``, the ``v1`` snapshot, then one increment synced into
        it."""
        t0 = time.perf_counter()
        for day in (1, 2):
            self.commit_pair(st, f"v{day}", day)
        self.export(st)
        self.increment(st, len(st.increments))
        self.sequence_s += time.perf_counter() - t0

    def refresh(self, st: Store) -> None:
        """One refresh of a built fixture: both features recomputed from
        ``v2``'s rows under a new version string (served values do not
        move; activation clears the serve cache), a second ``v1`` snapshot
        exported beside the served one, and an increment synced into the
        served one."""
        t0 = time.perf_counter()
        k = len(st.increments)
        self.commit_pair(st, f"r{k}", 2)
        self.export(st, f"{SNAPSHOT}-r{k}")
        self.increment(st, k)
        self.sequence_s += time.perf_counter() - t0

    # -- oracle ------------------------------------------------------------------

    def expected(self, st: Store, entity: int, version: int) -> dict:
        return {
            f: _py(self.inp.expected_cached(f, version)[entity]) for f in LOGIC
        }

    def check_online(self, st: Store, client, entity: int) -> None:
        eid = str(self.inp.ids[entity])
        t0 = time.perf_counter()
        r = client.post(
            "/api/v1/online-feature-vectors", json={"snapshot": SNAPSHOT, "entity_id": eid}
        )
        dt = time.perf_counter() - t0
        body = r.get_json(silent=True) or {}
        good = (
            r.status_code == 200
            and body.get("entity_id") == eid
            and body.get("version") == "v1"
            and body.get("features") == self.expected(st, entity, 1)
        )
        if self.ok(good, f"online {eid}: {r.status_code} {body}") and self.record_reads:
            self.s.add("online", dt)

    def check_fv(self, st: Store, client, entity: int, cold_key: str = "fv_cold") -> None:
        eid = str(self.inp.ids[entity])
        wall = time.time()
        t0 = time.perf_counter()
        r = client.post("/api/v1/feature-vectors", json={"entity_id": eid})
        dt = time.perf_counter() - t0
        body = r.get_json(silent=True) or {}
        good = (
            r.status_code == 200
            and body.get("entity_id") == eid
            # a serve answers from the latest active version, whose rows
            # are v2's (serve_during_ingest's writer recomputes v2's input)
            and body.get("features") == self.expected(st, entity, 2)
        )
        if self.ok(good, f"fv {eid}: {r.status_code} {body}") and self.record_reads:
            # a vector computed for this request carries a retrieved_at
            # stamped after it was sent; a cache hit returns an older one
            cold = datetime.fromisoformat(body["retrieved_at"]).timestamp() >= wall
            self.s.add(cold_key if cold else "fv_warm", dt)

    def cold_block(self, st: Store, n: int = COLD_SERVES) -> None:
        """``n`` Spark-path serves, one at a time with no other request in
        flight, each a cold miss (the write block's activations cleared
        the cache): the most popular entity, so the read clients then find
        it cached, and entities ranked just past the largest serve key
        population, which no client serves."""
        client = st.app.test_client()
        first = self.inp.sizes.fv_population_large
        for e in [self.inp.perm[0], *self.inp.perm[first : first + n - 1]]:
            self.check_fv(st, client, int(e))

    def check_increments(self, st: Store) -> None:
        client = st.app.test_client()
        for k in st.increments:
            ids, vals = self.inp.increment(k)
            for eid, v in zip(ids, vals):
                r = client.post(
                    "/api/v1/online-feature-vectors",
                    json={"snapshot": SNAPSHOT, "entity_id": eid},
                )
                body = r.get_json(silent=True) or {}
                self.ok(
                    r.status_code == 200 and body.get("features") == {"total": v},
                    f"increment {eid}: {r.status_code} {body}",
                )

    def check_warm_jobs(self, st: Store, entities: list[int]) -> int:
        """The "warm serve runs no Spark job" contract: serve each entity
        once (filling the cache), then serve them again inside a job group
        and count the jobs started."""
        sc = self.spark.sparkContext
        client = st.app.test_client()
        for e in entities:
            self.check_fv(st, client, e)
        group = f"perfbench-warm-{id(st)}"
        sc.setJobGroup(group, "warm serve check")
        try:
            for _ in range(2):
                for e in entities:
                    self.check_fv(st, client, e)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.ok(jobs == 0, f"warm serves ran {jobs} Spark jobs")
        return jobs

    # -- read clients --------------------------------------------------------------

    def client_loop(self, st: Store, schedule: list, deadline: float, done: list) -> None:
        client = st.app.test_client()
        n = 0  # requests completed by the deadline
        try:
            for check, entity in schedule:
                if time.perf_counter() >= deadline:
                    break
                check(st, client, entity)
                n += time.perf_counter() <= deadline
        except Exception:
            self.ok(False, f"client: {traceback.format_exc(limit=3)}")
        with self._lock:
            done.append(n)

    def read_phase(self, st: Store, seconds: float, clients: int, fv_population: int, writer=None) -> None:
        """Closed loop for ``seconds``; each client sends its next request
        when the previous one returns. Client 0 sends Spark-path serves
        (``/feature-vectors``) over ``fv_population`` entities, and spends
        most of its time on cold misses. Besides it run ``clients`` request
        clients. Client 1 alternates a serve of the
        most popular entity, a cache hit (see :meth:`cold_block`), with a
        snapshot read (a loop of cache hits alone never waits on Spark, so
        it would hold the interpreter lock and starve the other clients).
        The rest send snapshot reads (``/online-feature-vectors``). Cold
        serves here wait on the other clients, so their samples are kept
        apart, as ``fv_cold_contended``. ``writer``, if given, runs
        alongside on its own thread."""
        done: list = []
        sz = self.inp.sizes
        fv = functools.partial(self.check_fv, cold_key="fv_cold_contended")

        def reads(stream: int) -> list:
            keys = self.inp.keys(stream, SCHEDULE_LEN, sz.entities, sz.zipf_s_online)
            return [(self.check_online, e) for e in keys]

        fv_keys = self.inp.keys(0, SCHEDULE_LEN, fv_population, sz.zipf_s_fv)
        schedules = [[(fv, e) for e in fv_keys]]
        hot = int(self.inp.perm[0])
        schedules.append([x for e in reads(1) for x in ((fv, hot), e)])
        schedules += [reads(c) for c in range(2, clients + 1)]
        deadline = time.perf_counter() + seconds
        threads = [
            threading.Thread(target=self.client_loop, args=(st, sch, deadline, done))
            for sch in schedules
        ]
        if writer is not None:
            threads.append(threading.Thread(target=writer, args=(st, deadline)))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 300)
            if t.is_alive():
                self.ok(False, "thread did not finish")
        # requests completed inside the window: a request or writer loop
        # still running at the deadline is finished and checked, not counted
        self.s.add("read_ops_per_s", sum(done) / seconds)

    # -- workloads ------------------------------------------------------------------

    def ingest_writer(self, st: Store, deadline: float) -> None:
        """serve_during_ingest's writer: recompute ``total`` under a new
        version string (same input, so served values do not move; its
        activation clears the serve cache), append an increment to the
        snapshot's version, sync the snapshot."""
        k = len(st.increments)
        try:
            while time.perf_counter() < deadline:
                t0 = time.perf_counter()
                self.commit(st, "total", f"w{k}", 2)
                self.increment(st, k)
                self.sequence_s += time.perf_counter() - t0
                k += 1
        except Exception:
            print(traceback.format_exc(), file=sys.stderr)


def _py(x):
    """numpy scalar -> the JSON-decoded Python value the service returns."""
    return int(x) if hasattr(x, "dtype") and x.dtype.kind in "iu" else float(x)

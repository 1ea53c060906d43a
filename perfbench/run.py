"""Feature-store benchmark: online point reads, materialization, and serving
during ingest.

    python3 perfbench/run.py --workload online_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Workloads: ``online_read``,
``materialize``, ``serve_during_ingest`` (see perfbench/README.md). With
``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics from a traced run and the
spans are written to ``.perfbench_out/``. The line before it is a JSON
detail record: environment, sizes, every metric with its sample count and
tail percentile. Scratch data lives under ``.perfbench_work/`` and is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("online_read", "materialize", "serve_during_ingest")
# request clients besides the Spark-path one: with it, one client thread
# per core
READ_CLIENTS = 3


def _configure_env(work: str, cores: int) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and the
    driver JVM small (the default asks for 16 GB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _spark(work: str, cores: int):
    from feature_store_implementation_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def run(args) -> dict:
    import gen
    import stats
    from workloads import COLD_SERVES, N_SHARDS, SETUPS, Bench

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        _configure_env(work, cores)
        # fail fast, before starting a JVM, when the package is absent
        import feature_store_implementation_spark.service.http_api  # noqa: F401

        t0 = time.perf_counter()
        spark = _spark(work, cores)
        spark_start_s = time.perf_counter() - t0
        inputs = gen.make_inputs(args.seed)

        # -- warm-up: every measured Spark code path once, on a tiny store,
        # so class loading and plan codegen are not billed to the first
        # measured calls; its reads are checked like the rest --------------
        t = time.perf_counter()
        warm = Bench(spark, gen.make_inputs(args.seed, gen.WARMUP), os.path.join(work, "warmup"), None)
        warm.warmup()
        warmup_s = time.perf_counter() - t

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install_modules()
        b = Bench(spark, inputs, work, tracer)
        sz = inputs.sizes
        # client 0 sends Spark-path serves over fv_pop keys, client 1 mixes
        # cache-hit serves with snapshot reads, the rest send snapshot reads
        # (see Bench.read_phase); serve_during_ingest gives one client's
        # place to its writer
        fv_pop = sz.fv_population_small if args.workload == "serve_during_ingest" else sz.fv_population_large
        clients = READ_CLIENTS - (args.workload == "serve_during_ingest")

        # -- set-up ----------------------------------------------------------
        stage = {"spark_start": spark_start_s, "warmup": warmup_s}
        t_stage = time.perf_counter()
        setup_times = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            store = b.new_store()
            setup_times.append(time.perf_counter() - t)

        stage["setup"] = time.perf_counter() - t_stage
        # -- write block: materialize's phase, the read workloads'
        # preparation; every call timed ----------------------------------------
        t_stage = time.perf_counter()
        if tracer is not None:
            tracer.enabled = args.workload != "materialize"
        b.build_fixture(store)
        b.refresh(store)
        writes = {k: list(v) for k, v in b.s.values.items()}
        rows_per_s = b.rows_folded / b.sequence_s
        half_primary = [stats.median(writes["commit_pair"])]
        if tracer is not None and args.workload == "materialize":
            # the traced half: one more refresh
            tracer.enabled = True
            b.refresh(store)
            half_primary.append(stats.median(b.s.values["commit_pair"][len(writes["commit_pair"]):]))
        b.s.values.clear()

        stage["write_block"] = time.perf_counter() - t_stage
        # -- cold block ------------------------------------------------------------
        t_stage = time.perf_counter()
        b.cold_block(store)

        stage["cold_block"] = time.perf_counter() - t_stage
        # -- reads: online_read's phase, materialize's read check ------------------
        t_stage = time.perf_counter()
        cache0 = (store.fs.cache.hits, store.fs.cache.misses)
        if args.workload == "materialize":
            b.read_phase(store, args.seconds, clients, fv_pop)
        else:
            if tracer is None:
                halves = [(False, args.seconds)]
            else:  # untraced half, then traced half: the tracing overhead
                halves = [(False, args.seconds / 2), (True, args.seconds / 2)]
                half_primary = []
            writer = b.ingest_writer if args.workload == "serve_during_ingest" else None
            for traced, secs in halves:
                if tracer is not None:
                    tracer.enabled = traced
                mark = len(b.s.values["online"])
                b.read_phase(store, secs, clients, fv_pop, writer=writer)
                if tracer is not None:
                    half_primary.append(stats.median(b.s.values["online"][mark:]))
        if tracer is not None:
            tracer.enabled = True

        stage["reads"] = time.perf_counter() - t_stage
        # -- verification --------------------------------------------------------
        t_stage = time.perf_counter()
        b.record_reads = False
        b.check_increments(store)
        warm_jobs = b.check_warm_jobs(store, [int(inputs.perm[0])])
        cache = (store.fs.cache.hits - cache0[0], store.fs.cache.misses - cache0[1])

        stage["verification"] = time.perf_counter() - t_stage
        # -- metrics ---------------------------------------------------------------
        attempted = warm.attempted + b.attempted
        failed = warm.failed + b.failed
        s = b.s
        store_bytes, values = _store_size(store)
        e2e = {
            "setup_s": (stats.median(setup_times), "s"),
            "read_ops_per_s": (stats.median(s.values["read_ops_per_s"]), "req/s"),
            "online_p50_ms": (stats.median(s.values["online"]) * 1e3, "ms"),
            "online_p99_ms": (stats.pct(s.values["online"], 99) * 1e3, "ms"),
            "vector_warm_p50_ms": (stats.median(s.values["fv_warm"]) * 1e3, "ms"),
            "vector_cold_p50_ms": (stats.median(s.values["fv_cold"]) * 1e3, "ms"),
            "commit_p50_s": (stats.median(writes["commit_pair"]), "s"),
            "materialize_rows_per_s": (rows_per_s, "rows/s"),
            "export_s": (stats.median(writes["export"]), "s"),
            "sync_s": (stats.median(writes["sync"]), "s"),
            "bytes_per_value": (store_bytes / values, "B"),
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "env": {
                "nproc": cores,
                "spark_master": spark.sparkContext.master,
                "spark_version": spark.version,
                "python": sys.version.split()[0],
                "stage_s": stage,
            },
            "sizes": {
                "entities": sz.entities,
                "raw_rows": sz.raw_rows,
                "features_x_versions": "2x2",
                "cache_maxsize": store.fs.cache.maxsize,
                "fv_key_population": fv_pop,
                "fv_population_over_cache": fv_pop / store.fs.cache.maxsize,
                "hot_key_population": 1,
                "online_key_population": sz.entities,
                "read_s": args.seconds,
                "read_clients": clients + 1,
                "writer_threads": int(args.workload == "serve_during_ingest"),
                "increment_rows": sz.increment_rows,
                "n_shards": N_SHARDS,
                "setups": SETUPS,
                "refreshes": 1,
                "cold_serves": COLD_SERVES,
            },
            "samples": {
                "setup_s": {"n": len(setup_times), "values": setup_times},
                "online_ms": s.summary("online", 1e3),
                "vector_warm_ms": s.summary("fv_warm", 1e3),
                "vector_cold_ms": s.summary("fv_cold", 1e3),
                "vector_cold_contended_ms": s.summary("fv_cold_contended", 1e3),
                **{
                    f"{op}_s": stats.summary(writes.get(op, []))
                    for op in ("commit_pair", "commit", "export", "write_values", "sync")
                },
            },
            "writer": (
                {f"{op}_s": s.summary(op) for op in ("commit", "write_values", "sync")}
                if args.workload == "serve_during_ingest"
                else None
            ),
            "failed_frac": failed / attempted,
            "warm_serve_spark_jobs": warm_jobs,
            "cache_hits_misses": list(cache),
            "errors": warm.errors + b.errors,
        }
        if tracer is not None:
            from layers import per_layer

            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans_path)
            layer = per_layer(tracer.spans, b, store, half_primary)
            tracer.unpatch_all()
            detail["spans"] = os.path.relpath(spans_path, ROOT)
            detail["per_layer"] = layer
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {
            "detail": detail,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch is still there
            pass


def _stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _store_size(st) -> tuple[int, int]:
    """Bytes of committed value files on disk, and the number of stored
    entity-feature values (manifest row counts, no Spark job)."""
    total = 0
    base = st.fs.store.path
    for d, _, files in os.walk(base):
        if os.path.basename(d).startswith("feature_version_id="):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    values = 0
    for fid in st.features.values():
        for v in st.fs.feature_versions(fid):
            values += st.fs.store.count_for_version(v.id)
    return total, values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    out = run(args)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end feature-store scenario tests (SURVEY §5.4): the exact 3-step
flow the reference demos — register raw table → create feature → compute
versions → serve vectors — plus the registry guard unit tests (§5.3)."""

import pytest

from feature_store_implementation_spark.errors import (
    ComputationError,
    ConflictError,
    NotFoundError,
    SchemaValidationError,
)

RAW_SCHEMA = {
    "required_columns": ["id", "amount", "ts"],
    "column_types": {"id": "string", "amount": "numeric", "ts": "string"},
}

DATA = [
    {"id": "u1", "amount": 10.5, "ts": "2026-01-01"},
    {"id": "u1", "amount": 4.5, "ts": "2026-01-02"},
    {"id": "u2", "amount": 7.0, "ts": "2026-01-01"},
]


def _setup_feature(fs, logic="SUM(amount)"):
    t = fs.register_raw_table("user_transactions", RAW_SCHEMA, "per-user tx")
    f = fs.create_feature("total_spend", t.id, logic, "numeric")
    return t, f


def test_e2e_compute_and_serve_latest(fs):
    _, f = _setup_feature(fs)
    v = fs.compute_version(f.id, "v1.0", DATA, entity_id_column="id")
    assert v.status == "active"

    vec = fs.serve_vector("u1", ["total_spend"])
    # FIXTURES.md §B expected: u1 → 15.0 decoded as a number
    assert vec.features == {"total_spend": 15.0}
    assert fs.serve_vector("u2").features == {"total_spend": 7.0}


def test_e2e_versioned_read_and_latest_pick(fs):
    _, f = _setup_feature(fs)
    fs.compute_version(f.id, "v1.0", DATA)
    data2 = DATA + [{"id": "u2", "amount": 3.0, "ts": "2026-01-03"}]
    fs.compute_version(f.id, "v2.0", data2)

    assert fs.serve_vector("u2", version="v1.0").features == {"total_spend": 7.0}
    assert fs.serve_vector("u2", version="v2.0").features == {"total_spend": 10.0}
    # latest = v2.0 (argmax computed_at, id tie-break)
    assert fs.serve_vector("u2").features == {"total_spend": 10.0}


def test_deprecated_version_excluded_from_latest(fs):
    _, f = _setup_feature(fs)
    fs.compute_version(f.id, "v1.0", DATA)
    v2 = fs.compute_version(f.id, "v2.0", DATA + [{"id": "u2", "amount": 1.0, "ts": "x"}])
    fs.catalog.set_version_status(v2.id, "deprecated")
    fs.cache.clear()
    assert fs.serve_vector("u2").features == {"total_spend": 7.0}


def test_serve_matrix_pivot(fs):
    t, f = _setup_feature(fs)
    f2 = fs.create_feature("n_tx", t.id, "COUNT(*)", "numeric")
    fs.compute_version(f.id, "v1.0", DATA)
    fs.compute_version(f2.id, "v1.0", DATA)
    m = {r["entity_id"]: r for r in fs.serve_matrix().collect()}
    assert m["u1"]["total_spend"] == "15.0" and m["u1"]["n_tx"] == "2"
    assert m["u2"]["total_spend"] == "7.0" and m["u2"]["n_tx"] == "1"


def test_uniqueness_guards(fs):
    t, f = _setup_feature(fs)
    with pytest.raises(ConflictError):  # raw-table name (main.py:47-52)
        fs.register_raw_table("user_transactions", RAW_SCHEMA)
    fs.compute_version(f.id, "v1.0", DATA)
    with pytest.raises(ConflictError):  # (feature_id, version) (main.py:163-172)
        fs.compute_version(f.id, "v1.0", DATA)


def test_fk_guards(fs):
    with pytest.raises(NotFoundError):  # main.py:97-103
        fs.create_feature("x", 999, "SUM(amount)", "numeric")
    with pytest.raises(NotFoundError):  # main.py:156-161
        fs.compute_version(999, "v1.0", DATA)


def test_schema_validation_missing_column(fs):
    _, f = _setup_feature(fs)
    bad = [{"id": "u1", "amount": 1.0}]  # no ts
    with pytest.raises(SchemaValidationError, match="ts"):
        fs.compute_version(f.id, "v1.0", bad)


def test_schema_validation_type_mismatch(fs):
    _, f = _setup_feature(fs)
    bad = [{"id": "u1", "amount": "not-a-number", "ts": "2026-01-01"}]
    with pytest.raises(SchemaValidationError, match="numeric"):
        fs.compute_version(f.id, "v1.0", bad)


def test_missing_entity_column(fs):
    _, f = _setup_feature(fs)
    with pytest.raises(ComputationError, match="user_id"):
        fs.compute_version(f.id, "v1.0", DATA, entity_id_column="user_id")


def test_failed_write_leaves_no_orphan_version(fs):
    """The reference commits the version row before values and cannot roll
    it back (main.py:216 vs 224). We must not exhibit that bug."""
    _, f = _setup_feature(fs)
    with pytest.raises(ComputationError):
        fs.compute_version(f.id, "v1.0", DATA, entity_id_column="id", metadata=None) \
            if False else fs.compute_version(
                f.id, "v1.0", [{"id": None, "amount": 1.0, "ts": "x"}][:0] or
                [{"id": "u1", "amount": 1.0, "ts": "x"}], entity_id_column="nope"
            )
    assert fs.catalog.list_versions(f.id) == []


def test_row_and_transform_logic(fs):
    t = fs.register_raw_table("t2", {"required_columns": ["id", "amount"]})
    row_f = fs.create_feature("double_amount", t.id, "row: amount * 2", "numeric")
    fs.compute_version(row_f.id, "v1", [{"id": "a", "amount": 2.5}])
    assert fs.serve_vector("a", ["double_amount"]).features == {"double_amount": 5.0}

    from feature_store_implementation_spark.compute.engine import register_transform
    from pyspark.sql import functions as F

    @register_transform("max_amount")
    def _max_amount(df, entity_col):
        return df.groupBy(F.col(entity_col).cast("string").alias("entity_id")).agg(
            F.max("amount").alias("value")
        )

    tr_f = fs.create_feature("max_amount", t.id, "transform:max_amount", "numeric")
    fs.compute_version(tr_f.id, "v1", [{"id": "a", "amount": 2.5}, {"id": "a", "amount": 9.0}])
    assert fs.serve_vector("a", ["max_amount"]).features == {"max_amount": 9.0}


def test_json_value_roundtrip(fs):
    """dict/list values JSON-encode on write and decode on read
    (compute.py:76-79 + main.py:321-325)."""
    t = fs.register_raw_table("t3", {})
    f = fs.create_feature("basket", t.id, "row: array(amount, amount * 2)", "json")
    fs.compute_version(f.id, "v1", [{"id": "a", "amount": 1.5}])
    assert fs.serve_vector("a").features == {"basket": [1.5, 3.0]}


def test_pagination(fs):
    for i in range(7):
        fs.register_raw_table(f"t{i}", {})
    page = fs.catalog.list_raw_tables(skip=2, limit=3)
    assert [r.name for r in page] == ["t2", "t3", "t4"]


def test_compact_version_partition(spark, tmp_path):
    """Many small appends → one compacted file, identical rows."""
    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    for batch in range(6):  # 6 appends → ≥6 small files in the partition
        vals = spark.createDataFrame(
            [(f"e{batch}_{i}", str(i)) for i in range(50)], "entity_id string, value string"
        )
        store.write_values(7, vals)
    before = {tuple(r) for r in store.values_for_version(7).collect()}
    import os

    part = os.path.join(store.path, "feature_version_id=7")
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) >= 6
    n = compact_version_partition(spark, store.path, 7)
    assert n == 1
    after = {tuple(r) for r in store.values_for_version(7).collect()}
    assert after == before


def test_failed_value_write_leaves_no_version(fs, spark):
    """Orphan-version bug (reference main.py:216 vs 224): a failing value
    write must not leave a committed version behind."""
    rt = fs.register_raw_table("t_fail", {"required_columns": ["id", "v"]})
    feat = fs.create_feature("f_fail", rt.id, "SUM(v)", "numeric")
    orig = fs.store.write_values
    fs.store.write_values = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("disk full"))
    try:
        with pytest.raises(RuntimeError):
            fs.compute_version(feat.id, "v1", [{"id": "a", "v": 1.0}])
    finally:
        fs.store.write_values = orig
    assert fs.catalog.list_versions(feat.id) == []
    # retry after the failure succeeds with the same version string
    row = fs.compute_version(feat.id, "v1", [{"id": "a", "v": 1.0}])
    assert row.status == "active"


def test_pending_version_not_served_as_latest(fs, spark):
    """Crash-window safety: a 'pending' version (values mid-write) is
    invisible to latest-active serving."""
    rt = fs.register_raw_table("t_pend", {"required_columns": ["id", "v"]})
    feat = fs.create_feature("f_pend", rt.id, "SUM(v)", "numeric")
    fs.compute_version(feat.id, "v1", [{"id": "a", "v": 5.0}])
    # simulate a crash mid-write of v2: row exists as pending, no values
    fs.catalog.create_version(feat.id, "v2", status="pending")
    vec = fs.serve_vector("a", ["f_pend"])
    assert vec.features == {"f_pend": 5.0}


def test_crash_mid_value_write_recovers_clean(fs, spark):
    """Crash injection: kill the writer AFTER the pending version row and a
    PARTIAL parquet append land, BEFORE activation (the worst window — the
    compensating delete in compute_version never runs because the process
    is 'dead'). Prove: (1) serving never sees the orphan, (2) startup
    recovery removes both the row and the partial files, (3) the same
    version string then recomputes cleanly with no leftover rows."""
    import os

    rt = fs.register_raw_table("t_crash", {"required_columns": ["id", "v"]})
    feat = fs.create_feature("f_crash", rt.id, "SUM(v)", "numeric")
    fs.compute_version(feat.id, "v1", [{"id": "a", "v": 5.0}])

    # simulate the dead writer: pending row + partial (garbage) value files
    dead = fs.catalog.create_version(feat.id, "v2", status="pending")
    partial = spark.createDataFrame(
        [("a", "999.0"), ("b", "123.0")], "entity_id string, value string"
    )
    fs.store.write_values(dead.id, partial)  # landed, but never activated

    # (1) latest-active serving is oblivious to the crashed version
    assert fs.serve_vector("a", ["f_crash"]).features == {"f_crash": 5.0}
    # ...and recomputing the same version string is blocked (id reserved)
    with pytest.raises(ConflictError):
        fs.compute_version(feat.id, "v2", [{"id": "a", "v": 7.0}])

    # (2) startup recovery drops the row and the partial partition
    part_dir = os.path.join(fs.store.path, f"feature_version_id={dead.id}")
    assert os.path.isdir(part_dir)
    assert fs.recover_stale_pending() == [dead.id]
    assert not os.path.isdir(part_dir)
    assert fs.catalog.list_pending() == []

    # (3) the version string is free again and serves the NEW values only
    row = fs.compute_version(feat.id, "v2", [{"id": "a", "v": 7.0}])
    assert row.status == "active"
    assert fs.serve_vector("a", ["f_crash"]).features == {"f_crash": 7.0}
    vals = {tuple(r) for r in fs.store.values_for_version(row.id)
            .select("entity_id", "value").collect()}
    assert vals == {("a", "7.0")}


def test_recover_stale_pending_null_computed_at_treated_stale(fs, spark):
    """A pending row whose computed_at is NULL (legacy/hand-edited catalog
    jsonl) must not abort min_age recovery with a TypeError — recovery
    runs at create_app startup, so one bad row would brick the service.
    A null timestamp cannot prove the writer is young, so the row sweeps
    as stale (ADVICE r9)."""
    rt = fs.register_raw_table("t_nullts", {"required_columns": ["id", "v"]})
    feat = fs.create_feature("f_nullts", rt.id, "SUM(v)", "numeric")
    dead = fs.catalog.create_version(feat.id, "v1", status="pending")
    for v in fs.catalog._rows["feature_versions"]:
        if v.id == dead.id:
            v.computed_at = None  # what a hand-edited/legacy row looks like
    fs.catalog._flush("feature_versions")

    # a young LIVE writer's row survives; the null-timestamp row sweeps
    live = fs.catalog.create_version(feat.id, "v2", status="pending")
    assert fs.recover_stale_pending(min_age_seconds=3600) == [dead.id]
    assert [p.id for p in fs.catalog.list_pending()] == [live.id]


def test_ewm_features_match_pandas(spark):
    import pandas as pd

    from feature_store_implementation_spark.compute.engine import ewm_features
    from feature_store_implementation_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    got = (
        ewm_features(e, "user_id", ["ts", "event_id"], "value", alpha=0.3)
        .filter("user_id <= 3")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .reset_index(drop=True)
    )
    pdf = e.filter("user_id <= 3").toPandas()
    expect = (
        pdf.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
        .groupby("user_id", group_keys=False)["value"]
        .apply(lambda s: s.ewm(alpha=0.3, adjust=True).mean().round(6))
        .reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_series_equal(
        got["ewm"].reset_index(drop=True), expect, check_names=False
    )


def test_pandas_program_reference_contract(spark):
    """The `pandas:` form reproduces the reference exec contract
    (reference compute.py:30-55) bit-for-bit: {pd, df, raw_data} bound,
    `result` read back as an entity-indexed Series."""
    from feature_store_implementation_spark.compute.engine import compute_feature

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "entity string, amount double"
    )
    out = {
        r["entity_id"]: r["value"]
        for r in compute_feature(
            df, "pandas:result = df.groupby('entity')['amount'].sum()", "entity"
        ).collect()
    }
    assert out == {"a": 3.0, "b": 10.0}
    # 1-column DataFrame results squeeze to a Series (reference behavior)
    out2 = {
        r["entity_id"]: r["value"]
        for r in compute_feature(
            df,
            "pandas:result = df.groupby('entity')[['amount']].mean()",
            "entity",
        ).collect()
    }
    assert out2 == {"a": 1.5, "b": 10.0}


def test_pandas_program_error_parity(spark):
    from feature_store_implementation_spark.compute.engine import compute_feature
    from feature_store_implementation_spark.errors import ComputationError

    df = spark.createDataFrame([("a", 1.0)], "entity string, amount double")
    import pytest as _pytest

    with _pytest.raises(ComputationError, match="'result' variable"):
        compute_feature(df, "pandas:x = 1", "entity").collect()
    with _pytest.raises(ComputationError, match="single column"):
        compute_feature(
            df, "pandas:result = df[['entity', 'amount']]", "entity"
        ).collect()
    with _pytest.raises(ComputationError):
        # builtins are absent, same failure mode as the reference sandbox
        compute_feature(df, "pandas:result = open('/etc/hosts')", "entity")


def test_pandas_by_entity_distributed_matches_aggregate(spark):
    """The distributed `pandas_by_entity:` form must agree with the
    Catalyst aggregate form on the same logic."""
    from feature_store_implementation_spark.compute.engine import compute_feature

    rows = [(f"e{i % 7}", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "entity string, amount double")
    agg = {
        r["entity_id"]: r["value"]
        for r in compute_feature(df, "AVG(amount)", "entity").collect()
    }
    dist = {
        r["entity_id"]: r["value"]
        for r in compute_feature(
            df, "pandas_by_entity:result = df['amount'].mean()", "entity"
        ).collect()
    }
    assert set(agg) == set(dist)
    for k in agg:
        assert abs(agg[k] - dist[k]) < 1e-9


def test_unprefixed_reference_program_runs_unmodified(spark):
    """A payload written for the upstream service — a bare pandas program
    with no form prefix — runs via the MIGRATION fallback when explicitly
    enabled: not valid SQL, but it assigns `result`, so it routes through
    the reference exec contract."""
    from feature_store_implementation_spark.compute.engine import compute_feature
    from feature_store_implementation_spark.errors import ComputationError

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "entity string, amount double"
    )
    prog = "result = df.groupby('entity')['amount'].sum()"
    out = {
        r["entity_id"]: r["value"]
        for r in compute_feature(
            df, prog, "entity", allow_unprefixed_programs=True
        ).collect()
    }
    assert out == {"a": 3.0, "b": 10.0}
    # garbage that neither parses as SQL nor assigns result still errors
    import pytest as _pytest

    with _pytest.raises(ComputationError):
        compute_feature(df, "this is not sql or python", "entity")


def test_unprefixed_fallback_is_opt_in(spark):
    """ADVICE r4: without the explicit opt-in, an unprefixed program must
    NOT silently route into driver-side exec — it raises, naming the
    'pandas:' prefix, with the original SQL analysis error chained. And a
    SQL-looking string over a column literally named 'result' surfaces the
    Spark analysis error, not a confusing Python exec error."""
    import pytest as _pytest

    from feature_store_implementation_spark.compute import engine
    from feature_store_implementation_spark.errors import ComputationError

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "entity string, amount double"
    )
    prog = "result = df.groupby('entity')['amount'].sum()"
    assert engine.UNPREFIXED_PROGRAM_FALLBACK is False
    with _pytest.raises(ComputationError, match="pandas:") as exc:
        engine.compute_feature(df, prog, "entity")
    assert exc.value.__cause__ is not None  # SQL analysis error chained
    # module-level switch restores migration behavior
    engine.UNPREFIXED_PROGRAM_FALLBACK = True
    try:
        out = {
            r["entity_id"]: r["value"]
            for r in engine.compute_feature(df, prog, "entity").collect()
        }
        assert out == {"a": 3.0, "b": 10.0}
    finally:
        engine.UNPREFIXED_PROGRAM_FALLBACK = False
    # typo'd SQL mentioning a real column named result: the analysis error
    # must be the visible cause even with the fallback enabled
    df2 = df.withColumnRenamed("amount", "result")
    with _pytest.raises(ComputationError) as exc2:
        engine.compute_feature(
            df2, "SUM(CASE WHEN result = 1 THEN 1 END", "entity",
            allow_unprefixed_programs=True,
        )
    assert "as SQL" in str(exc2.value) or exc2.value.__cause__ is not None


def test_pandas_by_entity_non_numeric_result_raises(spark):
    """ADVICE r4: the distributed form's (entity_id, value double) contract
    is explicit — a string result raises a ComputationError-worded message
    instead of an opaque float() crash."""
    import pytest as _pytest

    from feature_store_implementation_spark.compute.engine import compute_feature

    df = spark.createDataFrame(
        [("a", "x"), ("b", "y")], "entity string, label string"
    )
    with _pytest.raises(Exception, match="non-numeric"):
        compute_feature(
            df, "pandas_by_entity:result = df['label'].head(1)", "entity"
        ).collect()


def test_reference_program_empty_input(spark):
    """ADVICE r4: empty input (or a program yielding an empty Series) must
    not die in createDataFrame schema inference."""
    from feature_store_implementation_spark.compute.engine import compute_feature

    df = spark.createDataFrame([], "entity string, amount double")
    out = compute_feature(
        df, "pandas:result = df.groupby('entity')['amount'].sum()", "entity"
    )
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["entity_id", "value"]


def test_manifest_commit_crash_leaves_no_visible_rows(spark, tmp_path):
    """Kill-during-write proof for the manifest protocol: a writer that
    dies AFTER its data files are fully in the partition directory but
    BEFORE the manifest commit must be invisible to every reader —
    readers never see uncommitted rows (SCALING.md "Storage", the
    single-writer half of the Delta seam)."""
    import os

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "entity_id string, value string"
    )
    assert store.write_values(5, vals) == 2

    more = spark.createDataFrame([("c", "3")], "entity_id string, value string")
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.write_values(5, more, _crash_before_commit=True)
    # the orphaned data file IS on disk in the partition dir...
    part = os.path.join(store.path, "feature_version_id=5")
    n_files = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_files > len(store._manifest_files(5)), "crash left no orphan to hide"
    # ...but no reader sees it
    assert store.values_for_version(5).count() == 2
    assert store.values().count() == 2
    assert {r["entity_id"] for r in store.point_lookup(5, "c").collect()} == set()
    # the retry commits exactly once — no double-count from the orphan
    assert store.write_values(5, more) == 3
    assert {r["entity_id"] for r in store.values_for_version(5).collect()} == {
        "a", "b", "c",
    }

    # a crashed FIRST write on an empty store leaves data files and no
    # segment: that store is empty, not partially written
    store2 = OfflineStore(spark, str(tmp_path / "values2"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        store2.write_values(1, more, _crash_before_commit=True)
    assert os.listdir(os.path.join(store2.path, "feature_version_id=1"))
    assert not store2.exists()
    assert store2.values().count() == 0


def test_manifest_drop_version_is_reader_atomic(spark, tmp_path):
    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame([("a", "1")], "entity_id string, value string")
    store.write_values(1, vals)
    store.write_values(2, vals)
    assert store.drop_version_values(1) is True
    assert store.drop_version_values(1) is False
    assert store.values_for_version(1).count() == 0
    assert store.values().count() == 1


def test_vacuum_orphans_sweeps_only_old_unmanifested_files(spark, tmp_path):
    import os
    import time

    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        vacuum_orphans,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame([("a", "1")], "entity_id string, value string")
    store.write_values(9, vals)
    with pytest.raises(RuntimeError):
        store.write_values(9, vals, _crash_before_commit=True)
    part = os.path.join(store.path, "feature_version_id=9")
    orphan = [
        f for f in os.listdir(part)
        if f.endswith(".parquet")
        and f"feature_version_id=9/{f}" not in store._manifest_files(9)
    ]
    assert len(orphan) >= 1
    # young orphan (a possibly in-flight writer): protected by the age gate
    assert vacuum_orphans(store, min_age_seconds=3600) == []
    # age them past the horizon → swept; committed files untouched
    old = time.time() - 7200
    for f in orphan:
        os.utime(os.path.join(part, f), (old, old))
    removed = vacuum_orphans(store, min_age_seconds=3600)
    assert sorted(os.path.basename(p) for p in removed) == sorted(orphan)
    assert store.values_for_version(9).count() == 1


def test_concurrent_appends_both_visible(spark, tmp_path):
    """The round-7 lost-update proof: two writers append to the SAME
    version concurrently — writer B's complete append lands in writer A's
    stage→commit window. With per-append manifest segments there is no
    shared manifest read-modify-write, so BOTH appends' rows must be
    visible (the old single-manifest protocol lost whichever commit
    renamed first)."""
    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    a = spark.createDataFrame([("a1", "1"), ("a2", "2")], "entity_id string, value string")
    b = spark.createDataFrame([("b1", "3")], "entity_id string, value string")

    def interleaved_b():
        # a SECOND store handle, as a separate writer process would hold
        other = OfflineStore(spark, str(tmp_path / "values"))
        assert other.write_values(4, b) == 1

    assert store.write_values(4, a, _before_commit=interleaved_b) == 3
    got = {r["entity_id"] for r in store.values_for_version(4).collect()}
    assert got == {"a1", "a2", "b1"}
    # and vacuum must not treat either writer's files as orphans
    from feature_store_implementation_spark.store.offline import vacuum_orphans

    assert vacuum_orphans(store, min_age_seconds=0) == []


def test_append_during_compaction_stays_visible(spark, tmp_path):
    """An append that commits WHILE a compaction is running is not part of
    the compaction's snapshot — its segment must survive the cutover (the
    compaction supersedes only the segments it actually compacted)."""
    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame([("a", "1")], "entity_id string, value string")
    for _ in range(3):
        store.write_values(7, vals)

    late = spark.createDataFrame([("late", "9")], "entity_id string, value string")

    def interleaved_append():
        store.write_values(7, late)

    compact_version_partition(
        spark, store.path, 7, _before_commit=interleaved_append
    )
    rows = store.values_for_version(7).collect()
    assert len(rows) == 4
    assert {r["entity_id"] for r in rows} == {"a", "late"}


def test_compaction_lock_excludes_second_compactor(spark, tmp_path):
    import os

    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame([("a", "1")], "entity_id string, value string")
    store.write_values(2, vals)
    lock = os.path.join(store._segment_dir(2), ".compact.lock")
    os.makedirs(store._segment_dir(2), exist_ok=True)
    with open(lock, "w"):
        pass
    with pytest.raises(RuntimeError, match="another compaction"):
        compact_version_partition(spark, store.path, 2)
    os.remove(lock)
    assert compact_version_partition(spark, store.path, 2) == 1
    # the lock is released after a successful run too
    assert not os.path.exists(lock)


def test_compact_keep_old_files_defers_to_vacuum(spark, tmp_path):
    """Production compaction mode: old files stay on disk (for readers
    that resolved the pre-compaction snapshot) but are un-manifested, and
    the age-gated vacuum sweeps them later."""
    import os
    import time

    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
        vacuum_orphans,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    vals = spark.createDataFrame([("a", "1")], "entity_id string, value string")
    for _ in range(3):
        store.write_values(6, vals)
    part = os.path.join(store.path, "feature_version_id=6")
    before = {f for f in os.listdir(part) if f.endswith(".parquet")}
    compact_version_partition(spark, store.path, 6, keep_old_files=True)
    after = {f for f in os.listdir(part) if f.endswith(".parquet")}
    assert before < after, "old files must still be on disk"
    assert store.values_for_version(6).count() == 3  # readers see only the new set
    old = time.time() - 7200
    for f in before:
        os.utime(os.path.join(part, f), (old, old))
    removed = vacuum_orphans(store, min_age_seconds=3600)
    assert sorted(os.path.basename(p) for p in removed) == sorted(before)
    assert store.values_for_version(6).count() == 3


def test_values_for_versions_reads_only_named_manifests(spark, tmp_path):
    """The serving-path read shape: values_for_versions opens exactly the
    named versions' manifested files — with many versions in the store, a
    serve resolving to two features reads two versions' files (manifest-
    level pruning before Spark planning)."""
    import os

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    for vid in (1, 2, 3):
        df = spark.createDataFrame(
            [(f"e{i}", f"v{vid}.{i}") for i in range(3)],
            "entity_id string, value string",
        )
        store.write_values(vid, df)

    out = store.values_for_versions([3, 1])
    got = {(r["feature_version_id"], r["entity_id"], r["value"]) for r in out.collect()}
    want = {
        (vid, f"e{i}", f"v{vid}.{i}") for vid in (1, 3) for i in range(3)
    }
    assert got == want

    # the scan's file list is exactly v1+v3's manifests — v2 never opened
    opened = {p.removeprefix("file://") for p in out.inputFiles()}
    manifested = {
        os.path.abspath(os.path.join(store.path, f))
        for vid in (1, 3)
        for f in store._manifest_files(vid)
    }
    assert opened == manifested
    assert not any("feature_version_id=2" in p for p in opened)


def test_serve_vector_reads_only_resolved_versions(spark, tmp_path):
    """End-to-end serving pin: with three feature versions in the store,
    serve_vector's values read must not touch the unresolved version's
    partition (the values_for_versions path wired into FeatureStore)."""
    from feature_store_implementation_spark.serving.vectors import FeatureStore

    fs = FeatureStore(spark, str(tmp_path / "fs"))
    t = fs.register_raw_table("accts", {"required_columns": ["id", "amount"]}, "d")
    data = spark.createDataFrame(
        [("e1", 10.0), ("e2", 20.0)], "id string, amount double"
    )
    f1 = fs.create_feature("f_sum", t.id, "SUM(amount)", "numeric")
    f2 = fs.create_feature("f_cnt", t.id, "COUNT(*)", "numeric")
    v1 = fs.compute_version(f1.id, "v1.0", data)
    fs.compute_version(f2.id, "v1.0", data)
    # a superseded version of f1: latest-version resolution must skip it
    v1b = fs.compute_version(f1.id, "v2.0", data)

    vec = fs.serve_vector("e1")
    assert set(vec.features) == {"f_sum", "f_cnt"}

    sc = spark.sparkContext
    sc.setJobGroup("resolve-versions", "must stay empty")
    try:
        resolved = {vid for _fid, _name, vid, _v in fs.catalog.resolve_versions()}
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("resolve-versions") == []
    assert v1.id not in resolved and v1b.id in resolved
    opened = fs.store.values_for_versions(sorted(resolved)).inputFiles()
    assert opened and not any(f"feature_version_id={v1.id}/" in p for p in opened)


def test_offline_store_time_travel_snapshots(spark, tmp_path):
    """values_for_version_as_of reproduces the rows a reader at that
    instant saw: later appends invisible, a later compaction does not
    retire the snapshot's segments, and history() lists every commit
    (superseded included) oldest-first."""
    import time

    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    df1 = spark.createDataFrame([("a", "1"), ("b", "2")], "entity_id string, value string")
    store.write_values(7, df1)
    t1 = time.time()
    time.sleep(0.05)
    df2 = spark.createDataFrame([("c", "3")], "entity_id string, value string")
    store.write_values(7, df2)
    t2 = time.time()

    def ids(df):
        return sorted(r["entity_id"] for r in df.collect())

    assert ids(store.values_for_version_as_of(7, t1)) == ["a", "b"]
    assert ids(store.values_for_version_as_of(7, t2)) == ["a", "b", "c"]
    assert ids(store.values_for_version(7)) == ["a", "b", "c"]
    # ISO-8601 form resolves identically (naive = UTC)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t1, tz=timezone.utc).isoformat()
    assert ids(store.values_for_version_as_of(7, iso)) == ["a", "b"]

    # a compaction AFTER t1 must not retire what the t1 snapshot saw
    time.sleep(0.05)
    compact_version_partition(spark, store.path, 7, keep_old_files=True)
    assert ids(store.values_for_version(7)) == ["a", "b", "c"]
    assert ids(store.values_for_version_as_of(7, t1)) == ["a", "b"]
    assert ids(store.values_for_version_as_of(7, t2)) == ["a", "b", "c"]

    h = store.history(7)
    assert [r["live"] for r in h].count(True) == 1  # only the compaction
    assert h == sorted(h, key=lambda r: (r["committed_at"], r["segment"]))
    assert any(r["supersedes"] for r in h)
    # pre-compaction snapshot via the history log's own timestamps
    first = h[0]["committed_at"]
    assert ids(store.values_for_version_as_of(7, first)) == ["a", "b"]


def test_serve_matrix_as_of_reproduces_past_export(fs, spark):
    """serve_matrix(as_of=t) returns the matrix an export at instant t
    produced, even after more values landed for the same version."""
    import time

    t = fs.register_raw_table("t_asof", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_sum", t.id, "SUM(amount)", "numeric")
    v = fs.compute_version(f.id, "v1.0", [{"id": "e1", "amount": 2.0}])
    t_snap = time.time()
    time.sleep(0.05)
    # a later append to the SAME version (the streaming-sink shape)
    more = spark.createDataFrame([("e2", "9.0")], "entity_id string, value string")
    fs.store.write_values(v.id, more)

    now = {r["entity_id"] for r in fs.serve_matrix().collect()}
    assert now == {"e1", "e2"}
    past = {r["entity_id"] for r in fs.serve_matrix(as_of=t_snap).collect()}
    assert past == {"e1"}


def test_export_online_snapshot_staged_commit_and_debris_sweep(fs, spark, tmp_path):
    """The export commits via staging + atomic rename (ADVICE r9): the
    destination either holds a COMPLETE snapshot (meta included) or does
    not exist, so the HTTP route's exists→409 pre-check is always honest.
    A crashed exporter's leftover .staging dir is swept by the next
    export of the same name instead of blocking it forever; a committed
    destination refuses re-export."""
    import glob
    import os

    t = fs.register_raw_table("t_stg", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("stg_amt", t.id, "SUM(amount)", "numeric")
    fs.compute_version(
        f.id, "v1.0", [{"id": f"e{i}", "amount": float(i)} for i in range(6)]
    )

    root = tmp_path / "snaps"
    out = str(root / "snap")
    # what a crash mid-export leaves behind: staging debris, NO committed
    # dir. One OLD (crashed yesterday — sweepable) and one FRESH (could be
    # a LIVE concurrent exporter — must survive the sweep).
    import time

    debris_old = str(root / ".staging-snap-deadbeef")
    debris_live = str(root / ".staging-snap-cafe0001")
    for d in (debris_old, debris_live):
        os.makedirs(d)
        open(os.path.join(d, "partial.parquet"), "w").close()
    from feature_store_implementation_spark.serving import online_snapshot

    old = time.time() - online_snapshot.STAGING_SWEEP_AGE_S - 60
    os.utime(debris_old, (old, old))
    assert not os.path.exists(out)  # the pre-check would NOT 409 — honest

    assert fs.export_online_snapshot(out, n_shards=2) == 6
    assert not os.path.exists(debris_old)  # aged debris swept
    assert os.path.exists(debris_live)  # a possibly-live exporter survives
    # own staging renamed away — only the fresh decoy remains
    assert glob.glob(str(root / ".staging-*")) == [debris_live]
    assert os.path.exists(os.path.join(out, "_snapshot_meta.json"))

    # a COMMITTED destination refuses re-export (frozen-export contract)
    with pytest.raises(FileExistsError, match="already exists"):
        fs.export_online_snapshot(out, n_shards=2)


def test_export_online_snapshot_sharded_sorted(fs, spark, tmp_path):
    """The online bulk-load export: one entity-sorted file per hash shard,
    content identical to serve_matrix, shard routing = pmod(xxhash64)."""
    import glob
    import os

    t = fs.register_raw_table("t_exp", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt", t.id, "SUM(amount)", "numeric")
    fs.compute_version(
        f.id, "v1.0", [{"id": f"e{i:03d}", "amount": float(i)} for i in range(40)]
    )
    out = str(tmp_path / "snap")
    n = fs.export_online_snapshot(out, n_shards=4)
    assert n == 40

    back = spark.read.parquet(out)
    want = {(r["entity_id"], r["amt"]) for r in fs.serve_matrix().collect()}
    assert {(r["entity_id"], r["amt"]) for r in back.collect()} == want

    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == 4
    from pyspark.sql import functions as F

    for sd in shard_dirs:
        files = [x for x in os.listdir(sd) if x.endswith(".parquet")]
        assert len(files) == 1  # one run per shard — the bulk-ingest shape
        rows = spark.read.parquet(os.path.join(sd, files[0])).collect()
        ids = [r["entity_id"] for r in rows]
        assert ids == sorted(ids)  # key order within the run
        shard = int(os.path.basename(sd).split("=")[1])
        chk = spark.createDataFrame([(i,) for i in ids], "entity_id string").select(
            F.pmod(F.xxhash64("entity_id"), F.lit(4)).alias("s")
        )
        assert {r["s"] for r in chk.collect()} == {shard}


def test_catalog_concurrent_instances_do_not_lose_updates(tmp_path):
    """Two Catalog instances on the SAME root (two services, two
    processes): each write reloads under an exclusive lock, so neither
    instance's flush can drop the other's rows — the lost-update hazard
    the reference's SQLite transactions covered. Ids stay unique and
    uniqueness guards see the other writer's rows."""
    from feature_store_implementation_spark.errors import ConflictError
    from feature_store_implementation_spark.registry.catalog import Catalog

    root = str(tmp_path / "catalog")
    a = Catalog(root)
    b = Catalog(root)  # loaded BEFORE a writes anything

    ra = a.register_raw_table("from_a", {})
    rb = b.register_raw_table("from_b", {})  # stale cache must not clobber a's row
    assert ra.id != rb.id

    fresh = Catalog(root)
    assert {t.name for t in fresh.list_raw_tables()} == {"from_a", "from_b"}

    # uniqueness guard sees the OTHER instance's committed row
    with pytest.raises(ConflictError):
        a.register_raw_table("from_b", {})

    # interleaved version writes on one feature keep distinct ids too
    f = a.create_feature("f1", ra.id, "SUM(x)", "numeric")
    b.refresh()
    v1 = a.create_version(f.id, "v1")
    v2 = b.create_version(f.id, "v2")
    assert v1.id != v2.id
    assert {v.version for v in Catalog(root).list_versions(f.id)} == {"v1", "v2"}
    with pytest.raises(ConflictError):
        b.create_version(f.id, "v1")  # committed by the other instance


def _vrow(id, fid, version, status="active", computed=None, activated=None):
    """A feature_versions row; timestamps are seconds past 2026-01-01
    00:00:00 UTC in catalog._now()'s format."""

    def ts(second):
        return None if second is None else f"2026-01-01 00:00:{second:02d}.000000"

    return {
        "id": id,
        "feature_id": fid,
        "version": version,
        "status": status,
        "computed_at": ts(computed),
        "version_metadata": None,
        "activated_at": ts(activated),
    }


@pytest.mark.parametrize(
    "versions, kwargs, expected",
    [
        pytest.param(  # a pin reads a deprecated row, never a pending one
            [_vrow(1, 1, "v2", "pending", 5), _vrow(2, 2, "v2", "deprecated", 5, 5)],
            {"version": "v2"},
            [("f_b", 2)],
            id="pin-skips-pending",
        ),
        pytest.param(
            [_vrow(1, 1, "v1", computed=5, activated=5), _vrow(2, 1, "v2", computed=5, activated=5)],
            {},
            [("f_a", 2)],
            id="latest-tie-breaks-on-higher-id",
        ),
        pytest.param(
            [_vrow(1, 1, "v1", computed=5, activated=5), _vrow(2, 1, "v2")],
            {},
            [("f_a", 1)],
            id="latest-null-computed-at-sorts-last",
        ),
        pytest.param(  # v2 was pending at the instant, activated after it
            [_vrow(1, 1, "v1", computed=1, activated=1), _vrow(2, 1, "v2", computed=5, activated=20)],
            {"as_of_s": 10},
            [("f_a", 1)],
            id="as-of-activated-at-wins-over-computed-at",
        ),
        pytest.param(  # pending -> deprecated rows never get activated_at
            [_vrow(1, 1, "v1", "deprecated", computed=5), _vrow(2, 2, "v1", "deprecated", computed=20)],
            {"as_of_s": 10, "version": "v1"},
            [("f_a", 1)],
            id="as-of-null-activated-at-coalesces-to-computed-at",
        ),
        pytest.param(
            [_vrow(1, 1, "v1", computed=1, activated=1), _vrow(2, 1, "v2")],
            {"as_of_s": 10, "version": "v2"},
            [("f_a", 2)],
            id="as-of-keeps-row-without-timestamps",
        ),
        pytest.param(  # f_b's latest is picked first, then the names filter
            [
                _vrow(1, 1, "v1", computed=1, activated=1),
                _vrow(2, 2, "v1", computed=2, activated=2),
                _vrow(3, 2, "v2", computed=3, activated=3),
            ],
            {"feature_names": ["f_b"]},
            [("f_b", 3)],
            id="feature-names-filter-after-resolution",
        ),
        pytest.param(
            [_vrow(1, 1, "v1", computed=1, activated=1), _vrow(2, 9, "v1", computed=1, activated=1)],
            {"version": "v1"},
            [("f_a", 1)],
            id="version-without-feature-row-dropped",
        ),
    ],
)
def test_resolve_versions_rules(tmp_path, versions, kwargs, expected):
    """Catalog.resolve_versions over hand-written catalog rows (features
    f_a = 1 and f_b = 2): plain Python, no Spark session."""
    import json
    from datetime import datetime, timezone

    from feature_store_implementation_spark.registry.catalog import Catalog

    root = tmp_path / "catalog"
    root.mkdir()
    features = [
        {"id": i, "name": name, "raw_table_id": 1, "computation_logic": "SUM(x)",
         "feature_type": "numeric", "created_at": "2026-01-01 00:00:00.000000"}
        for i, name in ((1, "f_a"), (2, "f_b"))
    ]
    for table, rows in (("features", features), ("feature_versions", versions)):
        (root / f"{table}.jsonl").write_text("".join(json.dumps(r) + "\n" for r in rows))
    if "as_of_s" in kwargs:
        instant = datetime(2026, 1, 1, 0, 0, kwargs["as_of_s"], tzinfo=timezone.utc)
        kwargs = {**kwargs, "as_of_s": instant.timestamp()}
    got = Catalog(str(root)).resolve_versions(**kwargs)
    assert [(name, vid) for _fid, name, vid, _v in got] == expected


def test_resolve_versions_sees_other_instance_activation(tmp_path):
    """A reader Catalog loaded before another instance activates a newer
    version resolves that version: resolution passes the same
    cross-process freshness gate as every row read."""
    from feature_store_implementation_spark.registry.catalog import Catalog

    root = str(tmp_path / "catalog")
    writer = Catalog(root)
    t = writer.register_raw_table("t", {})
    f = writer.create_feature("f", t.id, "SUM(x)", "numeric")
    v1 = writer.create_version(f.id, "v1")
    reader = Catalog(root)
    assert [vid for _f, _n, vid, _v in reader.resolve_versions()] == [v1.id]

    v2 = writer.create_version(f.id, "v2", status="pending")
    writer.set_version_status(v2.id, "active")
    assert [vid for _f, _n, vid, _v in reader.resolve_versions()] == [v2.id]


def test_compute_version_refuses_version_created_by_other_instance(spark, tmp_path, monkeypatch):
    """A serving instance's compute_version must see a version another
    instance created after it started, and refuse before computing: the
    uniqueness pre-check reads fresh rows."""
    from feature_store_implementation_spark.serving import vectors

    root = str(tmp_path / "fs")
    first = vectors.FeatureStore(spark, root)
    t = first.register_raw_table("t", {"required_columns": ["id", "amount"]})
    f = first.create_feature("f", t.id, "SUM(amount)", "numeric")
    second = vectors.FeatureStore(spark, root)  # loaded before the version exists
    first.catalog.create_version(f.id, "v1")

    def must_not_run(*args, **kwargs):
        raise AssertionError("compute_feature ran for a taken version")

    monkeypatch.setattr(vectors, "compute_feature", must_not_run)
    with pytest.raises(ConflictError):
        second.compute_version(f.id, "v1", [{"id": "e1", "amount": 1.0}])


# ---------------------------------------------------------------------------
# incremental feature materialization (store/materialize.py)
# ---------------------------------------------------------------------------


def test_incremental_feature_matches_full_recompute_and_compacts(spark, tmp_path):
    """Three daily batches folded through the store equal the full
    recompute bit-for-bit (decimal merge algebra); compaction collapses
    to one state row per entity with identical reads; time travel
    excludes batches committed after the pinned instant."""
    import time

    from pyspark.sql import functions as F

    from feature_store_implementation_spark.store.materialize import (
        compact_incremental_feature,
        read_incremental_feature,
        update_incremental_feature,
    )
    from feature_store_implementation_spark.store.offline import OfflineStore

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    store = OfflineStore(spark, str(tmp_path / "inc"))
    for i in range(3):
        update_incremental_feature(
            store, 7, li.filter(F.col("l_orderkey") % 3 == i),
            "l_suppkey", "l_extendedprice",
        )
    t_pin = time.time()
    got = {r["entity_id"]: tuple(r)[1:] for r in read_incremental_feature(store, 7).collect()}
    DEC = "decimal(28,8)"
    exact = {
        str(r["l_suppkey"]): (
            r["cnt"], r["mean_v"], r["var_v"], r["mn"], r["mx"]
        )
        for r in li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("s"),
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_extendedprice").cast(DEC)).alias("s2"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .select(
            "l_suppkey", "cnt", "mn", "mx",
            F.round(F.col("s").cast("double") / F.col("cnt").cast("double"), 6).alias("mean_v"),
            F.round(
                F.greatest(
                    F.col("s2").cast("double") / F.col("cnt").cast("double")
                    - (F.col("s").cast("double") / F.col("cnt").cast("double"))
                    * (F.col("s").cast("double") / F.col("cnt").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("var_v"),
        )
        .collect()
    }
    assert got == exact and len(got) > 0
    n_rows_before = store.values_for_version(7).count()
    assert n_rows_before == 3 * len(got)  # one partial per entity per batch
    assert compact_incremental_feature(store, 7) == len(got)
    got2 = {r["entity_id"]: tuple(r)[1:] for r in read_incremental_feature(store, 7).collect()}
    assert got2 == got
    # a 4th (replayed) batch double-counts by design (append-only); time
    # travel to the pin reproduces the pre-append state exactly
    update_incremental_feature(
        store, 7, li.filter(F.col("l_orderkey") % 3 == 0),
        "l_suppkey", "l_extendedprice",
    )
    got3 = {
        r["entity_id"]: tuple(r)[1:]
        for r in read_incremental_feature(store, 7, as_of=t_pin + 0.01).collect()
    }
    assert got3 == got
    assert {
        r["entity_id"]: r["cnt"] for r in read_incremental_feature(store, 7).collect()
    } != {k: v[0] for k, v in got.items()}


def test_incremental_compaction_locked_and_append_safe(spark, tmp_path):
    """The two races ADVICE r7 flagged in compact_incremental_feature:
    (a) concurrent compactions of one version must be excluded by the
    store's O_EXCL lock (two merged segments superseding the same
    snapshot would double-count every partial on read), and (b) an
    append landing between the snapshot and the commit must stay LIVE —
    it was never merged, so retiring it would lose its rows. The merge
    reads exactly the snapshot's files, the late append keeps its own
    segment, and the post-compaction read equals the full recompute over
    base ∪ late batch."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from feature_store_implementation_spark.store.materialize import (
        compact_incremental_feature,
        read_incremental_feature,
        update_incremental_feature,
    )
    from feature_store_implementation_spark.store.offline import OfflineStore

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    store = OfflineStore(spark, str(tmp_path / "inc"))
    for i in range(2):
        update_incremental_feature(
            store, 7, li.filter(F.col("l_orderkey") % 3 == i),
            "l_suppkey", "l_extendedprice",
        )

    # (a) a held lock excludes a second compaction
    lock = os.path.join(store._segment_dir(7), ".compact.lock")
    os.makedirs(store._segment_dir(7), exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    with pytest.raises(RuntimeError, match="another compaction"):
        compact_incremental_feature(store, 7)
    os.remove(lock)

    # (b) an append that lands after the snapshot survives the cutover
    late = li.filter(F.col("l_orderkey") % 3 == 2)
    compact_incremental_feature(
        store, 7,
        _after_snapshot=lambda: update_incremental_feature(
            store, 7, late, "l_suppkey", "l_extendedprice"
        ),
    )
    got = {
        r["entity_id"]: tuple(r)[1:]
        for r in read_incremental_feature(store, 7).collect()
    }
    DEC = "decimal(28,8)"
    exact = {
        str(r["l_suppkey"]): tuple(r)[1:]
        for r in li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("s"),
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * F.col("l_extendedprice").cast(DEC)
            ).alias("s2"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .select(
            "l_suppkey",
            "cnt",
            F.round(F.col("s").cast("double") / F.col("cnt").cast("double"), 6).alias("mean_v"),
            F.round(
                F.greatest(
                    F.col("s2").cast("double") / F.col("cnt").cast("double")
                    - (F.col("s").cast("double") / F.col("cnt").cast("double"))
                    * (F.col("s").cast("double") / F.col("cnt").cast("double")),
                    F.lit(0.0),
                ),
                6,
            ).alias("var_v"),
            "mn",
            "mx",
        )
        .collect()
    }
    assert got == exact and len(got) > 0
    # the lock is released after the run
    assert not os.path.exists(lock)


def test_cold_key_stampede_single_flight(fs):
    """The cache-stampede contract: N concurrent requests for the SAME
    uncached key run the underlying Spark plan exactly ONCE (leader +
    coalesced followers — the reference's TTLCache recomputes per miss,
    cache.py:32-35); distinct cold keys do not serialize against each
    other; and a leader's NotFoundError propagates to every coalesced
    follower of the same request."""
    import threading

    from feature_store_implementation_spark.serving.vectors import NotFoundError

    _, f = _setup_feature(fs)
    fs.compute_version(f.id, "v1.0", DATA, entity_id_column="id")
    fs.cache.clear()

    computes = []
    orig = fs._serve_vector_uncached

    def counting(key, entity_id, feature_names, version):
        computes.append(entity_id)
        return orig(key, entity_id, feature_names, version)

    fs._serve_vector_uncached = counting

    results, errors = [], []

    def hit(entity):
        try:
            results.append(fs.serve_vector(entity).features)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    # one cold key, 8 concurrent clients -> ONE compute
    threads = [threading.Thread(target=hit, args=("u1",)) for _ in range(8)]
    barrier_unused = [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors
    assert results == [{"total_spend": 15.0}] * 8
    assert computes == ["u1"]

    # distinct cold keys run their own computes (no global serialization):
    # same entity, different feature_names -> different cache keys
    computes.clear()

    def hit_named(entity):
        results.append(fs.serve_vector(entity, ["total_spend"]).features)

    threads = [
        threading.Thread(target=t_fn, args=("u2",))
        for t_fn in (hit, hit, hit_named, hit_named)
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors and computes == ["u2", "u2"]

    # a miss (unknown entity) propagates to leader AND followers, and the
    # flight slot clears so later requests retry fresh
    computes.clear()
    threads = [threading.Thread(target=hit, args=("nope",)) for _ in range(4)]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert len(errors) == 4 and all(isinstance(e, NotFoundError) for e in errors)
    assert computes == ["nope"]
    with __import__("pytest").raises(NotFoundError):
        fs.serve_vector("nope")
    assert computes == ["nope", "nope"]  # retried, not stuck


def test_serve_vector_counts_each_cache_probe_once(fs):
    """A cold serve is one miss and a warm serve one hit: the re-probe
    under the single-flight slot must not count the request twice."""
    _, f = _setup_feature(fs)
    fs.compute_version(f.id, "v1.0", DATA, entity_id_column="id")
    fs.cache.clear()
    fs.cache.hits = fs.cache.misses = 0
    fs.serve_vector("u1")
    fs.serve_vector("u1")
    assert (fs.cache.hits, fs.cache.misses) == (1, 1)


def test_manifest_entity_range_file_skipping(spark, tmp_path):
    """Round-8 data skipping: segments record per-file entity [min,max],
    and point/IN-list reads drop files whose range excludes every
    requested id — without opening a single parquet footer. Appends are
    range-disjoint (write-side repartitionByRange + sort), so a point
    lookup on a version built from k appends opens ~one file, not all."""
    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    # three appends over disjoint entity populations -> 3 files, 3 ranges
    for lo in (0, 100, 200):
        rows = [(f"{i:04d}", str(i)) for i in range(lo, lo + 100)]
        df = spark.createDataFrame(rows, "entity_id string, value string").coalesce(1)
        store.write_values(11, df)

    all_files = store._manifest_files(11)
    assert len(all_files) == 3
    segs = store._read_segments(11)
    assert all("entity_ranges" in s for s in segs.values())

    pruned = store._manifest_files(11, entity_ids=["0150"])
    assert len(pruned) == 1
    # pruning never changes results, only the scan
    got = store.point_lookup(11, "0150").collect()
    assert len(got) == 1 and got[0]["value"] == "150"
    full = store.values_for_version(11).filter("entity_id = '0150'").collect()
    assert [r["value"] for r in got] == [r["value"] for r in full]
    # an id outside every range reads zero files and zero rows
    assert store._manifest_files(11, entity_ids=["9999"]) == []
    assert store.point_lookup(11, "9999").count() == 0
    # IN-list across two appends' ranges opens exactly those two files
    assert len(store._manifest_files(11, entity_ids=["0001", "0250"])) == 2


def test_entity_skipping_multi_partition_append_and_compaction(spark, tmp_path):
    """One MULTI-partition append range-partitions before writing, so even
    a single append's files are disjoint; compaction repartitionByRange
    keeps ranges disjoint after the rewrite. Both proved by pruning to a
    strict file subset while results stay identical."""
    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    rows = [(f"{i:05d}", str(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "entity_id string, value string").repartition(4)
    # the write's range shuffle is AQE-coalesced to data size (a small
    # append = one file); shrink the advisory so this small frame still
    # fans into several files and the within-append disjointness shows
    adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    mps = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8kb")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1kb")
    try:
        store.write_values(3, df)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", mps)

    n_all = len(store._manifest_files(3))
    assert n_all > 1
    assert len(store._manifest_files(3, entity_ids=["00042"])) == 1
    assert store.point_lookup(3, "00042").collect()[0]["value"] == "42"

    # force a multi-file compaction; ranges must survive the rewrite
    compact_version_partition(spark, store.path, 3, target_file_bytes=8 * 1024)
    n_after = len(store._manifest_files(3))
    assert n_after > 1
    pruned_after = store._manifest_files(3, entity_ids=["00042"])
    assert len(pruned_after) == 1
    assert store.point_lookup(3, "00042").collect()[0]["value"] == "42"
    assert store.values_for_version(3).count() == 2000


def test_entity_skipping_backcompat_statless_segments(spark, tmp_path):
    """Segments WITHOUT recorded ranges (pre-round-8 stores) are never
    pruned: correctness is unconditional, skipping is an upgrade."""
    import json
    import os

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    df = spark.createDataFrame(
        [("e1", "1"), ("e2", "2")], "entity_id string, value string"
    ).coalesce(1)
    store.write_values(5, df)
    # simulate an old segment: strip the recorded ranges on disk
    seg_dir = store._segment_dir(5)
    for name in os.listdir(seg_dir):
        if name.endswith(".json"):
            p = os.path.join(seg_dir, name)
            with open(p) as f:
                doc = json.load(f)
            doc.pop("entity_ranges", None)
            with open(p, "w") as f:
                json.dump(doc, f)
    assert len(store._manifest_files(5, entity_ids=["zzz-not-there"])) == 1
    assert store.point_lookup(5, "e1").collect()[0]["value"] == "1"


def test_python_xxhash64_matches_spark(spark):
    """The snapshot router's driver-side XXH64 must be bit-identical to
    Spark's xxhash64 expression (seed 42, UTF-8 bytes) — every length
    class of the algorithm (empty, <4, <8, 8-31, >=32 bytes, unicode)."""
    from pyspark.sql import functions as F

    from feature_store_implementation_spark.serving.online_snapshot import (
        snapshot_shard,
        xxhash64,
    )

    keys = [
        "",
        "a",
        "abc",
        "abcdefg",
        "entity-0042",
        "x" * 31,
        "y" * 32,
        "z" * 100,
        "naïve-ключ-键",
        "e003",
    ]
    got = {
        r["k"]: (r["h"], r["s"])
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            F.xxhash64("k").alias("h"),
            F.pmod(F.xxhash64("k"), F.lit(7)).alias("s"),
        )
        .collect()
    }
    for k in keys:
        assert xxhash64(k.encode("utf-8")) == got[k][0], k
        assert snapshot_shard(k, 7) == got[k][1], k


def test_lookup_online_snapshot_parity_with_serve_vector(fs, tmp_path):
    """The exported snapshot SERVES: lookup_online_snapshot routes to one
    shard file with no Spark job and returns the same features
    serve_vector computes through the batch tier; unknown keys miss."""
    import pytest

    from feature_store_implementation_spark.serving.online_snapshot import (
        lookup_online_snapshot,
    )

    t = fs.register_raw_table("t_srv", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt2", t.id, "SUM(amount)", "numeric")
    fs.compute_version(
        f.id, "v1.0", [{"id": f"e{i:03d}", "amount": float(i)} for i in range(50)]
    )
    out = str(tmp_path / "snap2")
    fs.export_online_snapshot(out, n_shards=4)

    sc = fs.spark.sparkContext
    for eid in ("e000", "e007", "e031", "e049"):
        expected = fs.serve_vector(eid).features  # batch tier (runs jobs)
        jobs_before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
        vec = lookup_online_snapshot(out, eid)
        jobs_after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
        assert vec.entity_id == eid
        assert vec.features == expected
        assert jobs_after == jobs_before  # the lookup ran NO Spark job
    with pytest.raises(KeyError):
        lookup_online_snapshot(out, "no-such-entity")
    # feature_names projection
    vec = lookup_online_snapshot(out, "e010", feature_names=["amt2"])
    assert set(vec.features) == {"amt2"}


def test_compact_lock_dead_holder_autoclears_live_holder_excludes(fs, spark, tmp_path):
    """A compactor killed mid-run leaves .compact.lock behind; the next
    compaction must auto-clear it when its recorded pid is a LOCAL dead
    process (and still fail fast on a live holder) — otherwise the
    version's small-file debt grows unbounded until manual cleanup."""
    import os
    import subprocess

    import pytest

    from feature_store_implementation_spark.store.materialize import (
        compact_incremental_feature,
        update_incremental_feature,
    )

    t = fs.register_raw_table("t_lk", {"required_columns": ["id", "v"]})
    f = fs.create_feature("lkf", t.id, "SUM(v)", "numeric")
    ver = fs.catalog.create_version(f.id, "v1", status="active")
    for batch in ([{"id": "x", "v": 1.0}], [{"id": "x", "v": 2.0}]):
        update_incremental_feature(
            fs.store, ver.id, spark.createDataFrame(batch), "id", "v"
        )
    lock = os.path.join(fs.store._segment_dir(ver.id), ".compact.lock")

    proc = subprocess.Popen(["true"])  # a dead local pid
    proc.wait()
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    with open(lock, "w") as lf:
        lf.write(f"{proc.pid}\n{os.uname().nodename}")
    assert compact_incremental_feature(fs.store, ver.id) == 1  # auto-cleared
    assert not os.path.exists(lock)

    with open(lock, "w") as lf:  # a LIVE holder still excludes
        lf.write(f"{os.getpid()}\n{os.uname().nodename}")
    with pytest.raises(RuntimeError, match="in flight"):
        compact_incremental_feature(fs.store, ver.id)

    # a dead-locally pid recorded by ANOTHER host stays (shared-filesystem
    # deployment: it may be a live remote holder kill(0) cannot probe)
    with open(lock, "w") as lf:
        lf.write(f"{proc.pid}\nsome-other-host")
    with pytest.raises(RuntimeError, match="some-other-host"):
        compact_incremental_feature(fs.store, ver.id)
    os.remove(lock)


def test_serve_matrix_as_of_pins_version_resolution(fs, spark):
    """as_of must pin which versions RESOLVE, not just which value files
    are visible: after a NEWER version activates, the latest-active
    window would otherwise pick it, and the as_of storage snapshot would
    then filter out all its (later-committed) segments — reproducing the
    export as an all-NULL column instead of the old version's values."""
    import time

    t = fs.register_raw_table("t_asofres", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_res", t.id, "SUM(amount)", "numeric")
    fs.compute_version(f.id, "v1.0", [{"id": "e1", "amount": 2.0}])
    before = sorted(map(tuple, fs.serve_matrix().collect()))
    t_snap = time.time()
    time.sleep(0.05)
    fs.compute_version(f.id, "v2.0", [{"id": "e1", "amount": 99.0}])

    now = {(r["entity_id"], r["amt_res"]) for r in fs.serve_matrix().collect()}
    assert now == {("e1", "99.0")}  # latest-active really is v2 now
    past = sorted(map(tuple, fs.serve_matrix(as_of=t_snap).collect()))
    assert past == before  # byte-identical to the matrix exported at t_snap


def test_serve_vector_numeric_entity_id_is_string_keyed(fs):
    """The store is string-keyed; a numeric id from a JSON body must probe
    as its string form. Unnormalized, F.col('entity_id') == 7 numerically
    coerces the column — stored entity '007' also matches 7 — while
    manifest pruning compares str(7)'s bytes: wrong AND pruning-dependent
    results."""
    t = fs.register_raw_table("t_numid", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_num", t.id, "SUM(amount)", "numeric")
    fs.compute_version(
        f.id,
        "v1.0",
        [{"id": "7", "amount": 1.0}, {"id": "007", "amount": 2.0}],
    )
    assert fs.serve_vector("7").features == {"amt_num": 1.0}
    assert fs.serve_vector("007").features == {"amt_num": 2.0}
    assert fs.serve_vector(7).features == {"amt_num": 1.0}  # not 007's


def test_catalog_row_reads_refresh_cross_process(fs):
    """A read-only catalog instance (second service process) must see
    metadata another instance committed after it started: r9 gave df()
    the mtime reload gate; the dataclass-row read paths (get_feature,
    list_*, get_version — the GET routes and the compute-route FK
    pre-check) need the same gate or they 404 forever (review r10)."""
    from feature_store_implementation_spark.registry.catalog import Catalog

    reader = Catalog(fs.catalog.root)  # started BEFORE the writes below
    assert reader.list_features() == []

    t = fs.register_raw_table("t_xproc", {"required_columns": ["id", "v"]})
    f = fs.create_feature("f_xproc", t.id, "SUM(v)", "numeric")
    v = fs.catalog.create_version(f.id, "v1")

    assert reader.get_raw_table(t.id).name == "t_xproc"
    assert reader.get_feature(f.id).name == "f_xproc"
    assert reader.get_feature_by_name("f_xproc").id == f.id
    assert [r.id for r in reader.list_features()] == [f.id]
    assert reader.get_version(v.id).version == "v1"
    assert [x.id for x in reader.list_versions(f.id)] == [v.id]


def test_serve_matrix_as_of_excludes_inflight_pending_version(fs, spark):
    """computed_at is stamped at PENDING creation — a version in-flight at
    the export instant (created before, activated after) must NOT resolve
    under replay, or its later-committed segments are all filtered by the
    storage snapshot and the feature's column comes back NULL (review
    r10). Resolution pins on activated_at."""
    import time

    t = fs.register_raw_table("t_inflight", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_if", t.id, "SUM(amount)", "numeric")
    fs.compute_version(f.id, "v1.0", [{"id": "e1", "amount": 2.0}])
    before = sorted(map(tuple, fs.serve_matrix().collect()))

    # v2 is ALREADY PENDING when the export instant passes...
    row = fs.catalog.create_version(f.id, "v2.0", status="pending")
    t_snap = time.time()
    time.sleep(0.05)
    # ...then its values land and it activates, strictly after t_snap
    vals = spark.createDataFrame([("e1", "99.0")], "entity_id string, value string")
    fs.store.write_values(row.id, vals)
    fs.catalog.set_version_status(row.id, "active")

    assert {r["amt_if"] for r in fs.serve_matrix().collect()} == {"99.0"}
    past = sorted(map(tuple, fs.serve_matrix(as_of=t_snap).collect()))
    assert past == before  # v1's values, not an all-NULL v2 column


def test_catalog_refresh_survives_same_mtime_rewrite(fs):
    """The reload gate must not trust mtime alone: two back-to-back
    flushes can land within one coarse-clock granule, and a reader that
    statted between them would cache the stamp and serve the first
    write's rows forever. _flush replaces the file (fresh inode), so the
    (mtime, inode) stamp reloads even when mtime ties (review r10)."""
    import os

    from feature_store_implementation_spark.registry.catalog import Catalog

    reader = Catalog(fs.catalog.root)
    t = fs.register_raw_table("t_granule", {"required_columns": ["id"]})
    a = fs.create_feature("f_gran_a", t.id, "SUM(id)", "numeric")
    assert reader.get_feature(a.id).name == "f_gran_a"  # reader stamps here
    st_a = os.stat(reader._path("features"))

    b = fs.create_feature("f_gran_b", t.id, "SUM(id)", "numeric")
    # simulate the coarse-clock tie: second flush, same mtime as the first
    os.utime(fs.catalog._path("features"), ns=(st_a.st_atime_ns, st_a.st_mtime_ns))
    assert reader.get_feature(b.id).name == "f_gran_b"  # inode breaks the tie


def test_point_lookup_numeric_id_string_keyed_at_store_boundary(fs, spark):
    """Entity-id normalization lives in the STORE, not just serve_vector:
    point_lookup(vid, 7) must match entity '7' exactly, never '007' via
    numeric coercion of the string column (review r10)."""
    t = fs.register_raw_table("t_ptnum", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_pt", t.id, "SUM(amount)", "numeric")
    v = fs.compute_version(
        f.id, "v1.0", [{"id": "7", "amount": 1.0}, {"id": "007", "amount": 2.0}]
    )
    got = fs.store.point_lookup(v.id, 7).select("entity_id", "value").collect()
    assert [(r["entity_id"], r["value"]) for r in got] == [("7", "1.0")]


def test_snapshot_preserves_stored_null_values(fs, spark, tmp_path):
    """A STORED null value is data ('NULL must stay NULL', codec): the
    export encodes it as the codec string 'null' so the lookup tier
    returns {'f': None} with 200 — exactly serve_vector's shape — instead
    of conflating it with 'entity lacks the feature' and 404ing (review
    r10)."""
    from feature_store_implementation_spark.serving.online_snapshot import (
        lookup_online_snapshot,
    )

    t = fs.register_raw_table("t_nullval", {"required_columns": ["id", "amount"]})
    f = fs.create_feature("amt_nv", t.id, "SUM(amount)", "numeric")
    v = fs.compute_version(f.id, "v1.0", [{"id": "e1", "amount": 3.0}])
    # e2's value is a LEGITIMATE stored NULL (e.g. a null computation result)
    fs.store.write_values(
        v.id,
        spark.createDataFrame([("e2", None)], "entity_id string, value string"),
    )
    assert fs.serve_vector("e2").features == {"amt_nv": None}

    out = str(tmp_path / "snap_null")
    fs.export_online_snapshot(out, n_shards=2)
    vec = lookup_online_snapshot(out, "e2")
    assert vec.features == {"amt_nv": None}  # present, null — not a 404
    assert lookup_online_snapshot(out, "e1").features == {"amt_nv": 3.0}


def test_pandas_by_entity_null_entity_and_error_contract(fs, spark):
    """Two review-r10 engine fixes: (1) a NULL entity key stays NULL in the
    pandas_by_entity form instead of becoming the phantom string 'None'
    (the aggregate form emits NULL for the same data — the two forms must
    agree); (2) a ComputationError raised INSIDE the per-group program
    (on executors, surfacing as PythonException at action time) is
    re-wrapped to the contract type by compute_version, so the HTTP layer's
    ComputationError → 500 mapping still fires."""
    from feature_store_implementation_spark.compute.engine import compute_feature
    from feature_store_implementation_spark.errors import ComputationError

    df = spark.createDataFrame(
        [(None, 1.0), ("a", 2.0), ("a", 3.0)], "id string, amount double"
    )
    by_ent = {
        r["entity_id"]: r["value"]
        for r in compute_feature(
            df, "pandas_by_entity:result = df['amount'].sum()", "id"
        ).collect()
    }
    agg = {
        r["entity_id"]: float(r["value"])
        for r in compute_feature(df, "SUM(amount)", "id").collect()
    }
    assert set(by_ent) == set(agg) == {None, "a"}  # no phantom 'None' key
    assert by_ent[None] == agg[None] == 1.0
    assert by_ent["a"] == agg["a"] == 5.0

    rt = fs.register_raw_table("t_pberr", {"required_columns": ["id", "amount"]})
    bad = fs.create_feature(
        "f_pberr", rt.id, "pandas_by_entity:result = pd.Series(['abc'])", "numeric"
    )
    with pytest.raises(ComputationError, match="non-numeric"):
        fs.compute_version(bad.id, "v1", [{"id": "a", "amount": 1.0}])
    assert fs.catalog.list_pending() == []  # compensating delete still ran


def test_delete_rows_prunes_rewrites_and_erases(spark, tmp_path):
    """Row-level delete (GDPR erasure): only files whose entity_ranges can
    contain the targets are rewritten; untouched files keep their exact
    names (never rewritten); results match a full filter; an as-of read
    from before the delete still resolves the pre-delete snapshot until
    purge/vacuum."""
    import os
    import time

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    for lo in (0, 100, 200):
        rows = [(f"{i:04d}", str(i)) for i in range(lo, lo + 100)]
        df = spark.createDataFrame(rows, "entity_id string, value string").coalesce(1)
        store.write_values(7, df)
    before = time.time()
    files_before = store._manifest_files(7)
    assert len(files_before) == 3
    affected = set(store._manifest_files(7, entity_ids=["0150", "0151"]))
    assert len(affected) == 1  # ranges prune to the 0100-0199 file

    rep = store.delete_rows(7, entity_ids=["0150", "0151"])
    assert rep["deleted_rows"] == 2
    assert rep["rewritten_files"] == 1
    assert rep["untouched_files"] == 2
    files_after = set(store._manifest_files(7))
    # the two untouched files survive BY NAME (no rewrite); the affected
    # file left the live set, replaced by new survivor file(s)
    assert set(files_before) - affected <= files_after
    assert not (affected & files_after)
    assert store.values_for_version(7).filter(
        "entity_id IN ('0150','0151')"
    ).count() == 0
    assert store.values_for_version(7).count() == 298
    # pre-delete snapshot still resolves the deleted rows (purge=False)
    asof = store.values_for_version_as_of(7, before)
    assert asof.filter("entity_id = '0150'").count() == 1


def test_delete_rows_where_predicate_and_purge(spark, tmp_path):
    import os

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    rows = [(f"e{i:03d}", str(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "entity_id string, value string").coalesce(1)
    store.write_values(3, df)
    old_files = store._manifest_files(3)

    rep = store.delete_rows(3, where="CAST(value AS INT) % 2 = 0", purge=True)
    assert rep["deleted_rows"] == 100
    assert rep["purged_files"] == old_files  # physical erasure, immediate
    for rf in old_files:
        assert not os.path.exists(os.path.join(store.path, rf))
    vals = store.values_for_version(3)
    assert vals.count() == 100
    assert vals.filter("CAST(value AS INT) % 2 = 0").count() == 0


def test_delete_rows_guards_and_noops(spark, tmp_path):
    import pytest

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    with pytest.raises(ValueError, match="drop_version_values"):
        store.delete_rows(1)
    # empty store: structured no-op
    rep = store.delete_rows(1, entity_ids=["x"])
    assert rep == {
        "deleted_rows": 0,
        "rewritten_files": 0,
        "untouched_files": 0,
        "new_files": 0,
        "purged_files": [],
    }
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "entity_id string, value string"
    ).coalesce(1)
    store.write_values(1, df)
    # target outside every range: no rewrite, no commit
    rep = store.delete_rows(1, entity_ids=["zzz"])
    assert rep["deleted_rows"] == 0 and rep["new_files"] == 0
    assert store.values_for_version(1).count() == 2


def test_delete_rows_concurrent_append_is_never_lost(spark, tmp_path):
    """An append landing between the delete's snapshot and its commit keeps
    its own segment: the delete supersedes only the snapshot it rewrote,
    so the interleaved rows — even for a just-deleted subject — remain
    visible (they are NEW data, post-erasure)."""
    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    df = spark.createDataFrame(
        [(f"k{i}", str(i)) for i in range(10)], "entity_id string, value string"
    ).coalesce(1)
    store.write_values(9, df)

    def interleaved_append():
        late = spark.createDataFrame(
            [("k3", "REBORN"), ("new", "n")], "entity_id string, value string"
        ).coalesce(1)
        store.write_values(9, late)

    rep = store.delete_rows(9, entity_ids=["k3"], _before_commit=interleaved_append)
    assert rep["deleted_rows"] == 1
    vals = {r["entity_id"]: r["value"] for r in store.values_for_version(9).collect()}
    assert vals.get("k3") == "REBORN" and vals.get("new") == "n"
    assert len(vals) == 11  # 10 - 1 deleted + 2 appended


def test_count_for_version_is_metadata_only_and_exact(spark, tmp_path):
    """COUNT(*) from manifest row_counts: exact across appends, delete,
    compaction, and as-of snapshots — and answered WITHOUT planning a
    scan (proven by poisoning _read_files)."""
    import time

    from feature_store_implementation_spark.store.offline import (
        OfflineStore,
        compact_version_partition,
    )

    store = OfflineStore(spark, str(tmp_path / "values"))
    for lo in (0, 100):
        rows = [(f"{i:04d}", str(i)) for i in range(lo, lo + 50)]
        df = spark.createDataFrame(rows, "entity_id string, value string").coalesce(1)
        assert store.write_values(4, df) == lo // 2 + 50
    before_delete = time.time()
    assert store.count_for_version(4) == 100

    store.delete_rows(4, entity_ids=["0010", "0110"])
    assert store.count_for_version(4) == 98
    assert store.count_for_version(4, as_of=before_delete) == 100

    compact_version_partition(spark, store.path, 4)
    assert store.count_for_version(4) == 98
    # all of the above equal the scan truth
    assert store.values_for_version(4).count() == 98

    # the stat path never touches data files
    def poisoned(_rel):
        raise AssertionError("count_for_version planned a scan")

    store._read_files = poisoned
    assert store.count_for_version(4) == 98
    assert store.count_for_version(5) == 0  # never written: no segment


def test_count_for_version_falls_back_on_statless_segments(spark, tmp_path):
    """A segment missing row_counts (hand-edited / pre-round-10) forces the
    scan fallback — exactness beats the shortcut."""
    import json
    import os

    from feature_store_implementation_spark.store.offline import OfflineStore

    store = OfflineStore(spark, str(tmp_path / "values"))
    df = spark.createDataFrame(
        [(f"e{i}", str(i)) for i in range(30)], "entity_id string, value string"
    ).coalesce(1)
    store.write_values(2, df)
    seg_dir = store._segment_dir(2)
    for n in os.listdir(seg_dir):
        if n.endswith(".json"):
            p = os.path.join(seg_dir, n)
            doc = json.load(open(p))
            doc.pop("row_counts", None)
            json.dump(doc, open(p, "w"))
    assert store.count_for_version(2) == 30  # scan fallback, still exact

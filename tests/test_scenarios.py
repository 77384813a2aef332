"""F5 golden scenario tests (FIXTURES.md) — event sequences → expected state."""

import pytest

from dataplatform_cdc_pipeline_spark.engine import run_merge
from tests.helpers import bronze, pipeline, state


def merge(spark, rows, window=(None, None), deterministic=True, **cfg_kwargs):
    cfg, target, audit = pipeline(spark, **cfg_kwargs)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, rows), window=window,
              deterministic_audit=deterministic)
    return cfg, target, audit


# F5.1 insert-only
def test_insert_only(spark):
    _, target, _ = merge(spark, [("c", 1, 1, 1, 1.0), ("c", 2, 2, 2, 2.0)])
    assert state(target) == [(1, 1.0), (2, 2.0)]


# F5.2 insert-then-update in window → only newest survives (W1)
def test_insert_then_update(spark):
    _, target, _ = merge(spark, [("c", 1, 1, 1, 1.0), ("u", 2, 2, 1, 9.0)])
    assert state(target) == [(1, 9.0)]


# F5.3 update-then-delete → deleted (J2 delete newer)
def test_update_then_delete(spark):
    _, target, _ = merge(spark, [("u", 1, 1, 1, 1.0), ("d", 2, 2, 1, 0.0)])
    assert state(target) == []


# F5.4 delete-then-reinsert → present (upsert newer)
def test_delete_then_reinsert(spark):
    _, target, _ = merge(spark, [("d", 1, 1, 1, 0.0), ("c", 2, 2, 1, 7.0)])
    assert state(target) == [(1, 7.0)]


# F5.5 delete of never-seen key → no-op
def test_lone_delete(spark):
    _, target, _ = merge(spark, [("d", 1, 1, 99, 0.0)])
    assert state(target) == []


# F5.6 tiebreak by __source_pos at equal __ts_ns → higher pos wins
def test_pos_tiebreak(spark):
    _, target, _ = merge(spark, [("c", 5, 1, 1, 1.0), ("u", 5, 2, 1, 2.0)])
    assert state(target) == [(1, 2.0)]


# F5.7 out-of-window events ignored, picked up next run
def test_out_of_window(spark):
    import datetime

    cfg, target, audit = pipeline(spark)
    rows = [("c", 1, 1, 1, 1.0), ("u", 2, 100, 1, 9.0)]  # pos drives load_ts offset
    split = datetime.datetime(2024, 1, 1, 0, 0, 50)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, rows), window=(None, split),
              deterministic_audit=True)
    assert state(target) == [(1, 1.0)]
    # next run picks up from the watermark (= max load_ts processed, step-8:493)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, rows), deterministic_audit=True)
    assert state(target) == [(1, 9.0)]


# F5.8 replay/duplicate batch → idempotent
def test_replay_idempotent(spark):
    rows = [("c", 1, 1, 1, 1.0), ("d", 2, 2, 2, 0.0)]
    cfg, target, audit = merge(spark, rows)
    before = state(target)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, rows), window=(None, None),
              deterministic_audit=True)
    assert state(target) == before


# F5.9 cross-batch late update: reference default overwrites; strict rejects
@pytest.mark.parametrize("strict,expected", [(False, 1.0), (True, 5.0)])
def test_cross_batch_late_update(spark, strict, expected):
    cfg, target, audit = pipeline(spark, strict_ts_guard=strict)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, [("u", 5, 1, 1, 5.0)]),
              window=(None, None), deterministic_audit=True)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, [("u", 1, 2, 1, 1.0)]),
              window=(None, None), deterministic_audit=True)
    assert state(target) == [(1, expected)]


# F5.12 inactive config → zero side effects
def test_inactive(spark):
    cfg, target, audit = pipeline(spark, is_active=0)
    res = run_merge(spark, cfg, target, audit, raw=bronze(spark, [("c", 1, 1, 1, 1.0)]))
    assert res["status"] == "SKIPPED_INACTIVE"
    assert not target.exists()


# F5.13 failure rollback: poison row → FAILED audit, target unchanged, re-raise
def test_failure_rollback(spark):
    import datetime

    cfg, target, audit = merge(spark, [("c", 1, 1, 1, 1.0)])
    poison = spark.createDataFrame(
        [('{"__op":"c","__ts_ns":"1000","__source_pos":"1","user_id":"boom"}',
          datetime.datetime(2024, 2, 1))],
        "data string, load_ts timestamp",
    )
    with pytest.raises(Exception):
        run_merge(spark, cfg, target, audit, raw=poison, window=(None, None),
                  deterministic_audit=True)
    assert state(target) == [(1, 1.0)]
    statuses = [r["run_status"] for r in audit.history().collect()]
    assert "FAILED" in statuses


# step-6 fidelity: matched 'c' does not update
def test_update_only_op_u(spark):
    cfg, target, audit = pipeline(spark, update_only_op_u=True)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, [("c", 1, 1, 1, 1.0)]),
              window=(None, None), deterministic_audit=True)
    run_merge(spark, cfg, target, audit, raw=bronze(spark, [("c", 2, 2, 1, 99.0)]),
              window=(None, None), deterministic_audit=True)
    assert state(target) == [(1, 1.0)]
    # but a 'u' does update
    run_merge(spark, cfg, target, audit, raw=bronze(spark, [("u", 3, 3, 1, 42.0)]),
              window=(None, None), deterministic_audit=True)
    assert state(target) == [(1, 42.0)]


# unified vs two-stream fidelity plans agree on a mixed batch
def test_two_stream_equivalence(spark):
    rows = [
        ("c", 10, 1, 1, 1.0), ("u", 20, 2, 1, 2.0),
        ("d", 15, 3, 2, 0.0), ("c", 10, 4, 2, 9.0),
        ("d", 30, 5, 3, 0.0),
        ("c", 5, 6, 4, 4.0), ("d", 50, 7, 4, 0.0), ("c", 60, 8, 4, 44.0),
    ]
    _, t_unified, _ = merge(spark, rows)
    _, t_fidelity, _ = merge(spark, rows, two_stream_fidelity=True)
    assert state(t_unified) == state(t_fidelity) == [(1, 2.0), (4, 44.0)]


# S1: config-table lookup (point SELECT … LIMIT 1, step-5.sql:91-131)
def test_config_table_lookup(spark, tmp_path):
    import json

    rows = [
        {"cdc_table": "bronze.widgets_cdc", "target_database": "silver",
         "target_table": "widgets", "pk": "id,tenant_id", "epoc_cols": "created_s",
         "is_active": 1},
        {"cdc_table": "bronze.other_cdc", "target_database": "silver",
         "target_table": "other", "pk": "id", "is_active": 0},
    ]
    p = tmp_path / "config_file5.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))

    from dataplatform_cdc_pipeline_spark.config import lookup_config

    cfg = lookup_config(spark, str(p), "silver", "widgets")
    assert cfg.pk == ("id", "tenant_id") and cfg.epoc_cols == ("created_s",)
    assert cfg.is_active is True
    cfg2 = lookup_config(spark, str(p), "silver", "other", cdc_table="bronze.other_cdc")
    assert cfg2.is_active is False

    import pytest as _pt

    with _pt.raises(LookupError):
        lookup_config(spark, str(p), "silver", "missing")


# skew escape hatch: salted two-phase dedup ≡ plain dedup
def test_salted_dedup_equivalence(spark):
    import json as _json
    import datetime as _dt

    from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key
    from pyspark.sql import functions as F

    # hot key 1 gets 500 events; keys 2-20 get a few each
    rows = []
    pos = 0
    for uid, n in [(1, 500)] + [(i, 5) for i in range(2, 21)]:
        for _ in range(n):
            pos += 1
            rows.append((uid, pos % 37, pos, float(pos)))
    df = spark.createDataFrame(rows, "user_id long, ts long, pos long, value double")

    plain = latest_per_key(df, ["user_id"], ts_col="ts", pos_col="pos")
    salted = latest_per_key(df, ["user_id"], ts_col="ts", pos_col="pos", salt_buckets=8)
    p = sorted(map(tuple, plain.collect()))
    s = sorted(map(tuple, salted.collect()))
    assert p == s and len(p) == 20


# bronze source formats: parquet / json / csv / orc all feed the same merge
def test_bronze_source_formats(spark, tmp_path):
    from dataplatform_cdc_pipeline_spark.sources.cdc import read_cdc_batch

    raw = bronze(spark, [("c", 1, 1, 1, 1.0), ("u", 2, 2, 1, 9.0)])
    base = str(tmp_path)
    raw.write.parquet(f"{base}/b.parquet")
    raw.write.json(f"{base}/b.jsonl")
    raw.write.option("header", "true").csv(f"{base}/b.csv")
    raw.write.orc(f"{base}/b.orc")

    expected = sorted((r["data"], r["load_ts"]) for r in raw.collect())
    for path in (f"{base}/b.parquet", f"{base}/b.jsonl", f"{base}/b.csv", f"{base}/b.orc"):
        df = read_cdc_batch(spark, path, schema="data string, load_ts timestamp")
        got = sorted((r["data"], r["load_ts"]) for r in df.collect())
        assert got == expected, path


# audit-table compaction: run files collapse, content + watermark preserved
def test_audit_compaction(spark):
    import glob

    cfg, target, audit = pipeline(spark)
    for i in range(4):
        run_merge(spark, cfg, target, audit,
                  raw=bronze(spark, [("u", i + 1, i + 1, 1, float(i))]),
                  window=(None, None), deterministic_audit=True)
    before_rows = sorted((r["id"], r["run_status"]) for r in audit.history().collect())
    wm_before = audit.read_watermark(cfg.cdc_table, cfg.target_table)
    files_before = len(glob.glob(f"{audit.path}/*.parquet"))

    n = audit.compact()
    assert n == 4
    files_after = len(glob.glob(f"{audit.path}/*.parquet"))
    assert files_after < files_before and files_after == 1
    assert sorted((r["id"], r["run_status"]) for r in audit.history().collect()) == before_rows
    assert audit.read_watermark(cfg.cdc_table, cfg.target_table) == wm_before


# physical dedup strategies agree: agg (map-side combine, unified plan) vs
# window (ranked latest_per_key, two-stream fidelity plan)
def test_dedup_strategy_equivalence(spark):
    rows = []
    pos = 0
    for uid in range(1, 30):
        for j in range(uid % 7 + 1):  # varying updates per key
            pos += 1
            op = "d" if (uid + j) % 11 == 0 else ("c" if j == 0 else "u")
            rows.append((op, pos * 10, pos, uid, float(pos)))
    _, t_agg, _ = merge(spark, rows)
    _, t_win, _ = merge(spark, rows, two_stream_fidelity=True)
    assert state(t_agg) == state(t_win)


# S1 via parquet-format config table
def test_config_table_lookup_parquet(spark, tmp_path):
    from dataplatform_cdc_pipeline_spark.config import lookup_config

    spark.createDataFrame(
        [("bronze.w", "silver", "widgets", "id", 1, "created_s")],
        "cdc_table string, target_database string, target_table string, "
        "pk string, is_active int, epoc_cols string",
    ).write.parquet(f"{tmp_path}/cfg")
    cfg = lookup_config(spark, f"{tmp_path}/cfg", "silver", "widgets")
    assert cfg.pk == ("id",) and cfg.epoc_cols == ("created_s",) and cfg.is_active


def test_dual_audit_tables(spark):
    """The epilogue writes BOTH reference audit tables (step-8:572-626):
    etl_job_log_incremental_date (window/counts) and etl_job_log (run
    timing/status), linked by run_id."""
    import pytest

    from dataplatform_cdc_pipeline_spark.engine import run_merge

    cfg, target, audit = pipeline(spark)
    res = run_merge(spark, cfg, target, audit,
                    raw=bronze(spark, [("c", 1, 1, 1, 1.0), ("d", 2, 2, 2, 2.0)]),
                    window=(None, None), deterministic_audit=True)
    inc = audit.history().collect()
    jl = audit.job_log().collect()
    assert len(inc) == 1 and len(jl) == 1
    assert jl[0]["run_id"] == inc[0]["id"] == res["run_id"]
    assert jl[0]["proc_name"] == "sp_cdc_merge_job"
    assert jl[0]["run_status"] == "SUCCESS"
    assert jl[0]["start_time"] <= jl[0]["end_time"]
    assert (jl[0]["records_inserted"], jl[0]["records_deleted"]) == (1, 1)
    assert (inc[0]["records_inserted"], inc[0]["records_deleted"]) == (1, 1)

    # failed run -> FAILED row in both tables, error_msg captured
    bad = bronze(spark, [("c", 1, 3, 3, 3.0)]).selectExpr(
        "replace(data, '\"value\": 3.0', '\"value\": \"boom\"') AS data", "load_ts")
    with pytest.raises(Exception):
        run_merge(spark, cfg, target, audit, raw=bad, window=(None, None),
                  deterministic_audit=True)
    jl2 = {r["run_status"] for r in audit.job_log().collect()}
    inc2 = {r["run_status"] for r in audit.history().collect()}
    assert jl2 == {"SUCCESS", "FAILED"} and inc2 == {"SUCCESS", "FAILED"}
    failed = [r for r in audit.job_log().collect() if r["run_status"] == "FAILED"][0]
    assert failed["error_msg"] and "boom" in failed["error_msg"]


def test_commit_manifest_crash_detection(spark):
    """The bucket-swap commit writes a manifest before the first swap and
    removes it after the last: a mid-swap crash is detectable via
    pending_commit() and flagged (then reconverged) on the next merge."""
    import json
    import logging
    import os

    from dataplatform_cdc_pipeline_spark.engine import run_merge

    cfg, target, audit = pipeline(spark)
    run_merge(spark, cfg, target, audit,
              raw=bronze(spark, [("c", 1, 1, 1, 1.0)]), window=(None, None),
              deterministic_audit=True)
    assert target.pending_commit() is None  # clean commit removed it

    # simulate a crash that left the manifest behind
    with open(os.path.join(target.path, target.MANIFEST), "w") as f:
        json.dump({"staging": "gone", "buckets": [0]}, f)
    assert target.pending_commit() == {"staging": "gone", "buckets": [0]}

    logger = logging.getLogger("dataplatform_cdc_pipeline_spark.merge_target")
    records = []
    h = logging.Handler()
    h.emit = records.append
    logger.addHandler(h)
    try:
        run_merge(spark, cfg, target, audit,
                  raw=bronze(spark, [("u", 2, 2, 1, 9.0)]), window=(None, None),
                  deterministic_audit=True)
    finally:
        logger.removeHandler(h)
    assert any("crashed mid-swap" in r.getMessage() for r in records)
    assert target.pending_commit() is None  # reconverged, manifest cleared
    assert state(target) == [(1, 9.0)]


def test_per_source_audit_naming(spark, tmp_path):
    """Reference fidelity flag: one incremental-date table PER SOURCE, named
    ETL_JOB_LOG_INCREMENTAL_DATE_<prefix>_<table> (merge.sql:460, 520-521),
    vs the engine's default single keyed table (COVERAGE.md §2.6)."""
    import os

    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA, user_state_config

    base = str(tmp_path / "audit")
    audit = WatermarkStore(spark, base, per_source_naming=True)

    for src in ("events_cdc", "orders_cdc"):
        cfg = user_state_config(cdc_table=src)
        target = ParquetMergeTarget(spark, str(tmp_path / f"t_{src}"), cfg, USER_STATE_SCHEMA)
        run_merge(spark, cfg, target, audit,
                  raw=bronze(spark, [("c", 1, 1, 1, 1.0)]),
                  window=(None, None), deterministic_audit=True)

    dirs = sorted(e for e in os.listdir(base) if e.startswith("ETL_JOB_LOG_INCREMENTAL_DATE_"))
    assert dirs == [
        "ETL_JOB_LOG_INCREMENTAL_DATE_events_cdc_user_state",
        "ETL_JOB_LOG_INCREMENTAL_DATE_orders_cdc_user_state",
    ]
    # per-source watermark reads route to the right table; history unions all
    import datetime as _dt

    assert audit.read_watermark("events_cdc", "user_state") > _dt.datetime(1970, 1, 1)
    assert audit.history().count() == 2
    # a source with no table yet falls back to epoch
    assert audit.read_watermark("missing_cdc", "user_state") == _dt.datetime(1970, 1, 1)
    # compact() walks every per-source table
    assert audit.compact() == 2
    assert audit.read_watermark("events_cdc", "user_state") > _dt.datetime(1970, 1, 1)

    # a crash mid-compact (leftover staging dir with audit-looking content)
    # must not be unioned into reads or recompacted — only dot-prefixed
    # names are ever staged, and the scan also excludes legacy spellings
    live = f"{base}/ETL_JOB_LOG_INCREMENTAL_DATE_events_cdc_user_state"
    import shutil as _sh

    _sh.copytree(live, f"{base}/.compact-ETL_JOB_LOG_INCREMENTAL_DATE_events_cdc_user_state-dead")
    _sh.copytree(live, f"{base}/ETL_JOB_LOG_INCREMENTAL_DATE_events_cdc_user_state.old-dead")
    assert audit.history().count() == 2  # not 4
    assert audit.compact() == 2


def test_dry_run_materializes_views_touches_nothing(spark):
    """§3.3 step-5 variant: phases 1-5 only — both views come back with
    counts, the target is never created, and no audit row is written."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge

    cfg, target, audit = pipeline(spark)
    res = run_merge(
        spark, cfg, target, audit,
        raw=bronze(spark, [("c", 1, 1, 1, 1.0), ("u", 2, 2, 1, 2.0), ("d", 3, 3, 2, 0.0)]),
        window=(None, None), deterministic_audit=True, dry_run=True,
    )
    assert res["status"] == "DRY_RUN"
    assert res["upsert_candidates"] == 1 and res["delete_candidates"] == 1
    assert {r["user_id"] for r in res["log_v_i"].collect()} == {1}
    assert {r["user_id"] for r in res["log_v_d"].collect()} == {2}
    assert not target.exists()
    assert audit.history().count() == 0 and audit.job_log().count() == 0

    # and the dry-run views agree with what a real merge then applies
    real = run_merge(spark, cfg, target, audit,
                     raw=bronze(spark, [("c", 1, 1, 1, 1.0), ("u", 2, 2, 1, 2.0), ("d", 3, 3, 2, 0.0)]),
                     window=(None, None), deterministic_audit=True)
    assert real["status"] == "SUCCESS"
    assert state(target) == [(1, 2.0)]


def test_run_all_pipelines_isolates_failures(spark, tmp_path):
    """The orchestrator loop runs every config row; a failing pipeline logs
    FAILED and does not stop siblings; inactive rows are skipped."""
    import json as _json

    from dataplatform_cdc_pipeline_spark.engine import run_all_pipelines
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    rows = [
        {"cdc_table": "good_cdc", "target_table": "t_good", "target_database": "silver",
         "pk": "user_id", "ts_ns_encoding": "nanos"},
        {"cdc_table": "bad_cdc", "target_table": "t_bad", "target_database": "silver",
         "pk": "user_id", "ts_ns_encoding": "nanos"},
        {"cdc_table": "off_cdc", "target_table": "t_off", "target_database": "silver",
         "pk": "user_id", "is_active": False},
    ]
    cfg_path = tmp_path / "config.jsonl"
    cfg_path.write_text("\n".join(_json.dumps(r) for r in rows))

    bad = bronze(spark, [("c", 1, 1, 7, 7.0)]).selectExpr(
        "replace(data, '\"value\": 7.0', '\"value\": \"boom\"') AS data", "load_ts")
    results = run_all_pipelines(
        spark, str(cfg_path), str(tmp_path / "lake"),
        schemas={"t_good": USER_STATE_SCHEMA, "t_bad": USER_STATE_SCHEMA, "t_off": USER_STATE_SCHEMA},
        raw_frames={"good_cdc": bronze(spark, [("c", 1, 1, 1, 1.0)]), "bad_cdc": bad,
                    "off_cdc": bronze(spark, [])},
        deterministic_audit=True,
    )
    # results key = full pipeline identity (db, target, cdc source): two
    # sources feeding one target must not collapse to one entry
    assert results[("silver", "t_good", "good_cdc")]["status"] == "SUCCESS"
    assert isinstance(results[("silver", "t_bad", "bad_cdc")], Exception)
    assert results[("silver", "t_off", "off_cdc")]["status"] == "SKIPPED_INACTIVE"
    audit = WatermarkStore(spark, str(tmp_path / "lake" / "_audit"))
    statuses = {(r["target_table"], r["run_status"]) for r in audit.history().collect()}
    assert ("t_good", "SUCCESS") in statuses and ("t_bad", "FAILED") in statuses


def test_run_all_pipelines_duplicate_config_fails_before_side_effects(spark, tmp_path):
    """A duplicate (db, table, source) config row aborts BEFORE the first
    merge runs — no committed merges, no audit rows (the mid-loop raise
    would have discarded results for already-committed siblings)."""
    import json as _json

    import pytest

    from dataplatform_cdc_pipeline_spark.engine import run_all_pipelines
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    row = {"cdc_table": "c1", "target_table": "t1", "target_database": "silver",
           "pk": "user_id", "ts_ns_encoding": "nanos"}
    cfg_path = tmp_path / "config.jsonl"
    cfg_path.write_text("\n".join(_json.dumps(r) for r in [row, row]))
    with pytest.raises(ValueError, match="duplicate config row"):
        run_all_pipelines(
            spark, str(cfg_path), str(tmp_path / "lake"),
            schemas={"t1": USER_STATE_SCHEMA},
            raw_frames={"c1": bronze(spark, [("c", 1, 1, 1, 1.0)])},
            deterministic_audit=True,
        )
    import os

    assert not os.path.isdir(str(tmp_path / "lake" / "silver" / "t1"))
    audit = WatermarkStore(spark, str(tmp_path / "lake" / "_audit"))
    assert audit.history().count() == 0


def test_ivm_counts_track_merge_deltas(spark):
    """Delta-maintained group counts equal a fresh GROUP BY after every
    batch: insert, type-change update, matched delete, unmatched delete."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_counts_through_merge,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    cfg, target, audit = pipeline(spark)

    def batch(rows):
        w = window_scan(bronze(spark, rows), cfg, None, None)
        return build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)

    def fresh():
        return {
            r["event_type"]: r["n"]
            for r in target.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    # bronze() emits event_type='t' for every row; vary groups via a second
    # pipeline? simpler: group by value bands is overkill — use event_type
    # constant and verify totals; then exercise multi-group via user_id parity
    counts, _ = maintain_counts_through_merge(target, batch([("c", 0, 1, 1, 1.0), ("c", 0, 2, 2, 2.0)]), None, "event_type")
    assert {r["event_type"]: r["n"] for r in counts.collect()} == fresh() == {"t": 2}

    # update (same group), delete key 2, unmatched delete key 99, insert 3
    counts, _ = maintain_counts_through_merge(
        target,
        batch([("u", 10, 3, 1, 5.0), ("d", 10, 4, 2, 0.0), ("d", 10, 5, 99, 0.0), ("c", 10, 6, 3, 3.0)]),
        counts,
        "event_type",
    )
    assert {r["event_type"]: r["n"] for r in counts.collect()} == fresh() == {"t": 2}

    # delete everything → view drains to empty (zero rows drop out)
    counts, _ = maintain_counts_through_merge(
        target, batch([("d", 20, 7, 1, 0.0), ("d", 20, 8, 3, 0.0)]), counts, "event_type"
    )
    assert counts.collect() == [] and fresh() == {}


def _ivm_fixture(spark, **cfg_kwargs):
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    cfg, target, audit = pipeline(spark, **cfg_kwargs)
    sums = {"value_micros": F.floor(F.col("value") * 1e6).cast("long")}

    def batch(rows):
        w = window_scan(bronze(spark, rows), cfg, None, None)
        return build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)

    def fresh():
        return {
            r["event_type"]: (r["n"], r["value_micros"])
            for r in target.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.floor(F.col("value") * 1e6).cast("long")), F.lit(0)).alias(
                    "value_micros"
                ),
            )
            .collect()
        }

    def as_dict(view):
        return {r["event_type"]: (r["n"], r["value_micros"]) for r in view.collect()}

    return target, sums, batch, fresh, as_dict


def test_ivm_maintains_sums_under_strict_ts_guard(spark):
    """Abelian-SUM view maintained through a strict_ts_guard merge: a
    stale (older-ts) update is blocked by the guard, keeps the OLD row,
    and must net to zero in the maintained view — the view tracks the
    merge's own resolve predicate, not the change set."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import maintain_view_through_merge

    target, sums, batch, fresh, as_dict = _ivm_fixture(spark, strict_ts_guard=True)
    view, _ = maintain_view_through_merge(
        target, batch([("c", 10, 1, 1, 1.5), ("c", 10, 2, 2, 2.5)]), None, "event_type", sums
    )
    assert as_dict(view) == fresh() == {"t": (2, 4_000_000)}

    # key 1: ts 5 < 10 → guard blocks, old value 1.5 survives;
    # key 2: ts 20 → applies (3.5); key 3: unmatched insert applies
    view, _ = maintain_view_through_merge(
        target,
        batch([("u", 5, 3, 1, 9.0), ("u", 20, 4, 2, 3.5), ("c", 20, 5, 3, 7.0)]),
        view,
        "event_type",
        sums,
    )
    assert as_dict(view) == fresh() == {"t": (3, 12_000_000)}


def test_ivm_maintains_sums_under_update_only_op_u(spark):
    """op_u gate: a matched 'c' leaves the target row untouched and nets to
    zero in the view; matched 'u' and unmatched inserts maintain normally;
    deletes subtract."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import maintain_view_through_merge

    target, sums, batch, fresh, as_dict = _ivm_fixture(spark, update_only_op_u=True)
    view, _ = maintain_view_through_merge(
        target, batch([("c", 10, 1, 1, 1.5), ("c", 10, 2, 2, 2.5)]), None, "event_type", sums
    )
    # matched 'c' on key 1 blocked (keeps 1.5); matched 'u' on key 2
    # applies (3.5); unmatched 'c' key 3 inserts (7.0); delete key 2 after?
    view, _ = maintain_view_through_merge(
        target,
        batch([("c", 20, 3, 1, 9.0), ("u", 20, 4, 2, 3.5), ("c", 20, 5, 3, 7.0)]),
        view,
        "event_type",
        sums,
    )
    assert as_dict(view) == fresh() == {"t": (3, 12_000_000)}
    view, _ = maintain_view_through_merge(
        target, batch([("d", 30, 6, 3, 0.0)]), view, "event_type", sums
    )
    assert as_dict(view) == fresh() == {"t": (2, 5_000_000)}


def test_ivm_null_pk_rows_maintained(spark):
    """A null-PK row is matched null-safely by merge(); the IVM subtraction
    must use the same eqNullSafe semi-join or the old row is never removed
    and the count drifts upward."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import maintain_view_through_merge

    target, sums, batch, fresh, as_dict = _ivm_fixture(spark)
    view, _ = maintain_view_through_merge(
        target, batch([("c", 10, 1, None, 1.0)]), None, "event_type", sums
    )
    assert as_dict(view) == fresh() == {"t": (1, 1_000_000)}
    view, _ = maintain_view_through_merge(
        target, batch([("u", 20, 2, None, 9.0)]), view, "event_type", sums
    )
    assert as_dict(view) == fresh() == {"t": (1, 9_000_000)}


def test_ivm_bootstrap_schema_derives_from_target(spark):
    """The bootstrap view inherits real column types from target.read()
    (no hardcoded string group / 'n' — works for any group column)."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import maintain_view_through_merge

    cfg, target, audit = pipeline(spark)
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    w = window_scan(bronze(spark, [("c", 0, 1, 1, 1.0)]), cfg, None, None)
    changes = build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
    view, _ = maintain_view_through_merge(target, changes, None, "k")
    assert dict(view.dtypes)["k"] == "int"  # IntegerType from the target schema
    assert [r["n"] for r in view.collect()] == [1]


def test_ivm_minmax_endangered_and_safe_paths(spark):
    """Directed MIN/MAX IVM semantics: (1) a safe insert extends the max
    arithmetically; (2) deleting the max HOLDER (endangered) surfaces the
    next-best surviving value; (3) updating the min holder upward re-derives
    the min from survivors; (4) emptying a group drops its row."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_minmax_through_merge,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA

    cfg, target, audit = pipeline(spark)

    def batch(rows):
        w = window_scan(bronze(spark, rows), cfg, None, None)
        return build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)

    def mm(view):
        return {r["event_type"]: (r["n"], r["min_v"], r["max_v"]) for r in view.collect()}

    def fresh():
        return {
            r["event_type"]: (r["n"], r["min_v"], r["max_v"])
            for r in target.read()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("min_v"), F.max("value").alias("max_v"))
            .collect()
        }

    # bootstrap: keys 1..3 with values 1, 5, 9
    view, _ = maintain_minmax_through_merge(
        target, batch([("c", 0, 1, 1, 1.0), ("c", 0, 2, 2, 5.0), ("c", 0, 3, 3, 9.0)]),
        None, "event_type", "value",
    )
    assert mm(view) == fresh() == {"t": (3, 1.0, 9.0)}

    # (1) safe: new key with value 12 — max extends without rescan math
    view, _ = maintain_minmax_through_merge(
        target, batch([("c", 10, 4, 4, 12.0)]), view, "event_type", "value"
    )
    assert mm(view) == fresh() == {"t": (4, 1.0, 12.0)}

    # (2) endangered max: delete key 4 (value 12) — surviving max is 9
    view, _ = maintain_minmax_through_merge(
        target, batch([("d", 20, 5, 4, 0.0)]), view, "event_type", "value"
    )
    assert mm(view) == fresh() == {"t": (3, 1.0, 9.0)}

    # (3) endangered min: update key 1 upward (1.0 -> 6.0) — min becomes 5
    view, _ = maintain_minmax_through_merge(
        target, batch([("u", 30, 6, 1, 6.0)]), view, "event_type", "value"
    )
    assert mm(view) == fresh() == {"t": (3, 5.0, 9.0)}

    # (4) drain the group entirely
    view, _ = maintain_minmax_through_merge(
        target,
        batch([("d", 40, 7, 1, 0.0), ("d", 40, 8, 2, 0.0), ("d", 40, 9, 3, 0.0)]),
        view, "event_type", "value",
    )
    assert view.collect() == [] and fresh() == {}


def test_ivm_null_group_rows_maintained(spark):
    """A NULL group key is a real GROUP BY group: both the abelian and the
    MIN/MAX maintenance must line its view/removed/added rows up
    null-safely (plain-equality joins would split the NULL group into
    disconnected rows and corrupt the arithmetic)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_minmax_through_merge,
        maintain_view_through_merge,
    )

    base = _dt.datetime(2024, 1, 1)

    def batch(rows):
        # (op, uid, event_type-or-None, value, ts_off, pos)
        data = [
            (uid, et, val, 1, base + _dt.timedelta(seconds=off), pos, op, base)
            for op, uid, et, val, off, pos in rows
        ]
        return spark.createDataFrame(
            data,
            "user_id long, event_type string, value double, k int, "
            "source_ts_ns_order timestamp, pos long, __op string, __load_ts timestamp",
        )

    # --- abelian path ---
    cfg, target, audit = pipeline(spark)
    sums = {"vs": F.floor(F.col("value") * 1e6).cast("long")}
    view, _ = maintain_view_through_merge(
        target,
        batch([("c", 1, None, 2.0, 0, 1), ("c", 2, None, 5.0, 0, 2),
               ("c", 3, "g", 1.0, 0, 3)]),
        None, "event_type", sums,
    )
    got = {r["event_type"]: (r["n"], r["vs"]) for r in view.collect()}
    assert got == {None: (2, 7_000_000), "g": (1, 1_000_000)}
    view, _ = maintain_view_through_merge(
        target,
        batch([("d", 1, None, 0.0, 5, 4), ("u", 2, None, 9.0, 5, 5)]),
        view, "event_type", sums,
    )
    got = {r["event_type"]: (r["n"], r["vs"]) for r in view.collect()}
    assert got == {None: (1, 9_000_000), "g": (1, 1_000_000)}

    # --- MIN/MAX path: deleting the NULL group's max forces its
    # endangered rescan through the null-safe semi joins ---
    cfg2, target2, audit2 = pipeline(spark)
    mm, _ = maintain_minmax_through_merge(
        target2,
        batch([("c", 1, None, 2.0, 0, 1), ("c", 2, None, 5.0, 0, 2),
               ("c", 3, "g", 1.0, 0, 3)]),
        None, "event_type", "value",
    )
    mm, _ = maintain_minmax_through_merge(
        target2, batch([("d", 2, None, 0.0, 5, 4)]), mm, "event_type", "value"
    )
    got = {r["event_type"]: (r["n"], r["min_v"], r["max_v"]) for r in mm.collect()}
    fresh = {
        r["event_type"]: (r["n"], r["min_v"], r["max_v"])
        for r in target2.read()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("min_v"),
             F.max("value").alias("max_v"))
        .collect()
    }
    assert got == fresh == {None: (1, 2.0, 2.0), "g": (1, 1.0, 1.0)}

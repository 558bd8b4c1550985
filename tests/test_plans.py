"""Physical-plan quality gates: the properties the engine's scale
story depends on, asserted against .explain output so regressions
that silently de-optimize (lost pushdown, lost pruning, lost
broadcast) fail loudly."""

import contextlib
import io
import time

import pytest
from pyspark.sql import functions as F

from plugin_debezium_spark.sources.genlog import LogSpec, write_log
from plugin_debezium_spark.sources.log_reader import read_range


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planlog"))
    write_log(spark, d, LogSpec(n_events=2000, n_keys=300, n_snapshot=200))
    return d


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_lsn_filter_pushed_to_scan(spark, log_dir):
    df = read_range(spark, log_dir, 100, 900)
    plan = _explain(df)
    assert "PushedFilters" in plan
    assert "lsn" in plan.split("PushedFilters")[1][:200]


def test_bucket_partition_pruning(spark, log_dir):
    pruned = read_range(spark, log_dir, -1, 10_000, buckets=[0, 1])
    full = read_range(spark, log_dir, -1, 10_000)
    # partition filter present in the plan...
    plan = _explain(pruned)
    assert "lsn_bucket" in plan
    # ...and it actually reduces files read
    assert pruned.count() < full.count()


def test_epoch_read_is_bucket_scoped_and_runs_no_job(spark, log_dir):
    """Building an epoch's events frame lists only its planned bucket
    directories and reads no footer: no Spark job (schema inference or
    parallel listing) runs, and every input file lies in a planned
    bucket."""
    from plugin_debezium_spark.sources.log_reader import plan_epochs
    from plugin_debezium_spark.streaming.engine import (
        EngineConfig,
        filter_events,
    )

    epoch = plan_epochs(spark, log_dir, -1, 500)[1]
    cfg = EngineConfig(log_dir=log_dir, table_dir=f"{log_dir}-unused")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("epoch-read-guard", "build one epoch's events frame")
    try:
        events = filter_events(
            cfg,
            read_range(spark, log_dir, epoch["lo"], epoch["hi"], epoch["buckets"]),
        )
        files = events.inputFiles()
        # sentinel job: the status listener sees jobs in submission
        # order, so once it shows up, any job the build ran has too
        sc.setJobGroup("epoch-read-sentinel", "sentinel")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("epoch-read-sentinel"):
        assert time.time() < deadline, "sentinel job never reported"
        time.sleep(0.1)
    assert list(tracker.getJobIdsForGroup("epoch-read-guard")) == []
    planned = {f"lsn_bucket={b}" for b in epoch["buckets"]}
    assert files
    assert {f.rsplit("/", 2)[-2] for f in files} <= planned
    assert all(log_dir in f for f in files)


def test_column_pruning_reaches_scan(spark, log_dir):
    df = read_range(spark, log_dir, -1, 10_000).select("lsn", "op")
    plan = _explain(df)
    readschema = plan.split("ReadSchema")[1][:200]
    assert "after_json" not in readschema  # unselected wide col pruned


def test_filters_and_shaping_stay_in_codegen(spark, log_dir):
    from plugin_debezium_spark.operators.filters import drop_ddl

    df = drop_ddl(read_range(spark, log_dir, -1, 10_000)).select(
        "lsn", "op", F.sha2(F.col("after_json"), 256).alias("h")
    )
    plan = _explain(df, mode="codegen")
    assert "Found" in plan and "WholeStageCodegen subtrees" in plan
    assert not plan.startswith("Found 0")


def test_merge_uses_broadcast_anti_join(spark, log_dir, tmp_path):
    """The survivors anti-join must be a broadcast join (target data
    must not shuffle)."""
    captured = {}
    import plugin_debezium_spark.plans.lake as lake_mod

    orig = lake_mod.LakeTable.write_bucket_data

    def spy(self, df, snapshot_id, tag="d"):
        if tag == "keep":
            captured["plan"] = _explain(df, mode="simple")
        return orig(self, df, snapshot_id, tag)

    from plugin_debezium_spark.streaming.engine import EngineConfig, run

    lake_mod.LakeTable.write_bucket_data = spy
    try:
        run(
            spark,
            EngineConfig(
                log_dir=log_dir,
                table_dir=str(tmp_path / "t"),
                max_events_per_batch=1000,
                write_metrics=False,
            ),
        )
    finally:
        lake_mod.LakeTable.write_bucket_data = orig
    assert "BroadcastHashJoin" in captured["plan"].replace("Exec", "")
    assert "LeftAnti" in captured["plan"]
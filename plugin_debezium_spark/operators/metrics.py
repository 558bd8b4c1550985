"""Per-stream counters + per-partition lineage (SURVEY.md §2.5 A1;
north rule: "per-partition lineage/metrics tables").

The reference emits Kestra Counter metrics per stream
(ChangeConsumer.java:48,184-190; AbstractDebeziumTask.java:270-279).
The engine computes the same rows as conditional aggregates that ride
its per-epoch stats action (``lineage_aggs``) and writes the few
resulting rows from the driver (``lineage_table``/``streams_table``);
``epoch_lineage`` and ``stream_counts`` are the DataFrame definitions
those rows must equal.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from plugin_debezium_spark.models import DATA_OPS
from plugin_debezium_spark.operators.routing import SplitTable, stream_name

# on-disk format of metrics/lineage and metrics/streams: the column
# names and Spark types of epoch_lineage / stream_counts rows, so
# readers see the same dataset whichever writer produced an epoch
LINEAGE_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("n_events", pa.int64()),
        ("lsn_lo", pa.int64()),
        ("lsn_hi", pa.int64()),
        ("n_repos", pa.int64()),
        ("epoch_id", pa.int32()),
    ]
)
STREAMS_SCHEMA = pa.schema(
    [
        ("stream", pa.string()),
        ("records_count", pa.int64()),
        ("epoch_id", pa.int32()),
    ]
)


def stream_counts(df: DataFrame, split: SplitTable = SplitTable.TABLE) -> DataFrame:
    return (
        df.groupBy(stream_name(split).alias("stream"))
        .agg(F.count("*").alias("records_count"))
        .orderBy("stream")
    )


def _repo_lsn(df: DataFrame) -> tuple[Column, Column]:
    repo = F.col("repo") if "repo" in df.columns else F.col("key.repo")
    lsn = F.col("lsn") if "lsn" in df.columns else F.col("_lsn")
    return repo, lsn


def epoch_lineage(df: DataFrame, epoch_id: int) -> DataFrame:
    """Lineage row per (epoch, op): counts + lsn watermark range —
    enough to audit exactly which slice of the log an epoch applied."""
    repo, lsn = _repo_lsn(df)
    return (
        df.groupBy("op")
        .agg(
            F.count("*").alias("n_events"),
            F.min(lsn).alias("lsn_lo"),
            F.max(lsn).alias("lsn_hi"),
            F.countDistinct(repo).alias("n_repos"),
        )
        .withColumn("epoch_id", F.lit(epoch_id))
    )


def lineage_aggs(df: DataFrame) -> list[Column]:
    """``epoch_lineage`` and the stream set as plain aggregates, to ride
    an action the caller runs anyway. ``op`` must lie in DATA_OPS (a
    closed set once filters.drop_ddl ran), so one conditional aggregate
    per op replaces the group-by; ``size(collect_set(...))`` counts
    distinct repos without the Expand that ``countDistinct`` adds to a
    multi-aggregate plan."""
    repo, lsn = _repo_lsn(df)
    out = [F.collect_set(stream_name()).alias("_streams")]
    for op in DATA_OPS:
        on = F.col("op") == op
        out += [
            F.count(F.when(on, 1)).alias(f"_n_{op}"),
            F.min(F.when(on, lsn)).alias(f"_lo_{op}"),
            F.max(F.when(on, lsn)).alias(f"_hi_{op}"),
            F.size(F.collect_set(F.when(on, repo))).alias(f"_repos_{op}"),
        ]
    return out


def lineage_table(row: Row, epoch_id: int) -> pa.Table:
    """The ``epoch_lineage`` rows from a ``lineage_aggs`` result."""
    ops = [op for op in DATA_OPS if row[f"_n_{op}"]]
    return pa.table(
        {
            "op": ops,
            "n_events": [row[f"_n_{op}"] for op in ops],
            "lsn_lo": [row[f"_lo_{op}"] for op in ops],
            "lsn_hi": [row[f"_hi_{op}"] for op in ops],
            "n_repos": [row[f"_repos_{op}"] for op in ops],
            "epoch_id": [epoch_id] * len(ops),
        },
        schema=LINEAGE_SCHEMA,
    )


def streams_table(row: Row, df: DataFrame, epoch_id: int) -> pa.Table:
    """The ``stream_counts`` rows from a ``lineage_aggs`` result: a
    single-stream epoch's count is its row count; several streams pay
    one grouped collect over ``df`` (the frame the aggregates ran on)."""
    streams = row["_streams"]
    if len(streams) == 1:
        counts = [(streams[0], sum(row[f"_n_{op}"] for op in DATA_OPS))]
    else:
        counts = [tuple(r) for r in stream_counts(df).collect()]
    return pa.table(
        {
            "stream": [s for s, _ in counts],
            "records_count": [n for _, n in counts],
            "epoch_id": [epoch_id] * len(counts),
        },
        schema=STREAMS_SCHEMA,
    )

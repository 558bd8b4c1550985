"""Seeded input generator: Debezium-envelope change logs and source dumps.

The program only ever sees what this module writes: a parquet log
partitioned by ``lsn_bucket`` in the envelope schema
(``models.envelope_log_schema``), and, for the incremental bootstrap, a
source-state dump. Both are produced by DuckDB, not Spark, so input
generation neither warms nor loads the JVM under test.

The shape follows ``sources/genlog.py`` (INITIAL snapshot prefix of
op='r' rows, then a c/u/d stream with two hot repos, schema evolution
to v2/v3 and enum growth) but every hash is mixed with the workload
seed, so each seed gives a different key/op sequence and different
final table, and the same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb


HOT_KEYS = 64  # keys owned by the 2 hot repos
HOT_PCT = 30  # % of stream events that hit a hot key
CONTENT_REPEAT = 190  # ~1.5 KB of content per after-image
EVOLVE_AT = 0.6  # after-images gain size_bytes (v2) from here on
WIDEN_AT = 0.8  # size_bytes exceeds int32 (v3) from here on


@dataclass(frozen=True)
class LogShape:
    n_events: int
    n_keys: int
    n_snapshot: int  # op='r' prefix, one row per key
    bucket_size: int  # events per lsn_bucket partition = one epoch


def connect(work_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB that spills, if it must, inside work_dir."""
    con = duckdb.connect()
    tmp = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def _events_sql(shape: LogShape, seed: int) -> str:
    s = int(seed)
    n = shape.n_events
    hot = HOT_KEYS
    cold = max(1, shape.n_keys - hot)
    evolve = int(n * EVOLVE_AT)
    widen = int(n * WIDEN_AT)
    return f"""
WITH b AS (
  SELECT lsn,
         lsn < {shape.n_snapshot} AS snap,
         hash(lsn, {s}, 5) % 100 AS opsel,
         hash(lsn, {s}, 11) % 100 < {HOT_PCT} AS hot
  FROM range(0, {n}) t(lsn)
), k AS (
  SELECT lsn, snap,
         CASE WHEN snap THEN 'r' WHEN opsel < 50 THEN 'c'
              WHEN opsel < 85 THEN 'u' WHEN opsel < 95 THEN 'd'
              ELSE 'u' END AS op,
         CASE WHEN snap THEN lsn % {shape.n_keys}
              WHEN hot THEN hash(lsn, {s}, 7) % {hot}
              ELSE {hot} + hash(lsn, {s}, 13) % {cold} END::BIGINT AS key_id
  FROM b
), c AS (
  SELECT *,
         CASE WHEN key_id < {hot} THEN 'org' || (key_id % 2) || '/hot'
              ELSE 'org' || (key_id % 7) || '/repo' || (key_id % 53) END AS repo,
         'src/dir' || (key_id % 20) || '/file' || key_id || '.txt' AS path,
         substr(sha256('commit#' || key_id || '#' || {s}), 1, 40) AS cmt,
         CASE WHEN lsn >= {evolve} AND key_id % 11 = 0 THEN 'rust'
              ELSE ['python', 'java', 'go', 'ts'][(key_id % 4) + 1] END AS lang,
         ['python', 'java', 'go', 'ts'][(key_id % 4) + 1] AS lang_base
  FROM k
), p AS (
  SELECT *,
         '// ' || repo || '/' || path || '@' || cmt || ' v' || lsn || chr(10)
           || repeat('tok' || (hash(lsn, {s}, 9) % 997) || ' ',
                     {CONTENT_REPEAT}) AS content
  FROM c
)
SELECT lsn,
       1700000000000 + (lsn // 2) * 2 AS ts_ms,
       op,
       {{'repo': repo, 'path': path, 'commit': cmt}} AS "key",
       CASE WHEN op IN ('u', 'd') THEN to_json({{
         'repo': repo, 'path': path, 'commit': cmt, 'lang': lang_base,
         'content': '// prev ' || repo || '/' || path || '@' || cmt
       }})::VARCHAR END AS before_json,
       CASE WHEN op = 'd' THEN NULL
            WHEN lsn >= {evolve} THEN to_json({{
              'repo': repo, 'path': path, 'commit': cmt, 'lang': lang,
              'content': content,
              'size_bytes': length(content)::BIGINT
                + CASE WHEN lsn >= {widen} THEN 3000000000 ELSE 0 END
            }})::VARCHAR
            ELSE to_json({{
              'repo': repo, 'path': path, 'commit': cmt, 'lang': lang,
              'content': content
            }})::VARCHAR END AS after_json,
       {{'db': 'kestra', 'table': 'repofiles',
         'snapshot': CASE WHEN snap THEN 'true' ELSE 'false' END,
         'connector': 'synthetic-wal', 'name': 'server-' || (lsn % 2),
         'version': '2.7.0.Final', 'sequence': NULL::VARCHAR,
         'row': CASE WHEN snap THEN lsn::INTEGER END}} AS source,
       CASE WHEN NOT snap THEN {{'id': 'tx' || (lsn // 10),
         'total_order': (lsn % 10 + 1)::BIGINT,
         'data_collection_order': (lsn % 10 + 1)::BIGINT}} END AS "transaction",
       NULL::VARCHAR AS message_json,
       lsn // {shape.bucket_size} AS epoch_hint,
       lsn // {shape.bucket_size} AS lsn_bucket
FROM p
ORDER BY lsn
"""


def write_log(
    con: duckdb.DuckDBPyConnection,
    out_dir: str,
    shape: LogShape,
    seed: int,
    lo: int = 0,
    hi: int | None = None,
) -> str:
    """Write the events with lo <= lsn < hi (default: all) as parquet
    partitioned by lsn_bucket (one file per bucket, rows in lsn order,
    min/max stats for footer planning)."""
    hi = shape.n_events if hi is None else hi
    con.execute(
        f"COPY (SELECT * FROM ({_events_sql(shape, seed)}) "
        f"WHERE lsn >= {int(lo)} AND lsn < {int(hi)}) TO '{out_dir}' "
        "(FORMAT parquet, PARTITION_BY (lsn_bucket), OVERWRITE_OR_IGNORE)"
    )
    return out_dir


def log_glob(log_dir: str) -> str:
    return os.path.join(log_dir, "lsn_bucket=*", "*.parquet")


def log_source(log_dirs: list[str]) -> str:
    """DuckDB table function over one or more log directories."""
    globs = ", ".join(f"'{log_glob(d)}'" for d in log_dirs)
    return f"read_parquet([{globs}], hive_partitioning = true)"


def write_source_dump(
    con: duckdb.DuckDBPyConnection,
    log_dir: str,
    out_dir: str,
    source_lsn: int,
    n_files: int,
) -> int:
    """Source-state dump at position S: LWW over log events with
    lsn <= S, live keys only, one row per key, with the winning
    position kept in ``src_lsn``. Split into n_files parquet files so
    the engine's footer planner makes several chunks. Returns rows."""
    os.makedirs(out_dir, exist_ok=True)
    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE dump AS
        WITH log AS (
          SELECT lsn, op, "key".repo AS repo, "key".path AS path,
                 "key"."commit" AS "commit", after_json
          FROM {log_source([log_dir])}
          WHERE lsn <= {int(source_lsn)}
        ), latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY repo, path, "commit" ORDER BY lsn DESC) AS rn
          FROM log
        )
        SELECT repo, path, "commit",
               json_extract_string(after_json, '$.lang') AS lang,
               json_extract_string(after_json, '$.content') AS content,
               lsn AS src_lsn,
               hash(repo, path, "commit") % {int(n_files)} AS part
        FROM latest WHERE rn = 1 AND op <> 'd'
        """
    )
    for i in range(n_files):
        con.execute(
            f"""COPY (SELECT repo, path, "commit", lang, content, src_lsn
                      FROM dump WHERE part = {i} ORDER BY repo, path, "commit")
                TO '{os.path.join(out_dir, f"part-{i:03d}.parquet")}'
                (FORMAT parquet)"""
        )
    rows = con.execute("SELECT count(*) FROM dump").fetchone()[0]
    con.execute("DROP TABLE dump")
    return int(rows)

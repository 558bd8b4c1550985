"""Independent correctness gate: a DuckDB last-writer-wins oracle.

The oracle reads the same parquet log the program consumed and keeps,
per key, the event with the highest lsn unless it is a delete, which is
the shape of ``queries.FINAL_STATE_SQL``. The program's final table is
compared on row count and an order-insensitive checksum over
(repo, path, commit, content_sha256, _lsn); every point lookup is
compared with the oracle's row for that key.
"""

from __future__ import annotations

import random

from loggen import log_source

FINAL_STATE = """
WITH log AS (
  SELECT lsn, op, "key".repo AS repo, "key".path AS path,
         "key"."commit" AS "commit", after_json
  FROM {source}
), latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY repo, path, "commit" ORDER BY lsn DESC) AS rn
  FROM log
)
SELECT repo, path, "commit", op,
       sha256(json_extract_string(after_json, '$.content')) AS content_sha256,
       lsn AS last_lsn
FROM latest WHERE rn = 1
"""

CHECKSUM = """
SELECT count(*) AS n,
       coalesce(sum(hash(repo, path, "commit", content_sha256, {lsn}::BIGINT)),
                0)::VARCHAR AS h
FROM {rel}
"""


class Oracle:
    """Final state after every event of the given log directories,
    computed once."""

    def __init__(self, con, log_dirs: list[str], name: str):
        self.con = con
        self.all = f"oracle_{name}_all"
        self.live = f"oracle_{name}"
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE {self.all} AS "
            + FINAL_STATE.format(source=log_source(log_dirs))
        )
        con.execute(
            f"CREATE OR REPLACE TEMP VIEW {self.live} AS "
            f"SELECT * FROM {self.all} WHERE op <> 'd'"
        )
        self.n, self.checksum = con.execute(
            CHECKSUM.format(rel=self.live, lsn="last_lsn")
        ).fetchone()

    def table_checksum(self, arrow_table) -> tuple[int, str]:
        """Checksum of the program's table, collected as Arrow."""
        rel = self.con.from_arrow(arrow_table)
        self.con.register("program_rows", rel)
        try:
            n, h = self.con.execute(
                CHECKSUM.format(rel="program_rows", lsn="_lsn")
            ).fetchone()
        finally:
            self.con.unregister("program_rows")
        return int(n), h

    def matches(self, arrow_table) -> tuple[bool, str]:
        n, h = self.table_checksum(arrow_table)
        ok = n == self.n and h == self.checksum
        return ok, f"rows {n} vs oracle {self.n}, checksum {'ok' if ok else 'MISMATCH'}"

    def lookup_keys(self, seed: int, n_live: int, n_dead: int) -> list[dict]:
        """Seeded sample of live keys and deleted keys, with the row
        each lookup must return (None for a deleted key)."""
        rng = random.Random(seed)
        live = self.con.execute(
            'SELECT repo, path, "commit", content_sha256, last_lsn '
            f'FROM {self.live} ORDER BY repo, path, "commit"'
        ).fetchall()
        dead = self.con.execute(
            f'SELECT repo, path, "commit" FROM {self.all} WHERE op = \'d\' '
            'ORDER BY repo, path, "commit"'
        ).fetchall()
        picks = [
            {"key": r[:3], "expect": (r[3], int(r[4]))}
            for r in rng.sample(live, min(n_live, len(live)))
        ]
        picks += [
            {"key": r[:3], "expect": None}
            for r in rng.sample(dead, min(n_dead, len(dead)))
        ]
        rng.shuffle(picks)
        return picks


def check_lookup(pick: dict, rows: list) -> bool:
    """One lookup result against the oracle row for its key."""
    if pick["expect"] is None:
        return len(rows) == 0
    if len(rows) != 1:
        return False
    return (rows[0]["content_sha256"], int(rows[0]["_lsn"])) == pick["expect"]

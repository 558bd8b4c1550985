"""The benchmark's workloads.

Every workload is a closed loop with one caller, the reference's
traffic: a Kestra trigger runs Capture, waits for it to finish, then
runs it again. A workload is a sequence of identical *rounds*. Each
round starts from a fresh table and drives the program through its
public entry points only (``streaming.engine.run``,
``streaming.realtime.stream_log``, ``plans.lake.LakeTable.read`` /
``lookup``) in three phases:

1. bootstrap: load the table in a few large applies (``events_per_s``);
2. tail: small applies, one at a time (``apply_s`` per apply);
3. readers: one full LWW-resolved scan (``read_scan_s``), checked
   against the DuckDB oracle, then point lookups (``lookup_s``), each
   checked against the oracle row.

Both workloads have the same phases, and each phase goes through a
different mechanism on each workload (see NOTES.md). Every round does
the same work, so the medians do not depend on how many rounds fit.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from dataclasses import dataclass, field

import loggen
from oracle import Oracle, check_lookup
from probes import live_heap_mb

SCAN_COLS = ("repo", "path", "commit", "content_sha256", "_lsn")


@dataclass
class Ctx:
    spark: object
    con: object  # duckdb connection for inputs and the oracle
    work: str  # scratch directory for this run
    seed: int
    size: str  # "full" or "toy"
    clock: object  # probes.Clock: (wall, cpu) now
    tracer: object | None = None  # spans.Tracer in the traced run


# The reference tail table held ~180k rows in the program's default 32
# buckets, ~5.6k rows per bucket, and a COW apply rewrites whole
# buckets. The tables here end at ~17k rows, so 3 buckets keep the same
# ~5.7k rows per bucket.
N_BUCKETS = 3


@dataclass
class RoundResult:
    events: int = 0  # applied by the bootstrap phase
    bootstrap_s: float = 0.0
    apply_s: list = field(default_factory=list)
    read_scan_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)  # sample kind -> CPU seconds
    live_heap_mb: list = field(default_factory=list)  # before each timed call

    def add(self, kind: str, t0: tuple[float, float], t1: tuple[float, float]) -> float:
        """Record one sample of `kind` from two Clock readings; returns wall."""
        wall = t1[0] - t0[0]
        self.cpu.setdefault(kind, []).append(t1[1] - t0[1])
        return wall


def span(ctx: Ctx, name: str, **attrs):
    """A traced-run span around a call into the program (no-op otherwise)."""
    return ctx.tracer.span(name, **attrs) if ctx.tracer else contextlib.nullcontext()


def settle(ctx: Ctx, res: RoundResult) -> None:
    """Collect the heap before a timed call, so that no sample pays for
    the garbage of the calls before it; records the heap still in use."""
    res.live_heap_mb.append(live_heap_mb(ctx.spark))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _d, ns in os.walk(path) for n in ns
    )


def table_state(ctx: Ctx, res: RoundResult, table_dir: str, input_bytes: int) -> None:
    """Layout facts about the table the writer left behind."""
    from plugin_debezium_spark.plans.lake import LakeTable

    snap = LakeTable(ctx.spark, table_dir).current()
    res.extra["files_per_bucket"] = len(snap.files) / snap.n_buckets
    res.extra["delta_files_at_read"] = sum(
        1 for f in snap.files if f.get("kind") == "delta")
    res.extra["disk_bytes_per_input_byte"] = dir_bytes(
        os.path.join(table_dir, "data")) / input_bytes
    res.extra["table"] = table_dir


def _expect(res: RoundResult, ok: bool, msg: str) -> None:
    res.attempted += 1
    if not ok:
        res.failed += 1
        res.errors.append(msg)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def read_back(ctx: Ctx, res: RoundResult, table_dir: str, oracle: Oracle,
              picks: list[dict], scans: int) -> None:
    """The reader: full scans, each checksummed against the oracle, then
    point lookups, each checked against the oracle row."""
    from plugin_debezium_spark.plans.lake import LakeTable

    for _ in range(scans):
        settle(ctx, res)
        t0 = ctx.clock()
        with span(ctx, "lake.read"):
            rows = LakeTable(ctx.spark, table_dir).read().select(*SCAN_COLS).toArrow()
        res.read_scan_s.append(res.add("read_scan", t0, ctx.clock()))
        ok, msg = oracle.matches(rows)
        _expect(res, ok, f"final table: {msg}")
    for p in picks:
        repo, path, commit = p["key"]
        settle(ctx, res)
        t0 = ctx.clock()
        with span(ctx, "lake.lookup"):
            got = (
                LakeTable(ctx.spark, table_dir)
                .lookup(repo=repo, path=path, commit=commit)
                .select(*SCAN_COLS)
                .collect()
            )
        res.lookup_s.append(res.add("lookup", t0, ctx.clock()))
        _expect(res, check_lookup(p, got),
                f"lookup {p['key']}: got {got}, want {p['expect']}")


# ---------------------------------------------------------------------------
# replay_tail: INITIAL snapshot + backlog in two large pipelined epochs,
# then one-epoch trigger calls, copy-on-write; readers see base files only
# ---------------------------------------------------------------------------


class ReplayTail:
    name = "replay_tail"
    SIZES = {
        # bulk: 2 epochs of `bulk_epoch` events; tail: `tail_calls`
        # run(max_batches=1) calls of `tail` events each
        "full": dict(bulk_epochs=2, bulk_epoch=18_000, tail=1_000, tail_calls=2,
                     keys=18_000, snapshot=18_000, scans=2, lookups=(3, 1)),
        "toy": dict(bulk_epochs=2, bulk_epoch=500, tail=250, tail_calls=1,
                    keys=600, snapshot=300, scans=1, lookups=(1, 1)),
        # warm-up: the replay path and a scan once; a trigger call runs
        # the same code, and the first lookup's cold sample is outvoted
        # by the median of four
        "warm": dict(bulk_epochs=1, bulk_epoch=2_000, tail=2_000, tail_calls=0,
                     keys=1_000, snapshot=1_000, scans=1, lookups=(0, 0)),
    }

    def __init__(self, ctx: Ctx, size: str | None = None):
        self.ctx = ctx
        self.p = p = self.SIZES[size or ctx.size]
        self.n_bulk = p["bulk_epochs"] * p["bulk_epoch"]
        self.shape = loggen.LogShape(
            n_events=self.n_bulk + p["tail_calls"] * p["tail"],
            n_keys=p["keys"], n_snapshot=p["snapshot"], bucket_size=p["tail"])

    def make_inputs(self, tag: str) -> None:
        c = self.ctx
        self.tag = tag
        self.log = loggen.write_log(
            c.con, _fresh(os.path.join(c.work, f"{tag}-log")), self.shape, c.seed)
        self.oracle = Oracle(c.con, [self.log], f"{self.name}_{tag}")
        self.picks = self.oracle.lookup_keys(c.seed, *self.p["lookups"])

    def cfg(self, table: str, **kw):
        from plugin_debezium_spark.streaming.engine import EngineConfig

        return EngineConfig(log_dir=self.log, table_dir=table, n_buckets=N_BUCKETS, **kw)

    def round(self, i: int) -> RoundResult:
        from plugin_debezium_spark.plans.lake import LakeTable
        from plugin_debezium_spark.streaming import engine

        c, p, res = self.ctx, self.p, RoundResult()
        table = _fresh(os.path.join(c.work, f"{self.tag}-table-{i}"))
        settle(c, res)
        t0 = c.clock()
        out = engine.run(c.spark, self.cfg(
            table, max_events_per_batch=p["bulk_epoch"], max_batches=p["bulk_epochs"]))
        res.bootstrap_s = res.add("bootstrap", t0, c.clock())
        res.events = self.n_bulk
        _expect(res, out["batches_applied"] == p["bulk_epochs"],
                f"bulk replay applied {out['batches_applied']} epochs")
        for k in range(p["tail_calls"]):
            settle(c, res)
            t0 = c.clock()
            out = engine.run(c.spark, self.cfg(
                table, max_events_per_batch=p["tail"], max_batches=1))
            res.apply_s.append(res.add("apply", t0, c.clock()))
            _expect(res, out["batches_applied"] == 1,
                    f"trigger call {k} applied {out['batches_applied']} epochs")
            if c.tracer and c.tracer.active:
                snap = LakeTable(c.spark, table).current()
                merge = [sp for sp in c.tracer.spans if sp.name == "merge.merge"][-1]
                res.extra.setdefault("per_apply", []).append({
                    "call": k, "apply_s": res.apply_s[-1],
                    "files_per_bucket": len(snap.files) / snap.n_buckets,
                    "merge_s": merge.end - merge.start})
        res.extra["engine_events"] = self.shape.n_events
        table_state(c, res, table, dir_bytes(self.log))
        read_back(c, res, table, self.oracle, self.picks, self.p["scans"])
        return res


# ---------------------------------------------------------------------------
# incremental_stream: snapshot_mode=INCREMENTAL bootstrap (a DuckDB-built
# source-state dump applied in file chunks between stream epochs), then
# a Structured Streaming tail with merge-on-read deltas and a compaction
# cadence; readers resolve LWW over base + delta files
# ---------------------------------------------------------------------------


class IncrementalStream:
    name = "incremental_stream"
    SIZES = {
        # log A = [0, boot_events): dump at S = dump_at - 1 (after the
        # snapshot prefix) split in `dump_files` chunks, applied between
        # the epochs of `epoch` events after S;
        # log B = `batches` micro-batches of `batch` events after that
        # compaction folds after micro-batch 2; batch 3 leaves delta
        # files for the readers
        "full": dict(boot_events=25_000, dump_at=20_000, epoch=2_500, dump_files=2,
                     batch=2_500, batches=3, compact_every=2, keep=4, keys=18_000,
                     snapshot=18_000, scans=2, lookups=(3, 1)),
        "toy": dict(boot_events=1_000, dump_at=500, epoch=500, dump_files=1, batch=250,
                    batches=2, compact_every=2, keep=2, keys=600,
                    snapshot=300, scans=1, lookups=(1, 1)),
        # warm-up: one chunk, one epoch, one micro-batch that compacts
        "warm": dict(boot_events=1_000, dump_at=500, epoch=500, dump_files=1, batch=250,
                     batches=1, compact_every=1, keep=2, keys=600,
                     snapshot=300, scans=1, lookups=(0, 0)),
    }

    def __init__(self, ctx: Ctx, size: str | None = None):
        self.ctx = ctx
        self.p = p = self.SIZES[size or ctx.size]
        self.shape = loggen.LogShape(
            n_events=p["boot_events"] + p["batches"] * p["batch"],
            n_keys=p["keys"], n_snapshot=p["snapshot"], bucket_size=p["batch"])
        # the dump is the source state just before `dump_at`, after the
        # INITIAL snapshot; the stream after it is whole epochs
        self.source_lsn = p["dump_at"] - 1

    def make_inputs(self, tag: str) -> None:
        c, p = self.ctx, self.p
        self.tag = tag
        self.log_a = loggen.write_log(
            c.con, _fresh(os.path.join(c.work, f"{tag}-log-a")), self.shape, c.seed,
            hi=p["boot_events"])
        self.log_b = loggen.write_log(
            c.con, _fresh(os.path.join(c.work, f"{tag}-log-b")), self.shape, c.seed,
            lo=p["boot_events"])
        self.dump = _fresh(os.path.join(c.work, f"{tag}-dump"))
        self.dump_rows = loggen.write_source_dump(
            c.con, self.log_a, self.dump, self.source_lsn, p["dump_files"])
        self.oracle = Oracle(c.con, [self.log_a, self.log_b], f"{self.name}_{tag}")
        self.picks = self.oracle.lookup_keys(c.seed, *p["lookups"])

    def round(self, i: int) -> RoundResult:
        from plugin_debezium_spark.streaming import engine, realtime

        c, p, res = self.ctx, self.p, RoundResult()
        table = _fresh(os.path.join(c.work, f"{self.tag}-table-{i}"))
        ck = _fresh(os.path.join(c.work, f"{self.tag}-ck-{i}"))
        boot_stream = p["boot_events"] - self.source_lsn - 1
        settle(c, res)
        t0 = c.clock()
        out = engine.run(c.spark, engine.EngineConfig(
            log_dir=self.log_a, table_dir=table, n_buckets=N_BUCKETS,
            snapshot_mode="INCREMENTAL", incremental_source_dir=self.dump,
            incremental_source_lsn=self.source_lsn, incremental_lsn_col="src_lsn",
            incremental_chunk_rows=1,  # one chunk per dump file
            max_events_per_batch=p["epoch"]))
        res.bootstrap_s = res.add("bootstrap", t0, c.clock())
        res.events = self.dump_rows + boot_stream
        _expect(res, out["chunks_applied"] == out["chunks_total"] == p["dump_files"]
                and out["last_lsn"] == p["boot_events"] - 1,
                f"bootstrap applied {out['chunks_applied']}/{out['chunks_total']} "
                f"chunks, last_lsn {out['last_lsn']}")
        res.extra["stream_gap_s"] = stream_gap_s(table)

        settle(c, res)
        t0 = c.clock()
        with span(c, "realtime.stream"):
            q = realtime.stream_log(
                c.spark, engine.EngineConfig(
                    log_dir=self.log_b, table_dir=table, n_buckets=N_BUCKETS),
                ck, available_now=True, max_files_per_trigger=1, merge_mode="mor",
                compact_every=p["compact_every"], expire_keep_last=p["keep"])
            try:
                q.awaitTermination()
            finally:
                q.stop()
        t1 = c.clock()
        res.extra["stream_s"] = t1[0] - t0[0]
        progress = [pr for pr in q.recentProgress if pr.numInputRows > 0]
        res.apply_s = [pr.durationMs["triggerExecution"] / 1000.0 for pr in progress]
        # per-batch CPU is not observable from outside; spread the stream's
        res.cpu["apply"] = [(t1[1] - t0[1]) / max(len(progress), 1)] * len(progress)
        res.extra["trigger_s"] = sum(res.apply_s)
        res.extra["add_batch_s"] = sum(
            pr.durationMs.get("addBatch", 0) for pr in progress) / 1000.0
        _expect(res, q.exception() is None and len(progress) == p["batches"],
                f"stream ran {len(progress)} of {p['batches']} micro-batches: "
                f"{q.exception()}")
        res.extra["engine_events"] = boot_stream + p["batches"] * p["batch"]
        table_state(c, res, table, dir_bytes(self.log_a) + dir_bytes(self.log_b)
                    + dir_bytes(self.dump))
        read_back(c, res, table, self.oracle, self.picks, self.p["scans"])
        return res


def stream_gap_s(table_dir: str) -> float:
    """Median gap between the commits that advance last_lsn, from the
    manifest files' modification times."""
    import json
    import statistics

    meta = os.path.join(table_dir, "metadata")
    commits = []
    for n in os.listdir(meta):
        if n.startswith("v") and n.endswith(".json"):
            with open(os.path.join(meta, n)) as f:
                lsn = int(json.load(f)["properties"].get("last_lsn", -1))
            commits.append((os.path.getmtime(os.path.join(meta, n)), lsn))
    times, hi = [], None
    for t, lsn in sorted(commits):
        if hi is None or lsn > hi:
            times.append(t)
            hi = lsn
    gaps = [b - a for a, b in zip(times, times[1:])]
    return statistics.median(gaps) if gaps else 0.0


WORKLOADS = {w.name: w for w in (ReplayTail, IncrementalStream)}

"""Metric definitions: end-to-end (untraced run) and per-layer (traced run).

The gated end-to-end metrics are the same on every workload: wall and
CPU seconds (JVM without its JIT compiler threads, plus the Python
driver) per bootstrap, CPU seconds per tail apply, per scan and per
lookup, wall-clock set-up time, and the live heap between calls. The
other wall-clock figures, with the workload-qualified names of
``WALL_NAMES`` (``bulk_events_per_s`` is the bootstrap rate on
``replay_tail``), and the peak resident set are printed in the report.

Per-layer metrics are per round of the traced run (every round is
traced; sums are divided by the number of rounds) unless the name says
otherwise; a layer a workload never calls reports 0.
"""

from __future__ import annotations

import json
import math
import statistics

from spans import clip, overlap_len, self_time, spark_stage_metrics, union_len

# workload -> {workload-qualified wall-clock name: the figure it reads}
WALL_NAMES = {
    "replay_tail": {
        "bulk_events_per_s": "events_per_s",
        "tail_apply_p50_s": "apply_p50_s",
        "cow_read_scan_s": "read_scan_s",
        "cow_lookup_p50_s": "lookup_p50_s",
    },
    "incremental_stream": {
        "incr_events_per_s": "events_per_s",
        "stream_batch_p50_s": "apply_p50_s",
        "mor_read_scan_s": "read_scan_s",
        "mor_lookup_p50_s": "lookup_p50_s",
    },
}

# per-layer metrics where a larger value is the better one
PER_LAYER_HIGHER = {"engine.prepare_hidden_share", "spark.core_busy_share"}

PER_LAYER = {
    "sources.plan_s": "s",
    "sources.plan_calls": "count",
    "engine.prepare_s": "s",
    "engine.prepare_hidden_share": "ratio",
    "engine.main_wait_s": "s",
    "engine.winners_per_event": "ratio",
    "merge.merge_s": "s",
    "merge.rows_written_per_key": "ratio",
    "lake.write_s.ups": "s",
    "lake.write_s.keep": "s",
    "lake.write_s.delta": "s",
    "lake.write_s.lww": "s",
    "lake.write_s.compact": "s",
    "lake.commit_s": "s",
    "lake.commits": "count",
    "lake.files_per_bucket": "ratio",
    "lake.disk_bytes_per_input_byte": "ratio",
    "lake.read_s": "s",
    "lake.lookup_s": "s",
    "lake.delta_files_at_read": "count",
    "compact.compact_s": "s",
    "compact.expire_s": "s",
    "compact.files_folded": "count",
    "realtime.add_batch_s": "s",
    "realtime.trigger_overhead_s": "s",
    "incremental.chunk_s": "s",
    "incremental.chunks": "count",
    "incremental.stream_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else math.nan


def _m(value, unit, n=None) -> dict:
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def _cpu(rounds, kind) -> list:
    return [x for r in rounds for x in r.cpu.get(kind, [])]


def end_to_end(rounds, setup) -> dict:
    boot, applies = _cpu(rounds, "bootstrap"), _cpu(rounds, "apply")
    scans, lookups = _cpu(rounds, "read_scan"), _cpu(rounds, "lookup")
    walls = [r.bootstrap_s for r in rounds]
    return {
        "bootstrap_s": _m(_median(walls), "s", len(walls)),
        "bootstrap_cpu_s": _m(_median(boot), "s", len(boot)),
        "apply_cpu_s": _m(_median(applies), "s", len(applies)),
        "read_scan_cpu_s": _m(_median(scans), "s", len(scans)),
        "lookup_cpu_s": _m(_median(lookups), "s", len(lookups)),
        "setup_s": _m(setup, "s", 1),
        "live_heap_mb": _m(max(x for r in rounds for x in r.live_heap_mb), "MB",
                           sum(len(r.live_heap_mb) for r in rounds)),
    }


def wall_metrics(rounds) -> dict:
    applies = [x for r in rounds for x in r.apply_s]
    scans = [x for r in rounds for x in r.read_scan_s]
    lookups = [x for r in rounds for x in r.lookup_s]
    rates = [r.events / r.bootstrap_s for r in rounds]
    return {
        "events_per_s": _m(_median(rates), "events/s", len(rates)),
        "apply_p50_s": _m(_median(applies), "s", len(applies)),
        "read_scan_s": _m(_median(scans), "s", len(scans)),
        "lookup_p50_s": _m(_median(lookups), "s", len(lookups)),
    }


def wall_names(workload, rounds, attempted, failed, peak_rss_mb) -> dict:
    """The workload-qualified names and the peak resident set, for the
    report."""
    mets = wall_metrics(rounds)
    out = {k: mets[v] for k, v in WALL_NAMES[workload].items()}
    boot = [r.bootstrap_s for r in rounds]
    if workload == "incremental_stream":
        out["incr_bootstrap_s"] = _m(_median(boot), "s", len(boot))
        rates = [r.extra["engine_events"] / r.extra["stream_s"] for r in rounds]
        out["stream_events_per_s"] = _m(_median(rates), "events/s", len(rates))
    out["failed_ops_ratio"] = _m(failed / max(attempted, 1), "ratio", attempted)
    out["peak_rss_mb"] = _m(peak_rss_mb, "MB", 1)
    applies = sorted(x for r in rounds for x in r.apply_s)
    out["apply_max_s"] = _m(applies[-1] if applies else math.nan, "s", len(applies))
    return out


def per_layer(ctx, rounds, job_marks) -> tuple[dict, dict]:
    """Per-layer metrics of the traced rounds, and the breakdowns the
    report prints (Spark per job group, trigger calls, self times)."""
    tr = ctx.tracer
    spans = tr.spans
    nt = len(rounds)

    def of(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.end - s.start for s in of(name))

    def iv(ss):
        return [(s.start, s.end) for s in ss]

    by_id = {s.sid: s for s in spans}
    prep = of("engine.prepare") + of("engine.stats")
    merges = of("merge.merge")
    prep_s = sum(s.end - s.start for s in prep)
    hidden = overlap_len(iv(prep), iv(merges))
    runs = of("engine.run")
    keys = sum(s.attrs.get("batch_keys", 0) for s in merges)
    engine_merges = [
        s for s in merges if by_id.get(s.parent) and by_id[s.parent].name == "engine.apply"
    ]
    writes = of("lake.write")
    lookups = of("lake.lookup")
    rounds_iv = iv(of("round"))
    wall = sum(e - s for s, e in rounds_iv)
    layer_iv = iv([s for s in spans if s.name != "round"])
    stage = spark_stage_metrics(ctx.spark, job_marks)
    exec_s = sum(g["executor_run_s"] for g in stage.values())
    out = {
        "sources.plan_s": total("sources.plan") / nt,
        "sources.plan_calls": len(of("sources.plan")) / nt,
        "engine.prepare_s": prep_s / nt,
        "engine.prepare_hidden_share": hidden / prep_s if prep_s else 0.0,
        "engine.main_wait_s": sum(self_time(s, spans) for s in runs) / nt,
        "engine.winners_per_event": sum(s.attrs.get("batch_keys", 0) for s in engine_merges)
        / max(sum(r.extra.get("engine_events", 0) for r in rounds), 1),
        "merge.merge_s": total("merge.merge") / nt,
        "merge.rows_written_per_key": sum(s.attrs.get("rows_written", 0) for s in merges)
        / max(keys, 1),
        "lake.commit_s": total("lake.commit") / nt,
        "lake.commits": len(of("lake.commit")) / nt,
        "lake.files_per_bucket": _median([r.extra["files_per_bucket"] for r in rounds]),
        "lake.disk_bytes_per_input_byte": _median(
            [r.extra["disk_bytes_per_input_byte"] for r in rounds]),
        "lake.read_s": _median([s.end - s.start for s in of("lake.read")])
        if of("lake.read") else 0.0,
        "lake.lookup_s": _median([s.end - s.start for s in lookups]) if lookups else 0.0,
        "lake.delta_files_at_read": _median(
            [r.extra["delta_files_at_read"] for r in rounds]),
        "compact.compact_s": total("compact.compact") / nt,
        "compact.expire_s": total("compact.expire") / nt,
        "compact.files_folded": sum(
            s.attrs.get("files_folded", 0) for s in of("compact.compact")) / nt,
        "realtime.add_batch_s": sum(r.extra.get("add_batch_s", 0.0) for r in rounds) / nt,
        "realtime.trigger_overhead_s": sum(
            r.extra.get("trigger_s", 0.0) - r.extra.get("add_batch_s", 0.0)
            for r in rounds) / nt,
        "incremental.chunk_s": total("incremental.chunk") / nt,
        "incremental.chunks": len(of("incremental.chunk")) / nt,
        "incremental.stream_gap_s": _median(
            [r.extra.get("stream_gap_s", 0.0) for r in rounds]),
        "spark.executor_run_s": exec_s / nt,
        "spark.core_busy_share": exec_s / (wall * ctx.spark.sparkContext.defaultParallelism)
        if wall else 0.0,
        "spark.shuffle_write_bytes": sum(
            g["shuffle_write_bytes"] for g in stage.values()) / nt,
        "spark.spill_bytes": sum(g["spill_bytes"] for g in stage.values()) / nt,
        "trace.overhead_s": sum(s.own for s in spans) / nt,
        "trace.unattributed_share": 1.0
        - union_len([c for s, e in rounds_iv for c in clip(layer_iv, s, e)]) / wall
        if wall else 0.0,
    }
    for tag in ("ups", "keep", "delta", "lww", "compact"):
        out[f"lake.write_s.{tag}"] = sum(
            s.end - s.start for s in writes if s.attrs.get("tag") == tag) / nt
    extra = {
        "spark_by_job_group": stage,
        "per_apply": [a for r in rounds for a in r.extra.get("per_apply", [])],
        "self_time_s": _self_times(spans, nt),
    }
    return {k: _m(out[k], PER_LAYER[k]) for k in PER_LAYER}, extra


def _self_times(spans, nt) -> dict:
    acc: dict[str, float] = {}
    for s in spans:
        acc[s.name] = acc.get(s.name, 0.0) + self_time(s, spans)
    return {k: v / nt for k, v in sorted(acc.items())}


def _fmt(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "n/a"
        return f"{v:.4g}"
    return str(v)


def print_report(report: dict, metrics: dict, errors: list) -> None:
    print("== perfbench report ==")
    print("session:", json.dumps(report.get("session", {})))
    print("probes:", json.dumps(report.get("probes", {})))
    for name, w in report["workloads"].items():
        print(f"-- {name}: {w['rounds']} rounds; session {w['session_s']:.2f} s, "
              f"warm-up {w['warmup_s']:.2f} s, inputs {w['inputs_s']:.2f} s, "
              f"host steal {w['host_steal_share']:.1%} while measuring")
        print("   cpu_s:", json.dumps({k: [round(x, 2) for x in v]
                                      for k, v in w["cpu_s"].items()}))
        for k, m in w.get("wall_names", {}).items():
            print(f"   {k:28s} {_fmt(m['value']):>12s} {m['unit']:9s} n={m.get('n', '')}")
        extra = w.get("trace_extra") or {}
        for row in extra.get("per_apply", []):
            print("   trigger call {call}: apply {apply_s:.2f} s, merge {merge_s:.2f} s, "
                  "files/bucket {files_per_bucket:.2f}".format(**row))
        if extra.get("self_time_s"):
            print("   self time per round:",
                  ", ".join(f"{k} {v:.2f}" for k, v in extra["self_time_s"].items()))
        if extra.get("spark_by_job_group"):
            for g, d in sorted(extra["spark_by_job_group"].items()):
                print(f"   spark[{g}]: run {d['executor_run_s']:.2f} s, shuffle "
                      f"{d['shuffle_write_bytes']} B, spill {d['spill_bytes']} B")
        if w.get("span_file"):
            print(f"   spans: {w['spans']} written to {w['span_file']}")
    print("-- metrics")
    for k, m in metrics.items():
        print(f"   {k:34s} {_fmt(m['value']):>12s} {m['unit']:9s} n={m.get('n', '')}")
    for e in errors:
        print("ERROR:", e)

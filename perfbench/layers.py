"""Per-layer metrics of a traced run, each labelled with the end-to-end
metric and workload it should move (see README.md)."""

from __future__ import annotations

from pathlib import Path

import spans as sp
from common import Outcome, median

# api verb -> the op kinds of the client that call it
VERB_OPS = {
    "ingest_stream": ("ingest",),
    "tier1_rhythm_anomalies": ("detect",),
    "tier2_clusters": ("clusters_text", "clusters_window"),
    "tier2_triage": ("triage",),
    "stream_tail": ("tail",),
    "control_suppress": ("suppress",),
    "control_rules": ("rules",),
}
VERB_P50 = {  # per-verb medians of api_mixed
    "ingest_call_p50_s": "ingest",
    "detect_call_p50_s": "detect",
    "clusters_text_p50_s": "clusters_text",
    "clusters_window_p50_s": "clusters_window",
    "triage_call_p50_s": "triage",
    "tail_call_p50_s": "tail",
}
TIER2_READ_OPS = ("clusters_text", "clusters_window", "triage")

A, S = "api_mixed", "stream_backlog"

# metric -> (end-to-end metric it should move, workloads); units and
# directions are in BENCHMARK.json
LAYERS: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", f"{A},{S}"),
    **{f"api.{v}.{k}": ("ops_per_s", A)
       for v in VERB_OPS for k in ("spark_jobs", "tasks", "busy_frac")},
    **{k: ("ops_per_s", A) for k in VERB_P50},
    "ingest.rows_per_call": ("ingest_rows_per_s", A),
    "ingest.files_per_call": ("ingest_rows_per_s,detect_p50_s", A),
    "tier1.files_total": ("detect_p50_s,ops_per_s", f"{A},{S}"),
    "rhythm.find_rhythm_anomalies.plan_s": ("detect_p50_s", f"{A},{S}"),
    "rhythm.detect.bytes_read": ("detect_p50_s", f"{A},{S}"),
    "rhythm.detect.shuffle_bytes": ("detect_p50_s", f"{A},{S}"),
    "promote.write_tier2_s": ("detect_p50_s", f"{A},{S}"),
    "promote.tier2_files_total": ("ops_per_s", f"{A},{S}"),
    "promote.read_tier2.files_read": ("ops_per_s", A),
    "forensic.cluster_search_over.plan_s": ("ops_per_s", A),
    "forensic.triage_over.plan_s": ("ops_per_s", A),
    "forensic.stages_per_call": ("ops_per_s", A),
    "forensic.shuffle_bytes_per_call": ("ops_per_s", A),
    "control.rules_write_s": ("ops_per_s", A),
    "control.apply_rules.plan_s": ("ops_per_s", A),
    "stream.ingest.batches": ("ingest_rows_per_s,ops_per_s", S),
    "stream.ingest.add_batch_p50_s": ("ingest_rows_per_s", S),
    "stream.ingest.query_planning_p50_s": ("ingest_rows_per_s", S),
    "stream.ingest.wal_commit_p50_s": ("ingest_rows_per_s", S),
    "stream.ingest.latest_offset_p50_s": ("ingest_rows_per_s", S),
    "stream.ingest.rows_per_s_1core": ("ingest_rows_per_s", S),
    "stream.detect.triggers": ("detect_p50_s,ops_per_s", S),
    "stream.detect.compute_p50_s": ("detect_p50_s", S),
    "spark.busy_frac": ("all", f"{A},{S}"),
    "spark.scheduler_delay_s": ("all", f"{A},{S}"),
    "spark.gc_s": ("all", f"{A},{S}"),
    "spark.spill_bytes": ("all", f"{A},{S}"),
    "spark.failed_tasks": ("all", f"{A},{S}"),
    "trace.self_s": ("tracing overhead", f"{A},{S}"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def count_files(path: Path) -> int:
    return sum(1 for _ in path.rglob("*.parquet")) if path.exists() else 0


def compute(outcome: Outcome, tracer: sp.Tracer, event_log: Path | None,
            stream_runs: dict, cores: int, t_session: float) -> dict:
    """Every metric of LAYERS as ``{name: value}``; a metric whose layer
    the workload does not touch reads 0."""
    spans = tracer.spans
    jobs = sp.read_event_log(event_log) if event_log else {"_files_read": {}}
    own = sp.attribute(spans, jobs, stream_runs)
    inc = sp.inclusive(spans, own)
    val: dict[str, float] = dict.fromkeys(LAYERS, 0.0)
    val["session.start_s"] = t_session

    ops_by_kind: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"].startswith("op."):
            ops_by_kind.setdefault(s["name"][3:], []).append(s)

    def op_spans(kinds):
        return [s for k in kinds for s in ops_by_kind.get(k, [])]

    for verb, kinds in VERB_OPS.items():
        calls = op_spans(kinds)
        if not calls:
            continue
        val[f"api.{verb}.spark_jobs"] = _mean(inc[s["id"]]["jobs"] for s in calls)
        val[f"api.{verb}.tasks"] = _mean(inc[s["id"]]["tasks"] for s in calls)
        wall = sum(s["dur"] for s in calls)
        val[f"api.{verb}.busy_frac"] = (
            sum(inc[s["id"]]["run_ms"] for s in calls) / 1000.0 / (wall * cores) if wall else 0.0)
    for name, kind in VERB_P50.items():
        val[name] = median([s["dur"] for s in ops_by_kind.get(kind, [])])

    def plan(name):
        return _mean(s["dur"] for s in tracer.by_name(name))

    val["rhythm.find_rhythm_anomalies.plan_s"] = plan("rhythm.find_rhythm_anomalies")
    val["promote.write_tier2_s"] = plan("promote.write_tier2")
    val["forensic.cluster_search_over.plan_s"] = plan("forensic.cluster_search_over")
    val["forensic.triage_over.plan_s"] = plan("forensic.triage_over")
    val["control.rules_write_s"] = plan("api._write_rules")
    val["control.apply_rules.plan_s"] = plan("control.apply_rules")

    # per detection: an api call, or a trigger of the streaming detection query
    detects = op_spans(("detect", "stream_detect"))
    n_detect = len(ops_by_kind.get("detect", [])) or outcome.layers.get(
        "stream.detect.triggers", 0)
    if n_detect:
        val["rhythm.detect.bytes_read"] = sum(inc[s["id"]]["bytes_read"] for s in detects) / n_detect
        val["rhythm.detect.shuffle_bytes"] = (
            sum(inc[s["id"]]["shuffle_bytes"] for s in detects) / n_detect)
    reads = op_spans(TIER2_READ_OPS)
    if reads:
        val["promote.read_tier2.files_read"] = _mean(inc[s["id"]]["files_read"] for s in reads)
        val["forensic.stages_per_call"] = _mean(inc[s["id"]]["stages"] for s in reads)
        val["forensic.shuffle_bytes_per_call"] = _mean(inc[s["id"]]["shuffle_bytes"] for s in reads)

    measure = tracer.by_name("measure")
    if measure:
        m = inc[measure[0]["id"]]
        val["spark.busy_frac"] = m["run_ms"] / 1000.0 / (measure[0]["dur"] * cores)
        val["spark.scheduler_delay_s"] = m["sched_delay_ms"] / 1000.0
        val["spark.gc_s"] = m["gc_ms"] / 1000.0
        val["spark.spill_bytes"] = m["spill_bytes"]
        val["spark.failed_tasks"] = m["failed_tasks"]
    val["trace.self_s"] = tracer.self_s

    val.update(outcome.layers)
    return {name: float(val[name]) for name in LAYERS}


"""Unit tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import loggen  # noqa: E402
import spans  # noqa: E402
from common import Ctx, Outcome, result_line, timed_op  # noqa: E402


def _timeline(seed: int) -> str:
    fh = loggen.Firehose(seed)
    envs = fh.slice(1_000, 1_600) + fh.spike(1_540, 1_600, "db-cluster", 60)
    envs += fh.novel(1_560, 1_600, loggen.novel_tag(3), 12)
    return loggen.to_jsonl(envs)


def test_same_seed_gives_identical_envelopes():
    assert _timeline(7).encode() == _timeline(7).encode()


def test_different_seed_gives_different_envelopes():
    assert _timeline(7) != _timeline(8)


def test_slices_do_not_depend_on_how_the_timeline_is_walked():
    fh = loggen.Firehose(5)
    assert loggen.to_jsonl(fh.slice(0, 60)) == loggen.to_jsonl(loggen.Firehose(5).slice(0, 60))


def test_batch_mix_and_planted_patterns():
    fh = loggen.Firehose(1)
    minute = fh.slice(600, 660)
    assert len(minute) == 60 * loggen.RATE
    bodies = [loggen.body_of(e) for e in minute]
    assert sum(b.startswith("Heartbeat ok") for b in bodies) == 12
    assert sum(b.startswith("Service Unavailable") for b in bodies) == 36
    assert not any("Quantum" in b for b in bodies)
    spike_n, novel_n = loggen.plant_sizes(30)
    assert (spike_n, novel_n) == (30, 6)  # 1 % and 0.2 % of a 30 s window
    planted = fh.spike(630, 631, "api-gateway", spike_n) + fh.novel(630, 631, "zetaq", novel_n)
    batch = fh.slice(630, 631, planted)
    assert len(batch) == loggen.RATE  # plants displace background
    assert sum("zetaq" in loggen.body_of(e) for e in batch) == novel_n
    assert loggen.novel_tag(0) != loggen.novel_tag(1)
    assert not any(ch.isdigit() for ch in loggen.novel_tag(12345))


def test_layer_metrics_match_benchmark_json():
    import json

    import layers
    from common import BENCHMARK_JSON

    spec = json.loads(BENCHMARK_JSON.read_text())
    assert [m["name"] for m in spec["per_layer"]] == list(layers.LAYERS)


def _ctx() -> Ctx:
    return Ctx(spark=None, tracer=spans.Tracer("t"), seed=0, seconds=1, cores=1, work=Path("."))


def test_dropped_row_is_reported_as_a_failure():
    sent = loggen.Firehose(2).slice(0, 60)
    ops = []
    # an engine that loses one envelope of the batch
    timed_op(_ctx(), ops, "ingest", lambda: {"tier1_ingested": len(sent) - 1},
             lambda r: checks.ingested(r, len(sent)))
    timed_op(_ctx(), ops, "ingest", lambda: {"tier1_ingested": len(sent)},
             lambda r: checks.ingested(r, len(sent)))
    line = result_line(Outcome(setup_s=1.0, ops=ops), {"setup_s": 1.0})
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (2, 1)
    assert checks.exactly_once(rows=999, written=1000) is not None
    assert checks.exactly_once(rows=1000, written=1000) is None


def test_drain_that_lost_a_row_is_reported_as_a_failure():
    import stream_backlog as sb

    batch = {"numInputRows": 10, "durationMs": {"triggerExecution": 500}}
    drain = sb.Drain(1.0, 2.0, [batch, batch], [{"compute_s": 1.5}],
                     [checks.exactly_once(rows=19, written=20)])
    ops = sb.ops_of(drain)
    assert [o.ok for o in ops] == [True, True, False]
    assert sb.rows_per_s([batch, batch]) == 20.0


def test_raised_call_is_reported_as_a_failure():
    ops = []

    def boom():
        raise RuntimeError("executor lost")

    timed_op(_ctx(), ops, "detect", boom)
    assert not ops[0].ok and "executor lost" in ops[0].detail


def test_detection_checks():
    steady = {"rhythm_hash": "s:1", "body": "Heartbeat ok from node 3", "service": "user-service"}
    novel = {"rhythm_hash": "n:1", "body": "Quantum entanglement decoherence in zetab lattice",
             "service": "db-cluster"}
    spike = {"rhythm_hash": "f:1", "body": "Service Unavailable: Upstream failure - retrying 2",
             "service": "api-gateway"}
    good = {"novel_anomalies": [novel], "frequency_anomalies": [spike]}
    assert checks.planted_flagged(good, "zetab", "api-gateway") is None
    assert checks.planted_flagged(good, "zetac", "api-gateway") is not None
    assert checks.planted_flagged(good, "zetab", "db-cluster") is not None
    noisy = {"novel_anomalies": [novel], "frequency_anomalies": [spike, steady]}
    assert checks.planted_flagged(noisy, "zetab", "api-gateway") is not None
    assert checks.suppressed_absent(good, "n:1") is not None
    assert checks.suppressed_absent(good, "x:1") is None
    assert checks.cluster_absent([{"cluster_id": "n:1"}], "n:1") is not None
    assert checks.rule_listed([{"rhythm_hash": "n:1", "rule": "SUPPRESS"}], "n:1") is None
    assert checks.planted_promoted(1, 0) is not None


def test_self_time_subtracts_child_spans():
    parent = {"id": "p", "parent": None, "start": 0.0, "end": 10.0, "dur": 10.0}
    kids = [{"id": "a", "parent": "p", "start": 1.0, "end": 4.0, "dur": 3.0},
            {"id": "b", "parent": "p", "start": 3.0, "end": 6.0, "dur": 3.0}]
    assert spans.self_time(parent, [parent] + kids) == 5.0


def test_jobs_attributed_by_group_stream_run_and_time():
    sp = [{"id": "r-1", "parent": None, "start": 0.0, "end": 10.0, "dur": 10.0},
          {"id": "r-2", "parent": "r-1", "start": 2.0, "end": 4.0, "dur": 2.0}]
    zero = dict.fromkeys(spans.COUNTERS, 0)

    def job(group, submit_s, tasks):
        return {**zero, "group": group, "submit_ms": submit_s * 1000, "exec_id": None,
                "tasks": tasks}

    jobs = {0: job("r-2", 3, 1), 1: job("run-x", 5, 10), 2: job(None, 3.5, 100),
            3: job(None, 8, 1000), "_files_read": {}}
    own = spans.attribute(sp, jobs, {"run-x": "r-1"})
    assert own["r-2"]["tasks"] == 101 and own["r-1"]["tasks"] == 1010
    assert spans.inclusive(sp, own)["r-1"]["tasks"] == 1111

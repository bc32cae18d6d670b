"""``api_mixed``: one closed-loop client driving ``VIAEngine`` the way
VIA's users do - a log shipper, the detection cadence and an on-call
operator - with writes beside reads on one store.

The traffic follows the reference (BASELINE.md): 100 logs per logical
second shipped in 100-envelope batches, so one ``ingest_stream`` call
carries one logical second. The reference detects every 60 s over a
60 s window; to fit the run-time budget the benchmark halves both, to
one detection per 30 logical seconds over a 30 s window (see README.md).
Set-up ingests a seven-day OTel history and runs detection once per day
with the tier-2 sensitivity knobs, so tier 2 spans seven daily
partitions. The measured phase then repeats a 30 s cycle: 30 ingests
(three of them carrying planted anomalies at fixed batch indices), one
detection, then one call of each operator verb.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import checks
import layers
import loggen
from common import Ctx, Op, Outcome, SetupError, durations, median, timed_op

DAY = 86_400
T0 = 20_000 * DAY  # 2024-10-04T00:00:00Z
CADENCE = 30  # logical seconds between detections = ingest calls per cycle
WINDOW = 30  # detection window; [now - WINDOW, now] holds WINDOW + 1 seconds
DETECT_KW = {"sample_size": 2000, "novelty_min_count": 1}  # 2000 points = 20 s
BASELINE_SEC = 20
HISTORY_DAYS = 7
ACTIVE_SEC = BASELINE_SEC + WINDOW + 1  # logged seconds per history day
SPIKE_N, NOVEL_N = loggen.plant_sizes(WINDOW)
# batch indices of a cycle that carry its plants: the spike, the novel
# pattern, and a repeat of the previous cycle's (suppressed) novel pattern.
# The next cycle's baseline sample holds batches 9-28, so none of them.
SPIKE_AT, NOVEL_AT, REPLANT_AT = 2, 4, 6
TAIL_FILTERS = (None, "heartbeat", "timeout")

VERBS = ("ingest", "detect", "clusters_text", "clusters_window", "triage", "tail",
         "suppress", "rules")


class ApiMixed:
    def __init__(self, ctx: Ctx):
        from via_spark.api import VIAEngine

        self.ctx = ctx
        self.fh = loggen.Firehose(ctx.seed)
        self.rng = random.Random(ctx.seed)
        self.eng = VIAEngine(ctx.spark, str(ctx.work / "store"))
        self.clock = T0  # next unlogged second
        self.cycle = 0
        self.history_rows = 0
        self.rows_ingested = 0  # by measured ingest calls
        self.ingest_rates: list[float] = []  # rows/s of each measured ingest call
        self.suppressed = ("", "")  # (tag, rhythm hash) suppressed last

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        hist, nows, tags = [], [], []
        for d in range(HISTORY_DAYS):
            end = T0 + d * DAY + DAY // 2
            tags.append(loggen.novel_tag(10_000 + d))
            # the plant lies in the day's window but before the last
            # BASELINE_SEC, which are the first cycle's baseline sample
            hist += self.fh.slice(end - ACTIVE_SEC, end,
                                  self.fh.novel(end - WINDOW, end - BASELINE_SEC - 2,
                                                tags[-1], NOVEL_N))
            nows.append(end - 1)
        self.clock = nows[-1] + 1
        res = self.eng.ingest_stream(hist)
        if res["tier1_ingested"] != len(hist):
            raise SetupError(f"history ingest wrote {res['tier1_ingested']} of {len(hist)} rows")
        self.history_rows = len(hist)
        for now, tag in zip(nows, tags):
            out = self.eng.tier1_rhythm_anomalies(window_sec=WINDOW, now=now, **DETECT_KW)
            novel = [a for a in out["novel_anomalies"] if tag in a["body"]]
            if not novel:
                raise SetupError(f"history day ending {now} did not flag {tag!r}")
        days = list(Path(self.eng.tier2_path).glob("event_date=*"))
        if len(days) < HISTORY_DAYS:
            raise SetupError(f"tier 2 spans {len(days)} daily partitions, want {HISTORY_DAYS}")
        # the last day's pattern is the first cycle's suppressed repeat;
        # with the other calls below it warms every verb of the cycle
        self.suppressed = (tag, novel[0]["rhythm_hash"])
        self.eng.control_suppress(self.suppressed[1], ttl_sec=DAY, now=self.clock - 1)
        self.eng.control_rules(now=self.clock - 1)
        self.eng.ingest_stream(self._batch())
        hits = self.eng.tier2_clusters(text_filter="quantum").collect()
        self.eng.tier2_clusters(start_ts=T0, end_ts=T0 + DAY).collect()
        if hits:
            self.eng.tier2_triage([hits[0]["cluster_id"]]).collect()
        self.eng.stream_tail(limit=50)

    def _batch(self, planted: list[dict] = ()) -> list[dict]:
        """The next logical second's 100 envelopes."""
        batch = self.fh.slice(self.clock, self.clock + 1, planted)
        self.clock += 1
        return batch

    # -- one cycle ----------------------------------------------------------

    def run_cycle(self, ops: list[Op]) -> None:
        """37 calls: 30 ingests, a detection, then suppress, rules, a text
        search, triage, a window search and a tail read."""
        ctx, eng, rng, fh = self.ctx, self.eng, self.rng, self.fh
        c = self.cycle
        self.cycle += 1
        tag = loggen.novel_tag(c)
        spiked = loggen.SERVICES[c % len(loggen.SERVICES)]
        old_tag, old_hash = self.suppressed

        for i in range(CADENCE):
            t = self.clock
            planted = (fh.spike(t, t + 1, spiked, SPIKE_N) if i == SPIKE_AT
                       else fh.novel(t, t + 1, tag, NOVEL_N) if i == NOVEL_AT
                       else fh.novel(t, t + 1, old_tag, NOVEL_N) if i == REPLANT_AT
                       else [])
            batch = self._batch(planted)
            r = timed_op(ctx, ops, "ingest", lambda: eng.ingest_stream(batch),
                         lambda r: checks.ingested(r, len(batch)))
            if r:
                self.rows_ingested += r["tier1_ingested"]
                self.ingest_rates.append(r["tier1_ingested"] / ops[-1].dur)

        now = self.clock - 1
        out = timed_op(
            ctx, ops, "detect",
            lambda: eng.tier1_rhythm_anomalies(window_sec=WINDOW, now=now, **DETECT_KW),
            lambda r: (checks.planted_flagged(r, tag, spiked)
                       or checks.suppressed_absent(r, old_hash)))
        novel = [a for a in (out or {}).get("novel_anomalies", []) if tag in a["body"]]
        target = novel[0]["rhythm_hash"] if novel else "missing:0"
        self.suppressed = (tag, target)
        timed_op(ctx, ops, "suppress", lambda: eng.control_suppress(target, ttl_sec=DAY, now=now))
        timed_op(ctx, ops, "rules", lambda: eng.control_rules(now=now),
                 lambda r: checks.rule_listed(r, target))
        hits = timed_op(ctx, ops, "clusters_text",
                        lambda: eng.tier2_clusters(text_filter="quantum").collect(),
                        lambda r: checks.cluster_absent(r, target)) or []
        lo = T0 + rng.randrange(HISTORY_DAYS - 2) * DAY
        hi = lo + rng.randint(1, 3) * DAY
        pos = [hits[rng.randrange(len(hits))]["cluster_id"]] if hits else []
        neg = [r["cluster_id"] for r in hits[:2] if r["cluster_id"] not in pos][:1]
        timed_op(ctx, ops, "triage", lambda: eng.tier2_triage(pos, neg).collect(),
                 lambda r: None if pos else "no cluster to triage")
        timed_op(ctx, ops, "clusters_window",
                 lambda: eng.tier2_clusters(start_ts=lo, end_ts=hi).collect(),
                 lambda r: None if r else "empty window search")
        flt = rng.choice(TAIL_FILTERS)
        timed_op(ctx, ops, "tail", lambda: eng.stream_tail(limit=50, text_filter=flt),
                 lambda r: None if r else "empty tail")


def run(ctx: Ctx, t_session: float) -> Outcome:
    t0 = time.perf_counter()
    wl = ApiMixed(ctx)
    with ctx.tracer.span("setup"):
        wl.setup()
    setup_s = t_session + time.perf_counter() - t0

    tier1, tier2 = Path(wl.eng.tier1_path), Path(wl.eng.tier2_path)
    files_before = layers.count_files(tier1) if ctx.tracer.traced else 0
    ops: list[Op] = []
    start = time.perf_counter()
    with ctx.tracer.span("measure"):
        while time.perf_counter() - start < ctx.seconds:
            wl.run_cycle(ops)
    wall = time.perf_counter() - start

    out = Outcome(setup_s=setup_s, ops=ops)
    out.end_to_end = {
        "ops_per_s": len(ops) / wall,
        "ingest_rows_per_s": median(wl.ingest_rates),
        "detect_p50_s": median(durations(ops, "detect")),
    }
    out.info = {
        "cycles": wl.cycle,
        "measure_s": wall,
        "history_rows": wl.history_rows,
        "per_verb_p50_s": {v: median(durations(ops, v)) for v in VERBS},
        "per_verb_n": {v: len(durations(ops, v)) for v in VERBS},
    }
    if ctx.tracer.traced:
        n = max(1, len(durations(ops, "ingest")))
        out.layers["ingest.rows_per_call"] = wl.rows_ingested / n
        out.layers["ingest.files_per_call"] = (layers.count_files(tier1) - files_before) / n
        out.layers["tier1.files_total"] = layers.count_files(tier1)
        out.layers["promote.tier2_files_total"] = layers.count_files(tier2)
    return out

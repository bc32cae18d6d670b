"""``stream_backlog``: drain a seeded OTel-JSONL backlog through the
Structured Streaming pipeline, then run per-trigger detection over it.

Both queries use ``availableNow`` triggers: the drain rate is the upper
bound on the sustainable ingest rate, and unlike processing-time
triggers it does not depend on trigger phase. The measured phase repeats
the two drains on fresh stores until ``--seconds`` have passed (at
least once). Only the two streaming queries are timed; after each drain, untimed, the run checks that tier 1 holds every
envelope exactly once and that both planted anomalies reached tier 2.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import checks
import layers
import loggen
from common import Ctx, Op, Outcome, SetupError, median

T0 = 20_000 * 86_400
FILES = 9
FILE_SEC = 40  # logical seconds per backlog file (4k envelopes at 100 logs/s)
WARMUP_FILES = 1
INGEST_FILES_PER_TRIGGER = 1  # 9 ingest micro-batches per drain
DETECT_FILES_PER_TRIGGER = 3  # 3 detection triggers per drain
WINDOW = 300  # > the backlog's last 20 s baseline sample needs 320 s of logs
DETECT_KW = {"sample_size": 2000, "novelty_min_count": 1}


def write_backlog(fh: loggen.Firehose, out: Path, files: int,
                  plant: tuple[str, str] | None) -> int:
    """``files`` JSONL files of consecutive time slices; with ``plant =
    (tag, service)`` the last one holds a planted novelty ``tag`` and a
    spike on ``service``. Returns the envelope count."""
    out.mkdir(parents=True)
    n = 0
    for i in range(files):
        t0, t1 = T0 + i * FILE_SEC, T0 + (i + 1) * FILE_SEC
        planted = []
        if plant and i == files - 1:
            tag, spiked = plant
            spike_n, novel_n = loggen.plant_sizes(WINDOW)
            planted = (fh.spike(t1 - 20, t1 - 15, spiked, spike_n)
                       + fh.novel(t1 - 10, t1 - 5, tag, novel_n))
        envs = fh.slice(t0, t1, planted)
        (out / f"part-{i:04d}.jsonl").write_text(loggen.to_jsonl(envs))
        n += len(envs)
    return n


@dataclass
class Drain:
    """One ingest drain plus one detection drain over the same files."""

    ingest_s: float  # wall of the ingest query, start to termination
    detect_s: float  # wall of the detection query
    progress: list[dict]  # ingest micro-batches that read rows
    timings: list[dict]  # detection triggers (``batch_timings``)
    errors: list[str] = field(default_factory=list)


class StreamBacklog:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.fh = loggen.Firehose(ctx.seed)
        self.tag = loggen.novel_tag(ctx.seed % 1000)
        self.spiked = loggen.SERVICES[ctx.seed % len(loggen.SERVICES)]
        self.stream_runs: dict[str, str] = {}
        self.files = (0, 0)  # tier-1 / tier-2 parquet files of the last drain
        self.reps = 0

    def ingest_drain(self, src: Path, rep: Path) -> tuple[list[dict], float]:
        """Drain ``src`` into ``rep/tier1``; returns the progress of every
        micro-batch that read rows, and the drain's wall seconds."""
        from via_spark.streaming import pipeline

        t0 = time.perf_counter()
        with self.ctx.tracer.span("op.stream_ingest") as rec:
            stream = pipeline.read_otel_stream(
                self.ctx.spark, str(src), max_files_per_trigger=INGEST_FILES_PER_TRIGGER)
            q = pipeline.start_tier1_ingest(stream, str(rep / "tier1"), str(rep / "ck_ingest"),
                                            available_now=True)
            self.stream_runs[str(q.runId)] = rec["id"]
            q.awaitTermination()
        drain_s = time.perf_counter() - t0
        return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0], drain_s

    def drain(self, src: Path, expected: int, planted: bool) -> Drain:
        """Both drains on fresh stores, then (untimed) the output checks;
        the stores are deleted afterwards."""
        from pyspark.sql import functions as F
        from via_spark.operators import promote
        from via_spark.streaming import pipeline

        spark, tracer = self.ctx.spark, self.ctx.tracer
        rep = self.ctx.work / f"rep{self.reps}"
        self.reps += 1
        tier1, tier2 = str(rep / "tier1"), str(rep / "tier2")

        progress, ingest_s = self.ingest_drain(src, rep)
        timings: list[dict] = []
        t0 = time.perf_counter()
        with tracer.span("op.stream_detect") as rec:
            stream = pipeline.read_otel_stream(
                spark, str(src), max_files_per_trigger=DETECT_FILES_PER_TRIGGER)
            q = pipeline.start_detection(
                spark, stream, tier1, tier2, str(rep / "ck_detect"), window_sec=WINDOW,
                available_now=True, batch_timings=timings, **DETECT_KW)
            self.stream_runs[str(q.runId)] = rec["id"]
            q.awaitTermination()
        out = Drain(ingest_s, time.perf_counter() - t0, progress, timings)

        with tracer.span("check"):
            out.errors.append(checks.exactly_once(spark.read.parquet(tier1).count(), expected))
            if planted:
                t2 = promote.read_tier2(spark, tier2)
                out.errors.append(checks.planted_promoted(
                    t2.where((F.col("anomaly_type") == "novelty")
                             & F.col("body").contains(self.tag)).count(),
                    t2.where((F.col("anomaly_type") == "frequency")
                             & (F.col("service") == self.spiked)
                             & F.col("body").contains(checks.SPIKE_MARK)).count()))
            if not progress or not timings:
                out.errors.append("a drain committed no batch")
            out.errors = [e for e in out.errors if e]
            if tracer.traced:
                self.files = (layers.count_files(Path(tier1)), layers.count_files(Path(tier2)))
        shutil.rmtree(rep, ignore_errors=True)
        return out


def ops_of(d: Drain) -> list[Op]:
    """One op per micro-batch; a failed check fails the drain's last one."""
    ops = [Op("ingest_batch", p["durationMs"]["triggerExecution"] / 1000.0, True)
           for p in d.progress]
    ops += [Op("detect_trigger", t["compute_s"], True) for t in d.timings]
    if not ops:
        ops.append(Op("drain", d.ingest_s + d.detect_s, True))
    if d.errors:
        ops[-1].ok, ops[-1].detail = False, "; ".join(d.errors)
    return ops


def rows_per_s(progress: list[dict]) -> float:
    """Rows committed per second of micro-batch execution, over all
    batches."""
    secs = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0
    return sum(p["numInputRows"] for p in progress) / secs if secs else 0.0


def _one_core_rate(src: Path) -> float:
    """Ingest rate of the same backlog on ``local[1]``: the
    single-thread baseline of the traced run, in a child process."""
    proc = subprocess.run([sys.executable, __file__, "--one-core-ingest", str(src)],
                          capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        raise RuntimeError(f"local[1] baseline failed: {proc.stderr[-2000:]}")
    return float(proc.stdout.strip().splitlines()[-1])


def _one_core_main(src: Path) -> None:
    import env
    from spans import Tracer
    from via_spark.session import get_spark

    root = Path(__file__).resolve().parents[1]
    env.prepare(root, 1, False)
    try:
        spark = get_spark("perfbench-stream-1core")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            ctx = Ctx(spark=spark, tracer=Tracer("1core"), seed=0, seconds=0, cores=1,
                      work=env.work_dir(root))
            progress, _ = StreamBacklog(ctx).ingest_drain(src, ctx.work / "rep")
        finally:
            env.stop_spark(spark)
    finally:
        env.cleanup(root)
    print(rows_per_s(progress))


def run(ctx: Ctx, t_session: float) -> Outcome:
    t0 = time.perf_counter()
    wl = StreamBacklog(ctx)
    with ctx.tracer.span("setup"):
        src = ctx.work / "backlog"
        expected = write_backlog(wl.fh, src, FILES, (wl.tag, wl.spiked))
        warm = ctx.work / "warmup"
        warm_n = write_backlog(loggen.Firehose(ctx.seed + 1), warm, WARMUP_FILES, None)
        d = wl.drain(warm, warm_n, planted=False)
        if d.errors:
            raise SetupError(f"warm-up drain: {'; '.join(d.errors)}")
    setup_s = t_session + time.perf_counter() - t0

    drains: list[Drain] = []
    start = time.perf_counter()
    with ctx.tracer.span("measure"):
        while not drains or time.perf_counter() - start < ctx.seconds:
            drains.append(wl.drain(src, expected, planted=True))

    ops = [o for d in drains for o in ops_of(d)]
    progress = [p for d in drains for p in d.progress]
    trig = [t["compute_s"] for d in drains for t in d.timings]
    timed = sum(d.ingest_s + d.detect_s for d in drains)
    out = Outcome(setup_s=setup_s, ops=ops)
    out.end_to_end = {
        "ops_per_s": (len(progress) + len(trig)) / timed,
        "ingest_rows_per_s": rows_per_s(progress),
        "detect_p50_s": median(trig),
    }
    out.info = {
        "envelopes": expected, "files": FILES, "drains": len(drains),
        "ingest_drain_s": [d.ingest_s for d in drains],
        "detect_drain_s": [d.detect_s for d in drains],
        "ingest_batches": len(progress), "detect_trigger_s": trig,
        "stream_runs": wl.stream_runs,
    }
    if ctx.tracer.traced:
        def p50(key):
            return median([p["durationMs"].get(key, 0) / 1000.0 for p in progress])

        out.layers.update({
            "stream.ingest.batches": len(progress),
            "stream.ingest.add_batch_p50_s": p50("addBatch"),
            "stream.ingest.query_planning_p50_s": p50("queryPlanning"),
            "stream.ingest.wal_commit_p50_s": p50("walCommit"),
            "stream.ingest.latest_offset_p50_s": p50("latestOffset"),
            "stream.detect.triggers": len(trig),
            "stream.detect.compute_p50_s": median(trig),
            "stream.ingest.rows_per_s_1core": _one_core_rate(src),
            "tier1.files_total": wl.files[0],
            "promote.tier2_files_total": wl.files[1],
        })
    return out


if __name__ == "__main__" and sys.argv[1:2] == ["--one-core-ingest"]:
    _one_core_main(Path(sys.argv[2]))

"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload api_mixed --seed 1 --seconds 10 --trace 0

Run from the root of the tree under test. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` rebinds the engine's public functions
to span-recording wrappers, enables Spark's event log and prints the
per-layer metrics. Either way the full record (environment, both metric
sets, per-verb detail) is written to ``.perfbench/out/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(Path(__file__).resolve().parent))

import env  # noqa: E402

WORKLOADS = ("api_mixed", "stream_backlog")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    cores = env.cpu_count()
    try:
        env_rec = env.prepare(ROOT, cores, bool(args.trace))
    except env.EnvError as exc:
        print(f"perfbench: refusing to run: {exc}", file=sys.stderr)
        return 2
    try:
        result = _run(args, cores, env_rec)
    finally:
        env.cleanup(ROOT)
    print(json.dumps(result))
    return 0


def _run(args, cores: int, env_rec: dict) -> dict:
    trace = bool(args.trace)
    import layers
    import spans
    from common import Ctx, result_line, units

    if args.workload == "api_mixed":
        import api_mixed as workload
    else:
        import stream_backlog as workload

    t0 = time.perf_counter()
    from via_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter() - t0

    run_id = uuid.uuid4().hex[:8]
    tracer = spans.Tracer(run_id, spark.sparkContext if trace else None)
    undo = spans.install(tracer) if trace else []
    ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
              cores=cores, work=env.work_dir(ROOT))
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    cpu0 = env.cpu_times()
    try:
        outcome = workload.run(ctx, t_session)
        rss_mb = {"driver": env.peak_rss_mb("self"), "jvm": env.peak_rss_mb(jvm_pid)}
        app_id = spark.sparkContext.applicationId
    finally:
        spans.uninstall(undo)
        env.stop_spark(spark)

    # peak RSS of the Python driver plus the JVM
    e2e = {"setup_s": outcome.setup_s, "peak_rss_mb": sum(rss_mb.values()),
           **outcome.end_to_end}
    layer = None
    if trace:
        log = env.work_dir(ROOT) / "eventlog" / app_id
        layer = layers.compute(outcome, tracer, log, outcome.info.get("stream_runs", {}),
                               cores, t_session)
    out = env.out_dir(ROOT)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    unit = units()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env_rec,
        "attempted": outcome.attempted, "failed": outcome.failed,
        "failed_frac": outcome.failed / max(1, outcome.attempted),
        "host_steal_frac": env.steal_frac(cpu0, env.cpu_times()),
        "peak_rss_mb": rss_mb,
        "failures": [f"{o.kind}: {o.detail}" for o in outcome.ops if not o.ok][:20],
        "end_to_end": {k: {"value": v, "unit": unit[k]} for k, v in e2e.items()},
        "info": outcome.info,
    }
    if trace:
        record["per_layer"] = {
            k: {"value": v, "unit": unit[k], "moves": layers.LAYERS[k][0],
                "workloads": layers.LAYERS[k][1]}
            for k, v in layer.items()
        }
        base = out / f"{args.workload}-seed{args.seed}-trace0.json"
        if base.exists():
            untraced = json.loads(base.read_text())["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k] / untraced[k]["value"] - 1.0
                for k in e2e if untraced.get(k, {}).get("value")
            }
        for s in tracer.spans:
            s["self_s"] = spans.self_time(s, tracer.spans)
        tracer.dump(out / f"{stem}-spans.jsonl")
    (out / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    for f in record["failures"]:
        print(f"perfbench: failed op: {f}", file=sys.stderr)
    return result_line(outcome, layer if trace else e2e)


if __name__ == "__main__":
    sys.exit(main())

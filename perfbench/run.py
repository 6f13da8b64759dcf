"""Engine benchmark: one named workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload live --seed 1 --seconds 25 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is
the end-to-end result; with ``--trace 1`` the same workload and seed run
with spans around the engine's public functions, and the last line
carries the per-layer metrics. Both write a fuller record (host stamp,
per-call latencies, spans) under ``.perfbench/records/``. Workloads,
metrics and how they relate are described in ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_LOOP_WALL_S = 100  # keeps a slow host under the 180 s run limit
DRIVER_MEMORY = "2g"



def metric_units(key: str) -> dict[str, str]:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer`` of
    ``BENCHMARK.json``, which is the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session(work: str, trace: bool):
    from pubmed_central_semantic_search_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata files: the JVM would write them under /tmp
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", driver_memory=DRIVER_MEMORY, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import host
    import workloads
    from spans import EventLog, Tracer, find_event_log, self_time

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    workloads.clear(work)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    stamp = host.stamp()
    rss = host.PeakRss().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        t1 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.setup_parts["inputs_s"] = time.perf_counter() - t1
        wl.setup()
        setup_s = time.perf_counter() - t0

        steps, untraced, items, attempted, failed = [], [], 0, 0, 0
        loop_t0 = time.perf_counter()

        def one(i):
            nonlocal items, attempted, failed
            tracer.op_id = f"step-{i}"
            try:
                dt, n, a, f = wl.step(i)
            except Exception:
                wl.fail(f"step {i} raised:\n{traceback.format_exc(limit=8)}")
                attempted += 1
                failed += 1
                return None
            items += n
            attempted += a
            failed += f
            return dt

        if args.trace:
            # step 0 runs untraced, traced, and untraced again on the same
            # inputs; the overhead line is the traced time minus the mean of
            # the untraced two, which cancels a steady warm-up drift
            untraced.append(one(0))
            wl.instrument()
            tracer.enabled = True
            steps.append(one(0))
            wl.trace_step(tracer.spans)
            tracer.enabled = False
            if time.perf_counter() - loop_t0 + (untraced[0] or 0.0) < MAX_LOOP_WALL_S:
                untraced.append(one(0))
        else:
            # at least one step; another starts only while it is expected
            # to end within --seconds
            i = 0
            while True:
                dt = one(i)
                if dt is not None:
                    steps.append(dt)
                i += 1
                if (
                    not steps
                    or sum(steps) + statistics.median(steps) > args.seconds
                    or time.perf_counter() - loop_t0 > MAX_LOOP_WALL_S
                ):
                    break
        tracer.enabled = False
        tracer.unpatch_all()
        loop_items = items
        a, f = wl.final_check()
        attempted += a
        failed += f
        detail = wl.detail()
        layers = {}
        if args.trace:
            stop_spark(spark)
            spark = None
            log = EventLog(find_event_log(os.path.join(work, "events")))
            spans = tracer.spans
            layers = wl.layer_metrics(spans, log)
            groups = [s["group"] for s in spans]
            tot = log.totals(groups)
            layers["spark.gc_s"] = tot["gc_s"]
            layers["spark.spill_bytes"] = tot["spill_bytes"]
            layers["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
            layers["session.start_s"] = session_s
            if None not in steps + untraced:
                layers["trace.overhead_s"] = steps[0] - statistics.mean(untraced)
            kids = {}
            for s in spans:
                kids.setdefault(s["parent"], []).append(s)
            for s in spans:
                t = log.totals([s["group"]])
                s.update(
                    self_s=self_time(s, kids.get(s["id"], [])),
                    jobs=t["jobs"], stages=t["stages"], tasks=t["tasks"], task_s=t["task_s"],
                )
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = rss.stop()
        workloads.clear(work)
    stamp["loadavg_end"] = list(os.getloadavg())
    stamp["steal_s"] = host.steal_s() - stamp.pop("steal_s_start")
    ok = failed == 0 and not wl.failures
    if args.trace:
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u}
            for k, u in metric_units("per_layer").items()
        }
    else:
        lat = wl.latency_s()
        values = {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat) if lat else float("nan"),
            "items_per_s": loop_items / sum(steps) if steps else 0.0,
            "peak_rss_mb": peak,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in metric_units("end_to_end").items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": stamp,
        "steps_s": steps,
        "untraced_steps_s": untraced,
        "session_start_s": session_s,
        "setup_parts_s": wl.setup_parts,
        "replay_s": wl.replay.total_s,
        "detail": detail,
        "ops_failed_ratio": failed / attempted if attempted else None,
        "failures": wl.failures,
        "metrics": metrics,
        "spans": [
            {k: v for k, v in s.items() if k not in ("io",)} for s in tracer.spans
        ] if args.trace else [],
    }
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for line in wl.failures:
        print(f"perfbench: wrong answer: {line}", file=sys.stderr)
    return {"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pubmed_central_semantic_search_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Linkage benchmark for py_stringsimjoin_spark.

Run from the root of a checkout:

    python3 linkbench/run.py --workload link --seed 1 --seconds 10 --trace 0

One driver process, one client, a closed loop on ``local[nproc]``.  The run
generates its inputs from ``--seed``, starts a session, loads the inputs and
makes the workload's untimed warm pass (together: ``setup_s``), then repeats
the workload's operation until ``--seconds`` have passed and the operation
mix has completed a cycle.  Correctness checks run after the timed loop; an
operation that fails a check counts as failed.

Standard output: one JSON report line (environment, sizes, every timing
with its sample count, every check), then, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones.  With ``--trace 1`` the session runs with a
Spark event log and the per-layer metrics are reported; the same operations
then run again on a fresh, untraced JVM, and the difference of the two
medians is the tracing overhead.

Everything the run writes lives under ``.linkbench_work/`` in the checkout
and is removed at exit; the span dump of a traced run is kept in
``.linkbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "pages_per_s": "1/s",
              "f1": "ratio", "peak_mem_mb": "MB"}
SPARK_SPANS = ("session", "pipeline.extract", "pipeline.blocking",
               "pipeline.scoring", "pipeline.clustering", "pipeline.increment",
               "join.plan", "join.exec")
LAYER_NAMES = (
    ["session.start_s"]
    + [f"pipeline.{s}{suffix}"
       for s in ("extract", "blocking", "scoring", "clustering", "increment")
       for suffix in ("_s", ".write_s", ".pre_write_s", ".stored_bytes")]
    + ["increment.output_bytes_per_input_byte", "stored_bytes_per_input_byte",
       "scoring.candidates", "scoring.matches", "scoring.match_ratio",
       "scoring.candidate_pairs_per_s", "clustering.components",
       "clustering.max_component", "join.plan_s", "join.exec_s", "join.rows",
       "outside_s", "trace.overhead_s"]
)
HIGHER_IS_BETTER = ("busy_ratio", "match_ratio", "candidate_pairs_per_s",
                    "matches", "components", "rows")


def per_layer_names() -> list[str]:
    import spans

    return list(LAYER_NAMES) + [f"{s}.{f}" for s in SPARK_SPANS for f in spans.SPARK_FIELDS]


def layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("ratio", "per_input_byte")):
        return "ratio"
    if name.endswith("bytes"):
        return "B"
    return "count"


def spark_conf(work: str, event_dir: str | None) -> dict:
    """Deployment settings only: keep Spark's files inside ``work``.  The
    driver's memory and JVM options stay the engine's own."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def shutdown_jvm(spark=None) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it and everything it started."""
    import measure
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def set_up(ssj, wl, tracer, master: str, conf: dict):
    """Start a session, load the inputs and make the workload's warm pass.
    Returns the session and the set-up timings."""
    t0 = time.time()
    with tracer.span("session") as s_session:
        spark = ssj.get_spark(master=master, extra_conf=conf)
    with tracer.span("setup.load"):
        wl.load(spark)
    with tracer.span("setup.warm") as s_warm:
        wl.warm(spark)
    return spark, {"setup_s": time.time() - t0, "session_s": s_session.seconds,
                   "warm_s": s_warm.seconds, "session_span": s_session.id}


def timed_loop(wl, spark, tracer, seconds: float, n_ops: int | None):
    """Closed loop: the next operation starts when the previous one ends.
    Stops after ``n_ops`` operations, or else at the first cycle boundary
    once ``seconds`` have passed.  Returns (records, wall seconds)."""
    recs = []
    t0 = time.time()
    k = 0
    while True:
        try:
            rec = wl.op(spark, tracer, k)
            rec["op_s"] = tracer.spans[rec["span"]].seconds
        except Exception:
            traceback.print_exc()
            rec = {"error": True, "ok": False, "items": 0}
        recs.append(rec)
        k += 1
        if n_ops is not None:
            if len(recs) >= n_ops:
                break
        elif time.time() - t0 >= seconds and len(recs) % wl.CYCLE == 0:
            break
    return recs, time.time() - t0


def trace_metrics(wl, tracer, setup: dict, recs: list[dict], wall: float,
                  by_span: dict, untraced: list[dict], report: dict) -> dict:
    """Every per-layer metric; 0 for a layer the workload bypasses."""
    import measure
    import spans

    layers = dict.fromkeys(LAYER_NAMES, 0.0)
    s_session = tracer.spans[setup["session_span"]]
    layers["session.start_s"] = s_session.seconds
    ok = [r for r in recs if r["ok"]]
    if ok:
        layers.update(wl.layer_metrics(ok, tracer))
    ops = [tracer.spans[r["span"]] for r in recs if "span" in r]
    children = [c for op in ops for c in tracer.children(op)]
    in_layers = sum(c.seconds for c in children)
    layers["outside_s"] = (wall - in_layers) / len(recs)
    traced_p50 = measure.median(r["op_s"] for r in recs if "op_s" in r)
    untraced_p50 = measure.median(r["op_s"] for r in untraced if "op_s" in r)
    layers["trace.overhead_s"] = traced_p50 - untraced_p50
    report["trace_overhead"] = {"traced_op_p50_s": traced_p50,
                                "untraced_op_p50_s": untraced_p50,
                                "n": len(untraced)}
    # wall = layer spans + the ops' own self time + the gaps between ops
    self_s = sum(spans.self_time(op, tracer.children(op)) for op in ops)
    report["accounted_s"] = {"timed_wall_s": wall, "layer_spans_s": in_layers,
                             "op_self_s": self_s,
                             "between_ops_s": wall - sum(op.seconds for op in ops)}
    for name in SPARK_SPANS:
        inst = [s_session] if name == "session" else [c for c in children if c.name == name]
        for f in spans.SPARK_FIELDS:
            layers[f"{name}.{f}"] = measure.median(by_span[s.id][f] for s in inst)
    return layers


def run(args, work: str, mem) -> tuple[dict, dict]:
    import measure
    import spans
    import workloads
    import py_stringsimjoin_spark as ssj

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    tracer = spans.Tracer(f"{args.workload}-s{args.seed}-p{os.getpid()}")
    report = {"workload": args.workload, "seed": args.seed, "nproc": cores,
              "master": master, "trace": args.trace,
              "spark.local.dir": spark_conf(work, None)["spark.local.dir"]}

    t = time.time()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    report["generate_s"] = time.time() - t
    report["sizes"] = wl.sizes()

    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
    spark, report["setup"] = set_up(ssj, wl, tracer, master, spark_conf(work, event_dir))
    recs, wall = timed_loop(wl, spark, tracer, args.seconds, None)
    untraced = []
    if args.trace:
        shutdown_jvm(spark)  # also closes the event log
        jobs, tasks = spans.read_event_log(
            os.path.join(event_dir, os.listdir(event_dir)[0]))
        by_span = spans.spark_metrics(tracer, jobs, tasks, cores)
        # the same operations (same k, so the same inputs) on a fresh JVM
        other = spans.Tracer("untraced")
        spark, report["untraced_setup"] = set_up(
            ssj, wl, other, master, spark_conf(work, None))
        untraced, _ = timed_loop(wl, spark, other, 0, len(recs))
    t = time.time()
    shutdown_jvm(spark)
    report["shutdown_s"] = time.time() - t
    heap = mem.heap()
    report["peak_mem"] = {"heap_after_gc_mb": heap / (1 << 20),
                          "outside_heap_mb": mem.outside_heap / (1 << 20)}

    t = time.time()
    for rec in recs + untraced:
        if not rec.get("error"):
            try:
                wl.check(rec)
            except Exception:
                traceback.print_exc()
                rec["ok"] = False
                rec.setdefault("f1", 0.0)
    report["check_s"] = time.time() - t

    op_s = [r["op_s"] for r in recs if "op_s" in r]
    report["op_s"] = measure.timing_summary(op_s)
    report["timed_wall_s"] = wall
    report["ops"] = [{k: v for k, v in r.items() if k not in workloads.STAGES}
                     for r in recs + untraced]
    failed = sum(1 for r in recs + untraced if not r["ok"])
    if args.trace:
        values = trace_metrics(wl, tracer, report["setup"], recs, wall, by_span,
                               untraced, report)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
        os.makedirs(os.path.join(ROOT, ".linkbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".linkbench_out",
                                 f"spans-{args.workload}-s{args.seed}.json"))
    else:
        values = {
            "setup_s": report["setup"]["setup_s"],
            "op_p50_s": measure.median(op_s),
            "pages_per_s": sum(r["items"] for r in recs) / wall,
            # every operation that ran, so a wrong result lowers it
            "f1": measure.median(r["f1"] for r in recs if not r.get("error")),
            "peak_mem_mb": (heap + mem.outside_heap) / (1 << 20),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    return report, {"correct": failed == 0, "attempted": len(recs) + len(untraced),
                    "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("link", "join_requests"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import py_stringsimjoin_spark  # noqa: F401
    except ImportError as e:
        print(f"linkbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import tempfile

    import measure

    work = os.path.join(ROOT, ".linkbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # temporary files of this process, the Python workers and every JVM
    # (spark-submit's launcher too); no JVM writes /tmp/hsperfdata_*
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        measure.java_log_options(tmp))))

    steal0, total0 = measure.read_cpu()
    try:
        with measure.PeakMemory(tmp) as mem:
            report, result = run(args, work, mem)
    except BaseException:
        shutdown_jvm()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's workdir is still there
    steal1, total1 = measure.read_cpu()
    report["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

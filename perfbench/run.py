"""KG-build benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (closed loop, one caller,
``local[min(4, nproc) // 2]``): ``bulk_build``, ``stream_fold``, and by hand
``staged_submit`` and ``vocab_fold`` (see perfbench/README.md). Inputs come
from ``--seed``; every output is checked against an oracle. ``--trace 0``
measures the end-to-end metrics with tracing off; ``--trace 1`` runs the
operation twice untraced, then once with per-layer spans and a Spark event
log, and reports the per-layer metrics. The last line of standard output is
one JSON object.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, oracle, trace  # noqa: E402
from perfbench.workloads import RUN_STAGES, WORKLOADS, Ctx, Op  # noqa: E402

# Spark task slots: half the cores, so that the JIT compiler threads (which
# spend 5-20 s of CPU per build through the first minute of a JVM), the
# collector and the Python driver do not compete with the tasks, and the
# timings measure the program rather than the scheduler
CORES = max(1, min(4, os.cpu_count() or 1) // 2)
# a fixed-size heap (-Xms = -Xmx) keeps the JVM's resident memory from
# tracking the collector's resizing decisions
DRIVER_MEM = "2g"

END_TO_END = {
    "pages_per_s": "pages/s",
    "op_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
    "node_precision": "ratio",
    "node_recall": "ratio",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "image_edge_precision": "ratio",
    "image_edge_recall": "ratio",
}

_COUNTERS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s",
    "exec_cpu_s": "s", "shuffle_write_mb": "MB", "task_skew": "ratio",
}
_BUILD_SPANS = ("extract", "dedup", "remap", "mmodal.describe", "mmodal.score", "degree")
_FOLD_SPANS = ("stream.extract", "incremental", "catalog.write", "metrics.record")
_FOLD_COUNTERS = ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb")

PER_LAYER: dict[str, str] = {}
for _c, _u in (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("exec_cpu_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
               ("spill_mb", "MB")):
    PER_LAYER[f"op.{_c}"] = _u
for _s in _BUILD_SPANS:
    PER_LAYER.update({f"{_s}.{c}": u for c, u in _COUNTERS.items()})
for _s in _FOLD_SPANS:
    PER_LAYER.update({f"{_s}.{c}": _COUNTERS[c] for c in _FOLD_COUNTERS})
PER_LAYER["incremental.task_skew"] = "ratio"
PER_LAYER.update({
    "dedup.verify_pairs": "count",
    "mmodal.score_pairs": "count",
    "mmodal.score_hit_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.untraced_op_s": "s",
    "replica.pages_per_s": "pages/s",
})
# metrics of the workloads run by hand (README), reported beside PER_LAYER
EXTRA_LAYER = {
    "staged_submit": {
        "run.resume.wall_s": "s", "run.resume.jobs": "count", "run.resume.tasks": "count",
        **{f"run.{s}.wall_s": "s" for s in RUN_STAGES},
    },
    "vocab_fold": {"dedup.verify_hit_ratio": "ratio"},
}


def start_spark(work: str, traced: bool):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # keep every JVM (the launcher's too) from writing /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from mmkg_rag_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CORES}]", app_name="perfbench",
        warehouse=os.path.join(work, "spark-warehouse"), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def pair_counts() -> dict[str, int]:
    from mmkg_rag_spark.metrics import similarity_throughput

    return {k: v["pairs"] for k, v in similarity_throughput().items()}


def timed_loop(workload, ctx: Ctx, seconds: float) -> list:
    """Closed loop: one caller starts the next operation when the previous
    one (and its check) is done, until ``seconds`` have passed and at least
    the workload's ``min_ops`` operations ran. An operation that raises is
    recorded as failed, with every score 0."""
    ops, t0 = [], time.perf_counter()
    while len(ops) < workload.min_ops or (
            time.perf_counter() - t0 < seconds and len(ops) < workload.max_ops):
        t1 = time.perf_counter()
        try:
            ops.append(workload.op(ctx))
        except Exception:
            traceback.print_exc()
            ops.append(Op(time.perf_counter() - t1, 0, dict.fromkeys(oracle.SCORES, 0.0), ""))
    return ops


def end_to_end(ops: list, setup_s: float, peak_rss: float) -> dict[str, float]:
    done = [o for o in ops if o.pages]
    if not done:
        raise RuntimeError("every operation raised")
    m = {
        "pages_per_s": statistics.median(o.pages / o.wall for o in done),
        "op_s_p50": statistics.median(o.wall for o in done),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "ok_ops_frac": sum(oracle.passes(o.scores) for o in ops) / len(ops),
    }
    m.update({k: min(o.scores[k] for o in ops) for k in oracle.SCORES})
    return m


def per_layer(workload: str, tracer, log, replica_pages_per_s: float, pairs: dict, untraced, traced,
              stage_walls: dict) -> dict:
    """Per-layer metrics of one traced operation; 0 for a layer the
    workload does not call."""
    units = {**PER_LAYER, **EXTRA_LAYER.get(workload, {})}
    counters = eventlog.group_counters(log)
    out = dict.fromkeys(units, 0.0)
    accepted = Counter()
    for i, sp in enumerate(tracer.spans):
        own = counters.get(sp.group)
        groups = [g for g in (counters.get(tracer.spans[j].group) for j in tracer.descendants(i)) if g]
        agg = {k: sum(g[k] for g in groups) for k in
               ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
        agg["wall_s"] = sp.end - sp.start
        agg["self_s"] = agg["wall_s"] - sum(c.end - c.start for c in tracer.spans if c.parent == i)
        agg["task_skew"] = own["task_skew"] if own else 0.0
        for k, v in agg.items():
            key = f"{sp.name}.{k}"
            if key in out:
                # a layer called twice in one operation (mmodal.score) sums;
                # its skew is that of its heavier call
                out[key] = max(out[key], v) if k == "task_skew" else out[key] + v
        if own:
            accepted.update(own["udf_accepted"])
    out["dedup.verify_pairs"] = pairs.get("dedup_verify", 0)
    out["mmodal.score_pairs"] = pairs.get("mmodal_relevance", 0)
    # pairs kept by the scoring UDF's filter over pairs the UDF scored
    if out["mmodal.score_pairs"]:
        out["mmodal.score_hit_ratio"] = accepted["_relevance"] / out["mmodal.score_pairs"]
    if "dedup.verify_hit_ratio" in out and out["dedup.verify_pairs"]:
        out["dedup.verify_hit_ratio"] = accepted["_ratio"] / out["dedup.verify_pairs"]
    out["trace.untraced_op_s"] = untraced.wall
    out["trace.overhead_s"] = traced.wall - untraced.wall
    out["replica.pages_per_s"] = replica_pages_per_s
    out.update({f"run.{s}.wall_s": w for s, w in stage_walls.items()})
    return out, units


def record_repeats(workload: str, seed: int, metrics: dict) -> dict[str, bool]:
    """Append this traced run's counts to the checkout's history and report,
    per count, whether it equals every earlier traced run of the same
    workload and seed."""
    counts = {k: v for k, v in metrics.items() if k.endswith((".jobs", ".tasks", "_mb", "_pairs")) and v}
    path = os.path.join(ROOT, ".perfbench", "trace-history.jsonl")
    earlier = []
    if os.path.exists(path):
        with open(path) as f:
            earlier = [r["counts"] for r in map(json.loads, f)
                       if r["workload"] == workload and r["seed"] == seed]
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "counts": counts}) + "\n")
    return {k: all(e.get(k) == v for e in earlier) for k, v in counts.items() if earlier}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import mmkg_rag_spark  # noqa: F401  (fail before starting anything without the program)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    workload = WORKLOADS[args.workload]()
    # inputs and oracle are pure Python: prepare them while the JVM starts
    helper = ThreadPoolExecutor(max_workers=1)
    staged = helper.submit(workload.stage, work, args.seed)
    expected = helper.submit(workload.expect, args.seed)
    helper.shutdown(wait=False)
    try:
        spark = start_spark(work, bool(args.trace))
        phases = {"session": time.perf_counter() - T_START}
        staged.result()
        ctx = Ctx(spark, work, args.seed, expected)
        workload.setup(ctx)
        phases["inputs"] = time.perf_counter() - T_START - sum(phases.values())
        workload.warm(ctx)
        setup_s = time.perf_counter() - T_START
        phases["warm"] = setup_s - sum(phases.values())
        print("setup:", json.dumps({k: round(v, 2) for k, v in phases.items()}))

        if not args.trace:
            with trace.RssSampler() as rss:
                ops = timed_loop(workload, ctx, args.seconds)
            metrics, units = end_to_end(ops, setup_s, rss.peak), END_TO_END
            print("ops:", [round(o.wall, 2) for o in ops])
            hash_equal = True
        else:
            # the first operation after the warm one still runs slower: the
            # second is the untraced reference for the overhead and the digest
            ops = [workload.op(ctx) for _ in range(2)]
            untraced = ops[-1]
            ctx.tracer = trace.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            before = pair_counts()
            traced = workload.traced(ctx)
            pairs = {k: v - before.get(k, 0) for k, v in pair_counts().items()}
            tracer, ctx.tracer = ctx.tracer, None
            stage_walls = workload.stage_walls(ctx) if hasattr(workload, "stage_walls") else {}
            ops.append(traced)
            hash_equal = untraced.digest == traced.digest
            print(f"trace: output digest untraced {untraced.digest} traced {traced.digest} "
                  f"equal={hash_equal}; overhead {traced.wall - untraced.wall:.3f} s")
            stop_spark(spark)
            spark = None
            log = eventlog.read(eventlog.find_log(os.path.join(work, "eventlog")))
            metrics, units = per_layer(args.workload, tracer, log, expected.result()["pages_per_s"],
                                       pairs, untraced, traced, stage_walls)
            print("trace: jobs by call site:", json.dumps(eventlog.jobs_by_call_site(log)))
            repeats = record_repeats(args.workload, args.seed, metrics)
            if repeats:
                print("trace: counts equal to every earlier traced run of this seed:",
                      json.dumps(sorted(k for k, v in repeats.items() if v)))
                print("trace: counts that varied:", json.dumps(sorted(k for k, v in repeats.items() if not v)))
        if expected.result()["pages_per_s"]:
            print(f"context: replica {expected.result()['pages_per_s']:.1f} pages/s single-process")
        if "resume_s" in ctx.info:
            print(f"context: resume_s {json.dumps(ctx.info['resume_s'])}")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not oracle.passes(o.scores) for o in ops)
    print(json.dumps({
        "correct": failed == 0 and hash_equal,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

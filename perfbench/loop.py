"""The measured process: one closed-loop caller against a local Spark.

Usage (``run.py`` starts it after preparing the inputs):
    python3 perfbench/loop.py --workload W --inputs DIR --work DIR
                              --seconds S --trace 0|1

Phases:
1. setup: start the JVM and the SparkSession, load the inputs and run
   the workload's fixed ``warmup_ops`` ops.  ``setup_s`` is the wall
   time from this process's start to the end of the warm-up.
2. the timed loop: ops back to back for ``--seconds`` seconds.  Each
   op's digest (rows + order-insensitive hash) and Spark shape (jobs,
   stages, tasks) must equal those of the first warm-up op, or it
   counts as failed.
3. traced runs only: the loop runs half untraced, half traced, then
   the layer-split probes.

The last stdout line is the result JSON; the line before it is a
summary with the evidence the result does not carry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.monotonic()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probes import ProcTree, SparkCounters, Tracer, canary_s, median  # noqa: E402

#: a traced run fails below this median tree CPU over (executor CPU +
#: Python worker time).  Worker time is the JVM's wall clock of the
#: Python runner, so a correct tree reads about 1.0–1.2 on assign.  A
#: tree that missed the Python workers would lose their CPU, and worker
#: time is about 85% of the denominator on assign.
CPU_ACCOUNTED_MIN = 0.9

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: every per-layer metric of a traced run
PER_LAYER = {
    "functions.udfs.enrich_struct.ns_per_row": "ns/row",
    "functions.textx.extract_text.ns_per_row": "ns/row",
    "functions.textx.geocode.ns_per_row": "ns/row",
    "functions.cellindex.latlng_to_cell.ns_per_row": "ns/row",
    "functions.s2.latlng_to_cell.ns_per_row": "ns/row",
    "operators.tile_assign.enrich_pages.kernel_s": "s",
    "operators.tile_assign.enrich_pages.shuffle_s": "s",
    "operators.tile_assign.enrich_pages.sink_s": "s",
    "plans.salt.skew_ratio": "ratio",
    "operators.cell_directory.build_cell_directory_s": "s",
    "operators.pip_join.pip_join_cells_s": "s",
    "operators.pip_join.useful_ratio": "ratio",
    "operators.knn.knn_join_s": "s",
    "operators.knn.knn_join_q5_s": "s",
    "operators.zonal.compute_products_s": "s",
    "operators.zonal.zonal_stats_s": "s",
    "operators.textops.word_ngrams_s": "s",
    "operators.textops.entropy_stats_s": "s",
    "operators.textops.repetition_stats_s": "s",
    "operators.textops.decontaminate_s": "s",
    "streaming.ingest.batch_s": "s",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.wal_commit_s": "s",
    "streaming.ingest.batches": "count",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.python_worker_s": "s",
    "spark.arrow_bytes_to_python": "B",
    "spark.arrow_bytes_from_python": "B",
    "setup.session_s": "s",
    "setup.load_s": "s",
    "setup.warmup_s": "s",
    "host.canary_s": "s",
    "bench.trace_overhead_ratio": "ratio",
    "bench.unattributed_s": "s",
    "bench.cpu_accounted_ratio": "ratio",
}

#: span name → per-layer metric of its median duration (layer spans
#: have no child spans, so duration is self time)
SPAN_METRICS = {
    "operators.cell_directory.build_cell_directory": "operators.cell_directory.build_cell_directory_s",
    "operators.pip_join.pip_join_cells": "operators.pip_join.pip_join_cells_s",
    "operators.knn.knn_join": "operators.knn.knn_join_s",
    "operators.knn.knn_join_q5": "operators.knn.knn_join_q5_s",
    "operators.textops.entropy_stats": "operators.textops.entropy_stats_s",
    "operators.textops.repetition_stats": "operators.textops.repetition_stats_s",
    "operators.textops.decontaminate": "operators.textops.decontaminate_s",
}


class Runner:
    """Runs ops of one workload and keeps what is needed to check and
    attribute them."""

    def __init__(self, workload, spark, tracer: Tracer | None, checker):
        self.w = workload
        self.checker = checker
        self.spark = spark
        self.sc = spark.sparkContext
        self.counters = SparkCounters(spark)
        self.tracer = tracer
        self.op_id = None
        self.groups: list[str] = []
        self.executed: list = []

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("idle", "idle")

    def call(self, name: str, fn):
        """One call into a layer: a span and its own job group when
        tracing, else the op's job group."""
        if self.tracer is None:
            return fn()
        group = f"{self.op_id}/{name}"
        self.groups.append(group)
        with self.tracer.span(name, self.op_id, group):
            out = fn()
        if isinstance(out, tuple) and len(out) == 2 and hasattr(out[1], "_jdf"):
            self.executed.append(out[1])
        return out

    def run_op(self, op_id: str, op=None):
        """(wall s, tree CPU s, value) of one op (default: the workload's);
        the clock covers the op's calls only."""
        op = op or self.w.op
        self.op_id, self.groups, self.executed = op_id, [op_id], []
        tree = ProcTree()
        cpu0 = tree.cpu_s()
        self.sc.setJobGroup(op_id, op_id)
        if self.tracer is not None:
            with self.tracer.span("op", op_id):
                t0 = time.monotonic()
                value = op(self, op_id)
                dt = time.monotonic() - t0
        else:
            t0 = time.monotonic()
            value = op(self, op_id)
            dt = time.monotonic() - t0
        self.sc.setJobGroup("idle", "idle")
        return dt, tree.cpu_s() - cpu0, value

    def op_median(self, span_name: str) -> float:
        """Median duration of the spans of one layer call."""
        spans = [s for s in self.tracer.spans if s["name"] == span_name]
        return median(s["end"] - s["start"] for s in spans)


class Checker:
    """Counts attempted and failed ops; every output must equal the
    first warm-up op's digest and Spark shape."""

    def __init__(self):
        self.expected = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, label: str, value, shape) -> bool:
        self.attempted += 1
        if self.expected is None:
            self.expected = (value, shape)
            return True
        if value != self.expected[0]:
            self.errors.append(f"{label}: output {value} != {self.expected[0]}")
        elif shape != self.expected[1]:
            self.errors.append(f"{label}: Spark shape {shape} != {self.expected[1]}")
        else:
            return True
        self.failed += 1
        return False

    def check_same(self, label: str, distinct: set, n: int) -> None:
        """``n`` outputs of a probe call, ``distinct`` of them different."""
        if len(distinct) == 1:
            self.attempted += n
        else:
            self.fail(label, f"{n} calls gave {len(distinct)} different outputs")

    def fail(self, label: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{label}: {why}")


def timed_loop(r: Runner, chk: Checker, seconds: float, tag: str) -> list[dict]:
    """Ops back to back until ``seconds`` have passed (at least one)."""
    ops = []
    t_end = time.monotonic() + seconds
    n = 0
    while n == 0 or time.monotonic() < t_end:
        op_id = f"{tag}{n}"
        n += 1
        try:
            dt, cpu, value = r.run_op(op_id)
            ok = chk.check(op_id, r.w.finish(r, op_id, value), r.counters.shape(r.groups))
        except Exception:  # an op that raises is a failed op; keep looping
            traceback.print_exc()
            chk.fail(op_id, "raised")
            continue
        ops.append(dict(id=op_id, wall_s=dt, cpu_s=cpu, ok=ok, groups=list(r.groups),
                        executed=list(r.executed)))
    return ops


def _thirds(xs: list[float]) -> dict:
    k = max(1, len(xs) // 3)
    return {"first_third_p50": median(xs[:k]), "last_third_p50": median(xs[-k:]), "n": len(xs)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    from gips_spark import get_spark
    from inputs import spark_conf
    from workloads import WORKLOADS, measure_layers

    w = WORKLOADS[args.workload](args.inputs, args.work)
    chk = Checker()
    spark = get_spark(
        f"perfbench-{w.name}", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores, extra_conf=spark_conf(args.work),
    )
    session_s = time.monotonic() - T_START
    r = Runner(w, spark, None, chk)
    t1 = time.monotonic()
    w.load(spark)
    load_s = time.monotonic() - t1
    warm_ops_s = []
    for i in range(w.warmup_ops):
        label = f"warm{i}"
        dt, _, value = r.run_op(label)
        chk.check(label, w.finish(r, label, value), r.counters.shape(r.groups))
        warm_ops_s.append(dt)
    setup_s = time.monotonic() - T_START
    setup = dict(setup_s=setup_s, session_s=session_s, load_s=load_s,
                 warmup_s=setup_s - session_s - load_s, warm_ops_s=warm_ops_s)

    canaries = [canary_s()]
    # a traced run splits its measuring time between an untraced and a
    # traced loop, so the two give the tracing overhead
    loop_s = args.seconds / 2 if args.trace else args.seconds
    ops = timed_loop(r, chk, loop_s, "op")
    canaries.append(canary_s())
    good = [o for o in ops if o["ok"]]
    tree = ProcTree()
    if w.uses_python and tree.python_workers() == 0:
        chk.fail("proc-tree", "no PySpark Python worker found under this process")

    summary = {
        "workload": w.name,
        "ops": len(ops),
        "op_wall_s": [o["wall_s"] for o in ops],
        "steady_state": _thirds([o["wall_s"] for o in good]),
        "setup": setup,
        "canary_s": canaries,
        "expected_shape": chk.expected[1] if chk.expected else None,
    }
    if args.trace:
        layers = lambda: measure_layers(r, args.inputs, args.work)
        metrics = traced(r, chk, loop_s, layers, ops, setup, canaries, summary)
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(o["wall_s"] for o in good),
            "op_cpu_s": median(o["cpu_s"] for o in good),
            "peak_rss_mb": tree.peak_rss_mb(),
        }
    spark.stop()
    summary["fail_ratio"] = chk.failed / max(1, chk.attempted)
    summary["errors"] = chk.errors[:10]
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": chk.failed == 0 and bool(good),
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"summary": summary}))
    print(json.dumps(result), flush=True)
    return 0


def traced(r: Runner, chk: Checker, seconds, measure_layers, untraced_ops, setup, canaries,
           summary) -> dict:
    tracer = Tracer(r.sc)
    r.tracer = tracer
    ops = [o for o in timed_loop(r, chk, seconds, "traced") if o["ok"]]
    canaries.append(canary_s())
    m = measure_layers()
    canaries.append(canary_s())
    for span, metric in SPAN_METRICS.items():
        m[metric] = r.op_median(span)

    per_op = []
    for o in ops:
        c = r.counters.stage_counters(o["groups"])
        # Python worker time of the op's collected calls; the assign op
        # sinks to parquet, whose plan Python cannot reach, so it takes
        # that of the same kernel's collected call
        py_s = sum(r.counters.plan_counters(df)["python_worker_ms"] for df in o["executed"]) / 1e3
        if not o["executed"]:
            py_s = m["spark.python_worker_s"]
        c["unattributed_s"] = tracer.unattributed_s(o["id"])
        accounted = c["executor_cpu_s"] + py_s
        c["cpu_accounted_ratio"] = o["cpu_s"] / accounted if accounted > 0 else 0.0
        per_op.append(c)
    pick = lambda k: median(c[k] for c in per_op)
    m.update({
        "spark.task_skew": pick("task_skew"),
        "spark.shuffle_write_bytes": pick("shuffle_write_bytes"),
        "spark.spill_bytes": pick("spill_bytes"),
        "spark.executor_run_s": pick("executor_run_s"),
        "spark.executor_cpu_s": pick("executor_cpu_s"),
        "bench.unattributed_s": pick("unattributed_s"),
        "bench.cpu_accounted_ratio": pick("cpu_accounted_ratio"),
        "setup.session_s": setup["session_s"],
        "setup.load_s": setup["load_s"],
        "setup.warmup_s": setup["warmup_s"],
        "host.canary_s": median(canaries),
    })
    ratio = m["bench.cpu_accounted_ratio"]
    if ratio < CPU_ACCOUNTED_MIN:
        chk.fail("cpu-accounting", f"tree CPU per op is {ratio:.2f} x (executor CPU + Python "
                                   f"worker time), below {CPU_ACCOUNTED_MIN}")
    untraced = median(o["wall_s"] for o in untraced_ops if o["ok"])
    traced_p50 = median(o["wall_s"] for o in ops)
    m["bench.trace_overhead_ratio"] = traced_p50 / untraced if untraced else 0.0
    summary["traced_op_p50_s"] = traced_p50
    summary["traced_ops"] = len(ops)
    summary["per_op_counters"] = per_op
    summary["spans"] = tracer.spans
    return m


if __name__ == "__main__":
    sys.exit(main())

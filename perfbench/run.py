"""The engine's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
(and cached by seed and size under ``.perfbench/inputs``). One client
process runs the workload's operations one after another on one
SparkSession of ``local[os.cpu_count()]``:

1. set-up: ``get_spark`` plus the workload's untimed warm-up passes
   (the first pass of a fresh JVM runs two to three times as slow as
   later ones, and the JIT keeps shortening the next few) — reported
   as ``setup_s``;
2. timed passes until ``--seconds`` have been spent;
3. an untimed pass of output checks (DuckDB oracle twins, or the
   generator's own expected tables for the journey).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, measured on
traced passes that alternate with untraced ones so the tracing
overhead is reported beside them. Every run gets a private TMPDIR,
SPARK_LOCAL_DIRS and JVM temp directory, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "pipeline.bootstrap_s": "s",
    "pipeline.bootstrap_self_s": "s",
    "pipeline.process_journey_batch_s": "s",
    "pipeline.process_journey_batch_self_s": "s",
    "operators.merge.upsert_s": "s",
    "operators.merge.upserts": "count",
    "operators.merge.buckets_rewritten_share": "share",
    "operators.merge.bytes_written_per_input_byte": "B/B",
    "operators.versioned.versions_committed": "count",
    "streaming.ingest_versioned_stream_s": "s",
    "operators.graph.call_s": "s",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.persisted_rdds": "count/op",
    "spark.driver_gap_s": "s",
    "spark.executor_busy_share": "share",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.output_mb": "MB",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_share": "share",
}


# per-layer metric → the span whose total (or self) time it reports
SPAN_TIMES = {
    "plans.build_s": "plans.build",
    "plans.action_s": "plans.action",
    "pipeline.bootstrap_s": "pipeline.bootstrap",
    "pipeline.process_journey_batch_s": "pipeline.process_journey_batch",
    "operators.merge.upsert_s": "operators.merge.upsert",
    "streaming.ingest_versioned_stream_s": "streaming.ingest_versioned_stream",
    "operators.graph.call_s": "operators.graph.call",
}
SPAN_SELF_TIMES = {
    "pipeline.bootstrap_self_s": "pipeline.bootstrap",
    "pipeline.process_journey_batch_self_s": "pipeline.process_journey_batch",
}
# status-store totals reported per pass
SPARK_PER_PASS = (
    "executor_run_s", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s",
)
SOURCES_PER_PASS = ("input_mb", "input_rows", "output_mb")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _private_dirs(run_dir: str) -> dict[str, str]:
    """Point every temp location of this process and its JVM inside
    ``run_dir``: content-keyed scratch roots then start cold in every
    run and are never shared with another process."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files either: the JVM puts those in /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    return {
        # the whole heap from the start: peak RSS then tracks what the
        # run uses, not how far the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }


def _stop_spark(spark) -> None:
    """Stop the session and its JVM and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _instrument(tracer) -> None:
    """Wrap the layers' public entry points (traced runs only)."""
    from batch_processing_on_aws_spark.operators import graph, merge, versioned

    import tracing as tr

    def merge_hook(args, kwargs):
        writer = args[0]
        before = tr.file_sizes(writer.path)

        def after(_):
            now = tr.file_sizes(writer.path)
            written = {p: s for p, s in now.items() if before.get(p) != s}
            touched = {p.split(os.sep)[0] for p in written}
            touched |= {p.split(os.sep)[0] for p in set(before) - set(now)}
            tracer.count("merge.upserts", 1)
            tracer.count("merge.bytes_written", sum(written.values()))
            tracer.count("merge.buckets_rewritten", len(touched))
            tracer.count("merge.buckets_total", writer.n_buckets)

        return after

    def version_hook(args, kwargs):
        table = args[0]
        before = table.latest_version()
        return lambda _: tracer.count(
            "versioned.versions_committed", table.latest_version() - before
        )

    tracer.wrap(merge.MergeWriter, "upsert", "operators.merge.upsert", merge_hook)
    tracer.wrap(
        versioned.VersionedTable, "upsert", "operators.versioned.upsert", version_hook
    )
    for name, fn in list(vars(graph).items()):
        public = callable(fn) and not name.startswith("_")
        if public and getattr(fn, "__module__", "") == graph.__name__:
            tracer.wrap(graph, name, "operators.graph.call")


class Runner:
    def __init__(self, workload, tracer, counters, cpus: int) -> None:
        self.w = workload
        self.tracer = tracer
        self.counters = counters
        self.cpus = cpus
        self.sc = workload.ctx.spark.sparkContext
        self.next_op = 0
        self.passes: list[dict] = []

    def _release(self) -> int:
        """Unpersist every persisted RDD (as bench.py does between
        queries); returns how many there were."""
        jmap = self.sc._jsc.getPersistentRDDs()
        n = jmap.size()
        for jrdd in jmap.values():
            jrdd.unpersist(False)
        return n

    def run_pass(self, k: int, traced: bool) -> None:
        self.tracer.active = traced
        if traced:
            self.counters.skip()
        ops = []
        for op in self.w.pass_ops(k):
            op_id = self.next_op
            self.next_op += 1
            self.tracer.op_id = op_id
            self.sc.setJobGroup(f"{self.w.name}/{op.name}/{op_id}", f"pass {k}")
            w0, t0 = time.time(), time.perf_counter()
            ok = True
            try:
                op.run()
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            rec = {"id": op_id, "op": op, "secs": dt, "ok": ok}
            if traced:
                rec["spark"] = self.counters.read(w0, time.time())
            t1 = time.perf_counter()
            rec["persisted"] = self._release()
            rec["release_secs"] = time.perf_counter() - t1
            ops.append(rec)
        self.tracer.active = False
        self.tracer.op_id = None
        self.passes.append(
            {
                "k": k,
                "traced": traced,
                "ops": ops,
                "secs": sum(o["secs"] + o["release_secs"] for o in ops),
            }
        )


def _layer_metrics(runner: Runner, get_spark_s: float) -> dict[str, float]:
    """Per-layer figures: median over traced passes of each pass's
    value (times and volumes per pass, counts per operation)."""
    from stats import median

    tracer, w = runner.tracer, runner.w
    rows = []
    for p in (p for p in runner.passes if p["traced"]):
        ids = {o["id"] for o in p["ops"]}
        dur = tracer.durations(ids)
        own = tracer.self_times(ids)
        cnt = tracer.counted(ids)
        n_ops = len(p["ops"])
        sp = {f: sum(o["spark"][f] for o in p["ops"]) for f in p["ops"][0]["spark"]}
        wall = sum(o["secs"] for o in p["ops"])
        in_bytes = w.input_bytes(p["k"])
        row = {m: dur.get(span, 0.0) for m, span in SPAN_TIMES.items()}
        row.update({m: own.get(span, 0.0) for m, span in SPAN_SELF_TIMES.items()})
        row.update({f"spark.{f}": sp[f] for f in SPARK_PER_PASS})
        row.update({f"sources.{f}": sp[f] for f in SOURCES_PER_PASS})
        row.update({f"spark.{f}": sp[f] / n_ops for f in ("jobs", "stages", "tasks")})
        rewritten, buckets = cnt.get("merge.buckets_rewritten", 0.0), cnt.get(
            "merge.buckets_total", 0.0
        )
        row.update(
            {
                "operators.merge.upserts": cnt.get("merge.upserts", 0.0),
                "operators.merge.buckets_rewritten_share": (
                    rewritten / buckets if buckets else 0.0
                ),
                "operators.merge.bytes_written_per_input_byte": (
                    cnt.get("merge.bytes_written", 0.0) / in_bytes if in_bytes else 0.0
                ),
                "operators.versioned.versions_committed": cnt.get(
                    "versioned.versions_committed", 0.0
                ),
                "spark.persisted_rdds": sum(o["persisted"] for o in p["ops"]) / n_ops,
                "spark.driver_gap_s": wall - sp["stage_covered_s"],
                "spark.executor_busy_share": sp["executor_run_s"] / (wall * runner.cpus),
            }
        )
        rows.append(row)
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    traced = median([p["secs"] for p in runner.passes if p["traced"]])
    plain = median([p["secs"] for p in runner.passes if not p["traced"]])
    out["session.get_spark_s"] = get_spark_s
    out["trace.pass_s"] = traced
    out["trace.untraced_pass_s"] = plain
    out["trace.overhead_share"] = traced / plain - 1.0
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "batch_processing_on_aws_spark")):
        print(
            f"perfbench: the engine package is not beside {HERE}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    import gen
    from stats import median, median_of_medians, tail_percentile
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    inputs = {
        kind: gen.cached(os.path.join(WORK, "inputs"), kind, args.seed, size)
        for kind, size in cls.inputs
    }

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _private_dirs(run_dir)
    spark = None
    try:
        import tracing as tr
        from batch_processing_on_aws_spark.session import get_spark

        cpus = os.cpu_count() or 1
        tracer = tr.Tracer()
        t_setup = time.perf_counter()
        spark = get_spark(cpus=cpus, extra_conf=conf)
        get_spark_s = time.perf_counter() - t_setup
        workload = cls(Context(spark, tracer, inputs, os.path.join(run_dir, "work")))
        workload.setup()
        counters = tr.SparkCounters(spark.sparkContext) if args.trace else None
        if args.trace:
            _instrument(tracer)
        runner = Runner(workload, tracer, counters, cpus)
        # a traced run warms up one pass longer, so that its untraced and
        # traced passes (compared for the tracing overhead) both run at
        # the plateau
        k = 0
        for _ in range(workload.warmup_passes + args.trace):
            runner.run_pass(k, traced=False)
            k += 1
        setup_s = time.perf_counter() - t_setup
        warm = list(runner.passes)
        runner.passes.clear()

        t_timed = time.perf_counter()
        while workload.has_pass(k):
            traced = bool(args.trace) and len(runner.passes) % 2 == 1
            runner.run_pass(k, traced)
            k += 1
            enough = time.perf_counter() - t_timed >= args.seconds
            # a traced run needs one untraced and one traced pass
            if enough and len(runner.passes) >= 1 + args.trace:
                break
        timed_secs = time.perf_counter() - t_timed

        t_check = time.perf_counter()
        checks = workload.checks()
        check_s = time.perf_counter() - t_check
        rss_pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
        peak = tr.peak_rss_mb(rss_pids)
        layer = _layer_metrics(runner, get_spark_s) if args.trace else None
        report = workload.report()
        if args.trace:
            tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.jsonl")
            )
        _stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    timed_ops = [o for p in runner.passes for o in p["ops"]]
    failed_checks = {n for n, c in checks.items() if not c.ok}
    failed = sum(
        1 for o in timed_ops if not o["ok"] or failed_checks & set(o["op"].checks)
    ) + len(failed_checks)
    attempted = len(timed_ops) + len(checks)
    plain = [p for p in runner.passes if not p["traced"]]
    plain_ops = [o for p in plain for o in p["ops"]]
    op_secs = [o["secs"] for o in plain_ops]
    op_samples: dict[str, list[float]] = {}
    op_totals: dict[str, list[float]] = {}
    for o in plain_ops:
        op_samples.setdefault(o["op"].name, []).append(o["secs"])
        op_totals.setdefault(o["op"].name, []).append(o["secs"] + o["release_secs"])
    # a typical pass: each operation at its median, so a stall that hits
    # one operation in one pass and another in the next is left out
    pass_s = sum(median(v) for v in op_totals.values())
    p90 = tail_percentile(op_secs)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "driver_memory": DRIVER_MEMORY,
        "input_sizes": dict(cls.inputs),
        "warmup_pass_s": [round(p["secs"], 3) for p in warm],
        "timed_pass_s": [round(p["secs"], 3) for p in runner.passes],
        "timed_s": round(timed_secs, 3),
        "check_s": round(check_s, 3),
        "op_median_s": {n: round(median(v), 3) for n, v in op_samples.items()},
        "op_s": {n: [round(x, 3) for x in v] for n, v in op_samples.items()},
        "op_samples": len(op_secs),
        "op_p90_s": p90,
        "op_p90_note": None if p90 is not None else (
            f"not reported: {len(op_secs)} samples, needs 10 beyond the 90th percentile"
        ),
        "ops_failed_share": failed / attempted,
        "checks": {n: [c.ok, c.detail] for n, c in checks.items()},
        **report,
    }
    print(json.dumps(summary))
    if args.trace:
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": workload.rows_per_pass() / pass_s,
            "op_p50_s": median_of_medians(op_samples),
            "peak_rss_mb": peak,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload dedup_pipeline --seed 1 --seconds 8 --trace 1
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``.perfbench_work/`` (the default seed is
``DEFAULT_SEED``; ``HELDOUT_SEED`` is kept for confirming a claimed
gain), starts Spark at ``local[<cores available>]``, runs untimed
warm-up iterations, then runs the workload as a closed loop with one
client for ``--seconds``, checks every output, and prints each metric
by name with its unit.

End-to-end metrics: ``docs_per_s`` (input documents processed per
second by the median timed iteration), ``setup_s`` (median of ``SETUPS``
set-ups, each cold: JVM launch, session start, package shipping, a job
touching every Python worker) and ``peak_rss_mb`` (this process, the
JVM and the Python workers, sampled from ``/proc`` over the warm-up and
timed iterations; the JVM runs with the program's own memory settings).
Also printed: ``ops_failed_ratio`` (failed calls and Spark tasks over
those attempted) and ``output_mismatches`` (failed output checks).

The last line of standard output is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``; the metrics are the end-to-end
ones with ``--trace 0`` and the per-layer ones with ``--trace 1``.

``--trace 1`` also writes the spans of the run (``*.spans.jsonl``) and
the self time per layer with per-call Spark counts (``*.rollup.json``)
under ``.perfbench_work/traces/``. Its timed iterations alternate
untraced and traced; the tracing overhead is the difference of their
median times. Layers the workload does not run report 0.

``--self-test`` shows, without Spark, that corrupted outputs are
counted as mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DEFAULT_SEED = 1
HELDOUT_SEED = 9001  # keep for confirming a claimed gain; never tune on it
SETUPS = 2  # cold set-ups per run; setup_s is their median

END_TO_END = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.bytes_in": "bytes",
    "functions.tokenize_text.tokens_per_s": "1/s",
    "functions.count_syllables.memo_hit_ratio": "ratio",
    "spans.process_spans_arrow.run_s": "s",
    "spans.process_spans_arrow.jobs": "count",
    "spans.process_spans_arrow.tasks": "count",
    "spans.span_word_frequency.run_s": "s",
    "spans.span_word_frequency.stages": "count",
    "spans.span_word_frequency.rows_out": "count",
    "spans.span_readability.run_s": "s",
    "formatting.format_freq_map_s": "s",
    **{
        f"gates.{g}.{k}": u
        for g in ("pipeline_clean_sample", "incremental_keep_quality", "duplicate_blocks_resolved")
        for k, u in (("build_s", "s"), ("run_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"))
    },
    **{
        f"{layer}.{k}": u
        for layer in (
            "quality.with_quality_score",
            "pii.redact_pii",
            "incremental.minhash_component_catalog",
            "incremental.incremental_near_dup_components",
            "near_dedup.quality_keep",
            "duplication.duplicate_blocks",
        )
        for k, u in (("build_s", "s"), ("run_s", "s"), ("jobs", "count"))
    },
    "lineage.first_s": "s",
    "lineage.resume_s": "s",
    "lineage.batch_compute_s": "s",
    "lineage.bucket_write_s": "s",
    "lineage.rework_ratio": "ratio",
    "lineage.bytes_out_per_byte_in": "ratio",
    "spark.jobs": "count",
    "spark.tasks_failed": "count",
    "jvm.heap_peak_used_mb": "MB",
    "trace.overhead_s": "s",
}


def isolate_io() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # The heap keeps the program's own limit (spark.driver.memory) and
    # is neither sized up front nor pre-touched. GCTimeRatio=1: G1 grows
    # the heap when what it holds needs the room, not whenever collection
    # pauses pass 8% of wall time (the default). On a shared host that
    # share follows other tenants' load, and with it the peak_rss_mb of
    # the same code spread by a quarter of its median across runs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:GCTimeRatio=1' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )


def start_session(cores: int):
    """One cold set-up: JVM launch and session start with package
    shipping, then a job that imports the tokenizer in every Python
    worker. No JVM may be running (see ``stop_session``)."""
    from textalyzer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")

    def touch(batches):
        import pyarrow as pa

        from textalyzer_spark.functions.syllables import count_syllables
        from textalyzer_spark.functions.tokenize import tokenize_text

        for b in batches:
            n = sum(count_syllables(t) for t in tokenize_text("warm up the workers"))
            yield pa.RecordBatch.from_arrays([pa.array([n] * b.num_rows, pa.int64())], names=["n"])

    spark.range(0, 4 * cores, 1, 4 * cores).mapInArrow(touch, "n long").write.format("noop").mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and its Python
    workers have ended, so the next ``start_session`` is cold: it
    launches a new JVM and ships a newly built package."""
    import tempfile

    from pyspark import SparkContext

    import obs

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    # shipping.ship_package builds this zip once per driver process
    zip_path = os.path.join(tempfile.gettempdir(), f"textalyzer_spark_{os.getpid()}.zip")
    if os.path.exists(zip_path):
        os.remove(zip_path)
    deadline = time.monotonic() + 20
    while len(obs.process_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            for pid in obs.process_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 20
        time.sleep(0.1)


def closed_loop(wl, calls, counts, seconds: float, trace: bool) -> tuple[list[float], list[float], list]:
    """Iterations back to back until ``seconds`` have passed (at least
    one). With ``trace``, iterations alternate untraced and traced (at
    least one of each), so both see the same warm-up. Returns untraced
    and traced iteration times, and every iteration's output.

    An untraced iteration runs under one job group, so its tasks are
    counted without per-call overhead."""
    walls: dict[bool, list[float]] = {False: [], True: []}
    outputs = []
    t_start = time.perf_counter()
    i = 0
    while i < 1 + trace or time.perf_counter() - t_start < seconds:
        traced = calls.tracer.enabled = trace and i % 2 == 1
        group = None if traced else counts.begin("iteration")
        t0 = time.perf_counter()
        with calls.tracer.span("iteration"):
            outputs.append(wl.iteration(calls))
        walls[traced].append(time.perf_counter() - t0)
        if group is not None:
            c = counts.end(group)
            calls.tasks += c["tasks"]
            calls.tasks_failed += c["tasks_failed"]
        i += 1
    calls.tracer.enabled = False
    return walls[False], walls[True], outputs


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=["extract_bulk", "dedup_pipeline"])  # workloads.WORKLOADS
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "textalyzer_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"error: no textalyzer_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    isolate_io()
    if args.self_test:
        import selftest

        from workloads import WORKLOADS

        return selftest.main(WORK, ROOT, END_TO_END, PER_LAYER, WORKLOADS)
    if not args.workload:
        p.error("--workload is required")

    import obs
    from workloads import WORKLOADS, Calls

    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 2)
        mark = now

    wl = WORKLOADS[args.workload](args.seed, WORK)
    wl.prepare()
    phase("prepare")
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = obs.Tracer(run_id, enabled=False)
    cores = len(os.sched_getaffinity(0))

    spark, get_spark_s, warmup_s = start_session(cores)
    setups = [get_spark_s + warmup_s]
    phase("setup")
    counts = obs.SparkCounts(spark)
    calls = Calls(spark, tracer, counts)
    layer: dict[str, float] = {}
    heap = obs.HeapPeak(spark)
    with obs.RssSampler() as rss:
        wl.warm_up(calls)
        calls.stats = {}  # warm-up times are not measurements
        phase("warm_up")
        walls, t_walls, outputs = closed_loop(wl, calls, counts, args.seconds, bool(args.trace))
        phase("timed")
    # the workload's memory: the checks and traced layer passes below
    # are the benchmark's own work
    peak_rss_mb = rss.peak / 2**20
    layer["jvm.heap_peak_used_mb"] = heap.peak() / 2**20
    mismatches = wl.check(calls, outputs)
    phase("check")
    if args.trace:
        layer["spark.jobs"] = sum(r.get("jobs", 0) for recs in calls.stats.values() for r in recs) / len(t_walls)
        tracer.enabled = True
        with tracer.span("layers"):
            layer.update(wl.layers(calls))
        phase("layers")
    mismatches += wl.mismatches

    stop_session(spark)
    for _ in range(SETUPS - 1):
        spark, a, b = start_session(cores)
        setups.append(a + b)
        stop_session(spark)
    phase("setups_and_stop")

    for recs in calls.stats.values():
        for r in recs:
            calls.tasks += r.get("tasks", 0)
            calls.tasks_failed += r.get("tasks_failed", 0)
    attempted = calls.attempted + calls.tasks + calls.tasks_failed
    failed = calls.failed + calls.tasks_failed
    e2e = {
        # the median timed iteration: with three or more, one slowed
        # by the host does not move it
        "docs_per_s": wl.docs / statistics.median(walls),
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss_mb,
    }
    print(f"workload {args.workload} seed {args.seed} cores {cores} iterations_s {[round(w, 3) for w in walls]}")
    print("input " + json.dumps(wl.props, sort_keys=True))
    print("peak_rss_mb_by_command " + json.dumps({k: round(v / 2**20) for k, v in rss.peak_by_command.items()})
          + f" jvm_heap_peak_used_mb {layer['jvm.heap_peak_used_mb']:.0f}")
    print("phases_s " + json.dumps(phases) + " setups_s " + json.dumps([round(x, 3) for x in setups]))
    shown = {**e2e, "ops_failed_ratio": failed / attempted, "output_mismatches": mismatches}
    units = {**END_TO_END, "ops_failed_ratio": "ratio", "output_mismatches": "count"}
    for k, v in shown.items():
        print(f"  {k:<20} {v:>14.6g} {units[k]}")

    if args.trace:
        metrics = per_layer_metrics(calls, layer, get_spark_s, warmup_s, walls, t_walls)
        report_trace(tracer, calls, metrics, args.workload, run_id)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": mismatches == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def per_layer_metrics(calls, layer, get_spark_s, warmup_s, walls, t_walls) -> dict:
    """Every per-layer metric: ``<call>.<build_s|run_s>`` is the median
    over the run's calls, a count is the last traced call's; layers the
    workload does not run stay 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for key in PER_LAYER:
        call, _, k = key.rpartition(".")
        if call in calls.stats:
            m[key] = calls.median(call, k) if k.endswith("_s") else calls.last(call, k)
    m["formatting.format_freq_map_s"] = calls.median("formatting.format_freq_map", "build_s")
    m.update(layer)
    m["session.get_spark_s"] = get_spark_s
    m["session.warmup_s"] = warmup_s
    m["spark.tasks_failed"] = calls.tasks_failed
    m["trace.overhead_s"] = statistics.median(t_walls) - statistics.median(walls)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}


def report_trace(tracer, calls, metrics, workload, run_id) -> None:
    """Write the spans and the per-layer roll-up; print the roll-up."""
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    self_s = tracer.self_times()
    by_layer: dict[str, float] = {}
    for name, s in self_s.items():
        by_layer[name.split(".")[0]] = by_layer.get(name.split(".")[0], 0.0) + s
    # where the traced timed iterations spend their time
    in_iter = tracer.self_times(under="iteration")
    total = sum(in_iter.values())
    share = {k: round(v / total, 4) for k, v in sorted(in_iter.items(), key=lambda kv: -kv[1]) if v >= total / 1000}
    split = {}
    for name, recs in calls.stats.items():
        counted = [r for r in recs if "jobs" in r]
        if counted:
            keys = ("jobs", "stages", "tasks", "tasks_failed")
            split[name] = {
                **{k: counted[-1][k] for k in keys},
                "calls": len(counted),
                "counts_repeat": all(tuple(r[k] for k in keys) == tuple(counted[0][k] for k in keys) for r in counted),
            }
    rollup = {"workload": workload, "run_id": run_id, "self_s_by_layer": by_layer, "self_s_by_span": self_s,
              "iteration_self_share_by_span": share,
              "spark_counts_by_call": split, "counting_s": calls.counts.seconds}
    with open(os.path.join(out_dir, f"{run_id}.rollup.json"), "w") as f:
        json.dump(rollup, f, indent=1, sort_keys=True)
    print(f"trace {os.path.relpath(out_dir, ROOT)}/{run_id}.spans.jsonl")
    print(f"time spent reading Spark counts: {calls.counts.seconds:.3f} s")
    print("self time by layer (s):")
    for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {k:<24} {v:10.3f}")
    print("share of the traced iterations' self time by span: " + json.dumps(share))
    print("spark counts by call (last call; repeat = identical on every traced call):")
    for k, v in split.items():
        print(f"  {k:<48} jobs {v['jobs']:>4} stages {v['stages']:>4} tasks {v['tasks']:>5} "
              f"failed {v['tasks_failed']} repeat {v['counts_repeat']}")
    for k, v in metrics.items():
        print(f"  {k:<56} {v['value']:>14.6g} {v['unit']}")


if __name__ == "__main__":
    sys.exit(main())

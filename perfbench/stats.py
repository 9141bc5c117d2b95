"""Statistics that turn one run's raw record into its reported metrics.

A raw record (written by the JVM harness) holds, per warm-up and timed
repetition, each operation's wall time, the operations that failed or were
not reached, the repetition's process CPU time, the peak RSS and live heap at
its end and, in traced runs, its per-layer values.
"""
import statistics

END_TO_END = {"setup_s": "s", "sweep_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
              "live_heap_mb": "MB"}

# per-layer metric -> unit; every traced run reports all of them (0 where a
# workload does not exercise the layer)
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.outside_stage_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.executions": "count",
    "telemetry.ingest_s": "s", "telemetry.models_s": "s", "telemetry.checks_s": "s",
    "telemetry.alerts_s": "s", "telemetry.init_gold_s": "s",
    "ml.train_score_s": "s", "sources.export_scored_s": "s",
    "streaming.trigger_p50_s": "s", "telemetry.gold_files_rewritten": "count",
    "sources.lake_mb": "MB",
    "text.extract_s": "s", "dedup.bag_s": "s", "dedup.neardup_s": "s",
    "dedup.clean_s": "s", "sampling.sample_s": "s", "text.pack_s": "s",
    "sources.export_s": "s",
    "dedup.pairs": "count", "operators.artifacts_pinned": "count",
    "queries.construct_s": "s", "queries.execute_s": "s",
    "queries.relational_s": "s", "queries.tpch_s": "s", "queries.events_s": "s",
}
# curation_analyst op "<pack>.<query>" -> the per-pack metric its median adds to
PACKS = {"relational": "queries.relational_s", "tpch": "queries.tpch_s",
         "events": "queries.events_s"}


class NoSample(Exception):
    """An operation failed in every timed repetition: it has no time."""


def op_medians(reps, ops):
    """Median wall time of each operation over the repetitions where it
    succeeded. A failed attempt is dropped, never read as a (fast) sample;
    an operation with no successful attempt raises NoSample."""
    out = {}
    for op in ops:
        xs = [r["ops"][op] for r in reps if op in r["ops"] and op not in r["failed"]]
        if not xs:
            raise NoSample(op)
        out[op] = statistics.median(xs)
    return out


def counts(reps, ops):
    """(attempted, failed) over the given repetitions, warm-up and timed: an
    operation a repetition did not reach after a failure counts as failed, so
    every repetition attempts every operation and the failed share is the
    same in any run that fails the same operations."""
    attempted = len(reps) * len(ops)
    failed = sum(len(r["failed"]) for r in reps)
    return attempted, failed


def outcome(raw, checks):
    """(correct, attempted, failed) of a run: every warm-up and timed
    operation and every check is attempted; a failed operation or a failed
    check is failed, and a run with any failure is not correct."""
    attempted, failed = counts(raw["warmup"] + raw["reps"], raw["ops"])
    failed += sum(1 for _, ok, _ in checks if not ok)
    return failed == 0, attempted + len(checks), failed


def end_to_end(raw):
    reps, ops = raw["reps"], raw["ops"]
    med = op_medians(reps, ops)
    # a repetition cut short by a failure did less work: its CPU is no sample
    clean = [r for r in reps if not r["failed"]]
    if not clean:
        raise NoSample("cpu_s")
    return {
        "setup_s": raw["setup_s"],
        "sweep_s": sum(med.values()),
        "cpu_s": sum(r["cpu_s"] for r in clean) / len(clean),
        "peak_rss_mb": reps[-1]["peak_rss_mb"],
        "live_heap_mb": max(r["live_heap_mb"] for r in reps),
    }


def per_layer(raw):
    """Median over timed repetitions of every per-layer value."""
    reps, ops = raw["reps"], raw["ops"]
    med = op_medians(reps, ops)
    values = dict.fromkeys(PER_LAYER, 0.0)
    layer_names = set().union(*(r["layers"].keys() for r in reps))
    for k in layer_names:
        values[k] = statistics.median(r["layers"].get(k, 0.0) for r in reps)
    for op, m in med.items():          # one span per public call
        if op + "_s" in values:
            values[op + "_s"] = m
        pack = PACKS.get(op.split(".")[0])
        if pack:
            values[pack] += m
    return values


def spread(values):
    """Interquartile distance over the median, as the acceptance check takes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

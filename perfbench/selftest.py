"""Self-test of the harness statistics, on synthetic samples, plus a probe
that the JVM reads CPU time, peak RSS and live heap of its own process.

  python3 perfbench/run.py --selftest
"""
import json
import os
import statistics
import subprocess
import tempfile

import stats


def rep(i, ops, failed=(), cpu=3.0, rss=100.0, live=50.0):
    return {"rep": i, "ops": ops, "failed": list(failed), "layers": {},
            "cpu_s": cpu, "peak_rss_mb": rss, "live_heap_mb": live}


def check_medians():
    reps = [rep(0, {"a": 1.0, "b": 10.0}, cpu=2.0, rss=90.0, live=40.0),
            rep(1, {"a": 3.0, "b": 30.0}, cpu=4.0, rss=95.0, live=70.0),
            rep(2, {"a": 2.0, "b": 20.0}, cpu=6.0, rss=120.0, live=60.0)]
    med = stats.op_medians(reps, ["a", "b"])
    assert med == {"a": 2.0, "b": 20.0}, med
    raw = {"reps": reps, "ops": ["a", "b"], "setup_s": 5.0}
    e2e = stats.end_to_end(raw)
    assert e2e["sweep_s"] == 22.0, e2e
    assert e2e["cpu_s"] == 4.0, e2e               # CPU per timed repetition
    assert e2e["peak_rss_mb"] == 120.0, e2e       # high-water mark at the end
    assert e2e["live_heap_mb"] == 70.0, e2e       # the most any repetition held
    # sweep_s is a sum of per-operation medians, not the median of sums
    skew = [rep(0, {"a": 1.0, "b": 9.0}), rep(1, {"a": 9.0, "b": 1.0}),
            rep(2, {"a": 5.0, "b": 5.0})]
    assert stats.end_to_end({**raw, "reps": skew})["sweep_s"] == 10.0


def check_failures():
    # a failed attempt keeps the time it took to fail (fast); it must be
    # counted and must not pull the median down
    reps = [rep(0, {"a": 2.0, "b": 1.0}), rep(1, {"a": 0.001, "b": 1.0}, ["a"]),
            rep(2, {"a": 4.0, "b": 1.0}), rep(3, {"b": 1.0}, ["a"])]
    assert stats.counts(reps, ["a", "b"]) == (8, 2)
    med = stats.op_medians(reps, ["a", "b"])
    assert med["a"] == 3.0, med
    # a warm-up failure counts too: run.py counts warm-up and timed together,
    # and an operation not reached after a failure counts as failed
    warm = [rep(0, {"a": 0.5}, ["a", "b"])]
    assert stats.counts(warm + reps, ["a", "b"]) == (10, 4)
    # a repetition cut short by a failure did less work: its CPU is left out
    # of cpu_s, so it cannot make cpu_s read fast
    cut = [rep(0, {"a": 2.0, "b": 1.0}, cpu=10.0), rep(1, {"a": 2.0}, ["b"], cpu=1.0),
           rep(2, {"a": 2.0, "b": 1.0}, cpu=12.0)]
    e2e = stats.end_to_end({"reps": cut, "ops": ["a", "b"], "setup_s": 1.0})
    assert e2e["cpu_s"] == 11.0, e2e
    try:
        stats.end_to_end({"reps": [rep(0, {"a": 2.0, "b": 1.0}, ["b"])],
                          "ops": ["b"], "setup_s": 1.0})
    except stats.NoSample:
        pass
    else:
        raise AssertionError("CPU of repetitions that all failed produced a cpu_s")
    # any failed operation or check makes the run incorrect
    raw = {"ops": ["a", "b"], "warmup": [rep(0, {"a": 1.0, "b": 1.0})],
           "reps": [rep(1, {"a": 1.0, "b": 1.0})]}
    assert stats.outcome(raw, [("c", True, "")]) == (True, 5, 0)
    assert stats.outcome(raw, [("c", False, "")]) == (False, 5, 1)
    raw["warmup"] = warm
    assert stats.outcome(raw, [("c", True, "")]) == (False, 5, 2)
    # an operation that never succeeded has no time: no sweep is reported
    try:
        stats.op_medians([rep(0, {"a": 0.001}, ["a"])], ["a"])
    except stats.NoSample:
        pass
    else:
        raise AssertionError("an always-failing operation produced a time")


def check_spread():
    assert abs(stats.spread([1.0] * 10)) < 1e-12
    v = [10, 10, 10, 10, 11, 11, 11, 11, 12, 12]
    q1, _, q3 = statistics.quantiles(v, n=4)
    assert stats.spread(v) == (q3 - q1) / 11.0


def check_per_layer():
    reps = [{"rep": r, "ops": {"telemetry.ingest": t, "streaming.append_0": 1.0},
             "failed": [], "layers": {"spark.jobs": j}}
            for r, t, j in ((3, 1.0, 10.0), (4, 3.0, 12.0), (5, 2.0, 11.0))]
    v = stats.per_layer({"reps": reps, "ops": ["telemetry.ingest", "streaming.append_0"]})
    assert v["spark.jobs"] == 11.0 and v["telemetry.ingest_s"] == 2.0, v
    # analyst ops add their medians to their pack's total
    qs = [{"rep": r, "ops": {"tpch.q3": a, "tpch.q5": b, "events.q_s": 1.0},
           "failed": [], "layers": {}} for r, a, b in ((0, 1.0, 2.0), (1, 3.0, 4.0), (2, 2.0, 3.0))]
    v = stats.per_layer({"reps": qs, "ops": ["tpch.q3", "tpch.q5", "events.q_s"]})
    assert v["queries.tpch_s"] == 5.0 and v["queries.events_s"] == 1.0, v
    assert v["queries.relational_s"] == 0.0, v
    assert v["dedup.pairs"] == 0.0, v          # a layer this workload does not run
    assert set(v) == set(stats.PER_LAYER), set(v) ^ set(stats.PER_LAYER)


def check_probe(cp):
    """The JVM burns one second of CPU on one thread and touches and holds
    256 MB; its own readers must see both, the live heap must rise by the
    held block, and it must report its own pid."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(cp.split(os.pathsep)[0])) as tmp:
        p = subprocess.Popen(["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                              "perfbench.Main", "probe", "1.0"],
                             stdout=subprocess.PIPE, text=True)
        out, _ = p.communicate(timeout=60)
    assert p.returncode == 0, p.returncode
    r = json.loads(out.strip().splitlines()[-1])
    assert r["pid"] == p.pid, (r["pid"], p.pid)
    assert 0.8 <= r["cpu_s"] <= 1.6, r
    assert r["rss_after_mb"] - r["rss_before_mb"] >= 200, r
    assert 250 <= r["live_after_mb"] - r["live_before_mb"] <= 270, r


def main(cp):
    for t in (check_medians, check_failures, check_spread, check_per_layer):
        t()
        print(f"ok {t.__name__}")
    check_probe(cp)
    print("ok check_probe")
    return 0

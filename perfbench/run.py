#!/usr/bin/env python3
"""The benchmark's one command.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached per seed under
.bench_build/inputs), drives one JVM with one client thread over Spark in
local mode, checks the outputs (perfbench/checks.py) and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 registers the listeners, records spans to
<run dir>/spans.jsonl and reports the per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build   # noqa: E402
import checks  # noqa: E402
import stats   # noqa: E402

BUILD = build.BUILD

# name: (input generator, warm-up repetitions, minimum timed repetitions).
# At the benchmark's --seconds the minimum count of repetitions always lasts
# longer, so each run makes exactly that count: the same whole rounds and the
# same window of the warm-up curve (perfbench/README.md, "Warm-up and
# steadiness").
WORKLOADS = {
    "lakehouse_refresh": ("lakehouse", 1, 2),
    "curation_analyst": ("curation_analyst", 1, 2),
}
KEEP_INPUT_SEEDS = 12       # cached input sets kept per workload
JVM_TIMEOUT_S = 150

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def steal_s():
    """Time this machine's CPUs spent waiting for the host (steal), in s."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def java(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep peak RSS a function of the
    # work, not of when the collector chose to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-Xss4m", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "a") as errf:
        proc = subprocess.Popen(cmd, stdout=errf, stderr=errf, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"JVM exceeded {timeout} s; see {work}/jvm.log")
        except BaseException:       # interrupted (SIGINT, or SIGTERM via main)
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"JVM exited {rc}; log tail:\n{tail}")


def inputs(kind, seed):
    """Generate (or reuse) the seed's inputs; returns the program's input dir."""
    base = os.path.join(BUILD, "inputs")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:     # a changed generator
        version = hashlib.sha256(f.read()).hexdigest()[:12]  # makes new inputs
    d = os.path.join(base, f"{kind}-s{seed}-{version}")
    ready = os.path.join(d, "READY")
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        import gen      # numpy, pandas and pyarrow load only when generating
        gen.generate(kind, seed, os.path.join(d, "data"))
        open(ready, "w").close()
        log(f"generated {kind} inputs for seed {seed} in {time.time() - t0:.1f} s")
    os.utime(ready)
    cached = sorted((p for p in os.listdir(base) if p.startswith(kind + "-s")),
                    key=lambda p: os.path.getmtime(os.path.join(base, p)))
    for old in cached[:-KEEP_INPUT_SEEDS]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return os.path.join(d, "data")


def run(workload, seed, seconds, trace):
    kind, warmups, min_reps = WORKLOADS[workload]
    cp = build.build()
    data = inputs(kind, seed)
    work = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0, s0 = time.time(), steal_s()
    java(cp, ["run", workload, data, work, str(seconds), str(trace), str(cores()),
              str(warmups), str(min_reps)], work, JVM_TIMEOUT_S)
    t1, s1 = time.time(), steal_s()
    raw = json.load(open(os.path.join(work, "raw.json")))
    results = checks.CHECKS[workload](data, os.path.join(work, "check"))
    log(f"JVM {t1 - t0:.1f} s (CPU steal {s1 - s0:.1f} s), checks {time.time() - t1:.1f} s")
    for name, ok, detail in results:
        log(f"check {name}: {'ok' if ok else 'FAIL'} ({detail})")
    correct, attempted, failed = stats.outcome(raw, results)
    e2e = stats.end_to_end(raw)
    log(f"{workload}: {len(raw['reps'])} timed reps after {warmups} warm-up; "
        f"sweep_s={e2e['sweep_s']:.4f}")
    if trace:
        values = stats.per_layer(raw)
        metrics = {k: {"value": values[k], "unit": u} for k, u in stats.PER_LAYER.items()}
        log(f"spans: {os.path.join(work, 'spans.jsonl')}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in stats.END_TO_END.items()}
    for d in os.listdir(work):
        if d.startswith("rep_") or d in ("spark-local", "tmp", "warehouse", "stream-ckpt",
                                         "corpus"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    # a terminated run stops its JVM too (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        return selftest.main(build.build())
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Inputs land in a per-seed directory with a manifest.json that
records sizes and planted properties; the program only ever sees the files.

  lakehouse   PAI-shaped raw CSVs (the five reference tables) plus one
              single-day machine-metric CSV per append batch. A few base
              days are planted as anomalous (GPU and CPU far above the
              cluster's daily band).
  curation_analyst
              both parts of that workload in one directory: the eight
              TPC-H-ish tables the query packs read (region, nation,
              customer, supplier, part, orders, lineitem, events) at
              sf0.1's row counts and value ranges, and the replica indices
              of the curation corpus: the committed sf0.1 documents
              (perfbench/data/documents.parquet) plus two replicas that
              the benchmark JVM derives with the program's
              ScaledFixture.diversifyText.

Run directly to regenerate a workload's inputs:
  python3 perfbench/gen.py <lakehouse|curation_analyst> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DAY = 86400

# ---------------------------------------------------------------- lakehouse

LAKE_BASE_DAYS = 49          # the reference trace spans ~49 days
LAKE_ROWS_PER_DAY = 4000     # machine-metric readings per base day
LAKE_APPEND_DAYS = 2         # one extra day per append batch
LAKE_APPEND_ROWS = 4000
LAKE_PLANTED = 2             # anomalous base days
LAKE_MACHINES = 400
LAKE_JOBS = 30000
LAKE_START = 1593561600      # 2020-07-01T00:00:00Z, the PAI trace's summer


def _metric_rows(rng, day_index, n, mean_gpu, mean_cpu):
    """n machine-metric readings whose end_time falls on day `day_index`."""
    day0 = LAKE_START + day_index * DAY
    end = day0 + rng.integers(0, DAY, n)
    start = end - rng.integers(60, 3600, n)
    gpu = np.clip(rng.normal(mean_gpu, 18.0, n), 0, 100).round(2)
    cpu = np.clip(rng.normal(mean_cpu, 15.0, n), 0, 100).round(2)
    machines = rng.integers(0, LAKE_MACHINES, n)
    df = pd.DataFrame({
        "worker_name": [f"worker_{w:06d}" for w in rng.integers(0, 200000, n)],
        "machine": [f"m{m:04d}" for m in machines],
        "start_time": start,
        "end_time": end.astype("float64"),
        "machine_cpu_iowait": rng.uniform(0, 5, n).round(2),
        "machine_cpu_kernel": rng.uniform(0, 20, n).round(2),
        "machine_cpu_usr": rng.uniform(0, 80, n).round(2),
        "machine_gpu": gpu,
        "machine_load_1": rng.uniform(0, 64, n).round(2),
        "machine_net_receive": rng.exponential(1e6, n).round(1),
        "machine_num_worker": rng.integers(1, 9, n).astype("float64"),
        "machine_cpu": cpu,
    })
    # ~1% rows without end_time (silver drops them) and ~2% without a GPU
    # reading (gold skips them): the NULL paths the models must honour
    df.loc[rng.random(n) < 0.01, "end_time"] = np.nan
    df.loc[rng.random(n) < 0.02, "machine_gpu"] = np.nan
    return df


def _write_csv(df, path):
    try:        # Arrow's writer is ~15x faster; it refuses values that need quotes
        pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), path,
                        pacsv.WriteOptions(quoting_style="none"))
    except pa.ArrowInvalid:
        df.to_csv(path, index=False, float_format="%.10g")


def gen_lakehouse(seed, out):
    rng = np.random.default_rng([seed, 1])
    planted = sorted(int(d) for d in rng.choice(
        np.arange(4, LAKE_BASE_DAYS - 4), LAKE_PLANTED, replace=False))
    # the daily band drifts slowly; planted days sit far above it
    band_gpu = 40 + 6 * np.sin(np.arange(LAKE_BASE_DAYS) / 7.0)
    band_cpu = 35 + 4 * np.cos(np.arange(LAKE_BASE_DAYS) / 5.0)
    parts = []
    for d in range(LAKE_BASE_DAYS):
        g, c = band_gpu[d], band_cpu[d]
        if d in planted:
            g, c = 92.0, 88.0
        parts.append(_metric_rows(rng, d, LAKE_ROWS_PER_DAY, g, c))
    metrics = pd.concat(parts, ignore_index=True)
    metrics["end_time"] = metrics["end_time"].astype("Int64")
    _write_csv(metrics, f"{out}/pai_machine_metric.csv")

    appends = []
    for k in range(LAKE_APPEND_DAYS):
        d = LAKE_BASE_DAYS + k
        a = _metric_rows(rng, d, LAKE_APPEND_ROWS, 40.0, 35.0)
        a["end_time"] = a["end_time"].astype("Int64")
        name = f"append_{k:02d}.csv"
        _write_csv(a, f"{out}/{name}")
        appends.append({"file": name, "day": d, "rows": int(len(a))})

    n = LAKE_JOBS
    start = LAKE_START + rng.integers(0, LAKE_BASE_DAYS * DAY, n)
    running = rng.random(n) < 0.05
    end = (start + rng.integers(10, 7200, n)).astype("float64")
    end[running] = np.nan
    jobs = pd.DataFrame({
        "job_name": [f"job_{i:08x}" for i in rng.permutation(n)],
        "inst_id": [f"inst_{i:08x}" for i in rng.integers(0, 1 << 30, n)],
        "user": [f"user_{u:04d}" for u in rng.integers(0, 1200, n)],
        "status": np.where(running, "Running",
                           rng.choice(["Terminated", "Failed"], n, p=[0.9, 0.1])),
        "start_time": start,
        "end_time": pd.array(end).astype("Int64"),
    })
    _write_csv(jobs, f"{out}/pai_job_table.csv")

    inst = jobs.sample(n=n // 2, random_state=seed % (2 ** 32)).reset_index(drop=True)
    inst_df = pd.DataFrame({
        "job_name": inst["job_name"], "inst_id": inst["inst_id"],
        "worker_name": [f"worker_{w:06d}" for w in rng.integers(0, 200000, len(inst))],
        "inst_name": [f"inst{i}" for i in range(len(inst))],
        "status": inst["status"], "start_time": inst["start_time"],
        "end_time": inst["end_time"],
        "machine": [f"m{m:04d}" for m in rng.integers(0, LAKE_MACHINES, len(inst))],
    })
    _write_csv(inst_df, f"{out}/pai_instance_table.csv")

    spec = pd.DataFrame({
        "machine": [f"m{m:04d}" for m in range(LAKE_MACHINES)],
        "gpu_type": rng.choice(["V100", "P100", "T4", "MISC"], LAKE_MACHINES),
        "cap_cpu": rng.choice([64, 96, 128], LAKE_MACHINES),
        "cap_mem": rng.choice([512, 768, 1024], LAKE_MACHINES),
        "cap_gpu": rng.choice([2, 4, 8], LAKE_MACHINES),
    })
    _write_csv(spec, f"{out}/pai_machine_spec.csv")

    gpus = pd.DataFrame({
        "Product_Name": [f"GPU Model {i}" for i in range(60)],
        "GPU_Chip": [f"GX{i % 9}0{i % 7}" for i in range(60)],
        "Released": [f"Jan {2010 + i % 12}th, {2010 + i % 12}" for i in range(60)],
        "Bus": rng.choice(["PCIe 3.0 x16", "PCIe 4.0 x16", "SXM2"], 60),
        "Memory": [f"{m} GB, GDDR6, 256 bit" for m in rng.choice([8, 16, 32], 60)],
        "GPU_clock": [f"{c} MHz" for c in rng.integers(900, 1800, 60)],
        "Memory_clock": [f"{c} MHz" for c in rng.integers(1000, 2000, 60)],
        "Shaders_TMUs_ROPs": ["2560 / 160 / 64"] * 60,
    })
    _write_csv(gpus, f"{out}/tpu_gpus.csv")

    return {
        "workload": "lakehouse_refresh", "seed": seed,
        "base_days": LAKE_BASE_DAYS, "rows_per_day": LAKE_ROWS_PER_DAY,
        "metric_rows": int(len(metrics)), "job_rows": n,
        "instance_rows": int(len(inst_df)), "machines": LAKE_MACHINES,
        "start_epoch": LAKE_START, "planted_days": planted,
        "planted_dates": [pd.Timestamp((LAKE_START + d * DAY), unit="s").date().isoformat()
                          for d in planted],
        "appends": appends,
    }

# ---------------------------------------------------------------- analyst

# The shape of the read-only TPC-H-ish fixtures the query packs were written
# against (eight tables, seed-fixed, see TESTDATA.md): every table at
# sf0.1's row counts, every column drawn independently and uniformly over
# the same value sets and ranges those fixtures hold, except event values
# (exponential, mean 50) and event times (one sorted run over 30 days).
ANALYST_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
                "orders": 150000, "lineitem": 600000, "events": 100000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, first, last, n):
    """n midnight timestamps drawn uniformly from [first, last]."""
    a, b = np.datetime64(first), np.datetime64(last)
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return (rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0)


def gen_analyst(seed, out):
    rng = np.random.default_rng([seed, 2])
    n = ANALYST_ROWS
    ch = lambda xs, k: np.asarray(xs, dtype=object)[rng.integers(0, len(xs), k)]
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": ch(SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(ch(PART_ADJ, n["part"]),
                                                  ch(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": ch(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": ch(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": ch(PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": ch(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": ch(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])}),
    }
    k = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * DAY * 10**6, k))
    tables["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, k),
        "event_type": ch(EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")
    return {"rows": {name: t.num_rows for name, t in tables.items()}}

# ---------------------------------------------------------------- curation

CURATION_BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "data", "documents.parquet")
CURATION_REPLICAS = 3       # the base corpus plus two diversified replicas
REPLICA_POOL = 1000         # replica indices are drawn from 1..REPLICA_POOL


def gen_curation(seed, out):
    """Choose the seed's diversify replica indices. The corpus itself is
    derived in the benchmark JVM with the program's own
    ScaledFixture.diversifyText (perfbench/src, CurationPipeline.derive),
    from the committed base corpus (perfbench/data/documents.parquet, a copy
    of the sf0.1 documents fixture)."""
    rng = np.random.default_rng([seed, 3])
    reps = sorted(int(r) for r in rng.choice(
        np.arange(1, REPLICA_POOL + 1), CURATION_REPLICAS - 1, replace=False))
    base = pq.read_metadata(CURATION_BASE).num_rows
    return {"base": CURATION_BASE, "base_docs": base, "replicas": [0] + reps,
            "docs": base * CURATION_REPLICAS}


def gen_curation_analyst(seed, out):
    """Both inputs of the curation_analyst workload, in one directory: the
    curation replica indices and the analyst tables."""
    return {"workload": "curation_analyst", "seed": seed,
            **gen_curation(seed, out), **gen_analyst(seed, out)}


GENERATORS = {"lakehouse": gen_lakehouse, "curation_analyst": gen_curation_analyst}


def generate(kind, seed, out):
    """Write `kind`'s inputs for `seed` into `out` (created fresh)."""
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[kind](seed, out)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py <{'|'.join(GENERATORS)}> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

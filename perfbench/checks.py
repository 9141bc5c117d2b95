"""Correctness checks, run after the JVM exits (outside every timed region).

Each check returns (name, ok, detail). A failed check counts as one failed
operation of the run.
"""
import datetime
import glob
import json
import math

import duckdb

METRIC_COLS = {
    "worker_name": "VARCHAR", "machine": "VARCHAR", "start_time": "BIGINT",
    "end_time": "BIGINT", "machine_cpu_iowait": "DOUBLE", "machine_cpu_kernel": "DOUBLE",
    "machine_cpu_usr": "DOUBLE", "machine_gpu": "DOUBLE", "machine_load_1": "DOUBLE",
    "machine_net_receive": "DOUBLE", "machine_num_worker": "DOUBLE", "machine_cpu": "DOUBLE",
}
CSV_OF = {
    "bronze_job_events": "pai_job_table.csv",
    "bronze_instance_table": "pai_instance_table.csv",
    "bronze_machine_metrics": "pai_machine_metric.csv",
    "bronze_machine_spec": "pai_machine_spec.csv",
    "bronze_gpu_specs": "tpu_gpus.csv",
}


def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def _rows_equal(got, exp):
    if len(got) != len(exp):
        return False, f"rows got={len(got)} exp={len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(_close(x, y) for x, y in zip(g, e)):
            return False, f"row {i}: got={g} exp={e}"
    return True, f"{len(got)} rows"


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _gold_sql(csvs):
    files = ", ".join(f"'{c}'" for c in csvs)
    return f"""
      SELECT CAST(DATE '1970-01-01' + CAST(end_time // 86400 AS INTEGER) AS VARCHAR) AS day,
             avg(machine_gpu), quantile_cont(machine_gpu, 0.95), avg(machine_cpu)
      FROM read_csv([{files}], header=true, columns={METRIC_COLS})
      WHERE end_time IS NOT NULL AND machine_gpu IS NOT NULL
      GROUP BY ALL ORDER BY day"""


def lakehouse(inputs, check):
    """DuckDB recomputes bronze counts and every gold row from the CSVs; the
    planted days must be flagged, alerted exactly once, and each append
    must rewrite only its own day's gold partition."""
    con = duckdb.connect()
    man = json.load(open(f"{inputs}/manifest.json"))
    got = json.load(open(f"{check}/lakehouse.json"))
    out = []
    exp_counts = {t: con.execute(
        f"SELECT count(*) FROM read_csv('{inputs}/{c}', header=true, all_varchar=true)"
    ).fetchone()[0] for t, c in CSV_OF.items()}
    out.append(("bronze_counts", got["bronze_counts"] == exp_counts,
                f"got={got['bronze_counts']} exp={exp_counts}"))
    base = [f"{inputs}/pai_machine_metric.csv"]
    appends = [f"{inputs}/{a['file']}" for a in man["appends"]]
    for name, csvs in (("gold_refresh", base), ("gold_after", base + appends)):
        exp = con.execute(_gold_sql(csvs)).fetchall()
        g = con.execute(f"SELECT day, avg_gpu_util, p95_gpu_util, avg_cpu_util "
                        f"FROM {_pq(check + '/' + name)} ORDER BY day").fetchall()
        ok, detail = _rows_equal(g, exp)
        out.append((name, ok, detail))
    n_after = sum(con.execute(f"SELECT count(*) FROM read_csv('{c}', header=true, "
                              f"all_varchar=true)").fetchone()[0] for c in base + appends)
    out.append(("bronze_after_appends", got["bronze_metrics_after"] == n_after,
                f"got={got['bronze_metrics_after']} exp={n_after}"))
    flagged = {d for (d,) in con.execute(
        f"SELECT day FROM {_pq(check + '/scored')} WHERE anomaly_flag = 1").fetchall()}
    planted = set(man["planted_dates"])
    out.append(("planted_days_flagged", planted <= flagged,
                f"planted={sorted(planted)} flagged={sorted(flagged)}"))
    alerts = [d for (d,) in con.execute(f"SELECT day FROM {_pq(check + '/alerts')}").fetchall()]
    out.append(("alerts_once_per_flagged_day",
                sorted(alerts) == sorted(flagged) and len(alerts) == len(set(alerts)),
                f"alerts={sorted(alerts)}"))
    own = [(datetime.date(1970, 1, 1) + datetime.timedelta(
        seconds=man["start_epoch"] + a["day"] * 86400)).isoformat() for a in man["appends"]]
    changed = [a["changed"] for a in got["appends"]]
    out.append(("append_rewrites_own_day", bool(own) and changed == [[d] for d in own],
                f"changed={changed} own={own}"))
    return out


def curation(inputs, check):
    """Properties of the curated output (no oracle is SQL-expressible for
    the whole pipeline)."""
    con = duckdb.connect()
    params = json.load(open(f"{check}/curation.json"))
    docs = glob.glob(f"{params['corpus']}/*.parquet")
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet({docs})")
    con.execute(f"CREATE VIEW kept AS SELECT * FROM {_pq(check + '/dedup.clean')}")
    con.execute(f"CREATE VIEW sampled AS SELECT * FROM {_pq(check + '/sampling.sample')}")
    shards = sorted(glob.glob(f"{params['export_dir']}/*.json"))
    con.execute(f"CREATE VIEW exported AS SELECT * FROM read_json({shards}, "
                f"columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR'}}, filename=true)")
    out = []
    n, n_distinct, n_outside = con.execute(
        "SELECT count(*), count(DISTINCT doc_id), "
        "count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM docs)) FROM exported").fetchone()
    out.append(("output_ids_unique_subset", n == n_distinct and n_outside == 0 and n > 0,
                f"rows={n} distinct={n_distinct} not_in_input={n_outside}"))
    bags, kept = con.execute(
        "SELECT count(DISTINCT list_sort(list_filter(string_split_regex(lower(trim(d.text)), "
        "'\\s+'), t -> t <> ''))::VARCHAR), count(*) "
        "FROM kept k JOIN docs d USING (doc_id)").fetchone()
    out.append(("kept_bags_distinct", bags == kept, f"kept={kept} distinct_bags={bags}"))
    pcols = con.sql(f"SELECT * FROM {_pq(check + '/dedup.neardup')}").columns
    a, b = pcols[0], pcols[1]
    both, npairs = con.execute(
        f"SELECT count(*) FILTER (WHERE \"{a}\" IN (SELECT doc_id FROM kept) "
        f"AND \"{b}\" IN (SELECT doc_id FROM kept)), count(*) "
        f"FROM {_pq(check + '/dedup.neardup')}").fetchone()
    out.append(("no_pair_survives_whole", both == 0 and npairs > 0,
                f"pairs={npairs} both_kept={both} cols={pcols[:2]}"))
    cap = params["max_records_per_shard"]
    worst, = con.execute("SELECT max(c) FROM (SELECT count(*) c FROM exported "
                         "GROUP BY filename)").fetchone()
    man_rows, = con.execute(f"SELECT sum(n_rows) FROM {_pq(check + '/sources.export')}").fetchone()
    n_sampled, = con.execute("SELECT count(*) FROM sampled").fetchone()
    out.append(("shards_bounded_manifest_matches",
                worst is not None and worst <= cap and man_rows == n_sampled == n,
                f"max_shard={worst} cap={cap} manifest={man_rows} sampled={n_sampled}"))
    budget = params["pack_tokens"]
    con.execute(f"CREATE VIEW packs AS SELECT * FROM {_pq(check + '/text.pack')}")
    wrong, = con.execute(
        "SELECT count(*) FROM (SELECT p.*, sum(p.n_tokens) OVER (ORDER BY p.doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before, "
        "len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'), t -> t <> '')) AS toks "
        "FROM packs p JOIN docs d USING (doc_id)) "
        f"WHERE n_tokens <> toks OR tokens_before <> coalesce(before, 0) "
        f"OR pack_id <> tokens_before // {budget}").fetchone()
    over, n_packs = con.execute(
        "SELECT count(*) FILTER (WHERE docs > 1 AND fill - last_len >= "
        f"{budget}), count(*) FROM (SELECT pack_id, count(*) docs, sum(n_tokens) fill, "
        "arg_max(n_tokens, tokens_before) last_len FROM packs GROUP BY pack_id)").fetchone()
    out.append(("packs_within_budget", wrong == 0 and over == 0 and n_packs > 0,
                f"packs={n_packs} misassigned_docs={wrong} over_budget={over}"))
    # the id-hash sample is binomial per source: allow 4.5 standard errors
    shares = con.execute(
        "SELECT k.source, count(s.doc_id)::DOUBLE / count(*), count(*) FROM kept k "
        "LEFT JOIN sampled s USING (doc_id) GROUP BY k.source").fetchall()
    off = [(s, round(x, 3), n) for s, x, n in shares
           if abs(x - 0.7) > 4.5 * math.sqrt(0.7 * 0.3 / n)]
    out.append(("sample_share_near_0.7", not off and bool(shares), f"off={off}"))
    return out


ANALYST_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events")


def _canon(df):
    """Columns sorted by name, rows sorted by every column: the form the
    program's oracle gate compares."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def analyst(inputs, check):
    """Every query's checked execution (the first warm-up repetition) must
    equal its SparkEntry.oracleSql run by DuckDB over the same tables: the
    same column names, row count, value kinds and exact values."""
    con = duckdb.connect()
    for t in ANALYST_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    oracle = json.load(open(f"{check}/oracle.json"))
    out = []
    for name in sorted(oracle):
        try:
            got = _canon(con.execute(f"SELECT * FROM {_pq(check + '/' + name)}").df())
            exp = _canon(con.execute(oracle[name]).df())
        except duckdb.Error as e:
            out.append((f"oracle:{name}", False, str(e).splitlines()[0]))
            continue
        if list(got.columns) != list(exp.columns):
            ok, detail = False, f"columns got={list(got.columns)} exp={list(exp.columns)}"
        elif len(got) != len(exp):
            ok, detail = False, f"rows got={len(got)} exp={len(exp)}"
        else:
            kinds = [c for c in got.columns if got[c].dtype.kind != exp[c].dtype.kind]
            same = all(got[c].equals(exp[c]) or
                       (got[c].isna() == exp[c].isna()).all() and
                       (got[c][got[c].notna()] == exp[c][exp[c].notna()]).all()
                       for c in got.columns)
            ok = not kinds and same
            detail = f"{len(got)} rows" if ok else f"kinds differ={kinds} values_equal={same}"
        out.append((f"oracle:{name}", ok, detail))
    return out


def curation_analyst(inputs, check):
    """The curation properties and the analyst oracle checks, over the one
    input directory and check directory the workload shares."""
    return curation(inputs, check) + analyst(inputs, check)


CHECKS = {"lakehouse_refresh": lakehouse, "curation_analyst": curation_analyst}

"""Output checks and metric derivation for perfbench/run.py.

Checks run after the harness JVM exits, outside every timed pass:
 - query workloads: each query's output against its DuckDB oracle SQL
   (SparkEntry.oracleSql) over the same generated tables, with the
   comparison rules of tools/check_correctness.py (same column names,
   same arrow types, rows equal after sorting, NaN equal to NaN);
 - news_ingest: the final incremental articles mart against a one-shot
   batch rebuild of the mart over every row the ingest wrote.

Metrics come from the harness's spans (run > pass > op > phase > job).
"""
import glob
import json
import math
import os
import statistics

import duckdb

from gen import TABLES

MB = 1048576.0

UNITS = {
    "setup_s": "s", "pass_s": "s", "freshness_p50_s": "s",
    "freshness_tail_s": "s", "peak_rss_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analyze_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.outside_jobs_s": "s", "exec.task_cpu_s": "s",
    "exec.task_run_s": "s", "exec.gc_s": "s", "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.core_busy_frac": "ratio",
    "materialize.memo_ops": "count", "materialize.released_rdds": "count",
    "materialize.persisted_rdds_end": "count",
    "materialize.block_mb_end": "MB",
    "streaming.raw_s": "s", "streaming.mart_s": "s",
    "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "streaming.rows_in": "count", "streaming.dedup_keep_frac": "ratio",
    "streaming.state_rows": "count",
    "sources.land_s": "s", "sources.read_s": "s",
    "sources.bytes_written_mb": "MB", "sources.write_amp": "ratio",
    "sources.files_live": "count",
    "tracing_overhead": "ratio", "error_rate": "ratio",
}


def _norm(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def compare(exp, got):
    """None when equal, else a one-line reason (check_correctness rules)."""
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"columns exp={ecols} got={gcols}"
    tdiff = {c: (str(exp.schema.field(c).type), str(got.schema.field(c).type))
             for c in ecols
             if exp.schema.field(c).type != got.schema.field(c).type}
    if tdiff:
        return f"arrow types differ {tdiff}"

    def rows(tbl):
        return sorted((tuple(_norm(d[c]) for c in ecols)
                       for d in tbl.to_pylist()), key=repr)
    erows, grows = rows(exp), rows(got)
    if len(erows) != len(grows):
        return f"rowcount exp={len(erows)} got={len(grows)}"
    bad = [i for i, (x, y) in enumerate(zip(erows, grows)) if x != y]
    if bad:
        i = bad[0]
        return (f"{len(bad)}/{len(erows)} rows differ; first "
                f"exp={erows[i]!r:.300} got={grows[i]!r:.300}")
    return None


def _read(con, path):
    return con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table()


def _connect(run_dir):
    tmp = os.path.join(run_dir, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    return con


def run_checks(workload, run_dir, tables):
    con = _connect(run_dir)
    out = []
    if workload == "news_ingest":
        inc, reb = (os.path.join(run_dir, "news", k)
                    for k in ("incremental", "rebuild"))
        try:
            why = compare(_read(con, reb), _read(con, inc))
        except Exception as e:  # a missing output is a failed check
            why = f"error: {e}"
        out.append({"name": "news_mart_vs_rebuild", "ok": why is None,
                    "why": why})
        return out
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet/*.parquet')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    for name in sorted(glob.glob(os.path.join(run_dir, "q", "*"))):
        q = os.path.basename(name)
        if q not in oracles:
            out.append({"name": q, "ok": True, "why": "no oracle (rows only)"})
            continue
        try:
            why = compare(con.execute(oracles[q]).fetch_arrow_table(),
                          _read(con, name))
        except Exception as e:
            why = f"error: {e}"
        out.append({"name": q, "ok": why is None, "why": why})
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _union(intervals):
    tot, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            tot += b - a
            end = b
        elif b > end:
            tot += b - end
            end = b
    return tot


def tail(samples):
    """p90 by nearest rank: the ceil(0.9 n)-th of n sorted samples.
    Returns (value, n, samples beyond it). A 25 s run gives 4 to 10
    samples, too few for a percentile with ten samples beyond it above
    the median, so the record states how many lie beyond instead."""
    s = sorted(samples)
    if not s:
        return 0.0, 0, 0
    k = math.ceil(0.9 * len(s))
    return s[k - 1], len(s), len(s) - k


def metrics(workload, spans, res, traced_run):
    """(end-to-end metrics, per-layer metrics, detail for the record)."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["t1"] - s["t0"]

    def desc(s):
        for k in kids.get(s["id"], []):
            yield k
            yield from desc(k)

    passes = [s for s in spans if s["kind"] == "pass"]
    warm = [p for p in passes if not p["attrs"].get("warmup")]
    steady = [p for p in warm if not p["attrs"].get("traced")]
    # freshness of an output: from its input landing to the output being
    # answered. A news batch lands at its op's start; a query workload's
    # inputs are all there at pass start, so its outputs age from there.
    lat = [o["t1"] - (o["t0"] if workload == "news_ingest" else p["t0"])
           for p in steady for o in kids.get(p["id"], [])
           if o["kind"] == "op"]
    t_val, t_n, t_beyond = tail(lat)
    e2e = {
        "setup_s": _median(res["setups_s"]),
        "pass_s": _median([dur(p) for p in steady]),
        "freshness_p50_s": _median(lat),
        "freshness_tail_s": t_val,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    detail = {
        "passes": len(passes),
        "pass_s_all": [round(dur(p), 4) for p in passes],
        "warmup_pass_s": [round(dur(p), 4) for p in passes
                          if p["attrs"].get("warmup")],
        "freshness_samples": t_n, "freshness_tail_beyond": t_beyond,
    }
    traced = [p for p in warm if p["attrs"].get("traced")]
    layers = {}
    if traced_run and traced:
        per = [_pass_layers(p, list(desc(p)), res["cpus"], by_id)
               for p in traced]
        layers = {k: _median([x[k] for x in per]) for k in per[0]}
        layers["tracing_overhead"] = (
            _median([dur(p) for p in traced]) / e2e["pass_s"]
            if e2e["pass_s"] else 0.0)
    return e2e, layers, detail


def _pass_layers(p, ds, cpus, by_id):
    def dur(s):
        return s["t1"] - s["t0"]

    def phases(name):
        return [s for s in ds if s["kind"] == "phase" and s["name"] == name]

    def total(name):
        return sum(dur(s) for s in phases(name))

    jobs = [s for s in ds if s["kind"] == "job"]

    def jsum(k):
        return sum(j["attrs"].get(k, 0.0) for j in jobs)

    pd = dur(p)
    covered = _union([(max(j["t0"], p["t0"]), min(j["t1"], p["t1"]))
                      for j in jobs if j["t1"] > j["t0"]])
    raw, mart = phases("streaming.raw"), phases("streaming.mart")
    stream = raw + mart
    rows_in = sum(s["attrs"].get("rows_in", 0.0) for s in raw)
    kept = sum(s["attrs"].get("rows_kept", 0.0) for s in raw)
    ops = [s for s in ds if s["kind"] == "op"]
    landed = sum(s["attrs"].get("bytes", 0.0) for s in phases("sources.land"))
    written = sum(o["attrs"].get("warehouse_bytes_written", 0.0) for o in ops)
    a = p["attrs"]
    return {
        "queries.build_s": total("queries.build"),
        "queries.build_jobs": float(sum(
            1 for j in jobs if by_id[j["parent"]]["name"] == "queries.build")),
        "plans.analyze_s": total("plans.analyze"),
        "plans.optimize_s": total("plans.optimize"),
        "plans.physical_s": total("plans.physical"),
        "exec.jobs": float(len(jobs)),
        "exec.stages": jsum("stages"),
        "exec.tasks": jsum("tasks"),
        "exec.run_s": total("exec.run"),
        "exec.outside_jobs_s": pd - covered,
        "exec.task_cpu_s": jsum("task_cpu_s"),
        "exec.task_run_s": jsum("task_run_s"),
        "exec.gc_s": jsum("gc_s"),
        "exec.input_mb": jsum("input_mb"),
        "exec.shuffle_write_mb": jsum("shuffle_write_mb"),
        "exec.shuffle_read_mb": jsum("shuffle_read_mb"),
        "exec.spill_mb": jsum("spill_mb"),
        "exec.core_busy_frac": jsum("task_run_s") / (pd * cpus) if pd else 0.0,
        "materialize.memo_ops": a.get("memo_ops", 0.0),
        "materialize.released_rdds": a.get("released_rdds", 0.0),
        "materialize.persisted_rdds_end": a.get("persisted_rdds_end", 0.0),
        "materialize.block_mb_end": a.get("block_mb_end", 0.0),
        "streaming.raw_s": sum(dur(s) for s in raw),
        "streaming.mart_s": sum(dur(s) for s in mart),
        "streaming.add_batch_s": sum(s["attrs"].get("add_batch_s", 0.0)
                                     for s in stream),
        "streaming.overhead_s": sum(s["attrs"].get("trigger_s", 0.0)
                                    - s["attrs"].get("add_batch_s", 0.0)
                                    for s in stream),
        "streaming.rows_in": rows_in,
        "streaming.dedup_keep_frac": kept / rows_in if rows_in else 0.0,
        "streaming.state_rows": (raw[-1]["attrs"].get("state_rows", 0.0)
                                 if raw else 0.0),
        "sources.land_s": total("sources.land"),
        "sources.read_s": total("sources.read"),
        "sources.bytes_written_mb": written / MB,
        "sources.write_amp": written / landed if landed else 0.0,
        "sources.files_live": (ops[-1]["attrs"].get("files_live", 0.0)
                               if ops else 0.0),
    }

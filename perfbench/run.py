#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload etl_overlap --seed 1 --seconds 15 --trace 0

Builds the harness (perfbench/build.sbt: the checkout's graft sources plus
perfbench/src) when the sources changed, generates the workload's inputs
from the seed, runs the harness JVM on them, checks every output, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["etl_overlap", "query_suite"]

# etl_overlap: lines per full month across the 8 sources, and the months
# of history already in the warehouse.
MONTH_LINES = 20000
HISTORY_MONTHS = 6
# The validation clock: every generated event lies before it.
NOW_MS = 1717200000000  # 2024-06-01T00:00:00Z

# query_suite: corpus scale (sf0.01 is ~60K lineitem rows) and the
# queries run, two to four per family group (stats.Q_LAYERS). The corpus
# is one fixed draw, like a fixed test corpus; the run's seed chooses the
# visiting order of every pass.
CORPUS_SEED = 0
CORPUS_SF = 0.002
QUERIES = [
    "a5_pricing_summary", "a1_monthly_rollup", "j7_asof_attribution", "w3_sessionize",
    "p18_validate_summary", "p7_suffix_strip", "d1_dedup_first_wins", "s1_json_extract",
    "t1_token_stats", "t8_vocab_topk", "t20_hll_distinct",
    "td1_exact_dedup", "td5_simhash_sigs", "td2_ngram_jaccard",
    "v1_cosine_topk", "v3_lsh_topk",
    "tp1_curation_filters", "tp4_stratified_sample", "tp5_pii_scrub",
    "mm1_media_meta", "mm4_audio_features",
]

HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------
# build
# ---------------------------------------------------------------------

def _sources_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with sbt unless the stamp matches the sources;
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no graft sources at src/main/scala; run from a checkout")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp.json")
    digest = _sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: harness build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def harness(cp, work, args, out):
    """Run the harness JVM; return (raw result, launch time in epoch ms)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main"] + args + ["--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_LOCAL_DIRS=tmp)
    launch_ms = time.time() * 1e3
    with open(os.path.join(work, "harness.log"), "a") as errf:
        p = subprocess.run(cmd, env=env, stdout=errf, stderr=errf, timeout=170)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    with open(out) as f:
        return json.load(f), launch_ms


def generate(make, target):
    """make(target), timed; returns (result, seconds). The generator's
    time is logged, not measured: no program change can move it."""
    t0 = time.perf_counter()
    r = make(target)
    return r, time.perf_counter() - t0


# ---------------------------------------------------------------------
# etl_overlap
# ---------------------------------------------------------------------

MEASURE_SQL = {"entsoe": "generation_mw * coalesce(resolution_minutes, 60) / 60.0"}


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_etl(raw, truth, pass_dir, history_files):
    """Every output of one ETL pass against the generator's ground truth
    and DuckDB over the fact parquet. Returns the pass's operations
    (kind, name, ok, detail) and the bytes/row of the files it wrote."""
    wh = os.path.join(pass_dir, "warehouse")
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(pass_dir, 'tmp', 'duckdb')}'")
    fact = lambda s: f"read_parquet('{wh}/{s}_generation_data/*.parquet', union_by_name=true)"
    ops = []
    loads = {r["source"]: r for r in raw["loads"]}
    for o in raw["ops"]:
        ok, detail = o["ok"], o["error"]
        if ok and o["kind"] == "load":
            s, t, r = o["name"], truth[o["name"]], loads[o["name"]]
            bad = [k for k in ("total", "valid", "invalid", "corrupt", "inserted", "duplicates")
                   if r[k] != t[k]]
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT ({', '.join(f'coalesce(CAST({k} AS VARCHAR), chr(0))' for k in gen.KEYS[s])})) FROM {fact(s)}").fetchone()
            if n != distinct:
                bad.append(f"{n - distinct} duplicate keys in table")
            if n != t["history_rows"] + t["inserted"]:
                bad.append(f"table rows {n} != {t['history_rows']} + {t['inserted']}")
            bad += _table_values(con, fact(s), s, t["table"])
            # the re-extracted month inserts nothing
            month = t["batch_months"][0]
            y, m = map(int, month.split("-"))
            lo, hi = gen._month_ms(y, m), gen._month_ms(y + m // 12, m % 12 + 1)
            got = con.execute(f"SELECT count(*) FROM {fact(s)} WHERE timestamp_ms >= {lo} AND timestamp_ms < {hi}").fetchone()[0]
            if got != t["history_by_month"][month]:
                bad.append(f"overlap month {month} holds {got} rows, history {t['history_by_month'][month]}")
            ok, detail = not bad, "; ".join(map(str, bad))
        elif ok and o["kind"] == "refresh":
            ok, detail = _check_view(con, wh, o["name"], raw["views"].get(o["name"]), fact)
        elif ok and o["kind"] == "export":
            csvs = f"read_csv('{raw['export_dir']}/*/*.csv', header=true, hive_partitioning=true)"
            got = con.execute(f"SELECT sum(total_generation_mwh), sum(hours_of_data) FROM {csvs}").fetchone()
            want = con.execute(f"SELECT sum(generation_mw), count(*) FROM {fact('entsoe')}").fetchone()
            ok = _close(got[0], want[0]) and got[1] == want[1]
            detail = "" if ok else f"export sums {got} != fact {want}"
        ops.append({"kind": o["kind"], "name": o["name"], "ok": ok, "detail": detail})
    new_bytes, new_rows = 0, 0
    for s in gen.SOURCES:
        d = os.path.join(wh, f"{s}_generation_data")
        for f in os.listdir(d):
            p = os.path.join(d, f)
            if f.endswith(".parquet") and p not in history_files:
                new_bytes += os.path.getsize(p)
                new_rows += con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    con.close()
    return ops, new_bytes / max(1, new_rows)


def _table_values(con, table, source, want):
    """The fact table's values against the generator's: measure total,
    time range and non-NULL key parts. Returns the mismatches."""
    keys = gen.KEYS[source]
    got = con.execute(f"SELECT sum({want['measure']}), min(timestamp_ms), max(timestamp_ms), "
                      + ", ".join(f"count({k})" for k in keys) + f" FROM {table}").fetchone()
    bad = []
    if got[0] is None or not _close(got[0], want["measure_sum"]):
        bad.append(f"{want['measure']} total {got[0]} != {want['measure_sum']}")
    if (got[1], got[2]) != (want["min_ts"], want["max_ts"]):
        bad.append(f"time range {got[1:3]} != {(want['min_ts'], want['max_ts'])}")
    bad += [f"{k} non-NULL {n} != {want['key_non_null'][k]}"
            for k, n in zip(keys, got[3:]) if n != want["key_non_null"][k]]
    return bad


def _check_view(con, wh, view, published, fact):
    """A view's published row count and measure total against DuckDB."""
    if published is None:
        return False, "no row count published"
    suffix = next(x for x in ("_plant_monthly", "_monthly", "_row_counts") if view.endswith(x))
    source = view[len("mv_"):-len(suffix)]
    v = f"read_parquet('{wh}/{view}/*.parquet')"
    rows = con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
    if rows != published:
        return False, f"{view}: {rows} rows on disk, {published} published"
    if view.endswith("_row_counts"):
        got = con.execute(f"SELECT sum(row_count) FROM {v}").fetchone()[0]
        want = con.execute(f"SELECT count(*) FROM {fact(source)}").fetchone()[0]
    else:
        got = con.execute(f"SELECT sum(total_generation_mwh) FROM {v}").fetchone()[0]
        want = con.execute(f"SELECT sum({MEASURE_SQL.get(source, 'generation_mwh')}) FROM {fact(source)}").fetchone()[0]
    return (_close(got, want), "" if _close(got, want) else f"{view}: total {got} != fact {want}")


def etl_pass(cp, work, seed, index, trace):
    d = os.path.join(work, f"pass{index}")
    truth, gen_s = generate(lambda x: gen.etl_inputs(x, seed, MONTH_LINES, HISTORY_MONTHS), d)
    history = {os.path.join(r, f) for r, _, fs in os.walk(os.path.join(d, "warehouse")) for f in fs}
    out, launch_ms = harness(cp, d, ["etl", "--work", d, "--now-ms", str(NOW_MS),
                                     "--trace", "1" if trace else "0"], os.path.join(d, "raw.json"))
    raw = out["result"]
    ops, bytes_per_row = check_etl(raw, truth, d, history)
    log(f"perfbench: generation {gen_s:.2f} s; load seconds "
        + " ".join(f"{r['source']}={r['seconds']:.2f}" for r in raw["loads"])
        + f" etl_s={raw['etl_s']:.2f}")
    lines = sum(t["total"] for t in truth.values())
    p = {"setup_s": (raw["first_call_ms"] - launch_ms) / 1e3,
         "work_s": raw["etl_s"], "load_rows_per_s": lines / raw["load_s"],
         "stored_bytes_per_row": bytes_per_row, "peak_spark_memory_mb": raw["peak_spark_memory_mb"],
         "peak_old_gen_mb": raw["peak_old_gen_mb"],
         "codegen_compiles": raw["codegen_compiles"], "ops": ops, "trace": out["trace"]}
    shutil.rmtree(d)
    return p


def run_etl(cp, work, seed, seconds, trace):
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(etl_pass(cp, work, seed, len(passes), trace=False))
    ops = [o for p in passes for o in p["ops"]]
    med = lambda k: statistics.median(p[k] for p in passes)
    if not trace:
        return ops, {"setup_s": med("setup_s"), "work_s": med("work_s"),
                     "peak_spark_memory_mb": med("peak_spark_memory_mb")}
    traced = etl_pass(cp, work, seed, len(passes), trace=True)
    ops += traced["ops"]
    plan = sum(q[1] for q in traced["trace"]["queries"])
    extra = {"etl.plan_s": plan, "etl.codegen_compiles": traced["codegen_compiles"],
             "etl.load_rows_per_s": med("load_rows_per_s"),
             "etl.stored_bytes_per_row": med("stored_bytes_per_row"),
             "heap.peak_old_gen_mb": med("peak_old_gen_mb"),
             "trace.overhead_s": traced["work_s"] - med("work_s")}
    return ops, layer_output(traced["trace"], etl=True, extra=extra)


# ---------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------

def check_oracle(corpus, verify_dir):
    """tools/check_oracle.py over the verify dump: {query: ok}."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = verify_dir + ".json"
    with contextlib.redirect_stdout(sys.stderr):
        mod.main(corpus, verify_dir, out)
    with open(out) as f:
        return {k: v["ok"] for k, v in json.load(f)["queries"].items()}


def run_query(cp, work, seed, seconds, trace):
    corpus, verify = os.path.join(work, "corpus"), os.path.join(work, "verify")
    _, gen_s = generate(lambda d: gen.corpus(d, CORPUS_SEED, CORPUS_SF), corpus)
    log(f"perfbench: generation {gen_s:.2f} s")
    os.makedirs(verify, exist_ok=True)
    out, launch_ms = harness(cp, work, [
        "query", "--corpus", corpus, "--queries", ",".join(QUERIES), "--seed", str(seed),
        "--seconds", str(seconds), "--min-execs", str(100 if trace else 0), "--verify", verify,
        "--trace", "1" if trace else "0"],
        os.path.join(work, "raw.json"))
    raw = out["result"]
    verified = check_oracle(corpus, verify)
    good = lambda n: verified.get(n, False) and n not in raw["verify_errors"]
    execs = raw["execs"] + raw["traced_execs"]
    ops = [{"kind": "query", "name": e["name"], "ok": e["ok"] and good(e["name"]),
            "detail": e["error"] or ("" if good(e["name"]) else "output differs from the oracle")}
           for e in execs]
    passes = {}
    for e in raw["execs"]:
        passes.setdefault(e["pass"], []).append(e)
    totals = [sum(e["seconds"] for e in p) for p in passes.values()]
    log("perfbench: pass totals " + " ".join(f"{t:.3f}" for t in totals))
    by_query = {}
    for e in raw["execs"]:
        by_query.setdefault(e["name"], []).append(e["seconds"])
    medians = {n: statistics.median(v) for n, v in by_query.items()}
    log("perfbench: per-query medians " + " ".join(f"{n}={v:.3f}" for n, v in sorted(medians.items())))
    # a pass as the sum of per-query medians: a GC pause or a slow task
    # lands on one execution of one query, not on a whole pass
    work_s = sum(medians.values())
    # the memory peak of the hungriest query, each query at its median
    # over its executions: how many tasks overlap varies between them
    mem = {}
    for e in raw["execs"]:
        mem.setdefault(e["name"], []).append(e["spark_mb"])
    peak_mb = max(statistics.median(v) for v in mem.values())
    if not trace:
        return ops, {"setup_s": (raw["first_call_ms"] - launch_ms) / 1e3,
                     "work_s": work_s, "peak_spark_memory_mb": peak_mb}
    family = lambda name: name.split("_")[0].rstrip("0123456789")
    per_pass = lambda fams: sum(v for n, v in medians.items() if family(n) in fams)
    samples = [e["seconds"] for e in raw["execs"]]
    plan = sum(q[1] for q in out["trace"]["queries"])
    extra = {"q.plan_s": plan, "q.codegen_compiles": raw["traced_codegen_compiles"],
             "q.analytics_s": per_pass(stats.ANALYTICS_FAMILIES),
             "q.curation_s": per_pass(stats.CURATION_FAMILIES),
             "q.p50_s": stats.percentile(samples, 50), "q.p90_s": stats.percentile(samples, 90),
             "q.samples": len(samples),
             "heap.peak_old_gen_mb": raw["peak_old_gen_mb"],
             "trace.overhead_s": sum(e["seconds"] for e in raw["traced_execs"]) - work_s}
    return ops, layer_output(out["trace"], etl=False, extra=extra)


# ---------------------------------------------------------------------
# output
# ---------------------------------------------------------------------

def per_layer_names():
    names = [f"{l}.{m}" for l in stats.ETL_LAYERS for m in stats.MEASURES + stats.ETL_ONLY_MEASURES]
    names += [f"{l}.{m}" for l in stats.Q_LAYERS for m in stats.MEASURES]
    return names + ["etl.plan_s", "etl.codegen_compiles", "etl.load_rows_per_s",
                    "etl.stored_bytes_per_row", "q.plan_s", "q.codegen_compiles",
                    "q.analytics_s", "q.curation_s", "q.p50_s", "q.p90_s", "q.samples",
                    "heap.peak_old_gen_mb", "trace.overhead_s"]


def layer_output(trace, etl, extra):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    vals = dict.fromkeys(per_layer_names(), 0.0)
    layers = stats.ETL_LAYERS if etl else stats.Q_LAYERS
    for layer, ms in stats.layer_metrics(trace, layers, with_files=etl).items():
        for m, v in ms.items():
            vals[f"{layer}.{m}"] = v
    vals.update(extra)
    return vals


UNITS = {"s": "s", "driver_s": "s", "task_cpu_s": "s", "tasks": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "files_out": "count", "task_skew": "ratio",
         "codegen_compiles": "count", "load_rows_per_s": "1/s", "stored_bytes_per_row": "bytes",
         "samples": "count", "plan_s": "s", "work_s": "s", "setup_s": "s",
         "peak_spark_memory_mb": "MB", "peak_old_gen_mb": "MB", "analytics_s": "s", "curation_s": "s", "p50_s": "s",
         "p90_s": "s", "overhead_s": "s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run = run_etl if a.workload == "etl_overlap" else run_query
        ops, metrics = run(cp, work, a.seed, a.seconds, a.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, share = stats.fail_share(ops)
    for o in ops:
        if not o["ok"]:
            log(f"perfbench: FAILED {o['kind']} {o['name']}: {o['detail']}")
    log(f"perfbench: op_fail_share {failed}/{attempted} = {share:.4f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[-1]]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

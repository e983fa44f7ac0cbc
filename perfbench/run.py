#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload media_steady --seed 1 --seconds 20 --trace 0

Run from the repository root. It compiles graft's main sources and the
harness in perfbench/harness with the Scala compiler that ships in Spark's
jars (no sbt), caches the classes under $CARGO_TARGET_DIR (default
.bench_build) keyed by a hash of the sources, runs the workload in a fresh
JVM, checks the outputs, prints every metric with its unit and sample count,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (from
spans the harness records around each call into a layer). The full artifact
(environment, raw per-layer table, per-query times) is written to
<build dir>/results/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing outside the build directory
sys.path.insert(0, HERE)
import stats  # noqa: E402

T0 = time.time()
WORKLOADS = ("media_steady", "catalog_sf0.1")
TRIGGER_MS = 1000.0  # live trigger: a generator later than this invalidates a run
RUN_BUDGET_S = 175.0  # one run, from start or from the end of a build
FIRST_RUN_BUDGET_S = 900.0  # a run that builds
# media_steady's gated p99: the median over this many equal sub-windows (in
# due order) of each one's p99, so that one slow stretch of the window moves
# at most the sub-windows it falls in
WINDOW_GROUPS = 6
HEAP = {"media_steady": "3g", "catalog_sf0.1": "4g"}

# The catalog subset: a full warm pass over all 197 queries takes ~266 s on
# 4 cores, more than one run may take, so a run times one query from each of
# CATALOG_STRATA equal-count strata of the measured full-pass times (~3% of
# that pass, three timed passes in a 20 s window). The top stratum holds the
# slow, shuffle- and job-heavy tail.
FULL_PASS = os.path.join(HERE, "catalog_full_pass.json")
CATALOG_STRATA = 6
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return jars


def build(root, build_dir, jars):
    """Compile graft's main sources, then the harness; reuse a previous build
    of the same sources. Returns (classes dir, source hash, compiled now)."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main_src or not harness_src:
        fail("graft sources (src/main/scala) or harness sources not found")
    h = hashlib.sha256()
    for p in main_src + harness_src:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir, f"classes-{key}")
    if os.path.exists(os.path.join(out, "ok")):
        return out, key, False
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    cp = os.path.join(jars, "*")
    for name, srcs, classpath in (("main", main_src, cp),
                                  ("harness", harness_src, f"{tmp}/main{os.pathsep}{cp}")):
        dest = os.path.join(tmp, name)
        os.makedirs(dest)
        argfile = os.path.join(tmp, f"{name}.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", classpath, f"@{argfile}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    open(os.path.join(tmp, "ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out, key, True


def catalog_subset():
    """[(query, stratum size)] drawn from the measured full pass."""
    with open(FULL_PASS) as f:
        full = json.load(f)["queries"]
    return stats.stratified_pick({n: q["seconds"] for n, q in full.items()}, CATALOG_STRATA)


def run_harness(args, classes, jars, run_dir, log_path, clock0):
    """Run the workload's JVM; it must end within RUN_BUDGET_S of clock0."""
    out = os.path.join(run_dir, "artifact.json")
    heap = HEAP[args.workload]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "-cp", os.pathsep.join([f"{classes}/harness", f"{classes}/main",
                                    os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--out", out]
    if args.workload == "catalog_sf0.1":
        qfile = os.path.join(run_dir, "queries.txt")
        with open(qfile, "w") as f:
            f.write("".join(f"{n}\n" for n, _ in catalog_subset()))
        cmd += ["--data", args.data, "--queries", qfile]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    budget = RUN_BUDGET_S - (time.time() - clock0) - 8
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = f"timeout after {budget:.0f} s"
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}", 1)
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

class Report:
    """Named metrics with unit and sample count, printed one a line."""

    def __init__(self):
        self.rows = {}

    def add(self, name, value, unit, n=None, note=""):
        if value is None:
            return
        self.rows[name] = {"value": value, "unit": unit, "n": n, "note": note}

    def pct(self, name, values, q, unit="ms"):
        v, n, beyond = stats.percentile(values, q)
        self.add(name, v, unit, n, f"{beyond} beyond")

    def value(self, name):
        return self.rows[name]["value"]


def fmt(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def window_progress(art, query):
    w0, w1 = art["window"]["start_us"], art["window"]["end_us"]
    out = []
    for p in art["progress"].get(query, []):
        start = iso_us(p["timestamp"])
        if w0 <= start < w1 and p["numInputRows"] > 0:
            out.append((start, p))
    return out


def iso_us(ts):
    """Progress-event timestamp ("2026-10-17T09:12:44.000Z") in epoch us."""
    d = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(d.timestamp() * 1_000_000)


def rows_at(appends, t_us=None, offset=None):
    """Rows a source held: by wall time, or at an admitted offset."""
    rows = 0
    for off, cum, us in appends:
        if (t_us is not None and us <= t_us) or (offset is not None and off <= offset):
            rows = cum
    return rows


def streaming_layers(art, rep, query, prefix=""):
    prog = window_progress(art, query)
    dm = lambda k: [p["durationMs"].get(k, 0) for _, p in prog]  # noqa: E731
    rep.add(f"batch{prefix}.count", len(prog), "count")
    rep.pct(f"batch{prefix}.trigger_ms_p50", dm("triggerExecution"), 0.5)
    rep.pct(f"batch{prefix}.trigger_ms_p99", dm("triggerExecution"), 0.99)
    rep.pct(f"batch{prefix}.planning_ms_p50", dm("queryPlanning"), 0.5)
    rep.pct(f"batch{prefix}.add_batch_ms_p50", dm("addBatch"), 0.5)
    rep.pct(f"batch{prefix}.wal_commit_ms_p50", dm("walCommit"), 0.5)
    rep.pct(f"batch{prefix}.offset_commit_ms_p50", dm("commitOffsets"), 0.5)
    ops = [p["stateOperators"][0] for _, p in prog if p.get("stateOperators")]
    rep.pct(f"state{prefix}.update_ms_p50", [o["allUpdatesTimeMs"] for o in ops], 0.5)
    rep.pct(f"state{prefix}.commit_ms_p50", [o["commitTimeMs"] for o in ops], 0.5)
    rep.pct(f"state{prefix}.commit_ms_p99", [o["commitTimeMs"] for o in ops], 0.99)
    rep.pct(f"state{prefix}.rows_updated_p50", [o["numRowsUpdated"] for o in ops], 0.5, "rows")
    if ops:
        rep.add(f"state{prefix}.rows_total", ops[-1]["numRowsTotal"], "rows")
        rep.add(f"state{prefix}.memory_bytes", ops[-1]["memoryUsedBytes"], "bytes")
    # admission: rows generated by each batch start minus rows it admitted
    appends = art["source"][query]
    backlog = []
    for start, p in prog:
        end_off = int(p["sources"][0]["endOffset"])
        backlog.append(max(0, rows_at(appends, t_us=start) - rows_at(appends, offset=end_off)))
    rep.add(f"source{prefix}.backlog_rows_max", max(backlog) if backlog else 0, "rows",
            len(backlog))
    secs = (art["window"]["end_us"] - art["window"]["start_us"]) / 1e6
    rows = sum(p["numInputRows"] for _, p in prog)
    rep.add(f"source{prefix}.input_rows_per_s", rows / secs, "rows/s", len(prog))
    return rows


def decode_layers(art, rep, rows):
    """Live decode: rows admitted in the window, dead-lettered rows, and the
    process CPU spent per thousand chunks."""
    rep.add("decode.rows", rows, "rows")
    rep.add("decode.corrupt_rows", int(art["decode"]["corrupt_rows"]), "rows")
    rep.add("process.cpu_ms_per_kchunk", art["jvm"]["window_cpu_ms"] / max(1, rows / 1000.0),
            "ms", rows)


def span_layers(art, rep):
    """Per-layer self time from the traced run's spans: the harness's own
    spans, micro-batches and their durationMs phases from progress events,
    and jobs and stages from the listener ledger."""
    w0, w1 = art["window"]["start_us"], art["window"]["end_us"]
    spans = [tuple(s) for s in art["spans"] if w0 <= s[3] < w1]
    for q in art.get("progress", {}):
        for start, p in window_progress(art, q):
            bid = f"{p['name']}:{p['batchId']}"
            d = p["durationMs"]
            spans.append(("batch", 0, bid, start, start + d.get("triggerExecution", 0) * 1000))
            t = start
            for ph in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                       "commitOffsets"):
                ms = d.get(ph, 0)
                spans.append((f"batch.{ph}", 1, bid, t, t + ms * 1000))
                t += ms * 1000
    for tag, s, e, _ in art["ledger"]["jobs"]:
        if w0 <= s < w1:
            spans.append(("spark.job", 2, tag, s, e))
    for st in art["ledger"]["stages"]:
        if w0 <= st["start_us"] < w1:
            spans.append(("spark.stage", 3, st["tag"], st["start_us"], st["end_us"]))
    # Spark stamps batches, phases, jobs and stages in whole milliseconds
    for layer, (total, n) in sorted(stats.self_times(spans, slack=10_000).items()):
        rep.add(f"self_ms.{layer}", total / 1000.0, "ms", n)
    return spans


def spark_layers(art, rep, units):
    """Listener numbers for the window; `units` is the number of requests
    (micro-batches or query runs) the jobs served."""
    w0, w1 = art["window"]["start_us"], art["window"]["end_us"]
    jobs = [j for j in art["ledger"]["jobs"] if w0 <= j[1] < w1]
    stages = [s for s in art["ledger"]["stages"] if w0 <= s["start_us"] < w1]
    per_unit = {}
    for tag, *_ in jobs:
        per_unit[tag] = per_unit.get(tag, 0) + 1
    rep.add("spark.jobs", len(jobs), "count")
    rep.add("spark.stages", len(stages), "count")
    rep.add("spark.tasks", sum(s["tasks"] for s in stages), "count")
    rep.add("spark.jobs_per_unit", len(jobs) / max(1, units), "count", units)
    skew = []
    for s in stages:
        if len(s["task_ms"]) >= 2:
            med = stats.median(s["task_ms"])
            if med > 0:
                skew.append(max(s["task_ms"]) / med)
    rep.pct("spark.task_skew_p50", skew or [1.0], 0.5, "ratio")
    busy = sum(s["run_ms"] for s in stages) / ((w1 - w0) / 1000.0 * art["meta"]["nproc"])
    rep.add("spark.core_busy_ratio", busy, "ratio")
    succ = sum(s["task_successes"] for s in stages)
    rep.add("spark.task_attempts_per_success",
            sum(s["task_attempts"] for s in stages) / max(1, succ), "ratio")
    rep.add("spark.stage_reattempts", sum(1 for s in stages if s["attempt"] > 0), "count")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "input_rows"):
        rep.add(f"spark.{k}", sum(s[k] for s in stages), "rows" if k == "input_rows" else "bytes")


def sink_layers(art, rep, spans):
    calls = {k: [(e - s) / 1000.0 for layer, _, _, s, e in spans if layer == k]
             for k in ("sink.put", "sink.upsert", "sink.read")}
    rep.pct("sink.put_ms_p50", calls["sink.put"], 0.5)
    rep.pct("sink.put_ms_p99", calls["sink.put"], 0.99)
    rep.pct("sink.upsert_ms_p50", calls["sink.upsert"], 0.5)
    rep.pct("sink.upsert_ms_p99", calls["sink.upsert"], 0.99)
    rep.pct("sink.read_ms_p99", calls["sink.read"], 0.99)
    delivered = int(art["sink"]["delivered"])
    rep.add("sink.puts_per_chunk", int(art["sink"]["puts"]) / max(1, delivered), "count",
            delivered, "whole run, API puts included")
    batches = {f"{p['name']}:{p['batchId']}" for q in art["progress"]
               for _, p in window_progress(art, q)}
    busy = {}
    for layer, _, sid, s, e in spans:
        if layer.startswith("sink.") and sid in batches:
            busy[sid] = busy.get(sid, 0) + (e - s) / 1000.0
    rep.pct("sink.busy_ms_per_batch_p50", list(busy.values()), 0.5)
    rep.add("sink.failures", int(art["sink"]["failures"]), "count")


def jvm_layers(art, rep):
    j = art["jvm"]
    rep.add("jvm.gc_ms", j["window_gc_ms"], "ms")
    rep.add("jvm.peak_rss_mb", j["peak_rss_mb"], "MB")
    rep.add("process.cpu_s", j["window_cpu_ms"] / 1000.0, "s")


def setup_seconds(art):
    """Session build, the median of the repeated workload starts, and the
    catalog's untimed warm-up pass."""
    s = art["setup"]
    reps = s.get("reps_s") or [0.0]
    return art["meta"]["session_s"] + stats.median(reps) + s.get("warm_pass_s", 0)


def delivered_per_s(art, rep):
    """Chunks first delivered inside the window, per second. The open-loop
    load pins it at the offered rate while the pipeline keeps up, so it is a
    keep-up guard: it drops only once the system falls behind."""
    w = art["window"]
    n = int(w["delivered"])
    rep.add("delivered_chunks_per_s", n / ((w["end_us"] - w["start_us"]) / 1e6), "1/s", n,
            "chunks whose first delivery fell in the window")


def busy_capacity(art, rep):
    """Live chunks admitted per second of live micro-batch time in the
    window: the rate the pipeline could carry running batches back to back,
    which rises when batches get cheaper."""
    prog = window_progress(art, "live")
    busy_s = sum(p["durationMs"]["triggerExecution"] for _, p in prog) / 1000.0
    rows = sum(p["numInputRows"] for _, p in prog)
    rep.add("live_busy_cps", rows / busy_s, "chunks/s", len(prog),
            "rows admitted per second of micro-batch time")


def generator_check(lateness):
    late = sum(1 for x in lateness if x > TRIGGER_MS)
    return {"name": "generator_on_schedule", "attempted": len(lateness), "failed": late,
            "detail": f"sends later than one trigger interval ({TRIGGER_MS:.0f} ms): {late}"}


def media_steady(art, trace, rep):
    # per chunk in due order; null marks a chunk never delivered
    live = [math.inf if x is None else x for x in art["live"]["lat_ms"]]
    vod = [math.inf if x is None else x for x in art["vod"]["lat_ms"]]
    rep.pct("live_latency_p50_ms", live, 0.5)
    rep.pct("live_latency_p99_ms", live, 0.99)
    v, n, k = stats.window_median(live, 0.99, WINDOW_GROUPS)
    rep.add("live_latency_p99_ms.windowed", v, "ms", n,
            f"median over {k} sub-windows of each one's p99")
    rep.pct("vod_latency_p50_ms", vod, 0.5)
    rep.pct("vod_latency_p95_ms", vod, 0.95)
    delivered_per_s(art, rep)
    busy_capacity(art, rep)
    gens = art["gen"]
    lateness = gens["live"] + gens["vod"] + gens["poll"]
    checks = art["checks"] + [generator_check(lateness)]
    e2e = {"latency_ms": rep.value("live_latency_p50_ms"),
           "tail_latency_ms": rep.value("live_latency_p99_ms.windowed"),
           "throughput_per_s": rep.value("delivered_chunks_per_s")}
    if trace:
        rep.pct("gen.lateness_ms_p99", lateness, 0.99)
        rep.add("gen.events", int(art["load"]["events"]), "count")
        decode_layers(art, rep, streaming_layers(art, rep, "live"))
        streaming_layers(art, rep, "vod", ".vod")
        spans = span_layers(art, rep)
        sink_layers(art, rep, spans)
        api_w = [(e - s) / 1000.0 for layer, _, _, s, e in spans if layer == "api.write"]
        api_r = [(e - s) / 1000.0 for layer, _, _, s, e in spans if layer == "api.read"]
        rep.pct("api.write_ms_p50", api_w, 0.5)
        rep.pct("api.write_ms_p99", api_w, 0.99)
        rep.pct("api.read_ms_p50", api_r, 0.5)
        rep.pct("api.read_ms_p99", api_r, 0.99)
        api = next(c for c in art["checks"] if c["name"] == "api_calls")
        rep.add("api.failures", api["failed"], "count")
        scr = [(e - s) / 1000.0 for layer, _, _, s, e in spans if layer == "metrics.scrape"]
        rep.pct("metrics.scrape_ms_p50", scr, 0.5)
        rep.pct("metrics.scrape_ms_p99", scr, 0.99)
        if art["scrape_bytes"]:
            rep.add("metrics.exposition_bytes", art["scrape_bytes"][-1], "bytes")
        batches = len(window_progress(art, "live")) + len(window_progress(art, "vod"))
        spark_layers(art, rep, batches)
        jvm_layers(art, rep)
    return e2e, checks


def oracle_answer(con, sql, cache_dir, data_key):
    """DuckDB's (columns, rows) for an oracle query. The SQL and the tables
    are its only inputs, so the answer is kept in the build directory and
    reused by later runs (one oracle query takes ~9 s)."""
    path = os.path.join(cache_dir, hashlib.sha256(f"{data_key}\0{sql}".encode()).hexdigest()[:24])
    try:
        with open(path, "rb") as f:
            return pickle.load(f)
    except (OSError, EOFError, pickle.UnpicklingError):
        pass
    cur = con.execute(sql)
    answer = ([d[0] for d in cur.description], cur.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(answer, f)
    os.replace(tmp, path)
    return answer


def oracle_check(art, run_dir, build_dir):
    """Compare each query's result with DuckDB's answer to its oracle SQL;
    rows-only queries must return rows."""
    import duckdb
    cat = art["catalog"]
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run_dir}/duckdb_tmp'")
    tables = sorted(glob.glob(os.path.join(cat["data"], "*.parquet")))
    for p in tables:
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    data_key = json.dumps([duckdb.__version__] + [
        (p, os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in tables])
    bad = []
    for name in cat["queries"]:
        if name in cat["check_errors"]:
            bad.append(f"{name}: {cat['check_errors'][name]}")
            continue
        files = sorted(glob.glob(os.path.join(cat["check_dir"], name, "*.parquet")))
        if not files:
            bad.append(f"{name}: no result written")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if name not in cat["oracle"]:
            if not grows:
                bad.append(f"{name}: rows-only query returned 0 rows")
            continue
        ecols, erows = oracle_answer(con, cat["oracle"][name], os.path.join(build_dir, "oracle"),
                                     data_key)
        if sorted(gcols) != sorted(ecols):
            bad.append(f"{name}: columns {sorted(gcols)} vs oracle {sorted(ecols)}")
            continue
        if len(grows) != len(erows):
            bad.append(f"{name}: {len(grows)} rows vs oracle {len(erows)}")
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        ei = [ecols.index(c) for c in sorted(gcols)]
        for r, (g, e) in enumerate(zip(grows, erows)):
            diff = [c for c, (a, b) in enumerate(zip((g[i] for i in gi), (e[i] for i in ei)))
                    if not same(a, b)]
            if diff:
                bad.append(f"{name}: row {r} column {sorted(gcols)[diff[0]]} differs")
                break
    return {"name": "catalog_results_match_oracle", "attempted": len(cat["queries"]),
            "failed": len(bad), "detail": "; ".join(bad)}


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def catalog(art, trace, rep, run_dir, build_dir):
    cat = art["catalog"]
    passes = cat["passes"]
    per_q = {}
    for p in passes:
        for q in p["queries"]:
            per_q.setdefault(q["name"], []).append(q["plan_s"] + q["exec_s"])
    # each query at its median pass, which spread less from run to run than
    # its best pass (README, Spread)
    q_med = {n: stats.median(v) for n, v in per_q.items()}
    catalog_s = sum(q_med.values())
    rep.add("catalog_s", catalog_s, "s", len(passes),
            f"{len(q_med)} queries, each at its median of {len(passes)} passes")
    strata = dict(catalog_subset())
    rep.add("catalog_full_est_s", sum(strata[n] * t for n, t in q_med.items()), "s",
            len(q_med), f"all {sum(strata.values())} queries, stratified estimate")
    rep.pct("catalog_query_p50_s", list(q_med.values()), 0.5, "s")
    rep.add("catalog_query_geomean_s", statistics.geometric_mean(q_med.values()), "s",
            len(q_med))
    rep.pct("catalog_query_max_s", list(q_med.values()), 1.0, "s")
    checks = [oracle_check(art, run_dir, build_dir),
              {"name": "catalog_timed_queries", "attempted": int(cat["attempted"]),
               "failed": int(cat["failures"]), "detail": "queries that raised in a timed pass"}]
    e2e = {"latency_ms": rep.value("catalog_query_geomean_s") * 1000.0,
           "tail_latency_ms": rep.value("catalog_query_max_s") * 1000.0,
           "throughput_per_s": len(q_med) / catalog_s}
    art["per_query_s"] = q_med
    modules = {}
    for n, t in q_med.items():
        m = cat["modules"].get(n, "other")
        modules[m] = modules.get(m, 0.0) + t
    art["per_module_s"] = modules
    if trace:
        mid = sorted(passes, key=lambda p: p["pass_s"])[len(passes) // 2]
        rep.add("catalog.plan_build_s", sum(q["plan_s"] for q in mid["queries"]), "s")
        rep.add("catalog.execute_s", sum(q["exec_s"] for q in mid["queries"]), "s")
        for m, t in sorted(modules.items()):
            rep.add(f"catalog.{m}_s", t, "s")
        span_layers(art, rep)
        spark_layers(art, rep, len(passes) * len(q_med))
        jvm_layers(art, rep)
    return e2e, checks


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="catalog table directory (default $GRAFT_TESTDATA/sf0.1, "
                    "GRAFT_TESTDATA defaulting to ~/testdata)")
    args = ap.parse_args()
    root = os.getcwd()
    if args.data is None:
        base = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
        args.data = os.path.join(base, "sf0.1")
    if args.workload == "catalog_sf0.1" and not os.path.isdir(args.data):
        fail(f"catalog tables not found at {args.data} (set GRAFT_TESTDATA)")
    build_dir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    jars = spark_jars()
    t_build = time.time()
    classes, src_key, compiled = build(root, build_dir, jars)
    clock0 = T0
    if compiled:
        build_s = time.time() - t_build
        print(f"perfbench: compiled graft and the harness in {build_s:.0f} s", file=sys.stderr)
        if time.time() - T0 + RUN_BUDGET_S > FIRST_RUN_BUDGET_S:
            fail(f"build exceeded budget: {build_s:.0f} s leaves less than {RUN_BUDGET_S:.0f} s "
                 f"of the {FIRST_RUN_BUDGET_S:.0f} s a building run may take")
        clock0 = time.time()  # the run's own budget starts after the build

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        art = run_harness(args, classes, jars, run_dir, os.path.join(run_dir, "harness.log"),
                          clock0)
        rep = Report()
        rep.add("setup_s", setup_seconds(art), "s", len(art["setup"].get("reps_s") or [1]),
                "median of repeated starts")
        e2e, checks = (media_steady(art, args.trace, rep) if args.workload == "media_steady"
                       else catalog(art, args.trace, rep, run_dir, build_dir))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e["setup_s"] = rep.value("setup_s")
    ratio, attempted, failed = stats.failed_ratio(checks)
    rep.add("failed_ratio", ratio, "ratio", attempted, f"{failed} failed")
    correct = failed == 0

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    overhead = {}
    if args.trace:
        try:
            with open(os.path.join(results, f"{tag}-trace0.json")) as f:
                base = json.load(f)["end_to_end"]
            overhead = {k: e2e[k] - base[k] for k in base if k in e2e}
        except (OSError, ValueError, KeyError):
            pass
    meta = dict(art["meta"])
    meta.update({"git_commit": git_commit(root), "source_hash": src_key})
    artifact = {"meta": meta, "end_to_end": e2e, "report": rep.rows, "checks": checks,
                "tracing_overhead": overhead}
    if args.workload == "media_steady":
        artifact["live_latency_ms"] = art["live"]["lat_ms"]
    if "per_query_s" in art:
        artifact["per_query_s"] = art["per_query_s"]
        artifact["per_module_s"] = art["per_module_s"]
        artifact["passes"] = art["catalog"]["passes"]
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"nproc={meta['nproc']} spark={meta['spark_version']} commit={meta['git_commit']}")
    for name, r in rep.rows.items():
        n = "" if r["n"] is None else f" n={r['n']}"
        note = f" ({r['note']})" if r["note"] else ""
        print(f"{name} = {fmt(r['value'])} {r['unit']}{n}{note}")
    for c in checks:
        verdict = "ok" if c["failed"] == 0 else "FAILED"
        print(f"check {c['name']}: {verdict} {c['failed']}/{c['attempted']} {c['detail']}".rstrip())
    if args.trace:
        if overhead:
            for k, v in overhead.items():
                print(f"tracing_overhead.{k} = {fmt(v)} (traced minus untraced, same seed)")
        else:
            print("tracing_overhead: no untraced run of this workload and seed in this build dir")
    print(f"verdict: {'correct' if correct else 'INCORRECT'}")

    # BENCHMARK.json names the metrics the last line carries
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": rep.value(m["name"]) if args.trace else e2e[m["name"]],
                           "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-benchmark-json   # regenerate BENCHMARK.json

Run from the repository root.  The first run builds the engine and the
harness (perfbench/harness, an sbt build depending on the root build) and
caches the classpath under .bench_build/; later runs rebuild only when a
source file changed.  Each run then

1. generates its inputs from the seed (perfbench/inputs.py), untimed;
2. starts SETUP_SAMPLES - 1 fresh JVMs that only build a session, one
   after another, for set-up samples;
3. starts one fresh JVM at local[N] (N = min(2, nproc), shuffle partitions
   N) that builds a session, the run's last set-up sample, and runs the
   workload: a cold pass, warm-up passes for 6 s (at least one), then
   measured passes until --seconds have passed since the first of them
   began (at least one);
4. checks every output against an independent reference (DuckDB over the
   same generated files), untimed;
5. prints each metric as `metric <name> <value> <unit>`, a per-layer
   self-time table with --trace 1, and last the result object.

With --trace 0 the result carries the end-to-end metrics; with --trace 1
it carries the per-layer metrics of the traced run (task, streaming
progress, codegen and JVM counters attached to spans).  Spans are written
to .bench_out/.  All scratch lives in a private directory under
.bench_work/ that is removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

STREAM_QUERIES = ["q19_stream_pipeline", "q20_tumbling_window", "q21_stream_distinct",
                  "q29_stream_dedup_attribution"]
NIGHT_QUERIES = ["q23_doc_signatures", "q23b_minhash_lsh_pairs", "q23c_simhash_pairs",
                 "q22_exact_dedup", "q24_cosine_topk", "q25d_token_topk"]

WORKLOADS = {
    "clickstream_ingest": {
        "why": "The paper's own traffic: CSV batch pipeline, paced replay through decode and "
               "transform, then stateful stream queries; bypasses analytical queries and "
               "curation kernels.",
        "tables": ["events", "documents", "embeddings"],
        "csv_rows": 10000, "slices": 6,
        "args": {"stream_queries": ",".join(STREAM_QUERIES)},
        "oracle": STREAM_QUERIES,
    },
    "curation_night": {
        "why": "A nightly LLM-data curation job from a fresh JVM, paying the artifact builds "
               "and code generation a warm session hides; bypasses streaming and CSV.",
        "tables": ["documents", "embeddings"],
        "args": {"queries": ",".join(NIGHT_QUERIES)},
        "oracle": NIGHT_QUERIES,
    },
}

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("first_pass_cpu_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
]

# name, unit, better, the end-to-end metric and workload it should move
PER_LAYER = [
    ("session.build_ms", "ms", "lower", "setup_s, all workloads"),
    ("sources.input_bytes", "bytes", "lower", "pass_cpu_s on clickstream_ingest"),
    ("sources.input_records", "count", "lower", "pass_cpu_s on clickstream_ingest"),
    ("sources.passes", "count", "lower", "pass_cpu_s on clickstream_ingest"),
    ("operators.batch_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("operators.batch_task_cpu_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("operators.sink_bytes", "bytes", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.publish_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.publish_jobs", "count", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.publish_task_cpu_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.consume_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.batches", "count", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.batch_planning_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.batch_add_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.batch_commit_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.batch_offset_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.compiles_per_batch", "count", "lower", "first_pass_cpu_s, pass_cpu_s on clickstream_ingest"),
    ("streaming.state_rows", "count", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.state_mem_bytes", "bytes", "lower", "pass_cpu_s on clickstream_ingest"),
    ("streaming.state_commit_ms", "ms", "lower", "pass_cpu_s on clickstream_ingest"),
    ("queries.build_ms", "ms", "lower", "pass_cpu_s on curation_night"),
    ("queries.plan_ms", "ms", "lower", "pass_cpu_s on curation_night"),
    ("queries.exec_ms", "ms", "lower", "pass_cpu_s on curation_night"),
    ("queries.jobs", "count", "lower", "pass_cpu_s on curation_night"),
    ("queries.tasks", "count", "lower", "pass_cpu_s on curation_night"),
    ("queries.task_cpu_ms", "ms", "lower", "pass_cpu_s on curation_night"),
    ("queries.task_run_ms", "ms", "lower", "pass_cpu_s on curation_night"),
    ("queries.shuffle_write_bytes", "bytes", "lower", "pass_cpu_s on curation_night"),
    ("queries.shuffle_read_bytes", "bytes", "lower", "pass_cpu_s on curation_night"),
    ("queries.spill_bytes", "bytes", "lower", "pass_cpu_s on curation_night"),
    ("queries.artifact_bytes", "bytes", "lower", "first_pass_cpu_s and pass_cpu_s on curation_night"),
    ("functions.tokens_rows_per_s", "1/s", "higher", "pass_cpu_s on curation_night"),
    ("functions.minhash_rows_per_s", "1/s", "higher", "pass_cpu_s on curation_night"),
    ("functions.lsh_rows_per_s", "1/s", "higher", "pass_cpu_s on curation_night"),
    ("functions.simhash_rows_per_s", "1/s", "higher", "pass_cpu_s on curation_night"),
    ("functions.vec_dot_rows_per_s", "1/s", "higher", "pass_cpu_s on curation_night"),
    ("codegen.compiles", "count", "lower", "first_pass_cpu_s on every workload"),
    ("codegen.compile_ms", "ms", "lower", "first_pass_cpu_s on every workload"),
    ("jvm.gc_ms", "ms", "lower", "first_pass_cpu_s and pass_cpu_s on every workload"),
    ("jvm.jit_ms", "ms", "lower", "the printed first_pass_s on every workload (JIT threads are outside the CPU metrics)"),
    ("trace.first_pass_cpu_s", "s", "lower",
     "none: the traced first_pass_cpu_s; minus the untraced one it is the tracing overhead"),
]

RUN_SECONDS = 10
# set-up samples per run: the workload JVM's own and those of JVMs that
# only build a session
SETUP_SAMPLES = 3
# the cold pass and the first warm pass: per-layer counters cover these
FIXED_PASSES = (0, 1)
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def wait_group(p, timeout):
    """Wait for a child started in its own session; on timeout kill its
    whole process group and wait for it. Returns the exit code or "timeout"."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"


# ---------------------------------------------------------------- build

def _source_files(root):
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def build(root):
    """Compile the engine and the harness; return the runtime classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/harness/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            raise BenchError(f"{need} not found: run from the repository root")
    h = hashlib.sha256()
    for f in _source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == stamp and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    # keep sbt's own scratch inside the checkout too
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={os.path.join(out, 'tmp')} -XX:-UsePerfData").strip()
    log("building engine and harness with sbt")
    t = time.time()
    logf = os.path.join(out, "build.log")
    with open(logf, "w") as lf:
        rc = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env, stdin=subprocess.DEVNULL,
            stdout=lf, stderr=subprocess.STDOUT, start_new_session=True), BUILD_TIMEOUT_S)
    with open(logf, errors="replace") as fh:
        text = fh.read()
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(text[-6000:])
        raise BenchError(f"build failed ({rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t:.1f} s")
    return cp


# ---------------------------------------------------------------- JVMs

def heap_mb():
    """An eighth of physical memory, clamped to [1, 2] GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return max(1024, min(2048, kb // 8 // 1024))


def run_jvm(cp, tmp, cores, args):
    """Start a fresh benchmark JVM with its scratch under `tmp`; return (its
    result JSON, spawn time, wall s)."""
    for d in ("tmp", "spill", "derby", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    out = os.path.join(tmp, "result.json")
    heap = heap_mb()
    # a fixed heap and young generation: the adaptive sizing otherwise
    # makes peak RSS depend on GC timing rather than on retained data
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m",
           "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}/tmp", f"-Dspark.local.dir={tmp}/spill",
           f"-Dderby.system.home={tmp}/derby", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    kv = {"cores": str(cores), "warehouse": f"{tmp}/warehouse", "out": out}
    kv.update(args)
    cmd += ["-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in kv.items()]
    # the engine's own settings at their defaults, whatever the caller's
    # environment holds
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_TMP=f"{tmp}/tmp",
               SPARK_GRAFT_SPILL=f"{tmp}/spill")
    logf = os.path.join(tmp, "jvm.log")
    with open(logf, "w") as lf:
        t0 = time.time()
        rc = wait_group(subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                         stdin=subprocess.DEVNULL, start_new_session=True),
                        JVM_TIMEOUT_S)
        wall = time.time() - t0
    if rc != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise BenchError(f"{args['mode']} JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh), t0, wall


# ---------------------------------------------------------------- checks

def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows),
                 key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def check_outputs(wl, data_dir, results, res, csv_rows):
    """Compare outputs with DuckDB over the same inputs; return
    (attempted, failed, messages)."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    oracle = res["oracle_sql"]
    attempted = failed = 0
    msgs = []

    def fail(m):
        nonlocal failed
        failed += 1
        msgs.append(m)

    for name in WORKLOADS[wl]["oracle"]:
        attempted += 1
        try:
            got = con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'")
            g = _canon(got.fetchall(), got.columns)
            exp = con.sql(oracle[name])
            e = _canon(exp.fetchall(), exp.columns)
        except Exception as ex:  # noqa: BLE001 - any failure is a wrong answer
            fail(f"{name}: {ex}")
            continue
        if g != e:
            fail(f"{name}: result differs from the oracle ({len(g[1])} vs {len(e[1])} rows)")
    if csv_rows:
        checks = res["checks"]
        for kind in ("batch_rows", "stream_rows"):
            for i, n in enumerate(checks[kind]):
                attempted += 1
                if n != csv_rows:
                    fail(f"pass {i} {kind} {n} != csv rows {csv_rows}")
        attempted += 1
        shared = ("{t}, event_type, product_id, category_id, CAST(price AS DOUBLE), user_id, "
                  "user_session, lower({c})")
        b = shared.format(t="event_time", c="regexp_extract(category_code, "
                          "'''category'': ''([^'']*)''', 1)")
        s = shared.format(t="event_time_string", c="category")
        diff = con.sql(
            f"SELECT count(*) FROM ((SELECT {b} FROM '{results}/batch_sink_0/*.parquet' "
            f"EXCEPT ALL SELECT {s} FROM '{results}/stream_sink/*.parquet') UNION ALL "
            f"(SELECT {s} FROM '{results}/stream_sink/*.parquet' EXCEPT ALL "
            f"SELECT {b} FROM '{results}/batch_sink_0/*.parquet'))").fetchone()[0]
        if diff:
            fail(f"stream sink differs from batch sink on {diff} rows")
    return attempted, failed, msgs


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest decile percentile with at least ten samples beyond it, as
    (percent, value), or None when there are fewer than twenty samples."""
    xs = sorted(xs)
    if len(xs) < 20:
        return None
    pct = 10 * ((len(xs) - 10) * 10 // len(xs))
    return pct, xs[int(math.ceil(pct / 100 * len(xs))) - 1]


class Spans:
    def __init__(self, spans):
        self.spans = spans
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, name, passes=None):
        return [s for s in self.spans if s["name"] == name
                and (passes is None or s["pass"] in passes)]

    def self_ms(self, s):
        """Duration minus the part of it the child spans cover."""
        iv = sorted((c["start_ms"], c["start_ms"] + c["dur_ms"]) for c in self.children.get(s["id"], []))
        covered, end = 0.0, s["start_ms"]
        for a, b in iv:
            a, b = max(a, end), min(b, s["start_ms"] + s["dur_ms"])
            if b > a:
                covered += b - a
                end = b
        return s["dur_ms"] - covered

    def incl(self, s, key):
        return s["counters"].get("incl." + key, 0.0)

    def total(self, spans, key):
        return sum(s["counters"].get(key, 0.0) for s in spans)


def app_cpu_ms(s):
    """CPU time of the JVM's threads other than the JIT compiler's."""
    return s["counters"]["incl.cpu_ms"] - s["counters"]["incl.jit_cpu_ms"]


def cold_and_measured(res):
    """The cold pass's span and the measured passes' spans (the warm-up
    passes between them are left out)."""
    passes = sorted(Spans(res["spans"]).named("pass"), key=lambda s: s["pass"])
    return passes[0], [s for s in passes if s["pass"] >= res["first_measured_pass"]]


def end_to_end(res, setups):
    cold, measured = cold_and_measured(res)
    return {
        "setup_s": median(setups),
        "peak_rss_mb": res["rss_hwm_kb"] / 1024.0,
        "first_pass_cpu_s": app_cpu_ms(cold) / 1000.0,
        "pass_cpu_s": median([app_cpu_ms(s) / 1000.0 for s in measured]),
    }


def readings(wl, res):
    """Figures printed but not gated, including the workload's own names."""
    sp = Spans(res["spans"])
    cold, measured = cold_and_measured(res)
    first = res["first_measured_pass"]
    if wl == "clickstream_ingest":
        # operations are micro-batches: the replay's and the stream queries'
        pass_of = {s["id"]: s["pass"] for s in sp.spans}
        ops = [ms for sid, ms in res["batches"] if pass_of.get(sid, -1) >= first]
    else:
        qnames = set(WORKLOADS[wl]["oracle"])
        ops = [s["dur_ms"] for s in sp.spans if s["name"] in qnames and s["pass"] >= first]
    in_measured = lambda n: [s["dur_ms"] for s in sp.named(n) if s["pass"] >= first]
    out = {}
    if wl == "clickstream_ingest":
        rows = res["csv_rows"]
        out["batch_rows_per_s"] = (rows / (median(in_measured("batch")) / 1000.0), "1/s")
        out["replay_s"] = (median(in_measured("replay")) / 1000.0, "s")
        replay = {s["id"] for s in sp.named("consume") if s["pass"] >= first}
        out["microbatch_p50_ms"] = (median([ms for i, ms in res["batches"] if i in replay]), "ms")
        out["stream_queries_s"] = (median(in_measured("stream_queries")) / 1000.0, "s")
    jit_s = lambda s: s["counters"]["incl.jit_cpu_ms"] / 1000.0
    out["first_pass_s"] = (cold["dur_ms"] / 1000.0, "s")
    if wl == "curation_night":
        out["night_s"] = out["first_pass_s"]
    out["first_pass_jit_cpu_s"] = (jit_s(cold), "s")
    out["pass_s"] = (median([s["dur_ms"] / 1000.0 for s in measured]), "s")
    out["pass_jit_cpu_s"] = (median([jit_s(s) for s in measured]), "s")
    out["warmup_passes"] = (first - 1, "count")
    out["measured_passes"] = (len(measured), "count")
    out["op_p50_ms"] = (median(ops), "ms")
    out["op_samples"] = (len(ops), "count")
    if tail(ops):
        pct, v = tail(ops)
        out[f"op_p{pct}_ms"] = (v, "ms")
    return out


def per_layer(wl, res, gen_rows):
    sp = Spans(res["spans"])
    fixed = FIXED_PASSES
    inp = [s for s in sp.spans if s["pass"] in fixed]
    named = lambda n: sp.named(n, fixed)
    layer = lambda l: [s for s in inp if s["layer"] == l]
    q = layer("queries")
    streaming = layer("streaming")
    streaming_top = named("replay") + named("stream_queries")
    batches = sp.total(streaming, "batches")
    m = {
        "session.build_ms": sp.named("session.build")[0]["dur_ms"],
        "sources.input_bytes": sp.total(inp, "input_bytes"),
        "sources.input_records": sp.total(inp, "input_records"),
        "sources.passes": sp.total(inp, "input_records") / gen_rows / len(fixed),
        "operators.batch_ms": sum(s["dur_ms"] for s in named("batch")),
        "operators.batch_task_cpu_ms": sp.total(named("batch"), "task_cpu_ms"),
        "operators.sink_bytes": sp.total(named("batch"), "output_bytes"),
        "streaming.publish_ms": sum(s["dur_ms"] for s in named("publish")),
        "streaming.publish_jobs": sp.total(named("publish"), "jobs"),
        "streaming.publish_task_cpu_ms": sp.total(named("publish"), "task_cpu_ms"),
        "streaming.consume_ms": sum(s["dur_ms"] for s in named("consume")),
        "streaming.batches": batches,
        "streaming.batch_planning_ms": sp.total(streaming, "batch_planning_ms"),
        "streaming.batch_add_ms": sp.total(streaming, "batch_add_ms"),
        "streaming.batch_commit_ms": sp.total(streaming, "batch_commit_ms"),
        "streaming.batch_offset_ms": sp.total(streaming, "batch_offset_ms"),
        "streaming.compiles_per_batch":
            sum(sp.incl(s, "codegen.compiles") for s in streaming_top) / batches if batches else 0.0,
        "streaming.state_rows": sp.total(streaming, "state_rows"),
        "streaming.state_mem_bytes": sp.total(streaming, "state_mem_bytes"),
        "streaming.state_commit_ms": sp.total(streaming, "state_commit_ms"),
    }
    for part in ("build", "plan", "exec"):
        m[f"queries.{part}_ms"] = sum(s["dur_ms"] for s in q if s["name"] == part)
    for k in ("jobs", "tasks", "task_cpu_ms", "task_run_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        m[f"queries.{k}"] = sp.total(q, k)
    m["queries.artifact_bytes"] = sp.total([s for s in q if s["name"] == "build"], "output_bytes")
    for s in sp.spans:
        if s["name"].startswith("probe."):
            m[f"functions.{s['name'][len('probe.'):]}_rows_per_s"] = \
                s["counters"]["rows"] / (s["dur_ms"] / 1000.0)
    tops = named("pass")
    for k in ("codegen.compiles", "codegen.compile_ms", "jvm.gc_ms", "jvm.jit_ms"):
        m[k] = sum(sp.incl(s, k) for s in tops)
    return m


def self_time_table(res):
    sp = Spans(res["spans"])
    by_layer = {}
    for s in sp.spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + sp.self_ms(s)
    return by_layer


# ---------------------------------------------------------------- run

def run(args, root):
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    wl, cfg = args.workload, WORKLOADS[args.workload]
    cp = build(root)
    cores = max(1, min(2, os.cpu_count() or 1))
    base = os.path.join(root, ".bench_work")
    os.makedirs(base, exist_ok=True)
    if shutil.disk_usage(base).free < 2 << 30:
        raise BenchError(f"less than 2 GiB free under {base}")
    work = tempfile.mkdtemp(prefix=f"{wl}-{args.seed}-", dir=base)
    try:
        import inputs
        data = os.path.join(work, "data")
        results = os.path.join(work, "results")
        os.makedirs(results)
        t = time.time()
        made, extra = inputs.tables(data, args.seed, cfg["tables"])
        gen = {k: {"rows": r, "bytes": b} for k, (r, b) in made.items()}
        csv_rows = 0
        jargs = {"mode": wl, "data": data, "results": results, "seconds": str(args.seconds),
                 "trace": str(args.trace)}
        jargs.update(cfg["args"])
        if "csv_rows" in cfg:
            csv = os.path.join(data, "events.csv")
            csv_rows, nbytes = inputs.clickstream_csv(csv, args.seed, cfg["csv_rows"])
            gen["clickstream_csv"] = {"rows": csv_rows, "bytes": nbytes}
            jargs.update(csv=csv, slices=str(cfg["slices"]))
        log(f"inputs generated in {time.time() - t:.1f} s: "
            + ", ".join(f"{k} {v['rows']} rows/{v['bytes']} B" for k, v in gen.items())
            + (f"; {extra['near_dups']} near-duplicate documents" if extra else ""))
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            r, t0, _ = run_jvm(cp, os.path.join(work, f"setup{i}"), cores, {"mode": "setup"})
            setups.append(r["ready_ms"] / 1000.0 - t0)
        res, t0, wall = run_jvm(cp, os.path.join(work, "jvm"), cores, jargs)
        log(f"workload JVM ran {wall:.1f} s")
        setups.append(res["ready_ms"] / 1000.0 - t0)
        with open(os.path.join(results, "oracle_sql.json")) as fh:
            res["oracle_sql"] = json.load(fh)
        res["csv_rows"] = csv_rows
        t = time.time()
        attempted, failed, msgs = check_outputs(wl, data, results, res, csv_rows)
        log(f"{attempted} output checks in {time.time() - t:.1f} s")
        for m in msgs:
            log(f"CHECK FAILED {m}")
        e2e = end_to_end(res, setups)
        sp = Spans(res["spans"])
        roots = [s for s in sp.spans if s["parent"] == -1]
        coverage = sum(s["dur_ms"] for s in roots) / 1000.0 / wall
        lines = [("failed_ratio", failed / attempted, "ratio"),
                 ("span_coverage", coverage, "ratio"),
                 ("generated_rows", sum(v["rows"] for v in gen.values()), "count"),
                 ("generated_bytes", sum(v["bytes"] for v in gen.values()), "bytes")]
        lines += [(k, v, u) for k, (v, u) in readings(wl, res).items()]
        units = {n: u for n, u, _, _ in END_TO_END}
        lines += [(k, v, units[k]) for k, v in e2e.items()]
        if args.trace:
            gen_rows = sum(v["rows"] for v in gen.values())
            layer = per_layer(wl, res, gen_rows)
            layer["trace.first_pass_cpu_s"] = e2e["first_pass_cpu_s"]
            if not res["compile_ms_exact"]:
                log("codegen.compile_ms undercounts: more compiles than Spark's histogram keeps")
            lines.append(("codegen.compile_ms_exact", int(res["compile_ms_exact"]), "bool"))
            lines += [(k, layer[k], u) for k, u, _, _ in PER_LAYER]
            print("layer self time (ms):")
            for k, v in sorted(self_time_table(res).items(), key=lambda kv: -kv[1]):
                print(f"  {k:<12} {v:12.1f}")
            metrics = {k: {"value": layer[k], "unit": u} for k, u, _, _ in PER_LAYER}
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            with open(os.path.join(root, ".bench_out", f"trace-{wl}-{args.seed}.json"), "w") as fh:
                json.dump({"workload": wl, "seed": args.seed, "run_id": os.path.basename(work),
                           "spans": res["spans"]}, fh)
        else:
            metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
        for k, v, u in lines:
            print(f"metric {k} {v:.6g} {u}")
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": k, "why": v["why"]} for k, v in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if args.write_benchmark_json:
        with open(os.path.join(root, "BENCHMARK.json"), "w") as fh:
            json.dump(benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    try:
        result = run(args, root)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

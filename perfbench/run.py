#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, every output checked.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and generates the input tables; later runs
reuse both. Each run gets its own warehouse, checkpoint and temp
directories under `.bench_build/runs/`, deleted when it ends.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Lines before it print every metric by name and unit, the environment
stamp and every output check. The exit code is non-zero when a check
fails or the run cannot complete. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # the whole run, build excluded

# Input scale and per-workload settings. The data seed is fixed, so every
# run of every workload reads the same tables; --seed varies the query
# order and the stream's batches.
SF = 0.01
DATA_SEED = 20260817
SETUP_REPS = 3  # setup_s is the median of set-ups 2..N; the first is cold
WORKLOADS = {
    "serve_mix": {
        "mix": ["q02", "q04", "q05", "q10", "q30", "q33", "q55"],
        # whole passes per second of --seconds: 6 passes (42 executions) at
        # 30 s, so the tail percentile (p76) sits above the median. A pass
        # takes about 2.5 s on 4 cores, so the window is about 15 s.
        "passes_per_s": 0.2,
        # Half the cores: these queries run a few tiny stages each, and the
        # headroom left for the JIT, GC and co-tenants steadies their timing
        # on a shared 4-core box (ten-seed spread 0.18 against 0.21 and 0.41
        # at all cores, with lower latency; see NOTES.md).
        "core_share": 0.5,
    },
    "ingest_stream": {
        "core_share": 1.0,
        # a tick takes 6-9 s on 4 cores; three releases in a 30 s window give
        # freshness a median that one slow tick does not move
        "period_ms": 10000,
        # a traced run traces its third tick, which is then also the one
        # that compacts
        "compact_every": 3,
        "docs_per_batch": 12, "vecs_per_batch": 12, "dels_per_batch": 4,
    },
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ── build ────────────────────────────────────────────────────────────────

def source_stamp():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the launch
    line (classpath and JVM options) the sbt build wrote."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/benchLaunch"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            env=env)
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc {rc}); log in {log}")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(launch).read().splitlines()


# ── inputs ───────────────────────────────────────────────────────────────

def dir_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def base_data(sf):
    """The input tables, generated once per scale and generator version."""
    sys.path.insert(0, HERE)
    import datagen
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        gen_id = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{sf}-{DATA_SEED}-{gen_id}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf, DATA_SEED)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def replicate(src, dst):
    """Hard-linked replica of the tables under a new path (artifacts key on
    the path, so each replica pays its own first-touch builds)."""
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.link(os.path.join(src, f), os.path.join(dst, f))


def stage_stream(data, work, seed, n_batches, cfg):
    """Split the corpus into the pre-ingested base and seeded batches: new
    documents and vectors, plus takedowns of base documents."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    sys.path.insert(0, HERE)
    import datagen
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(data, "documents.parquet"))
    vecs = pq.read_table(os.path.join(data, "embeddings.parquet"))
    st = os.path.join(work, "stream")
    os.makedirs(os.path.join(st, "base_docs"))
    os.makedirs(os.path.join(st, "base_vecs"))
    pq.write_table(docs, os.path.join(st, "base_docs", "part-0.parquet"))
    pq.write_table(vecs, os.path.join(st, "base_vecs", "part-0.parquet"))
    n = n_batches
    new_docs = pa.table(datagen.documents(rng, n * cfg["docs_per_batch"], first_id=1_000_000))
    new_vecs = pa.table(datagen.embeddings(rng, n * cfg["vecs_per_batch"], first_id=1_000_000))
    takedown = rng.permutation(docs.num_rows)[: n * cfg["dels_per_batch"]]
    dels = docs.select(["doc_id", "text"]).take(pa.array(takedown))
    sizes = {}
    for b in range(n):
        sub = os.path.join(st, "staged", f"b{b:04d}")
        os.makedirs(sub)
        for name, t, k in (("docs", new_docs, cfg["docs_per_batch"]),
                           ("vecs", new_vecs, cfg["vecs_per_batch"]),
                           ("dels", dels, cfg["dels_per_batch"])):
            f = os.path.join(sub, f"{name}.parquet")
            pq.write_table(t.slice(b * k, k), f)
            sizes[b] = sizes.get(b, 0) + os.path.getsize(f)
    return sizes


# ── metrics ──────────────────────────────────────────────────────────────

def tail(xs):
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest sample, named by its percentile; the maximum below 20 samples,
    where that percentile would fall under the median.
    Runs of one workload take the same number of samples, so every run
    reports the same percentile."""
    xs = sorted(xs)
    if len(xs) < 20:
        return xs[-1], "max"
    return xs[-11], f"p{100 * (len(xs) - 10) / len(xs):.1f}"


def unit_of(name):
    """Unit of a printed per-layer metric, from its name."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("bytes_left", "bytes"), ("_mb", "MB"),
                         ("_ratio", "ratio"), ("_util", "ratio"), ("_amp", "ratio"),
                         ("rows_in_per_row_out", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans, jobs):
    """Per-span self time: duration minus the union of its children's
    intervals (spans and jobs both count as children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[3], s[4]))
    for j in jobs:
        kids.setdefault(j[1], []).append((j[2], j[3]))
    out = {}
    for sid, parent, name, t0, t1 in spans:
        cover, last = 0.0, t0
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, last), min(b, t1)
            if b > a:
                cover += b - a
                last = b
        out[sid] = (t1 - t0) - cover
    return out


def layer_metrics(raw, workload):
    """Per-layer metrics from a traced run, as means per traced request."""
    spans = raw.get("spans", [])
    jobs = raw.get("jobs", [])
    stages = {int(k): v for k, v in raw.get("stages", {}).items()}
    reqs = [r for r in raw["requests"] if r["traced"]]
    n = max(1, len(reqs))
    by_id = {s[0]: s for s in spans}
    parent = {s[0]: s[1] for s in spans}
    req_ids = {r["span"] for r in reqs}

    def request_of(sid):
        seen = 0
        while sid and sid not in req_ids and seen < 64:
            sid = parent.get(sid, 0)
            seen += 1
        return sid if sid in req_ids else None

    def under(name_prefix):
        return [s for s in spans if s[2].startswith(name_prefix) and request_of(s[0])]

    def span_s(prefix):
        return sum(s[4] - s[3] for s in under(prefix)) / 1000 / n

    # jobs by the layer span that launched them
    job_layer = {}
    for j in jobs:
        s = by_id.get(j[1])
        job_layer[j[0]] = s[2] if s else "none"
    construct_jobs = sum(1 for j in jobs if job_layer[j[0]] == "operators.construct")
    req_jobs = [j for j in jobs if request_of(j[1])]
    stage_ids = {st for j in req_jobs for st in j[4]}
    st = [stages[i] for i in stage_ids if i in stages]
    tot = [sum(x[k] for x in st) for k in range(13)]
    (tasks, run_ms, cpu_ns, gc_ms, sched_ms, _, shw, shr, fw_ms, spill,
     in_b, in_r, out_b) = tot
    peak = max((x[5] for x in st), default=0)
    action_s = span_s("exec.action")
    cores = raw["env"]["cpus"]
    job_wall = sum(j[3] - j[2] for j in req_jobs) / 1000
    rows_out = sum(r["rows"] for r in reqs)
    L = raw["layer"]
    m = {
        "exec.jobs": len(req_jobs) / n,
        "exec.stages": len(stage_ids) / n,
        "exec.tasks": tasks / n,
        "exec.per_job_s": job_wall / max(1, len(req_jobs)),
        "exec.scheduler_delay_s": sched_ms / 1000 / n,
        "exec.action_s": action_s,
        "exec.task_cpu_s": cpu_ns / 1e9 / n,
        "exec.task_run_s": run_ms / 1000 / n,
        "exec.task_gc_s": gc_ms / 1000 / n,
        "exec.cpu_util": (cpu_ns / 1e9) / max(1e-9, action_s * n * cores),
        "exec.peak_exec_mem_bytes": peak,
        "operators.construct_s": span_s("operators.construct"),
        "operators.construct_jobs": construct_jobs / n,
        "plans.analysis_s": span_s("plans.analysis"),
        "plans.optimization_s": span_s("plans.optimization"),
        "plans.planning_s": span_s("plans.planning"),
        "shuffle.write_bytes": shw / n,
        "shuffle.read_bytes": shr / n,
        "shuffle.fetch_wait_s": fw_ms / 1000 / n,
        "shuffle.spill_bytes": spill / n,
        "tables.input_bytes": in_b / n,
        "tables.input_rows": in_r / n,
        "etl.output_bytes": out_b / n,
        "etl.build_s": median(raw["setup_build_s"]),
        "etl.build_free_ratio": sum(1 for r in raw["requests"] if r["build_s"] == 0)
        / max(1, len(raw["requests"])),
        "staging.rdds_left": statistics.mean(raw["staging_rdds"] or [0]),
        "staging.bytes_left": statistics.mean(raw["staging_bytes"] or [0]),
        "jvm.driver_gc_s": L.get("jvm_gc_ms", 0) / 1000,
        "jvm.heap_used_peak_mb": L.get("jvm_heap_peak_bytes", 0) / 2**20,
    }
    m["tables.rows_in_per_row_out"] = in_r / max(1, rows_out)
    # Self time per span name; a request's own self time is the part of its
    # wall that no layer span or job covers.
    self_ms = self_times(spans, jobs)
    wall = sum(r["end_ms"] - r["start_ms"] for r in reqs)
    m["trace.unattributed_ratio"] = sum(self_ms[r["span"]] for r in reqs) / max(1e-9, wall)
    for s in spans:
        if s[0] not in req_ids and request_of(s[0]):
            key = f"self.{s[2]}_s"
            m[key] = m.get(key, 0.0) + self_ms[s[0]] / 1000 / n
    m["self.jobs_s"] = job_wall / n
    # jobs that ran inside a traced request's interval must parent to it
    windows = [(r["start_ms"], r["end_ms"]) for r in reqs]
    m["trace.orphan_jobs"] = sum(
        1 for j in jobs if not request_of(j[1]) and any(a <= j[2] <= b for a, b in windows))
    if workload == "ingest_stream":
        comp = L.get("compact", [])
        prog = raw.get("progress", [])
        nonempty = [p for p in prog if p["rows"] > 0]
        m.update({
            "etl.write_amp": out_b / max(1, raw["ingested_bytes_traced"]),
            "etl.compact_s": median([c[0] for c in comp]),
            "etl.files_before_compact": median([c[1] for c in comp]),
            "etl.files_after_compact": median([c[2] for c in comp]),
            "streaming.start_s": span_s("streaming.") / 3,
            "streaming.nonempty_batch_ratio": len(nonempty) / max(1, len(prog)),
            "pipeline.pass_s": span_s("pipeline.pass"),
            "pipeline.new_rows": statistics.mean(L.get("pipeline_new_rows") or [0]),
        })
        for ph in ("getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution"):
            m[f"streaming.{ph}_ms"] = median([p["ms"].get(ph, 0) for p in nonempty])
        bt = [b for b in L.get("batches", []) if b[5] == 1]
        m["streaming.queue_wait_s"] = median([(b[3] - b[2]) / 1000 for b in bt])
    return m


# ── output checks ────────────────────────────────────────────────────────

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.map(repr)


def oracle_frame(con, sql, digest):
    """DuckDB result for `sql`, cached by SQL text + input digest."""
    import pandas as pd
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()[:24]
    path = os.path.join(BUILD, "oracle", key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path)
    return df


def compare(name, got, exp):
    g, e = canon(got), canon(exp)
    if sorted(g.columns) != sorted(e.columns):
        return False, f"columns {sorted(g.columns)} vs oracle {sorted(e.columns)}"
    if len(g) != len(e):
        return False, f"rows {len(g)} vs oracle {len(e)}"
    if not g.equals(e):
        return False, f"{int((g != e).any(axis=1).sum())}/{len(g)} rows differ"
    return True, f"rows={len(g)}"


def oracle_checks(work, data, digest, workload):
    """Compare the run's results with DuckDB over the same inputs."""
    import duckdb
    import pandas as pd
    out = os.path.join(work, "out")
    con = duckdb.connect()
    checks = []
    if workload == "serve_mix":
        for t in os.listdir(data):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(data, t)}'")
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        res = os.path.join(out, "results")
        for name in sorted(os.listdir(res)):
            got = pd.read_parquet(os.path.join(res, name))
            if name not in oracle:
                checks.append((f"oracle:{name}", len(got) > 0, f"rows-only, rows={len(got)}"))
                continue
            ok, detail = compare(name, got, oracle_frame(con, oracle[name], digest))
            checks.append((f"oracle:{name}", ok, detail))
    else:
        # the one-shot oracles over what the stream admitted: q122's BM25 over
        # the base corpus minus the takedowns, q86's IVF probe over the base
        # vectors plus the new ones
        adm = json.load(open(os.path.join(out, "admitted.json")))
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))

        def admitted(kind):
            return [f"'{adm['root']}/in/{kind}/{n}.parquet'" for n in adm["admitted"]]
        docs = f"SELECT * FROM '{os.path.join(data, 'documents.parquet')}'"
        if admitted("dels"):
            docs += f" WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet([{', '.join(admitted('dels'))}]))"
        vecs = f"SELECT * FROM '{os.path.join(data, 'embeddings.parquet')}'"
        if admitted("vecs"):
            vecs += f" UNION ALL SELECT * FROM read_parquet([{', '.join(admitted('vecs'))}])"
        con.execute(f"CREATE VIEW documents AS {docs}")
        con.execute(f"CREATE VIEW embeddings AS {vecs}")
        for name, q in (("stream_bm25", "q122_bm25_search"), ("stream_ivf", "q86_ivf_indexed")):
            got = pd.read_parquet(os.path.join(out, "results", name))
            ok, detail = compare(name, got, con.execute(oracle[q]).df())
            checks.append((f"oracle:{name}", ok, detail))
    return checks


# ── one run ──────────────────────────────────────────────────────────────

def java_heap():
    """Heap for the single driver JVM: a quarter of available memory, 1 to
    2 GiB, so it cannot be OOM-killed on a shared box. It is committed up
    front (-Xms = -Xmx), which keeps the process's peak RSS from depending
    on when the collector grew the heap."""
    return max(1024, min(2048, meminfo()["MemAvailable"] // 4))


def meminfo():
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                info[k] = int(v.split()[0]) // 1024
    return info


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is the time a virtual
    machine's CPUs were ready but the host ran something else."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return (xs[7] if len(xs) > 7 else 0), sum(xs)


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


def run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not next to the benchmark; run from a full checkout")
    cfg = WORKLOADS[args.workload]
    launch = build()
    t_start = time.time()
    data = base_data(args.sf)
    digest = dir_digest(data)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = None
    try:
        for r in range(1, SETUP_REPS + 1):
            replicate(data, os.path.join(work, "data", f"r{r}"))
        sizes = {}
        cpus = max(1, int((os.cpu_count() or 1) * cfg["core_share"]))
        # a traced ingest run releases at least three batches: the first
        # tick is cold, the second is the untraced baseline for the tracing
        # overhead, the third is traced
        seconds = args.seconds
        if args.trace and args.workload == "ingest_stream":
            seconds = max(seconds, 3 * cfg["period_ms"] / 1000)
        jargs = [f"workload={args.workload}", f"seed={args.seed}", f"seconds={seconds}",
                 f"trace={args.trace}", f"cpus={cpus}", f"work={work}", f"reps={SETUP_REPS}"]
        if args.workload == "serve_mix":
            passes = max(2, round(args.seconds * cfg["passes_per_s"]))
            jargs += [f"mix={','.join(cfg['mix'])}", f"passes={passes}"]
        else:
            n_batches = int(seconds * 1000 // cfg["period_ms"]) + 1
            sizes = stage_stream(data, work, args.seed, n_batches, cfg)
            jargs += [f"period_ms={cfg['period_ms']}", f"compact={cfg['compact_every']}"]
        heap_mb = java_heap()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
                   SPARK_LOCAL_DIRS=tmp)
        cmd = ["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={tmp}"] + launch[1:] + \
              ["-cp", launch[0], "graft.perfbench.Main"] + jargs
        env_stamp = {"nproc": cpus, **meminfo(), "git_head": git_head(), "seed": args.seed,
                     "data_digest": digest, "sf": args.sf, "xmx_mb_requested": heap_mb}
        log = os.path.join(work, "jvm.log")
        steal0, total0 = cpu_times()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, env=env, cwd=work)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        proc = None
        steal1, total1 = cpu_times()
        # the share of CPU time the host gave to other tenants during the run
        env_stamp["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
        raw_path = os.path.join(work, "out", "raw.json")
        if rc != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"benchmark JVM failed ({rc})")
        raw = json.load(open(raw_path))
        raw["env"].update(env_stamp)
        raw["env"]["cpus"] = cpus
        raw["ingested_bytes_traced"] = sum(
            sizes.get(int(b[0]), 0) for b in raw["layer"].get("batches", []) if b[5])
        checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
        checks += oracle_checks(work, data, digest, args.workload)
        report(args, raw, checks)
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def report(args, raw, checks):
    reqs = raw["requests"]
    untraced = [r for r in reqs if not r["traced"]]
    failed_checks = [c for c in checks if not c[1]]
    failed = sum(1 for r in reqs if not r["ok"])
    attempted = len(reqs)
    if args.workload == "serve_mix":
        # wrong answers found by the oracle count against every execution of
        # that query
        bad = {c[0].split(":", 1)[1] for c in failed_checks if c[0].startswith("oracle:")}
        failed = sum(1 for r in reqs if not r["ok"] or r["name"] in bad)
        lat = [(r["end_ms"] - r["start_ms"]) / 1000 for r in untraced]
        busy = sum(lat)
        samples = lat
        thr = len(untraced) / busy if busy else 0.0
    else:
        batches = [b for b in raw["layer"]["batches"] if not b[5]]
        samples = [(b[4] - b[1]) / 1000 for b in batches]
        ticks = [(r["end_ms"] - r["start_ms"]) / 1000 for r in untraced]
        # batches the consumer absorbs per second of its own busy time: the
        # highest release rate it could sustain
        thr = len(batches) / sum(ticks) if ticks else 0.0
        if failed_checks:
            failed = max(failed, 1)
        attempted = max(attempted, len(raw["layer"]["batches"]))
    t_val, t_name = tail(samples) if samples else (0.0, "none")
    setups = raw["setup_s"]
    e2e = {
        "setup_s": (median(setups[1:] or setups), "s"),
        "throughput_rps": (thr, "1/s"),
        "latency_p50_s": (median(samples), "s"),
        "peak_rss_mb": (raw["layer"]["rss_hwm_kb"] / 1024, "MB"),
    }
    env = raw["env"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"window {raw['window_s']:.1f} s samples {len(samples)} tail {t_name}")
    print("env " + json.dumps(env, sort_keys=True))
    print("set-ups " + " ".join(f"{x:.3f}" for x in setups) + " s")
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    failed_ratio = failed / max(1, attempted)
    correct = not failed_checks and failed == 0
    if args.trace == 0:
        for k, (v, u) in e2e.items():
            print(f"metric {k} = {v:.6g} {u}")
        # printed, not gated: see NOTES.md
        print(f"metric latency_tail_s = {t_val:.6g} s")
        print(f"metric setup_cold_s = {setups[0]:.6g} s")
        print(f"metric failed_ratio = {failed_ratio:.6g} ratio")
        if args.workload == "ingest_stream":
            print(f"metric backlog_batches = {raw['layer']['backlog_batches']} count")
            print("metric freshness_p50_s = latency_p50_s, freshness_tail_s = latency_tail_s "
                  "(a batch's due time to the end of the probe that sees it)")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        if not any(r["traced"] for r in reqs):
            fail("no request was traced")
        lm = layer_metrics(raw, args.workload)
        if args.workload == "serve_mix":
            traced = [r["end_ms"] - r["start_ms"] for r in reqs if r["traced"]]
            base = [r["end_ms"] - r["start_ms"] for r in untraced]
        else:
            # tick start to visibility (compaction excluded), traced ticks
            # against the warm untraced ones: the first tick is cold
            bs = raw["layer"]["batches"]
            traced = [b[4] - b[3] for b in bs if b[5]]
            first = min(b[3] for b in bs)
            base = [b[4] - b[3] for b in bs if not b[5] and b[3] > first] or \
                [b[4] - b[3] for b in bs if not b[5]]
        lm["trace_overhead_ratio"] = median(traced) / median(base)
        for k in sorted(lm):
            print(f"layer {k} = {lm[k]:.6g} {unit_of(k)}")
        # the JSON carries the layers every workload exercises; the rest
        # (streaming, pipeline, compaction, staging) are printed above
        metrics = {m["name"]: {"value": lm[m["name"]], "unit": m["unit"]}
                   for m in bench_spec()["per_layer"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


def bench_spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale (the self-test uses 0.001)")
    run(ap.parse_args())


if __name__ == "__main__":
    main()

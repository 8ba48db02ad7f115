#!/usr/bin/env python3
"""The repository's benchmark (see BENCHMARK.json at the repository root).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke            # every code path, ~1 min
    python3 perfbench/run.py --record ...       # print observed check values

Run from the repository root. The first run builds the program and the
benchmark's JVM side (perfbench/build.py) and derives the cached fixtures
with the unmodified tools/make_sf.py, all under $CARGO_TARGET_DIR (default
.bench_build). A run then starts one JVM (perfbench.Main) on local[nproc]
that sets up once, runs one untimed verification pass and then timed
closed-loop passes for --seconds. Afterwards this script checks the
registry queries' results against DuckDB (tools/oracle_check.py's
normalisation) or against recorded fingerprints, prints the run record as
one JSON line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build as pbuild  # noqa: E402

JVM_TIMEOUT_S = 170

# The registry set spans all six registry modules and holds one
# components consumer (q48), one rows-only query (q43) and one query on
# the graftvec sorted-intersect kernel (q117, Graph).
REGISTRY_QUERIES = [
    "q01_wordcount", "q48_dedup_clusters", "q25_cosine_topk", "q36_media_meta",
    "q43_approx_distinct", "q62_funnel", "q117_triangles"]
MR_CORPUS = dict(files=8, lines=3000, words_per_line=12, vocab=20000)

# BENCHMARK.json's workloads. Traced registry-mr runs also run the kernel
# microbenchmark over the x10 fixture. `warmup` is the number of untimed
# passes after the verification pass: the short registry-mr pass is still
# JIT-compiling in the pass after it; the long dedup pass has settled by
# then.
WORKLOADS = {
    "registry-mr": dict(fixture="sf0.001", queries=REGISTRY_QUERIES, corpus=MR_CORPUS,
                        kernels="x10", warmup=1),
    "dedup-x2dup": dict(fixture="x2dup", dedup=True),
}

# Smoke mode: every op kind on the smallest inputs, traced.
SMOKE = {
    "registry-mr": dict(fixture="sf0.001", queries=["q01_wordcount", "q43_approx_distinct"],
                        corpus=dict(files=2, lines=50, words_per_line=8, vocab=300),
                        kernels="sf0.001"),
    "dedup-x2dup": dict(fixture="sf0.001", dedup=True),
}

# Fixtures: sf0.001 is committed; the others are derived from it once.
FIXTURES = {
    "sf0.001": None,
    "x10": ["10"],
    "x2dup": ["2", "0.5", "--tables=documents,embeddings"],
}


# Seconds spent deriving fixtures in this run: a one-time, cached cost
# that setup_s leaves out.
DERIVE_S = [0.0]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"FAILED: {msg}")
    sys.exit(1)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def sha_file(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


# ---- fixtures ------------------------------------------------------------

def fixture_dir(name, bdir):
    if FIXTURES[name] is None:
        return os.path.join(HERE, "fixtures", name)
    return os.path.join(bdir, "fixtures", name)


def prepare_fixture(name, bdir):
    """Derives a fixture into the build cache unless its stamp (make_sf.py,
    the source parquet files and the arguments) matches."""
    src = fixture_dir("sf0.001", bdir)
    if FIXTURES[name] is None:
        if not glob.glob(os.path.join(src, "*.parquet")):
            fail(f"committed fixture {src} is missing")
        return src
    dst = fixture_dir(name, bdir)
    make_sf = os.path.join(ROOT, "tools", "make_sf.py")
    if not os.path.exists(make_sf):
        fail(f"{make_sf} is missing")
    h = hashlib.sha256(sha_file(make_sf).encode())
    for p in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        h.update(sha_file(p).encode())
    h.update(" ".join(FIXTURES[name]).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(dst, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dst
    if os.path.exists(dst):
        log(f"fixture cache {dst} is STALE (inputs changed); deriving it again")
    t0 = time.time()
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, make_sf, src, tmp] + FIXTURES[name],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"make_sf.py failed for {name}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    DERIVE_S[0] += time.time() - t0
    return dst


def check_rows(d, rows):
    """Every table's row count (from the parquet footers) must equal the
    recorded one."""
    import pyarrow.parquet as pq
    if not rows:
        fail(f"no recorded row counts for fixture {d} in perfbench/expected.json")
    got = {os.path.basename(p)[:-len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
           for p in glob.glob(os.path.join(d, "*.parquet"))}
    if got != rows:
        fail(f"fixture {d} has row counts {got}, recorded {rows}: stale or wrong cache")


def make_corpus(dst, seed, files, lines, words_per_line, vocab):
    """Text files shaped like the lab's pg-*.txt: lines of words drawn
    from a Zipf(1.1) vocabulary, all from the seed alone. Returns the
    word the grep app searches for (the vocabulary's 20th most frequent)."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < vocab:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(2, 9))))
    words = sorted(words)
    rng.shuffle(words)
    cum, acc = [], 0.0
    for r in range(1, vocab + 1):
        acc += 1.0 / r ** 1.1
        cum.append(acc)
    os.makedirs(dst, exist_ok=True)
    for i in range(files):
        with open(os.path.join(dst, f"pg-{i}.txt"), "w") as f:
            for _ in range(lines):
                ws = rng.choices(words, cum_weights=cum, k=words_per_line)
                f.write(" ".join(w.capitalize() if rng.random() < 0.1 else w for w in ws))
                f.write(".\n" if rng.random() < 0.2 else "\n")
    return words[19]


# ---- checks of the registry queries ---------------------------------------

def load_oracle_check():
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(w, fixture, expected_fp, tmpdir, record):
    """Returns ({query: error}, {query: fingerprint}) for one workload's
    verification dumps."""
    oc = load_oracle_check()
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{tmpdir}'")
    con.sql("SET threads=2")
    con.sql("SET memory_limit='2GB'")
    for p in glob.glob(os.path.join(fixture, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    errors, fps = {}, {}
    names = sorted(w["oracle_sql"]) + sorted(w["rows_only"])
    for q in names:
        files = glob.glob(os.path.join(w["dump_dir"], q, "*.parquet"))
        if not files:
            errors[q] = "no result written"
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        s = oc.norm(srel.fetchall(), srel.columns)
        if q in w["oracle_sql"]:
            o = con.sql(w["oracle_sql"][q])
            if sorted(o.columns) != sorted(srel.columns):
                errors[q] = f"columns {sorted(srel.columns)} != oracle {sorted(o.columns)}"
            elif oc.norm(o.fetchall(), o.columns) != s:
                errors[q] = "rows differ from the DuckDB oracle"
        else:
            fp = f"{len(s)}:{hashlib.sha256(chr(10).join(s).encode()).hexdigest()[:16]}"
            fps[q] = fp
            if not record and expected_fp.get(q) != fp:
                errors[q] = f"fingerprint {fp} != recorded {expected_fp.get(q)}"
    con.close()
    return errors, fps


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(w, setup_start):
    """setup_s: from `setup_start` (after the build) to the first timed
    op: fixture checks, input generation, JVM and session start, the
    verification pass and the warm-up passes, less any one-time fixture
    derivation. wall_s and cpu_s: medians over the timed passes. op_p50_s:
    median of every timed op sample. op_tail_s: 90th percentile over the
    ops of each op's median time, so one slow sample (a GC pause) does not
    set it; a run has too few samples for a percentile with ten beyond
    it."""
    passes = [p for p in w["passes"] if not p["traced"]]
    by_op = {}
    for p in passes:
        for o in p["ops"]:
            by_op.setdefault(o["name"], []).append(o["s"])
    samples = [x for xs in by_op.values() for x in xs]
    return {
        "setup_s": w["timed_start_ms"] / 1000.0 - setup_start - DERIVE_S[0],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": quantile([statistics.median(xs) for xs in by_op.values()], 0.9),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }, {"timed_passes": len(passes), "op_samples": len(samples), "ops": len(by_op),
        "op_tail": "p90 of per-op medians"}


def host_block():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1])
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem, "git_sha": sha}


def driver_mem(mem_kb):
    """The tier-1 SPARK_DRIVER_MEM rule: half of MemTotal in GiB, 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    return f"{min(8, max(2, mem_kb // 2097152))}g"


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


# ---- the JVM ---------------------------------------------------------------

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, work, host, global_args, workload_args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{driver_mem(host['mem_total_kb'])}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main"] + global_args + workload_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(logf, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM exited with {code}")


def workload_args(name, spec, bdir, work, seed, expected, record):
    fix = spec["fixture"]
    d = prepare_fixture(fix, bdir)
    check_rows(d, expected["rows"].get(fix))
    args = ["--workload", name, "--fixture", d, "--warmup", str(spec.get("warmup", 0))]
    exp = {}
    if spec.get("corpus"):
        corpus = os.path.join(work, "mr-input")
        grep = make_corpus(corpus, seed, **spec["corpus"])
        args += ["--corpus", corpus, "--grep", grep]
    if spec.get("queries"):
        args += ["--queries", ",".join(spec["queries"])]
    if spec.get("kernels"):
        args += ["--kernels", prepare_fixture(spec["kernels"], bdir)]
    if spec.get("dedup"):
        args += ["--dedup", "1"]
    if spec.get("dedup") and not record:
        vals = expected["dedup"].get(fix)
        if vals is None:
            fail(f"no recorded dedup results for fixture {fix} in perfbench/expected.json")
        exp.update({k: v for k, v in vals.items() if not isinstance(v, list)})
        exp.update({"dedup.doc_family_violations": 0, "dedup.vec_family_violations": 0,
                    "stream.family_violations": 0})
    if exp:
        args += ["--expect", ",".join(f"{k}={v}" for k, v in sorted(exp.items()))]
    return args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload's code path, checks and tracing on tiny inputs")
    ap.add_argument("--record", action="store_true",
                    help="print the values the checks observed instead of checking them")
    ap.add_argument("--queries", help="comma-separated registry queries overriding the set "
                    "(one-off runs, such as baseline/spans-q74.json)")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")

    t_start = time.time()
    bench = read_json(os.path.join(ROOT, "BENCHMARK.json"))
    expected = read_json(os.path.join(HERE, "expected.json"))
    bdir = pbuild.build_dir()
    cp = pbuild.build()
    setup_start = time.time()
    host = host_block()

    specs = SMOKE if a.smoke else {a.workload: dict(WORKLOADS[a.workload])}
    if a.queries:
        for s in specs.values():
            if s.get("queries"):
                s["queries"] = a.queries.split(",")
    trace = 1 if a.smoke else a.trace
    seconds = 1 if a.smoke else a.seconds
    tag = "smoke" if a.smoke else f"{a.workload}-s{a.seed}-t{trace}"
    work = os.path.join(bdir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(bdir, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    try:
        wargs = []
        for name, spec in specs.items():
            wargs += workload_args(name, spec, bdir, os.path.join(work, name + "-in"), a.seed,
                                   expected, a.record)
        out = os.path.join(work, "result.json")
        gargs = ["--seed", str(a.seed), "--seconds", str(seconds), "--trace", str(trace),
                 "--work", work, "--out", out, "--nproc", str(host["nproc"]),
                 "--kernel-copies", "1" if a.smoke else "8",
                 "--kernel-reps", "1" if a.smoke else "3", "--timed", "0" if a.smoke else "1"]
        if trace:
            gargs += ["--spans", os.path.join(trace_dir, f"spans-{tag}")]
        load_before = loadavg()
        run_jvm(cp, work, host, gargs, wargs)
        load_after = loadavg()
        res = read_json(out)

        failed, attempted, checks, observed = 0, 0, {}, {}
        for w in res["workloads"]:
            spec = specs[w["workload"]]
            errors = {f"{f['op']}@pass{f['pass']}": f["error"] for f in w["failures"]}
            observed[w["workload"]] = dict(w["observed"])
            if spec.get("queries"):
                qerr, fps = check_queries(
                    w, fixture_dir(spec["fixture"], bdir),
                    expected["fingerprints"].get(spec["fixture"], {}),
                    os.path.join(work, "tmp"), a.record)
                errors.update({f"{q}@verify": e for q, e in qerr.items()})
                observed[w["workload"]]["fingerprints"] = fps
                failed += len(qerr)
            attempted += w["attempted"]
            failed += w["failed"]
            checks[w["workload"]] = errors

        w = res["workloads"][0]
        metrics, samples = {}, None
        if trace and not a.smoke:
            layers = dict(w["layers"], peak_rss_mb=res["peak_rss_mb"])
            for m in bench["per_layer"]:
                if m["name"] not in layers:
                    fail(f"per-layer metric {m['name']} was not measured")
                metrics[m["name"]] = {"value": layers[m["name"]], "unit": m["unit"]}
        elif not a.smoke:
            e2e, samples = end_to_end(w, setup_start)
            for m in bench["end_to_end"]:
                metrics[m["name"]] = {"value": e2e[m["name"]], "unit": m["unit"]}

        print(json.dumps({"record": {
            "workload": a.workload or "smoke", "seed": a.seed, "trace": trace,
            "seconds": seconds, "host": dict(host, **res["versions"]),
            "source_stamp": open(os.path.join(bdir, "classes", ".stamp")).read(),
            "confs": res["confs"], "peak_rss_mb": res["peak_rss_mb"],
            "loadavg_before": load_before, "loadavg_after": load_after,
            "session_setup_s": res["session_setup_s"], "derive_s": DERIVE_S[0],
            "samples": samples,
            "workloads": {x["workload"]: {
                "ops_per_pass": x["ops_per_pass"],
                "jvm_start_to_timed_s": x["jvm_start_to_timed_s"],
                "verify_pass_s": x["verify_pass"]["wall_s"],
                "pass_walls_s": [p["wall_s"] for p in x["passes"]],
                "pass_traced": [p["traced"] for p in x["passes"]],
                "failures": checks[x["workload"]],
                "observed": observed[x["workload"]],
                "layers": x["layers"] or None,
            } for x in res["workloads"]},
            "elapsed_s": time.time() - t_start,
        }}))
        if a.record:
            print(json.dumps({"observed": observed}, indent=1), file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        if a.smoke:
            log(f"smoke: {attempted} ops, {failed} failed, {time.time() - t_start:.1f} s")
            if failed:
                log(json.dumps(checks))
                sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

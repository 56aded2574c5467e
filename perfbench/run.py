#!/usr/bin/env python3
"""Benchmark of the copy pipeline and the query surface.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): copy_cycle, query_mix.

The first invocation in a checkout builds the program and the harness from
source with sbt, generates the sf1 corpus from the committed sf0.1 corpus
with the program's own generator, and computes the DuckDB oracle answers
for the query subsets. All of it is cached under `.perfbench/` and keyed by
a digest of the sources, so later invocations only run the benchmark.

The last line of standard output is one JSON object:
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Lines before it give a readable
summary. Exits non-zero without a result if the program or the corpus is
missing or the run breaks.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
CORPUS = os.path.join(HERE, "corpus", "sf0.1")
ORACLE_MEMORY = "3GB"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["copy_cycle", "query_mix"]
# the program sources graft.tools.GenSf1 builds the sf1 corpus with
GEN_SF1_SOURCES = [("tools", "GenSf1.scala"), ("sources", "Tables.scala")]
CORES = 4
HEAP = "4g"
# a fixed heap and the stop-the-world parallel collector: no heap resizing
# and no concurrent GC threads competing with the four task threads
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m"]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def steal_s():
    """CPU time the hypervisor took from this machine so far, in seconds
    (the `steal` column of /proc/stat); 0 where that is not available."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"ERROR: {msg}")
    sys.exit(2)


def digest_files(paths):
    h = hashlib.sha1()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]:
        for d, dirs, names in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return [f for f in files if os.path.isfile(f)]


def corpus_digest():
    return digest_files([os.path.join(CORPUS, f"{t}.parquet") for t in TABLES])


def java_cmd(cp, work, *args):
    opts = [*JVM_OPTS,
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return ["java", *opts, "-cp", cp, *args]


def child_env():
    # knobs of the program's own tools must not leak into a measurement
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def run_child(cmd, timeout, log_path, cwd):
    """Run one child process group to completion. It is killed on timeout,
    and when this launcher is interrupted or terminated."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=child_env(), start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    key = digest_files(source_files())
    cp_file = os.path.join(CACHE, "build", f"{key}.cp")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), key
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    log("building the program and the harness with sbt")
    t0 = time.time()
    log_path = os.path.join(CACHE, "build", "sbt.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export harness/Runtime/fullClasspath"]
    rc = run_child(cmd, 840, log_path, os.path.join(HERE, "harness"))
    lines = open(log_path).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l[:300] for l in open(log_path).readlines()[-40:]))
        die(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, key


def ensure_sf1(cp, cdig):
    """The sf1 corpus, generated by graft.tools.GenSf1 once per checkout and
    again when the sf0.1 corpus or the generator's sources change. Returns
    its directory and a digest of the generated files."""
    dst = os.path.join(CACHE, "sf1")
    stamp = os.path.join(dst, "_inputs_digest")
    key = hashlib.sha1((cdig + digest_files(
        [os.path.join(ROOT, "src", "main", "scala", "graft", *f) for f in GEN_SF1_SOURCES]
    )).encode()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dst, open(os.path.join(dst, "_files_digest")).read()
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    work = os.path.join(CACHE, "gen-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log("generating the sf1 corpus")
    t0 = time.time()
    rc = run_child(java_cmd(cp, work, "graft.tools.GenSf1", tmp, CORPUS), 600,
                   os.path.join(CACHE, "gensf1.log"), work)
    if rc != 0:
        die(f"sf1 generation failed (exit {rc}); see {CACHE}/gensf1.log")
    files = [os.path.join(d, n) for d, _, names in os.walk(tmp) for n in names
             if n.endswith(".parquet") and not n.startswith(".")]
    sdig = digest_files(files)
    with open(os.path.join(tmp, "_files_digest"), "w") as f:
        f.write(sdig)
    with open(os.path.join(tmp, "_inputs_digest"), "w") as f:
        f.write(key)
    os.replace(tmp, dst)
    shutil.rmtree(work, ignore_errors=True)
    log(f"sf1 corpus in {time.time() - t0:.0f} s")
    return dst, sdig


def duck(dir_):
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ORACLE_MEMORY}'")
    for t in TABLES:
        p = os.path.join(dir_, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def norm(df):
    """tools/compare.py's rule: columns by name, rows by all columns."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: isinstance(v, (list, dict)) or hasattr(v, "__array__")).any():
            df[c] = df[c].map(lambda v: str(list(v)) if v is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(got, exp):
    """Exact comparison after normalisation, as tools/compare.py does it."""
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        try:
            eq = (a.isna() & b.isna()) | (a == b)
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c}: {a[i]!r} vs {b[i]!r}"
    return None


def listing(cp):
    """The SQL the JVM side names: each query workload's oracle SQL and the
    copy job's SQL extract."""
    work = os.path.join(CACHE, "oracle-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = run_child(java_cmd(cp, work, "perfbench.Main", "--workload", "oracle",
                            "--out", os.path.join(work, "oracle.json")),
                   120, os.path.join(work, "oracle.log"), work)
    if rc != 0:
        die(f"could not list the oracle queries (exit {rc})")
    sqls = json.load(open(os.path.join(work, "oracle.json")))
    shutil.rmtree(work, ignore_errors=True)
    return sqls


def expectations(extract_sql):
    """What the copy job must publish, read off the corpus with DuckDB: row
    counts per table and of the SQL extract, and the base watermark."""
    con = duck(CORPUS)
    exp = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}
    for name, sql in extract_sql.items():
        exp[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    exp["max_event_id"], exp["max_ts_us"] = con.execute(
        "SELECT max(event_id), epoch_us(max(ts)) FROM events").fetchone()
    return exp


def oracle_answers(sqls, digests, dirs):
    """DuckDB answers to the oracle SQL of the query subset, by corpus.

    An answer is a parquet file under .perfbench/oracle named by a digest of
    the corpus files and the SQL text, computed once per checkout. DuckDB
    runs under ORACLE_MEMORY: a query whose oracle does not fit gets a
    `.none` marker, and its output is then only required to be non-empty."""
    cache = os.path.join(CACHE, "oracle")
    os.makedirs(cache, exist_ok=True)
    answers = {}
    for label, queries in sqls.items():
        con = None
        for name, sql in sorted(queries.items()):
            key = hashlib.sha1(f"{digests[label]}\n{label}\n{sql}".encode()).hexdigest()
            found = [p for p in (os.path.join(cache, f"{key}.parquet"),
                                 os.path.join(cache, f"{key}.none")) if os.path.exists(p)]
            if not found:
                con = con or duck(dirs[label])
                path = os.path.join(cache, f"{key}.parquet")
                try:
                    con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
                    os.replace(path + ".tmp", path)
                except duckdb.Error as e:
                    log(f"no oracle answer for {name} within {ORACLE_MEMORY}: {e}")
                    path = os.path.join(cache, f"{key}.none")
                    open(path, "w").write(str(e))
                found = [path]
            answers[f"{label}/{name}"] = found[0]
    return answers


def prepare():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not here")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(CORPUS, f"{t}.parquet"))]
    if missing:
        die(f"corpus tables missing under {CORPUS}: {missing}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    os.makedirs(CACHE, exist_ok=True)
    cp, key = build()
    cdig = corpus_digest()
    sf1, sdig = ensure_sf1(cp, cdig)
    dirs = {"sf1": sf1, "sf0.1": CORPUS}
    done = os.path.join(CACHE, f"checks-{key}-{cdig}-{sdig}.json")
    if not os.path.exists(done):
        sqls = listing(cp)
        checks = {"answers": oracle_answers(sqls["oracle"], {"sf1": sdig, "sf0.1": cdig}, dirs),
                  "expect": expectations(sqls["extract"]),
                  "sf1_rows": {t: n for t, n in duck(dirs["sf1"]).execute(" UNION ALL ".join(
                      f"SELECT '{t}', count(*) FROM {t}" for t in TABLES)).fetchall()}}
        with open(done + ".tmp", "w") as f:
            json.dump(checks, f)
        os.replace(done + ".tmp", done)
    return cp, cdig, dirs, json.load(open(done))


def tail(xs):
    """The highest percentile with at least 10 samples beyond it; with
    fewer than 20 samples, the 90th percentile."""
    s = sorted(xs)
    n = len(s)
    for q in (99, 95, 90, 75, 50):
        if n * (100 - q) / 100 >= 10:
            return statistics.quantiles(s, n=100, method="inclusive")[q - 1], q
    if n == 1:
        return s[0], 90
    return statistics.quantiles(s, n=10, method="inclusive")[-1], 90


def main():
    # a terminated launcher unwinds, so run_child stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, cdig, dirs, checks = prepare()
    answers = checks["answers"]

    work = os.path.join(CACHE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(CORES),
            "--corpus", CORPUS, "--corpus-sf1", dirs["sf1"],
            "--expect", ",".join(f"{k}={v}" for k, v in checks["expect"].items()),
            "--work", work, "--out", out_json]
    # a run must end within RUN_LIMIT_S; the first one of a checkout also
    # builds and generates, and has FIRST_RUN_LIMIT_S
    prepared = time.time() - t_start
    limit = FIRST_RUN_LIMIT_S if prepared > 20 else RUN_LIMIT_S
    budget = max(30, limit - prepared)
    log(f"prepared in {prepared:.1f} s")
    steal0, t0 = steal_s(), time.time()
    rc = run_child(java_cmd(cp, work, *args), budget, os.path.join(work, "jvm.log"), work)
    steal, jvm_s = steal_s() - steal0, time.time() - t0
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-60:]))
        die(f"benchmark JVM failed (exit {rc})")
    r = json.load(open(out_json))

    attempted, failed = r["attempted"], r["failed"]
    failures = list(r["failures"])
    if a.workload != "copy_cycle":
        con = duckdb.connect()
        for name, path in sorted(r["outputs"].items()):
            if name in r["failed_ops"]:
                continue  # already one failed operation, whatever it left behind
            ans = answers.get(name)
            files = glob.glob(f"{path}/*.parquet")
            if not files:
                failures.append(f"{name}: no output")
                failed += 1
                continue
            got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
            if ans is None or ans.endswith(".none"):
                bad = None if len(got) > 0 else "empty output"
            else:
                bad = same(got, con.execute(f"SELECT * FROM '{ans}'").fetchdf())
            if bad:
                failures.append(f"{name}: {bad}")
                failed += 1
    for f in failures:
        log(f"FAILED: {f}")

    ops, floor = r["ops_s"], r["floor_ms"]
    tail_v, tail_q = tail(ops)
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "op_gmean_s": statistics.geometric_mean(ops),
        "op_tail_s": tail_v,
        "ops_per_min": 60.0 * len(ops) / r["timed_wall_s"],
        "floor_ms": statistics.median(floor),
    }
    # each workload's own names for the same figures, for the summary
    names = ({"op_gmean_s": "copy_job_s", "floor_ms": "nodata_poll_ms",
              "ops_per_min": "copies_per_min"}
             if a.workload == "copy_cycle" else
             {"op_gmean_s": f"query_gmean_s (query_p50_s {statistics.median(ops):.4f} s)",
              "op_tail_s": f"query_tail_s (p{tail_q}, n={len(ops)})",
              "ops_per_min": "queries_per_min", "floor_ms": "floor_query_ms"})
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    host = {"nproc": os.cpu_count(), "cores": CORES, "jvm_opts": JVM_OPTS,
            "java": r["host"]["java"],
            "spark": r["host"]["spark"], "duckdb": duckdb.__version__,
            "corpus_digest": cdig, "corpus_rows": {t: checks["expect"][t] for t in TABLES},
            "sf1_rows": checks["sf1_rows"]}
    print("host " + json.dumps(host, sort_keys=True))
    print(f"workload {a.workload}  seed {a.seed}  ops {len(ops)}  "
          f"attempted {attempted}  failed {failed}  "
          f"jvm {jvm_s:.1f} s  steal {steal:.2f} cpu-s")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:12.4f} {units[k]:<6} {names.get(k, '')}")
    print(f"  {'fail_frac':<16} {failed / max(1, attempted):12.4f} ratio")
    if a.workload == "copy_cycle":
        print(f"  {'target_bytes_ratio':<16} {r['target_bytes_ratio']:12.4f} ratio")
    for q, ts in sorted(r.get("per_query_s", {}).items(), key=lambda kv: -statistics.median(kv[1])):
        print(f"    {q:<40} {statistics.median(ts):8.3f} s  (n={len(ts)})")

    if a.trace == 1:
        layers = r["layers"]
        metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        resid = layers.get("trace.residual_frac", 0.0)
        for k, v in metrics.items():
            if v:
                print(f"  {k:<36} {v:16.4f} {units[k]}")
        if abs(resid) > 0.10:
            print(f"  FLAG: layers plus unattributed_s miss the wall time by {resid:+.1%}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    for f, ext in (("jvm.log", "log"), ("result.json", "json")):
        shutil.copy(os.path.join(work, f), os.path.join(CACHE, f"last-{a.workload}.{ext}"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

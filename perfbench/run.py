#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload run in one host-sized JVM.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Workloads: rag_serve, vector_ingest (see perfbench/README.md).
The first run in a checkout builds graft and the harness with sbt (offline).
Each run writes the sf0.1-sized corpus and the seeded vector shards, launches
the harness JVM with
`local[<cores>]` and a heap derived from MemTotal, and uses fresh artifact,
local, warehouse and temp dirs that are deleted afterwards. After the JVM
exits, the outputs at the gated defaults are hash-compared against the DuckDB
oracle with tools/oracle_check.py's functions. The last stdout line is one
JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The exit code is 0
only when every request and every check passed.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the benchmark leaves no caches in the tree
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402

WORKLOADS = ("rag_serve", "vector_ingest")
SCALE = 0.1             # corpus size as a fraction of BASE_ROWS: the sf0.1 corpus
CORPUS_SEED = 42        # the corpus is fixed; --seed picks everything else
SHARD_ROWS = 200        # vectors appended per vector_ingest pass
# Warm pass time on a 4-core host. A run makes round(--seconds / this)
# warm passes, at least one, on a fast or a slow host alike.
NOMINAL_PASS_S = {"rag_serve": 9.0, "vector_ingest": 11.5}
RUN_LIMIT_S = 170       # every run ends within the contract's 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns its exit code, or
    None on timeout. The whole group is killed and reaped on a timeout, an
    error or a signal, so no process outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    return env


def source_digest(root):
    """Digest of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "perfbench/harness"):
        top = os.path.join(root, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compiles graft and the harness once per source state; returns the
    runtime classpath."""
    stamp = os.path.join(work, "classpath.json")
    digest = source_digest(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    log, out_path = os.path.join(work, "build.log"), os.path.join(work, "build.out")
    with open(log, "w") as err, open(out_path, "w") as out:
        code = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"], 840,
            cwd=os.path.join(root, "perfbench", "harness"), env=sbt_env(),
            stdout=out, stderr=err, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log} and {out_path}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def query_modules(root):
    """query name -> operator module, from the registry's source."""
    with open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) as f:
        src = f.read()
    return dict(re.findall(r'"(\w+)"\s*->\s*\((\w+)\.\w+ _\)', src))


def loadavg():
    with open("/proc/loadavg") as f:
        return "/".join(f.read().split()[:3])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: a host taking CPU time from this
    machine shows as steal and slows every timing."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def heap_gb():
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_check(root, check_dir, corpus_dir, cache_dir):
    """Compares each output under `check_dir` with its DuckDB oracle the way
    tools/oracle_check.py does, with its functions: the type lint, sorted
    column names, row count and the value hash. What the oracle gives
    depends only on its SQL, the corpus and the DuckDB version, so it is
    kept in `cache_dir` under a key of those three; the Spark side is
    hashed on every run. Returns ({query: ok}, log)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    import pyarrow as pa
    import pyarrow.parquet as pq
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    corpus_key = file_digest(glob.glob(os.path.join(corpus_dir, "*.parquet")))
    os.makedirs(cache_dir, exist_ok=True)
    con, ok, log = None, {}, []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(
            f"{oc.duckdb.__version__}\0{corpus_key}\0{sql}".encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            con = con or oc.make_con(corpus_dir)
            lint = io.StringIO()
            try:
                with contextlib.redirect_stdout(lint):
                    bad_types = oc.lint_types(con, {name: sql})
                res = con.execute(sql)
                cols = [c[0] for c in res.description]
                rows = res.fetchall()
                want = {"cols": sorted(cols), "rows": len(rows),
                        "hash": oc.table_hash(cols, rows),
                        "lint": lint.getvalue().splitlines()[0] if bad_types else ""}
                with open(cached, "w") as f:
                    json.dump(want, f)
            except Exception as e:
                want = {"error": f"oracle error: {str(e)[:300]}"}
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if "error" in want or want["lint"]:
            why = want.get("error") or want["lint"]
        elif not files:
            why = "no spark output"
        else:
            tbl = pa.concat_tables([pq.read_table(f) for f in files])
            cols = tbl.column_names
            rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            why = ("schema mismatch" if sorted(cols) != want["cols"] else
                   f"rows spark={len(rows)} oracle={want['rows']}"
                   if len(rows) != want["rows"] else
                   "hash mismatch" if oc.table_hash(cols, rows) != want["hash"]
                   else "")
        ok[name] = not why
        log.append(f"{'OK  ' if ok[name] else 'FAIL'} {name} "
                   f"({want.get('rows', 0)} oracle rows) {why}".rstrip())
    return ok, "\n".join(log) + "\n"


def main():
    # a terminating signal unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/oracle_check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    work = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    # set-up is timed from here: the one-off build is not part of it
    setup_start_ms = int(time.time() * 1000)
    load_start, ticks_start = loadavg(), cpu_ticks()

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    keep = os.path.join(work, "results", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    try:
        t0 = time.time()
        corpus_dir = os.path.join(run_dir, "inputs", "corpus")
        shard_dir = os.path.join(run_dir, "inputs", "shards")
        passes = max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
        corpus.write_corpus(corpus_dir, CORPUS_SEED, SCALE)
        corpus.write_shards(shard_dir, corpus_dir, a.seed,
                            passes if a.workload == "vector_ingest" else 0,
                            SHARD_ROWS)
        inputs_s = time.time() - t0
        dirs = {k: os.path.join(run_dir, k)
                for k in ("index", "local", "warehouse", "tmp", "out")}
        for d in dirs.values():
            os.makedirs(d)
        modules = os.path.join(run_dir, "modules.tsv")
        with open(modules, "w") as f:
            f.writelines(f"{q}\t{m}\n" for q, m in query_modules(root).items())
        cores = len(os.sched_getaffinity(0))
        heap = heap_gb()
        # a fixed heap and young generation keep peak RSS a measure of what
        # graft retains, not of how far the collector happened to grow
        launcher = ["java", f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 256}m",
                    f"-Djava.io.tmpdir={dirs['tmp']}",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            launcher += ["--add-opens", f"{p}=ALL-UNNAMED"]
        launch_ms = int(time.time() * 1000)
        cmd = launcher + ["-cp", classpath, "graftbench.Harness",
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--passes", str(passes), "--trace", str(a.trace),
                          "--corpus", corpus_dir, "--shards", shard_dir,
                          "--out", dirs["out"], "--cores", str(cores),
                          "--vectors", str(corpus.rows(corpus_dir, "embeddings")),
                          "--modules", modules, "--local-dir", dirs["local"],
                          "--warehouse-dir", dirs["warehouse"],
                          "--process-start-ms", str(setup_start_ms),
                          "--launch-ms", str(launch_ms),
                          "--inputs-s", repr(inputs_s)]
        env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=dirs["index"])
        budget = RUN_LIMIT_S - (time.time() * 1000 - setup_start_ms) / 1000
        with open(os.path.join(dirs["out"], "jvm.log"), "w") as log:
            code = run_child(cmd, budget, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        result_path = os.path.join(dirs["out"], "result.json")
        if code != 0 or not os.path.exists(result_path):
            os.makedirs(keep)
            shutil.copy(os.path.join(dirs["out"], "jvm.log"), keep)
            fail(f"harness JVM ended with {code}; log kept in {keep}/jvm.log")
        with open(result_path) as f:
            res = json.load(f)
        oracle, oracle_log = oracle_check(
            root, os.path.join(dirs["out"], "check"), corpus_dir,
            os.path.join(work, "oracle-cache"))
        os.makedirs(keep)
        for name in ("result.json", "trace.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(dirs["out"], name)):
                shutil.copy(os.path.join(dirs["out"], name), keep)
        with open(os.path.join(keep, "oracle.log"), "w") as f:
            f.write(oracle_log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    steal /= max(total, 1)
    oracle_failed = [q for q, ok in oracle.items() if not ok]
    attempted = res["requests"] + res["checks"] + len(oracle)
    failed = res["failed_requests"] + res["failed_checks"] + len(oracle_failed)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    correct = failed == 0 and len(oracle) > 0 and all(
        m["value"] is not None for m in metrics.values())
    host = (f"workload={a.workload} seed={a.seed} trace={a.trace} cores={cores} "
            f"heap={heap}g launcher=perfbench/run.py({' '.join(launcher[:4])}, "
            f"local[{cores}], 1 client) loadavg_start={load_start} "
            f"loadavg_end={loadavg()} cpu_steal={steal:.4f}")
    with open(os.path.join(keep, "host.txt"), "w") as f:
        f.write(host + "\n")
    print(host)
    print(f"requests={res['requests']} warm_passes={res['warm_passes']} "
          f"read_samples={res['read_samples']} "
          f"read_p90_s={res['read_p90_s']} (not a metric) "
          f"write_samples={res['write_samples']} checks={res['checks']} "
          f"oracle_queries={len(oracle)} failed={failed} "
          f"error_rate={failed / max(attempted, 1):.6g}")
    for f in res["failures"] + [f"oracle mismatch: {q}" for q in oracle_failed]:
        print(f"FAILED {f}")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness in
perfbench/ together with the engine sources in src/main (sbt, offline),
and later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed under perfbench/.work/. The last line of standard
output is one JSON object: whether the outputs checked correct, the calls
attempted and failed, and the metrics of BENCHMARK.json (end-to-end ones
with --trace 0, per-layer ones with --trace 1). A traced run also leaves
its spans in perfbench/.work/<workload>.spans.jsonl. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
DEADLINE_S = 170  # a run must end within 180 s, build excluded
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def build(deadline):
    """Compiles the harness and the engine; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found; run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=out, timeout=deadline - time.time())
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or ".jar" not in cp or cp.startswith("["):
        die(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for the whole group;
    on timeout the group is killed. Returns the exit code (None: timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.astype(str)
    return df.loc[s.sort_values(by=list(s.columns)).index].reset_index(drop=True)


def oracle_check(corpus, work):
    """Replays each measured query's oracle SQL in DuckDB over the same
    generated tables and compares the rows the first call returned."""
    import duckdb
    import pandas as pd

    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    problems = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(work, "results", name)
        if not os.path.isdir(path):
            problems.append(f"{name}: no result rows were written")
            continue
        expect = con.sql(sql).df()
        got = duckdb.sql(f"SELECT * FROM '{path}/*.parquet'").df()
        if len(expect) != len(got):
            problems.append(f"{name}: {len(got)} rows, oracle has {len(expect)}")
            continue
        expect, got = canon(expect), canon(got)
        if list(expect.columns) != list(got.columns):
            problems.append(f"{name}: columns {list(got.columns)} != {list(expect.columns)}")
            continue
        for c in expect.columns:
            a, b = expect[c], got[c]
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                # sums of doubles differ with summation order, also after
                # rounding to a fixed number of decimals: allow one unit in
                # about the ninth significant digit
                tol = (a.abs().combine(b.abs(), max) * 1e-8).clip(lower=1e-9)
                eq = ((a - b).abs() <= tol) | (a.isna() & b.isna())
            else:
                eq = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
            if not eq.all():
                problems.append(f"{name}: column {c} differs in {int((~eq).sum())} rows")
    return problems


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        die("BENCHMARK.json not found; run from the repository root")
    with open(bench_file) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        die(f"unknown workload {a.workload}")
    cp = build(started + 850)
    run_start = time.time()  # the 180 s budget of a run starts after the build

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    wl = cfg["workloads"][a.workload]
    corpus = ""
    if "corpus_rows" in wl:
        sys.path.insert(0, HERE)
        import gen_corpus
        corpus = os.path.join(work, "corpus")
        gen_corpus.generate(corpus, a.seed, wl["corpus_rows"])

    result_file = os.path.join(work, "result.json")
    heap = cfg["environment"]["heap_mb"]
    java = ["java", f"-Xmx{heap}m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--corpus", corpus,
             "--out", result_file, "--config", os.path.join(HERE, "config.json")]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_group(java, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                         timeout=run_start + DEADLINE_S - 15 - time.time())
    if code != 0 or not os.path.exists(result_file):
        die(f"run failed (exit {code}); see {log}")
    with open(result_file) as f:
        res = json.load(f)

    problems = list(res["problems"])
    if corpus:
        problems += oracle_check(corpus, work)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and a.trace:
            # a layer this workload never enters did no work: its count is 0
            got = {"value": 0}
        if got is None or got["value"] is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if a.trace:
        spans = result_file + ".spans.jsonl"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, f"{a.workload}.spans.jsonl"))
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": bool(res["correct"]) and not problems,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

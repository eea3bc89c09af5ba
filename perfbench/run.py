#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload poi_etl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 12   # every workload

Builds the harness (perfbench/build.sbt, which compiles the engine's
src/main next to perfbench/src) when the sources changed since the last
build, runs one workload in a fresh JVM, compares every query output
with its DuckDB oracle, and prints one JSON line as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics of the traced passes. The metrics are defined in
perfbench/README.md. Everything a run writes stays under .bench_build/
and .bench_run/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["poi_etl", "catalog_sweep", "heavy_ops"]
CORES = 4
HEAP = "4g"
RUN_LIMIT_S = 170
DATA = "perfbench/data/sf0.01"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the harness is built from."""
    h = hashlib.sha256()
    for top in ["src/main", "perfbench/src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties"]:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles the harness if its sources changed; returns the classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp_f = os.path.join(out, "stamp")
    cp_f = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
            stderr=fh, text=True, timeout=840, env=env)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {os.path.relpath(log, root)}")
    with open(cp_f, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_jvm(root, cp, args, run_dir, deadline):
    """Runs the benchmark JVM in its own process group; returns its result."""
    for d in ["tmp", "derby"]:
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/derby", "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", run_dir, "--base", os.path.join(root, DATA),
              "--catalog", os.path.join(root, "perfbench/catalog_short.txt"),
              "--cores", str(CORES), "--result", result])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{args.workload}: JVM exceeded the run time limit", 4)
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"{args.workload}: JVM exited with {p.returncode}, see "
             f".bench_run/results/{os.path.basename(run_dir)}.log", 4)
    with open(result) as fh:
        return json.load(fh)


def exact_substr_clean(con, k=30):
    """Reference for text_exact_substr_clean, the same relation as its
    DuckDB oracle (exactSubstrSpanCte in TextQueries.scala): windows of
    k characters hashed by the fold (acc * 131 + code point) mod 2^61-1,
    windows whose hash occurs at least twice in the corpus, positions
    merged into islands when the next starts beyond the last + k, and
    each island [first, last + k) cut out of the text. It computes the
    hash by rolling instead of refolding each window, which makes it
    linear in the corpus; the oracle takes minutes on heavy_ops' input.
    """
    import pandas as pd
    m = 2305843009213693951
    top = pow(131, k - 1, m)
    docs = con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    hashes, count = [], {}
    for _, text in docs:
        cps = [ord(c) for c in text]
        hs = []
        if len(cps) >= k:
            h = 0
            for c in cps[:k]:
                h = (h * 131 + c) % m
            hs.append(h)
            for i in range(k, len(cps)):
                h = ((h - cps[i - k] * top) * 131 + cps[i]) % m
                hs.append(h)
        for h in hs:
            count[h] = count.get(h, 0) + 1
        hashes.append(hs)
    out = []
    for (doc_id, text), hs in zip(docs, hashes):
        pos = [i + 1 for i, h in enumerate(hs) if count[h] >= 2]
        spans = []  # [first, last] position of each island
        for p in pos:
            if spans and p <= spans[-1][1] + k:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        if not spans:
            out.append((doc_id, text))
            continue
        parts, prev = [], 1
        for s0, last in spans:
            parts.append(text[prev - 1:s0 - 1])
            prev = last + k
        parts.append(text[prev - 1:])
        out.append((doc_id, "".join(parts)))
    return pd.DataFrame(out, columns=["doc_id", "clean_text"])


# Queries whose DuckDB oracle is too slow for a run's time limit are
# checked against a reference of the same relation instead.
REFERENCES = {"text_exact_substr_clean": exact_substr_clean}


def oracle_failures(res, run_dir):
    """Compares each query output with its DuckDB oracle over the same
    generated tables, four queries at a time; returns a list of
    (query, reason) mismatches."""
    cases = res.get("oracle", [])
    if not cases:
        return []
    import duckdb
    from concurrent.futures import ThreadPoolExecutor
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{run_dir}/tmp/duckdb'")
    in_dir = os.path.join(run_dir, "in")
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{in_dir}/{f}/*.parquet'")

    def check(c):
        name = c["query"]
        if c.get("sql") is None:
            return [(name, "no oracle")]
        cur = con.cursor()
        try:
            cur.execute("SET TimeZone='UTC'")
            got = cur.sql(f"SELECT * FROM '{c['out']}/*.parquet'").df()
            ref = REFERENCES.get(name)
            want = ref(cur) if ref else cur.sql(c["sql"]).df()
        except Exception as e:  # an oracle or output that cannot be read is a failure
            return [(name, f"error {e}"[:300])]
        finally:
            cur.close()
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            return [(name, f"columns {list(got.columns)} vs {list(want.columns)}")]
        if len(got) != len(want):
            return [(name, f"rows spark={len(got)} oracle={len(want)}")]
        for col in got.columns:
            a, b = got[col], want[col]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                return [(name, f"column {col} row {i}: {a[i]!r} vs {b[i]!r}"[:300])]
        return []

    with ThreadPoolExecutor(max_workers=4) as pool:
        bad = [x for r in pool.map(check, cases) for x in r]
    con.close()
    return bad


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_gb"):
        return "GB"
    if name.endswith(("ratio", "skew")) or name.startswith("share."):
        return "ratio"
    return "count"


def run_one(root, cp, args):
    t0 = time.monotonic()
    base = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(root, ".bench_run", base)
    keep = os.path.join(root, ".bench_run", "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(keep, exist_ok=True)
    try:
        res = run_jvm(root, cp, args, run_dir, t0 + RUN_LIMIT_S - 15)
        t1 = time.monotonic()
        bad = oracle_failures(res, run_dir)
        res["detail"]["oracle_s"] = time.monotonic() - t1
    finally:
        # keep the result, spans and JVM log; drop inputs and outputs
        for f, suffix in [("result.json", ".json"), ("result.json.spans.json", ".spans.json"),
                          ("jvm.log", ".log")]:
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), os.path.join(keep, base + suffix))
        shutil.rmtree(run_dir, ignore_errors=True)
    failed_checks = [c for c in res["checks"] if c["ok"] != True]
    failed = res["failed"] + len(bad)
    attempted = res["attempted"] + len(res.get("oracle", []))
    d = res["detail"]
    for c in failed_checks:
        print(f"# {args.workload}: check {c['name']} failed: {c['detail']}")
    for q, why in bad:
        print(f"# {args.workload}: {q} does not match its oracle: {why}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"# {args.workload}: {o['name']} failed: {o.get('error', '')}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = res["e2e"]
    for k, m in metrics.items():
        print(f"# {args.workload} {k} = {m['value']} {m['unit']}")
    for k, v in res.get("layers_extra", {}).items():
        print(f"# {args.workload} {k} = {v} {layer_unit(k)}")
    print(f"# {args.workload} error_rate = {failed / max(attempted, 1)} ratio "
          f"({failed} of {attempted} operations and checks failed)")
    print(f"# {args.workload} query_tail_s is p{d['tail_percentile']:.1f} of "
          f"{d['samples']} samples ({d['tail_samples_beyond']} beyond it); "
          f"passes {d['pass_wall_s']}; set-up phases {json.dumps(d['setup_phases_s'])}; "
          f"checks {d['verify_s']:.1f} s in the JVM, {d['oracle_s']:.1f} s against oracles; "
          f"calibration {json.dumps(res['env']['calib'])}")
    values = [m["value"] for m in metrics.values()]
    correct = failed == 0 and all(v is not None and math.isfinite(v) for v in values)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("give --workload or --all")
    root = os.getcwd()
    for need in ["src/main/scala", "perfbench/build.sbt", DATA]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found; run from the root of a checkout", 3)
    cp = build(root)
    if args.all:
        for w in WORKLOADS:
            args.workload = w
            out = run_one(root, cp, args)
            print(json.dumps({"workload": w, **out}))
        return
    print(json.dumps(run_one(root, cp, args)))


if __name__ == "__main__":
    main()

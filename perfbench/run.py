#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload log_search --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse that build
while the sources are unchanged. The workload runs in one JVM
(perfbench.Main); for corpus_pipeline this script then checks every
operator's result against its DuckDB oracle. The last stdout line is the
JSON summary: {"correct", "attempted", "failed", "metrics"}. Per-run
artifacts go to perfbench/out/, one set per run, never overwritten.
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_search", "corpus_pipeline")
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and sources."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def build(build_dir, sha):
    """Compile with sbt (offline) unless this source tree is already built;
    returns the runtime classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == sha:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt, offline) ...", file=sys.stderr)
    t0 = time.time()
    res = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
        stdin=subprocess.DEVNULL)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


# ---------------------------------------------------------------- oracle
# Canonicalisation and value comparison as tools/oracle_check.py does it:
# columns sorted by name, rows by every column, typed value families
# compared (int vs decimal is a mismatch), floats within 1e-9 relative.

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def type_kind(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def values_equal(a, b):
    import pandas as pd
    ka, kb = type_kind(a), type_kind(b)
    if ka is not None and kb is not None and ka != kb and {ka, kb} != {"int", "float"}:
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        if a is None or b is None:
            return a is None and b is None
        a, b = list(a), list(b)
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        return bool(a == b)
    except Exception:
        return str(a) == str(b)


def oracle_check(oracle_dir):
    """Compare each operator's Spark result with its DuckDB oracle over the
    same generated tables. Returns {operator: None | failure reason}."""
    import duckdb
    import pandas as pd
    with open(os.path.join(oracle_dir, "tables_dir")) as f:
        tables = f.read().strip()
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet/*.parquet')")
    verdict = {}
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(oracle_dir, name, "*.parquet")))
        if not files:
            verdict[name] = "no Spark result"
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            exp = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 — any oracle error is a failure
            verdict[name] = f"oracle error: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            verdict[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            verdict[name] = f"rows {len(got)} != {len(exp)}"
        else:
            bad = next(((c, i, g, e) for c in got.columns
                        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist()))
                        if not values_equal(g, e)), None)
            verdict[name] = None if bad is None else (
                f"value mismatch col={bad[0]} row={bad[1]}: spark={bad[2]!r} duckdb={bad[3]!r}")
    con.close()
    return verdict


def write_new(path, text):
    """Create `path`; never replace an existing file."""
    with open(path, "x") as f:
        f.write(text)


def run(args):
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    sha = source_sha()
    cp = build(build_dir, sha)

    run_id = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + "-" + uuid.uuid4().hex[:8]
    work = os.path.join(build_dir, "work", run_id)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    out = os.path.join(HERE, "out")
    for d in (tmp, local, out):
        os.makedirs(d, exist_ok=True)
    java = shutil.which("java") or fail("java not found on PATH")
    cmd = [java, f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--run-id", run_id,
            "--git-commit", git_commit() or "none", "--source-sha", sha]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"workload did not finish within {JVM_TIMEOUT_S} s", 1)
        lines = stdout.splitlines()
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stdout.write(stdout[-4000:])
            fail(f"JVM exited with {proc.returncode}", 1)
        summary = json.loads(lines[-1])
        print("\n".join(lines[:-1]))

        oracle_dir = os.path.join(work, "oracle")
        if os.path.exists(os.path.join(oracle_dir, "oracle_sql.json")):
            verdict = oracle_check(oracle_dir)
            for name, why in verdict.items():
                print(f"oracle {name:<20} {'OK' if why is None else 'FAIL ' + why}")
            bad = sum(1 for why in verdict.values() if why is not None)
            summary["attempted"] += len(verdict)
            summary["failed"] += bad
            summary["correct"] = summary["correct"] and bad == 0
            artifact = next((l.split(": ", 1)[1] for l in lines if l.startswith("artifact: ")), None)
            if artifact:
                write_new(artifact[:-len(".json")] + ".oracle.json",
                          json.dumps(verdict, indent=1, sort_keys=True) + "\n")
        print(json.dumps(summary, separators=(",", ":")))
        return 0 if summary["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala): run it from a checkout of the repository")
    sys.exit(run(args))


if __name__ == "__main__":
    main()

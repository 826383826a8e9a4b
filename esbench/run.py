#!/usr/bin/env python3
"""The repo benchmark: two workloads, the event store and its query
registry, timed end to end and, with --trace 1, layer by layer.

    python3 esbench/run.py --workload store_live --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the library and the benchmark
from source with sbt (once per source state; the build is cached under
esbench/target), generates the workload's inputs from --seed, runs one
benchmark JVM, checks the query results against the DuckDB oracle, and
prints one `name value unit` line per metric and, last, one JSON object.
Everything the run writes lives under .esbench_run/ and is deleted at exit.
See esbench/README.md for the workloads and the metrics.
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
from pathlib import Path

import datagen

WORKLOADS = ("store_live", "registry_queries")
ROOT = Path.cwd()
BENCH = ROOT / "esbench"
TARGET = BENCH / "target"
TIME_LIMIT_S = 175
MARKER = "@@ESBENCH "


def fail(msg, code=2):
    print(f"esbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Compile the library and the benchmark; return (classpath, jvm options)."""
    launch, stamp = TARGET / "launch.txt", TARGET / "launch.hash"
    want = source_hash()
    if launch.exists() and stamp.exists() and stamp.read_text() == want:
        lines = launch.read_text().splitlines()
        if all(Path(p).exists() for p in lines[0].split(os.pathsep)):
            return lines[0], lines[1:]
    TARGET.mkdir(parents=True, exist_ok=True)
    log = TARGET / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not launch.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed", 1)
    stamp.write_text(want)
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def run_jvm(cp, opts, args, run_dir, deadline):
    cmd = (["java"] + opts + ["-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'work' / 'tmp'}",
                              "-cp", cp, "esbench.Main"] + args)
    (run_dir / "work" / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, "benchmark JVM timed out"
    for line in (run_dir / "jvm.log").read_text().splitlines():
        if line.startswith("[esbench]"):
            print(line, file=sys.stderr)
    for line in reversed(out.splitlines()):
        if line.startswith(MARKER):
            return json.loads(line[len(MARKER):]), None
    tail = (run_dir / "jvm.log").read_text()[-3000:]
    return None, f"benchmark JVM exited {p.returncode} without a result:\n{tail}"


def leftovers(run_dir, keep):
    """Files the run left under its work directory, other than `keep`."""
    work = run_dir / "work"
    keep = {Path(k).resolve() for k in keep if k}
    found = []
    for p in work.rglob("*"):
        if p.is_file() and not any(k in p.resolve().parents for k in keep):
            found.append(str(p.relative_to(work)))
    return found


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        # last-bit differences from a different summation order
        return af == bf or abs(af - bf) <= 1e-9 * max(abs(af), abs(bf))
    return a == b


def oracle_check(results, data_dir, oracle_sql):
    """Compare each query's result with its DuckDB oracle; return problems."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(Path(data_dir).glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{src}')")
    problems = []
    for name, out in results.items():
        try:
            got = canon(pd.read_parquet(out))
            want = canon(con.execute(oracle_sql[name]).fetchdf())
        except Exception as e:  # a failing oracle or result read is a mismatch
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(want.columns):
            problems.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"{name}: {len(got)} rows vs {len(want)}")
        else:
            for c in got.columns:
                bad = next((i for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                            if not cell_eq(a, b)), None)
                if bad is not None:
                    problems.append(f"{name}: column {c} row {bad} differs")
                    break
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("run from the root of a checkout of the repository (library sources not found)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp, opts = ensure_build()
    # the first run in a checkout also pays the build; the limit is on the rest
    deadline = time.monotonic() + TIME_LIMIT_S - min(30.0, time.monotonic() - t_start)

    run_dir = ROOT / ".esbench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = run_dir / "data"
        datagen.generate(a.workload, a.seed, data)
        t_jvm = time.monotonic()
        print(f"[esbench] inputs generated in {t_jvm - t_start:.1f} s", file=sys.stderr)
        report, err = run_jvm(cp, opts, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                         str(run_dir)], run_dir, deadline - 25)
        attempted, failed, problems = 1, 0, []
        metrics = {}
        if report is None:
            failed, problems = 1, [err]
        else:
            attempted += report["attempted"]
            failed += report["failed"]
            problems += report["problems"]
            metrics = report["metrics"]
            oracle = report["oracle"]
            if oracle:
                sql = json.loads((run_dir / "out" / "oracle_sql.json").read_text())
                t_oracle = time.monotonic()
                bad = oracle_check(oracle, report["oracle_data"], sql)
                print(f"[esbench] JVM {t_oracle - t_jvm:.1f} s, oracle {time.monotonic() - t_oracle:.1f} s",
                      file=sys.stderr)
                attempted += len(oracle)
                failed += len(bad)
                problems += bad
            left = leftovers(run_dir, [report.get("oracle_data")])
            if left:
                failed += 1
                problems.append(f"{len(left)} files left behind, e.g. {left[:3]}")
        if a.trace and (run_dir / "spans.jsonl").exists():
            spans = ROOT / ".esbench_trace" / f"{a.workload}-{a.seed}.jsonl"
            spans.parent.mkdir(exist_ok=True)
            shutil.copy(run_dir / "spans.jsonl", spans)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    metrics["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    for p in problems:
        print(f"esbench: check failed: {p}", file=sys.stderr)
    for name in sorted(metrics):
        print(f"{name} {metrics[name]['value']} {metrics[name]['unit']}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        got = metrics.get(m["name"], {}).get("value")
        out[m["name"]] = {"value": 0.0 if got is None else got, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()

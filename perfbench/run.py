#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload entry_suite --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the repo and the harness with sbt
(perfbench/build.sbt) into .bench_build/; later runs reuse the build
while the sources are unchanged. Each run is a fresh JVM started with
the repo build's JVM flags, so no run pays sbt start-up or shares
session state with another.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer
metrics of a separate traced run. Full reports, span files and the
per-layer table land in perfbench/results/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BENCH, "results")
SPEC = json.load(open(os.path.join(BENCH, "workloads.json")))

# sources whose change requires a rebuild
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and waits for it; the group
    is killed if the child overruns or this script is terminated."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        kill_children()


def kill_children(*_):
    for p in CHILDREN:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    CHILDREN.clear()


def on_signal(sig, _):
    kill_children()
    sys.exit(128 + sig)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the repo and the harness once per source state; returns
    the JVM classpath and flags recorded by the `writeLaunch` task."""
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "launch.stamp")
    want = fingerprint()
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(launch) and os.path.exists(stamp)
                and open(stamp).read() == want):
            log = os.path.join(BUILD, "build.log")
            with open(log, "w") as out:
                code = run_child(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                    850, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT)
            if code != 0 or not os.path.exists(launch):
                sys.stderr.write(open(log).read()[-4000:])
                fail("build failed")
            open(stamp, "w").write(want)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def run_jvm(cp, opts, args, work, timeout):
    """One fresh JVM for one run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Xmx{SPEC['session']['heap']}",
                              f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                              "perfbench.Main"] + args)
    return run_child(cmd, timeout, cwd=work, stdout=sys.stderr,
                     stderr=sys.stderr)


def oracle_counts(data, sqls):
    """Row counts of the DuckDB oracle queries (SparkEntry.oracleSql,
    as tools/compare.py runs them), cached per query text and data."""
    import duckdb
    cache_file = os.path.join(BUILD, "oracle_counts.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    tag = hashlib.sha256(b"".join(
        open(os.path.join(data, f), "rb").read()
        for f in sorted(os.listdir(data)))).hexdigest()
    con = None
    out = {}
    for name, sql in sqls.items():
        key = hashlib.sha256((tag + sql).encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for f in sorted(os.listdir(data)):
                    t = f.split(".")[0]
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(data, f)}'")
            cache[key] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        out[name] = cache[key]
    json.dump(cache, open(cache_file, "w"))
    return out


def layer_table(workload, report, untraced):
    """Markdown table of the per-layer metrics beside the end-to-end
    output, with the end-to-end metric each should move."""
    m = report["metrics"]
    rows = ["| layer metric | value | unit | moves | on |",
            "|---|---|---|---|---|"]
    for name, target in SPEC["per_layer"].items():
        v = m[name]
        rows.append(f"| {name} | {v['value']:.6g} | {v['unit']} | "
                    f"{target['moves']} | {target['on']} |")
    rows.append("")
    rows.append("Tracing overhead (traced minus untraced, same workload):")
    rows.append("")
    rows.append("| end-to-end metric | traced | untraced | overhead |")
    rows.append("|---|---|---|---|")
    for name in SPEC["end_to_end"]:
        t = m[name]["value"]
        u = (untraced or {}).get("metrics", {}).get(name, {}).get("value")
        rows.append(f"| {name} | {t:.6g} | "
                    + (f"{u:.6g} | {t - u:+.6g} |" if u is not None
                       else "no untraced run yet | |"))
    path = os.path.join(RESULTS, f"{workload}-layers.md")
    open(path, "w").write(f"# Per-layer table: {workload} (seed "
                          f"{report['seed']})\n\n" + "\n".join(rows) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if a.workload not in SPEC["workloads"]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the repo sources (build.sbt, src/main/scala/graft) are missing")
    wl = SPEC["workloads"][a.workload]
    cp, opts = build()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report_file = os.path.join(work, "report.json")
    data = os.path.join(BENCH, wl["data"]) if wl.get("data") else work
    try:
        code = run_jvm(cp, opts, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data, "--out", report_file],
            work, SPEC["run_timeout_s"])
        if code != 0 or not os.path.exists(report_file):
            fail(f"workload JVM exited with {code}")
        report = json.load(open(report_file))
        spans = report_file + ".spans.jsonl"
        os.makedirs(RESULTS, exist_ok=True)
        if a.trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(
                RESULTS, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = report["correct"]
    if a.workload == "entry_suite":
        want = oracle_counts(data, report["details"]["oracle_sql"])
        got = report["details"]["counts"]
        wrong = sorted(n for n in got if n in want and got[n] != want[n])
        if wrong:
            print(f"perfbench: counts differ from the oracle: {wrong}",
                  file=sys.stderr)
        report["details"]["oracle_mismatch"] = wrong
        correct = correct and not wrong
    report["correct"] = correct

    names = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    metrics = {n: report["metrics"][n] for n in names}
    line = {"correct": correct, "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}
    base = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    json.dump(report, open(base + ".json", "w"), indent=1)
    if a.trace:
        untraced = None
        prior = os.path.join(RESULTS, f"{a.workload}-last-trace0.json")
        if os.path.exists(prior):
            untraced = json.load(open(prior))
        layer_table(a.workload, report, untraced)
    else:
        shutil.copy(base + ".json",
                    os.path.join(RESULTS, f"{a.workload}-last-trace0.json"))
    extras = {k: round(v["value"], 4) for k, v in report["metrics"].items()
              if k not in SPEC["per_layer"]}
    print(f"# {a.workload} seed={a.seed}: {json.dumps(extras)}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()

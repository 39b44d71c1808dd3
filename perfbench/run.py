#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.sbt, output under perfbench/target);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed under perfbench/.work, where every file the run
writes stays.

The JVM side (perfbench.Main) runs the workload closed-loop from one driver
thread on local[<cores>] and writes raw samples; this script reduces them
with metrics.py, checks every output, and prints the metrics, a readable
summary first and one JSON object as the last line. With ``--trace 0`` that
object holds the end-to-end metrics; with ``--trace 1`` the run attaches the
listeners and prints the per-layer metrics, and the full trace (spans, jobs,
counters) is written to perfbench/.work/trace-<workload>-<seed>.json.

Exit status: 0 when every output check passed, 1 when one failed (the JSON
line still says which), 2 or more when no result could be produced.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HEAP = "4g"
# A fixed heap and young generation keep peak RSS comparable run to run.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g"]

# Each workload: its queries (gate workloads, with the scale factor of the
# generated gate tables) or its daily-run inputs (flagship), and the minimum
# number of warm passes. The query samples behind query_p50_s and
# query_tail_s are the executions of the first `min_warm` warm passes, so
# every run has the same count (at least 11, which the tail rule needs).
# Media runs an odd number of queries: their latencies form one cluster per
# query, and with an even count the median would fall between two clusters
# and jump from run to run.
# README.md records why each workload and query is in the benchmark.
WORKLOADS = {
    "flagship": {
        "min_warm": 6,
        "flagship": dict(customers=2000, days=2, history_days=60,
                         actions_per_customer=30, max_actions=3000,
                         carousels_per_day=300, max_carousel=8),
    },
    "iterative": {
        "min_warm": 11,
        "sf": 0.01,
        "queries": ["q47_dedup_clusters"],
    },
    "media": {
        "min_warm": 4,
        "sf": 0.1,
        "queries": ["q229_jpeg_features", "q270_bmp_resize", "q241_audio_frame_stats"],
    },
}

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every source the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(source_sha):
    """Compile with sbt once per source state; returns the classpath."""
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("source_sha256") == source_sha:
            return b["classpath"]
    log("building engine + harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.offline=true", "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=logf, text=True, stdin=subprocess.DEVNULL)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(f"build failed (exit {p.returncode}); see {os.path.join(WORK, 'build.log')}")
        sys.exit(3)
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"source_sha256": source_sha, "classpath": classpath,
                   "build_s": time.time() - t0}, f)
    return classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def java_cmd(classpath, main_class, args, work_dir):
    """The java command line for a main class, with temp files in work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + JVM_FLAGS + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
                           "-cp", classpath, main_class] + args)


def run_jvm(classpath, args, run_dir, deadline):
    """Runs perfbench.Main; returns its results dict, or exits on failure."""
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(classpath, "perfbench.Main", ["--out", out, "--work", run_dir] + args, run_dir)
    errlog = os.path.join(run_dir, "jvm.log")
    with open(errlog, "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log("the JVM ran past its deadline and was stopped")
            sys.exit(4)
    if code != 0 or not os.path.exists(out):
        with open(errlog) as f:
            tail = f.read()[-3000:]
        log(f"JVM exited {code}; log tail:\n{tail}")
        sys.exit(5)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    deadline = started + 170.0

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    source_sha = fingerprint()
    classpath = build(source_sha)
    deadline = max(deadline, time.time() + 170.0)  # the first run also builds

    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores()),
                "--min-warm", str(w["min_warm"])]
        if a.workload == "flagship":
            setup_t0 = time.time()
            inputs = os.path.join(run_dir, "inputs")
            per_day = gen.flagship_inputs(inputs, a.seed, **w["flagship"])
            args += ["--data", inputs, "--days", ",".join(sorted(per_day))]
            expected = None
        else:
            data = gen.gate_tables_cached(WORK, w["sf"])
            setup_t0 = time.time()
            args += ["--data", data, "--queries", ",".join(w["queries"])]
            with open(os.path.join(HERE, "expected.json")) as f:
                recorded = json.load(f)
            if recorded["gate_generator_version"] != gen.GATE_VERSION:
                log("expected.json was recorded for another gate generator; rerun record.py")
                sys.exit(6)
            expected = {q: {k: v for k, v in e.items() if k != "sf"}
                        for q, e in recorded["queries"].items() if e["sf"] == w["sf"]}
            missing = [q for q in w["queries"] if q not in expected]
            if missing:
                log(f"no expected output recorded for {missing}")
                sys.exit(6)
            per_day = None
        res = run_jvm(classpath, args, run_dir, deadline)
        if a.trace:
            trace_path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
            with open(trace_path, "w") as f:
                json.dump(res, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if per_day is not None:
        expected = flagship_expected(res, per_day)
    report = reduce(res, expected, w["min_warm"], setup_t0, a, source_sha)
    for line in report["summary"]:
        print(line)
    final = {"correct": report["correct"], "attempted": report["attempted"],
             "failed": report["failed"],
             "metrics": report["per_layer"] if a.trace else report["end_to_end"]}
    print(json.dumps(final))
    sys.exit(0 if report["correct"] else 1)


def flagship_expected(res, per_day):
    """What every daily run must show: the exploded impression count, the
    precomputed-history path's hash, and arrays of exactly max_history."""
    ref = res.get("reference", {})
    out = {}
    for day, rows in per_day.items():
        r = ref.get(day, {})
        want = {"rows": str(rows), "hash": r.get("hash", "<reference missing>")}
        if r.get("rows") != str(rows):
            want["hash"] = f"<reference has {r.get('rows')} rows, want {rows}>"
        for k in ("min_actions", "max_actions", "min_types", "max_types"):
            want[k] = "1000"
        out[day] = want
    return out


def reduce(res, expected, min_warm, setup_t0, a, source_sha):
    spans = {s["id"]: s for s in res["spans"]}
    passes = []
    for p in res["passes"]:
        s = spans[p["span"]]
        passes.append((s["end_ms"] - s["start_ms"] - p["harness_ms"]) / 1000.0)
    execs = res["execs"]
    attempted, failed, reasons = metrics.count_failures(execs, expected)
    by_pass = {}
    for e in execs:
        by_pass.setdefault(e["pass"], []).append(e)
    warm = passes[1:]
    ok = not failed and len(warm) >= 1
    e2e, summary = {}, []
    if warm:
        samples = [e["wall_s"] for p in range(1, min(min_warm, len(warm)) + 1)
                   for e in by_pass.get(p, [])]
        rows = metrics.median([sum(int(e["observed"].get("rows", 0)) for e in by_pass[p])
                               for p in range(1, len(passes))])
        warm_s = metrics.median(warm)
        p50 = metrics.median(samples)
        try:
            tail_v, tail_p, n = metrics.tail(samples)
        except ValueError as err:
            ok = False
            reasons.setdefault("<harness>", str(err))
            tail_v, tail_p, n = float("nan"), float("nan"), len(samples)
        e2e = {
            "setup_s": (res["ready_ms"] / 1000.0) - setup_t0,
            "cold_pass_s": passes[0],
            "warm_pass_s": warm_s,
            "rows_per_s": rows / warm_s,
            "query_p50_s": p50,
            "query_tail_s": tail_v,
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        }
        units = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "rows_per_s": "rows/s",
                 "query_p50_s": "s", "query_tail_s": "s", "peak_rss_mb": "MB"}
        notes = {"warm_pass_s": f"median of {len(warm)} warm passes",
                 "rows_per_s": f"{rows} output rows per pass",
                 "query_p50_s": f"n={len(samples)}",
                 "query_tail_s": f"p{tail_p:.1f}, n={n}"}
        e2e = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        for k, v in e2e.items():
            summary.append(f"{k:14s} {v['value']:12.4f} {v['unit']:7s} {notes.get(k, '')}")
    summary.append(f"{'failed_frac':14s} {failed / max(1, attempted):12.4f} {'ratio':7s} "
                   f"{failed} of {attempted} query executions")
    for name, why in sorted(reasons.items()):
        summary.append(f"FAILED {name}: {why}")
    prov = dict(res["provenance"], git_commit=git_commit(), source_sha256=source_sha,
                passes=len(passes))
    summary.insert(0, "provenance " + json.dumps(prov, sort_keys=True))
    per_layer = layers.per_layer(res, passes) if a.trace else {}
    if a.trace:
        summary += layers.table(per_layer)
    return {"correct": ok, "attempted": attempted, "failed": failed,
            "end_to_end": e2e, "per_layer": per_layer, "summary": summary}


if __name__ == "__main__":
    main()

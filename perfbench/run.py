"""graft benchmark: one closed-loop client driving one local[4] Spark JVM.

    python3 perfbench/run.py --workload <crawl_wide|crawl_deep|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in a
JVM for at least `--seconds` of timed calls, checks every output against
its oracle outside the timed region, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
run also records spans (workload → call → Spark job → stage) and the
metrics are the per-layer ones, tracing overhead included. Exits 1 when an
output check fails and 2 when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("crawl_wide", "crawl_deep", "analytics")
DEADLINE_S = 170  # the whole run, build excluded
JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classes, work, args, data):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{build.spark_jars()}/*", "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(work), "--data", str(data),
        "--queries", metrics.query_arg()])
    # the JVM's stdout goes to stderr: stdout carries only the result line
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"the JVM did not finish within {DEADLINE_S} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    out = build.build_dir()
    work = out / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return measure(args, classes, out, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, classes, out, work):
    data = work / "data"
    if args.workload == "analytics":
        gen_tables.write(data, args.seed)
    t0 = time.time()
    code = run_jvm(classes, work, args, data)
    log(f"JVM exited {code} after {time.time() - t0:.1f} s")
    result_file = work / "result.json"
    if not result_file.is_file():
        log("the JVM wrote no result")
        return 2
    result = json.loads(result_file.read_text())
    checks = list(result["checks"])

    if args.workload == "analytics":
        sql = json.loads((work / "oracle_sql.json").read_text())
        verdict = oracle.check(str(data), str(work / "results"), sql)
        for q, (ok, detail) in sorted(verdict.items()):
            checks.append({"name": f"analytics/{q}/oracle", "ok": ok,
                           "detail": detail})
            if not ok:
                log(f"CHECK FAILED analytics/{q}: {detail}")
        for seg in result["segments"]:
            for c in seg["calls"]:
                if not verdict.get(c["extra"]["query"], (False,))[0]:
                    c["check_ok"] = False

    attempted, failed = metrics.ops(result)
    correct = code == 0 and failed == 0 and all(c["ok"] for c in checks)
    segs = result["segments"]
    e2e = [metrics.end_to_end(args.workload, s) for s in segs]
    if args.trace:
        spans = [json.loads(line) for line in
                 (work / "spans.jsonl").read_text().splitlines() if line]
        values = metrics.per_layer(result, spans, e2e[0], e2e[1])
        # keep the last traced run's spans, with self times, for inspection
        with open(out / f"trace-{args.workload}.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    else:
        values = e2e[0]

    shutil.copy(result_file, out / f"result-{args.workload}.json")
    report(args, result, e2e, checks, attempted, failed)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics.emit(values),
    }), flush=True)
    return 0 if correct else 1


def report(args, result, e2e, checks, attempted, failed):
    """Human-readable lines before the result line: every end-to-end metric
    with its unit, the run's noise diagnostics and the output checks."""
    for seg, vals in zip(result["segments"], e2e):
        tag = "traced" if seg["traced"] else "untraced"
        for n, u, _ in metrics.END_TO_END:
            print(f"{args.workload} {tag} {n} = {vals[n]:.6g} {u}")
        n = sum(1 for c in seg["calls"] if c["kind"] in ("run", "round", "query"))
        print(f"{args.workload} {tag} primary calls n={n} "
              f"(tail percentile with >=10 beyond: "
              f"{metrics.tail_percentile(n)})")
        busy, steal = metrics.host_pct(seg)
        print(f"{args.workload} {tag} window {(seg['end_ms'] - seg['start_ms']) / 1000:.1f} s "
              f"busy {busy:.1f}% steal {steal:.2f}%")
    bad = [c for c in checks if not c["ok"]]
    print(f"{args.workload} checks {len(checks) - len(bad)}/{len(checks)} ok; "
          f"ops attempted {attempted} failed {failed}")
    for c in bad:
        print(f"{args.workload} FAILED {c['name']}: {c['detail']}")
    for c in checks:
        if c["ok"] and "rounding tie" in c["detail"]:
            print(f"{args.workload} NOTE {c['name']}: {c['detail']}")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on a harness failure
        log(f"error: {e}")
        sys.exit(2)

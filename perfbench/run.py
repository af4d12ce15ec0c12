#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_headline --seed 1 \\
        --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):
  olap_headline  battery headliners at sf0.1
  ingest_mutate  MergeTree + Delta inserts, mutations and reads at sf0.1

The script builds the engine and the harness (perfbench/Makefile) into
$CARGO_TARGET_DIR or .bench_build, runs the harness in one JVM on
local[min(4, nproc) - 1], checks every output with DuckDB, and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Spans and the full record stay under .perfbench_run/; the
last runs' numbers per workload and seed, with a hash of the sources they
ran, under .perfbench_history/.

The corpus is read from $PERFBENCH_DATA (default: the corpus directory
TESTDATA.md names), Spark from $SPARK_HOME (default: the installation
whose spark-submit is on the PATH).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep imported checkers from writing caches
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 150
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


T0 = time.monotonic()


def log(msg):
    print(f"perfbench: {msg} at {time.monotonic() - T0:.1f} s", file=sys.stderr)


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build(spark_home):
    build_dir = os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    r = subprocess.run(
        ["make", "-s", "-C", HERE, f"BUILD={build_dir}",
         f"SPARK_HOME={spark_home}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 2)
    return os.path.join(build_dir, "classes")


def corpus_dir():
    """$PERFBENCH_DATA, else the directory that holds the scale-factor
    directories TESTDATA.md names."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(r"`([^`]+)/sf0\.1/?`", f.read())
    if m is None:
        fail("TESTDATA.md names no sf0.1 directory; set PERFBENCH_DATA")
    return m.group(1)


def run_harness(args, classes, spark_home, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    # One core is left to the driver thread, the GC and the JIT: with all
    # four given to tasks, throughput was no higher and spread more.
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    # A fixed heap. Each pass starts with a full GC; a heap free to shrink
    # there grows back through hundreds of young collections, which spread
    # the pass times from run to run.
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}/tmp",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", corpus_dir(),
            "--out", out, "--cores", str(cores)]
    with open(os.path.join(out, "harness.log"), "w") as log_file:
        proc = subprocess.Popen(cmd, stdout=log_file, stderr=log_file, cwd=out)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S}s; see {out}/harness.log", 3)
    record_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(record_path):
        fail(f"harness exited with {rc}; see {out}/harness.log")
    with open(record_path) as f:
        return json.load(f)


def wrong_executions(record, out):
    """Executions whose output failed its check, by statement id, with a reason."""
    sys.path.insert(0, HERE)
    import check
    execs = record["executions"]
    wrong = {}
    if "ingest" in record:
        expected = check.ingest_expected(record["sf_dir"], record["ingest"])
        for e in execs:
            if e["result"] is None:
                continue
            _, table, step = e["label"].split("_")
            if check.normalise(e["result"]) != expected[(table, int(step))]:
                wrong[e["stmt"]] = f"{e['label']} differs from the replay"
    else:
        verdicts = check.query_outputs(ROOT, out, record["sf_dir"],
                                       record["checks"])
        for e in execs:
            path = e["check"] or f"check/{e['label']}"
            if e["error"] is None and verdicts.get(path, "not checked"):
                wrong[e["stmt"]] = f"{e['label']}: {verdicts.get(path, 'not checked')}"
    return wrong


def tail(ms):
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile); value None when that percentile is not above the median."""
    s = sorted(ms)
    pct = 100.0 * (len(s) - 10) / len(s)
    return (s[len(s) - 11] if pct > 50 else None), pct


def end_to_end(record, execs, passes):
    ms = [e["ms"] for e in execs]
    walls = record["timed"]["pass_wall_s"]
    t, pct = tail(ms)
    setup = record["setup"]
    return {
        "setup_s": (setup["context_s"] + statistics.median(setup["register_s"])
                    + setup["warmup_s"]),
        "throughput_ops_s": statistics.median(
            sum(1 for e in execs if e["pass"] == p) / walls[p - 1]
            for p in passes),
        "latency_p50_ms": statistics.median(ms),
        "latency_tail_ms": t,
        "heap_retained_mb": record["heap_retained_mb"],
    }, pct


def code_hash():
    """Hash of the engine and harness sources, to tie history to code."""
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def history(args, kind, code, new=None):
    """The last `kind` ("untraced"/"traced") entry of this workload and seed
    if it ran the same sources, else None; stores `new` in its place."""
    path = os.path.join(ROOT, ".perfbench_history",
                        f"{args.workload}_{args.seed}_{kind}.json")
    old = None
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if old.get("code") != code:
            old = None
    if new is not None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(new, code=code,
                           at=time.strftime("%Y-%m-%dT%H:%M:%S")), f)
    return old


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or ".")))
    classes = build(spark_home)
    log("build done")
    out = os.path.join(ROOT, ".perfbench_run", args.workload)
    record = run_harness(args, classes, spark_home, out)
    log("harness done")

    execs = record["executions"]
    wrong = wrong_executions(record, out)
    log("checks done")
    errors = [e for e in execs if e["error"] is not None]
    failed = len(errors) + len(wrong)
    for e in errors:
        print(f"[perfbench] FAILED {e['label']} (pass {e['pass']}): {e['error']}")
    for reason in sorted(set(wrong.values())):
        print(f"[perfbench] WRONG {reason}")

    all_passes = range(1, record["timed"]["passes"] + 1)
    untraced_passes = [p for p in all_passes if not (args.trace and p % 2 == 0)]
    untraced = [e for e in execs if not e["traced"]]
    e2e, pct = end_to_end(record, untraced, untraced_passes)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    cal = record["calibration"]
    print(f"[perfbench] workload={args.workload} seed={args.seed} "
          f"trace={args.trace} cores={record['cores']} "
          f"passes={record['timed']['passes']} "
          f"statements/pass={record['timed']['statements_per_pass']}")
    for name, value in e2e.items():
        unit = e2e_units.get(name, "ms")
        if name != "latency_tail_ms":
            print(f"[perfbench] {name} = {value:.6g} {unit}")
        elif value is None:
            print(f"[perfbench] {name} = n/a: n={len(untraced)} has no "
                  "percentile above the median with ten samples beyond it")
        else:
            print(f"[perfbench] {name} = {value:.6g} {unit} (p{pct:.1f} of "
                  f"n={len(untraced)}; reported, not gated)")
    print(f"[perfbench] error_rate = {failed / len(execs):.6g} ratio "
          f"({failed} of {len(execs)})")
    amp = record["space_amp"]
    print("[perfbench] space_amp = " +
          (f"{amp:.6g} ratio" if amp is not None else "n/a (ingest_mutate only)"))
    for d in record["known_defects"]:
        print(f"[perfbench] KNOWN FAILURE {d['name']}: " +
              (f"reproduced, expected {d['expected']!r}, got {d['got']!r}"
               if d["reproduced"] else
               f"no longer reproduces (got {d['got']!r})") +
              "; probed after the timed passes, outside the metrics and "
              "`correct`")
    print(f"[perfbench] calibration ratio pre={cal['ratio_pre']:.2f} "
          f"post={cal['ratio_post']:.2f} (solo {cal['solo_s']} s)")

    code = code_hash()
    if args.trace:
        traced = [e for e in execs if e["traced"]]
        traced_e2e, _ = end_to_end(record, traced,
                                   [p for p in all_passes if p % 2 == 0])
        overhead = {k: traced_e2e[k] - e2e[k]
                    for k in ("throughput_ops_s", "latency_p50_ms",
                              "latency_tail_ms")
                    if traced_e2e[k] is not None and e2e[k] is not None}
        base = history(args, "untraced", code)
        if base is not None:
            for k in ("setup_s", "heap_retained_mb"):
                overhead[k] = e2e[k] - base["metrics"][k]
        print("[perfbench] tracing overhead (traced - untraced): " + ", ".join(
            f"{k}={v:+.4g}" for k, v in sorted(overhead.items())) +
            ("; setup_s and heap_retained_mb against the untraced run of "
             f"{base['at']}" if base else
             "; setup_s and heap_retained_mb n/a: no untraced run of these "
             "sources and this seed"))
        counters = record["repeat_counters"]
        earlier = history(args, "traced", code, {"counters": counters})
        seen = {k: v + (earlier["counters"].get(k, []) if earlier else [])
                for k, v in counters.items()}
        scope = (f"the traced passes of this run and of the run of "
                 f"{earlier['at']}" if earlier else
                 "this run only (no earlier traced run of these sources and "
                 "this seed)")
        print(f"[perfbench] exact-repeat counters across {scope}: " + ", ".join(
            f"{k}={'exact' if len(set(v)) == 1 else 'varies'}"
            for k, v in sorted(seen.items())))
        layer = record["per_layer"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
        for name, v in metrics.items():
            print(f"[perfbench] {name} = {v['value']:.6g} {v['unit']}")
    else:
        history(args, "untraced", code, {"metrics": e2e})
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}

    print(json.dumps({"correct": failed == 0, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

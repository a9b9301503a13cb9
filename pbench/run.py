#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
and prints one JSON result line.

    python3 pbench/run.py --workload stream_replay --seed 1 --seconds 12 --trace 0

Workloads: stream_replay, corpus_ingest (see pbench/README.md).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
and writes the per-layer self-time table to .bench_build/pbench/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC = ROOT / "src" / "main" / "scala"
HARNESS = HERE / "harness"
OUT = ROOT / ".bench_build" / "pbench"
WORKLOADS = ("stream_replay", "corpus_ingest")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[pbench] %s" % msg, file=sys.stderr, flush=True)


def benchmark_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha1()
    files = sorted(list(SRC.rglob("*.scala")) + list((HARNESS / "src").rglob("*"))
                   + [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"])
    for f in files:
        if f.is_file():
            st = f.stat()
            h.update(("%s %d %d\n" % (f.relative_to(ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compiles program + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not SRC.is_dir():
        raise SystemExit("pbench: no program sources at %s; run from a full checkout" % SRC)
    OUT.mkdir(parents=True, exist_ok=True)
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=%s" % repos]
    env["SBT_OPTS"] = " ".join(opts)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("pbench: harness build failed")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ---------------------------------------------------------------- JVM

def run_jvm(cp, args, work):
    """Runs the workload in the harness JVM; returns its result."""
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no perf-data file in the system temp dir: a run writes only in its work dir
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp, "-Dspark.local.dir=%s" % tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "pbench.Harness", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), str(work)]
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness did not exit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        raise RuntimeError("harness exited with %s" % rc)
    return json.loads((work / "result.json").read_text())


def jvm_tail(work):
    try:
        return (work / "jvm.log").read_text()[-3000:]
    except OSError:
        return ""


# ---------------------------------------------------------------- workloads

def stream_replay(cp, args, work):
    jvm = run_jvm(cp, args, work)
    entity, cdp = jvm["entity_batch_ms"], jvm["cdp_batch_ms"]
    # the two pipelines' median batch times, averaged: a median per
    # pipeline, since their batches differ in cost
    batch_ms = (statistics.median(entity) + statistics.median(cdp)) / 2
    events = (len(entity) + len(cdp)) * jvm["batch_events"]
    e2e = {"latency_ms": batch_ms, "throughput_per_s": jvm["batch_events"] / (batch_ms / 1000.0)}
    detail = {"replay_entity_eps": jvm["replay_entity_eps"], "replay_cdp_eps": jvm["replay_cdp_eps"],
              "entity_batch_ms": entity, "cdp_batch_ms": cdp,
              "alerts": jvm["alerts"], "profiles": jvm["profiles"],
              "segment_events": jvm["segment_events"]}
    checks = jvm["checks"]
    failed = 0
    if not checks["alerts_equal_replay"]:
        failed += len(entity) * jvm["batch_events"]
    if not checks["profiles_equal_replay"]:
        failed += len(cdp) * jvm["batch_events"]
    return jvm, e2e, detail, jvm["layers"], events, failed, checks


def corpus_ingest(cp, args, work):
    jvm = run_jvm(cp, args, work)
    admits = jvm["admit_ms"]
    admit_ms = statistics.median(admits)
    docs = len(admits) * jvm["batch_docs"]
    e2e = {"latency_ms": admit_ms, "throughput_per_s": jvm["batch_docs"] / (admit_ms / 1000.0)}
    got, want, mix = jvm["counts"], jvm["expected_counts"], jvm["seeded_mix"]
    # every doc whose decision differs from the LSH replay counts as
    # failed; a moved doc shows in two counts
    wrong = {k: abs(got[k] - want[k]) for k in want}
    detail = {"admit_ms": admits, "admit_docs_per_s": e2e["throughput_per_s"],
              "lsh_missed_near": mix["rejected_near"] - want["rejected_near"],
              **{"count_" + k: v for k, v in got.items()}}
    failed = min(docs, (sum(wrong.values()) + 1) // 2)
    checks = {"decisions_match_lsh_replay_" + k: v == 0 for k, v in wrong.items()}
    return jvm, e2e, detail, jvm["layers"], docs, failed, checks


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = benchmark_spec()
    cp = build()
    work = OUT / ("run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run = {"stream_replay": stream_replay, "corpus_ingest": corpus_ingest}[args.workload]
        jvm, e2e, detail, layers, attempted, failed, checks = run(cp, args, work)
    except RuntimeError as e:
        sys.stderr.write(jvm_tail(work))
        raise SystemExit("pbench: %s failed: %s" % (args.workload, e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e["setup_s"] = statistics.median(jvm["setup_s"])
    e2e["retained_heap_mb"] = jvm["retained_heap_mb"]
    log("%s seed=%d checks=%s" % (args.workload, args.seed, json.dumps(checks)))
    log("detail %s" % json.dumps(detail))
    if args.trace:
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "end_to_end": e2e, "detail": detail,
                  "layers": layers, "spans": jvm["trace_table"]}
        path = OUT / ("trace-%s.json" % args.workload)
        path.write_text(json.dumps(report, indent=1, sort_keys=True))
        log("self time by span (ms):")
        for s in jvm["trace_table"]:
            log("  %-34s n=%-6d total=%10.1f self=%10.1f" % (s["name"], s["count"], s["total_ms"], s["self_ms"]))
        log("trace written to %s" % path)
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e

    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None and args.trace:
            v = 0.0
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        raise SystemExit("pbench: %s produced no value for %s" % (args.workload, ", ".join(missing)))
    correct = all(checks.values())
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

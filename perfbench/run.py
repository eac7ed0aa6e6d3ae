#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one JVM, one result line.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # the benchmark's own test

Run from the repository root. The first run compiles the program from
source (see build.py). Each run generates its inputs from --seed under a
per-run temp root (.bench_tmp/, deleted on exit), runs the workload in
local[k] with k = min(4, nproc - 1) and one closed-loop client, checks every
op's output against the generator, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end_to_end metrics of BENCHMARK.json (--trace 0) or its per_layer
metrics (--trace 1). A traced run also writes its spans and tables to
.bench_out/<workload>-seed<n>-trace.json. Workloads: scan and lookup, which
BENCHMARK.json lists, and dedup, which runs by hand and in --smoke (see
perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["scan", "lookup", "dedup"]
RUN_TIMEOUT_S = 170
JVM_FLAGS = [
    "-Xmx2g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m", "-XX:-DontCompileHugeMethods",
    "-XX:-UsePerfData",
    "--add-modules=jdk.incubator.vector",
] + [f for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


class RunFailed(Exception):
    pass


def git_commit(root):
    if not (root / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_once(root, classes, digest, workload, seed, seconds, trace, tiny=False, echo=True):
    """Runs one workload in a fresh JVM; returns the parsed result object."""
    # one core is left to the driver thread, the JIT and the collector
    cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    tmp = root / ".bench_tmp" / f"run-{os.getpid()}-{time.monotonic_ns()}"
    tmp.mkdir(parents=True)
    (tmp / "jvm").mkdir()
    out_dir = root / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    trace_out = out_dir / f"{workload}-seed{seed}-trace.json"
    load_before = os.getloadavg()[0]
    steal_before, total_before = cpu_times()
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp / 'jvm'}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
           "-cp", f"{classes}:{build.spark_jars(root)}/*", "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--tmp", str(tmp), "--cores", str(cores),
           "--trace-out", str(trace_out)] + (["--tiny"] if tiny else [])
    result = None
    jvm = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                if line.startswith("jvm "):
                    jvm = line[len("jvm "):]
                if echo:
                    print(line, flush=True)
        _, status, _ = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        if proc.returncode is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        raise RunFailed(f"{workload}: JVM exited with {proc.returncode}"
                        + ("" if result else " and no result"))
    steal_after, total_after = cpu_times()
    stamp = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
             "nproc": os.cpu_count(), "k": cores, "loadavg_1m_before": load_before,
             "loadavg_1m_after": os.getloadavg()[0],
             "cpu_steal_pct": 100 * (steal_after - steal_before) / max(1, total_after - total_before),
             "jvm": jvm,
             "git_commit": git_commit(root), "source_digest": digest}
    if echo:
        print("stamp " + json.dumps(stamp), flush=True)
    if trace:
        doc = json.loads(trace_out.read_text())
        doc["stamp"] = stamp
        trace_out.write_text(json.dumps(doc))
    return result


def check_metrics(spec, result, trace):
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise RunFailed(f"metrics differ from BENCHMARK.json: missing {missing}, "
                        f"extra {extra}, unit mismatch {wrong}")


def smoke(root, spec, classes, digest):
    """Runs every workload once, tiny, untraced and traced; checks outputs."""
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            try:
                r = run_once(root, classes, digest, w, 1, 1, trace, tiny=True, echo=False)
                check_metrics(spec, r, trace)
                ok = r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
            except RunFailed as e:
                print(f"smoke {w} trace={trace}: {e}", file=sys.stderr)
                ok = False
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                bad.append(f"{w}/{trace}")
    print(json.dumps({"smoke": "ok" if not bad else "failed", "failed": bad}))
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")

    root = Path.cwd().resolve()
    spec_file = root / "BENCHMARK.json"
    if not spec_file.is_file() or not (root / "src/main/scala").is_dir():
        print("perfbench: run from the repository root (needs BENCHMARK.json and "
              "src/main/scala)", file=sys.stderr)
        return 2
    spec = json.loads(spec_file.read_text())
    # a SIGTERM unwinds through the finally blocks: JVM killed, temp root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes, digest = build.build(root)
    if args.smoke:
        return smoke(root, spec, classes, digest)
    try:
        result = run_once(root, classes, digest, args.workload, args.seed, args.seconds,
                          args.trace)
        check_metrics(spec, result, args.trace)
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

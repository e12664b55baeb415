#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload graph_read --seed 1 --seconds 10 --trace 0

Workloads: graph_read, stream_ingest, recipe_chain (see perfbench/README.md).
Builds the program from source on first use (perfbench/build.py), then runs
the benchmark program in one JVM on local[<cores>]. Inputs are generated from --seed
inside a run directory under .bench_build/ that is removed afterwards.
With --trace 1 the result carries the per-layer metrics and the spans are
written to .bench_build/traces/.

Exit code 0 only when the program finished and printed a well-formed result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("graph_read", "stream_ingest", "recipe_chain")
RUN_LIMIT_S = 170  # one run, after the build; the JVM is killed past it

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "--short=12", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    ap.add_argument("--corrupt-reference", type=int, choices=(0, 1), default=0,
                    help="self-test only: make the reference wrong so checks must fail")
    a = ap.parse_args()

    # until the JVM runs, a stop request unwinds (and kills a compile)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    b = build.ensure()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    trace_out = build.OUT / "traces" / f"{a.workload}-seed{a.seed}.spans.jsonl"
    rev = commit() or "none"
    cmd = (["java", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", b["classpath"], "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", str(run_dir),
            "--scale", str(a.scale), "--corrupt-reference", str(a.corrupt_reference),
            "--commit", f"{rev}/src-{b['source_sha256'][:12]}", "--trace-out", str(trace_out)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=str(run_dir),
                            start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(*_):
        kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    watchdog = threading.Timer(RUN_LIMIT_S, kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    if proc.returncode != 0 or not lines:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 2
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print("[perfbench] benchmark JVM printed no result line", file=sys.stderr)
        return 2
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        print("[perfbench] malformed result line", file=sys.stderr)
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

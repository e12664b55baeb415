#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

For every workload in BENCHMARK.json it runs a few ops twice:
  1. untraced: every end_to_end metric must print with its unit, and the
     outputs must check correct;
  2. traced, against a deliberately wrong reference: every per_layer metric
     must print with its unit, the listeners and spans must have seen the
     workload's work (the counters below read above 0; on graph_read every
     write.* and catalog.* metric reads 0), and the wrong reference must
     be caught (failed > 0, i.e. error_rate > 0), which proves the checks
     bite.

    python3 perfbench/selftest.py [workload ...]

Exits 0 when every assertion holds.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload: str, trace: int, corrupt: int) -> dict:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "0.2",
           "--corrupt-reference", str(corrupt)]
    out = subprocess.run(cmd, cwd=str(ROOT), capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload}: run.py exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, spec: list, what: str) -> None:
    for m in spec:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{what}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} value not a number"
    extra = set(result["metrics"]) - {m["name"] for m in spec}
    assert not extra, f"{what}: unexpected metrics {sorted(extra)}"


# per-layer metrics that must read above 0 in a traced run, per workload
NONZERO_ALL = ["sched.jobs", "sched.tasks", "plan.queries", "jvm.heap_peak_mb"]
NONZERO = {
    "graph_read": [],  # plus at least one EntityGraph / ChangeLog / TimeTravel span, below
    "stream_ingest": ["streaming.OnChange.streamingDedupDelta.ms", "dedup.Dedup.buildShingleIndex.ms",
                      "stream.batches", "stream.trigger_ms", "write.files", "write.mb",
                      "catalog.ddl_ops", "streaming.jobs"],
    "recipe_chain": ["jobs.Recipe.recipeJob.tick_ms", "jobs.Recipe.emissionRollupJob.tick_ms",
                     "text.PackIndex.packJob.tick_ms", "read.placements_ms", "jobs.Recipe.buildStanding.ms",
                     "write.files", "write.mb", "shuffle.write_mb"],
}
READ_SPANS = ("core.EntityGraph.", "ops.ChangeLog.", "ops.TimeTravel.")


def expect_layers(workload: str, result: dict) -> None:
    m = {k: v["value"] for k, v in result["metrics"].items()}
    for name in NONZERO_ALL + NONZERO[workload]:
        assert m[name] > 0, f"{workload} traced: {name} reads {m[name]}, expected > 0"
    if workload == "graph_read":
        assert any(v > 0 for k, v in m.items() if k.startswith(READ_SPANS)), \
            "graph_read traced: no read span recorded"
        written = {k: v for k, v in m.items() if k.startswith(("write.", "catalog.")) and v != 0}
        assert not written, f"graph_read traced: reads must not write or touch the catalog: {written}"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in names:
        plain = run(w, trace=0, corrupt=0)
        expect_metrics(plain, spec["end_to_end"], f"{w} untraced")
        assert plain["correct"] and plain["failed"] == 0, f"{w}: outputs checked wrong: {plain}"
        assert plain["attempted"] >= 1
        bad = run(w, trace=1, corrupt=1)
        expect_metrics(bad, spec["per_layer"], f"{w} traced")
        expect_layers(w, bad)
        assert bad["failed"] > 0 and not bad["correct"], f"{w}: a wrong reference went unnoticed"
        print(f"selftest {w}: ok ({plain['attempted']} ops; wrong reference failed "
              f"{bad['failed']}/{bad['attempted']} ops)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

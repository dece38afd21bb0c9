"""Smoke run of the benchmark harness: every workload at its smallest
size (sf0.001, a few hundred documents, a few seconds of transactions),
untraced and traced.

    python3 perfbench/smoke.py [workload ...]

For each run it asserts that the process exits 0, that the last stdout
line is the result object with every BENCHMARK.json metric and its unit,
that every metric the workload names prints with a unit, that the
correctness checks ran and passed, and that the traced run prints the
per-layer metrics its workload reaches. The numbers themselves are not
judged. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "oltp_mixed": ["setup_s", "tx_per_s", "point_read_p50_s", "range_read_p50_s",
                   "write_tx_p50_s", "tx_p90_s", "recover_s", "peak_rss_mb", "error_rate"],
    "graph_analytics": ["setup_s", "traversal_pass_s", "iterative_pass_s", "peak_rss_mb",
                        "error_rate"],
    "corpus_curation": ["setup_s", "curation_docs_per_s", "peak_rss_mb", "error_rate"],
}
LAYERS = {
    "oltp_mixed": ["remote.rtt_s", "remote.admission_wait_write_s", "graph.walk_point_s",
                   "graph.walk_range_s", "graph.commit_s", "storage.checkpoint_s",
                   "storage.checkpoints", "storage.wal_flush_s", "storage.load_s",
                   "storage.replayed_batches", "storage.write_amp", "catalogue.build_s",
                   "session.jobs", "session.driver_share"],
    "graph_analytics": ["graph.hop_s", "graph.get_stats_s", "pregel.pagerank_s",
                        "pregel.pagerank_rounds", "pregel.sssp_s", "pregel.cc_star_s",
                        "pregel.kcore_s", "pregel.kcore_rounds", "pregel.ckpt_jobs",
                        "catalogue.build_s", "session.jobs", "session.driver_share"],
    "corpus_curation": ["operators.shingles_s", "operators.minhash_signatures_s",
                        "operators.lsh_candidate_pairs_s", "operators.jaccard_verify_s",
                        "operators.quality_score_s", "operators.candidates_per_pair",
                        "pregel.cc_star_s", "pregel.cc_star_rounds", "session.jobs",
                        "session.driver_share"],
}


def smoke(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    errors = []
    if p.returncode != 0 or not lines:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(out)}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        if not got or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            errors.append(f"result metric {m['name']}: {got}")
    if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
        errors.append(f"correct={out['correct']} failed={out['failed']}")
    printed = {}
    for ln in lines:
        parts = ln.split()
        if len(parts) >= 4 and parts[0] in ("metric", "layer"):
            printed[parts[1]] = parts[3]  # name -> unit
    for name in NAMED[workload] + (LAYERS[workload] if trace else []):
        if not printed.get(name):
            errors.append(f"{name} not printed with a unit")
    checks = [ln for ln in lines if ln.startswith("check ")]
    if not checks or any(" FAILED" in ln for ln in checks):
        errors.append(f"checks: {checks or 'none ran'}")
    if trace and not any(ln.startswith("trace_overhead ") for ln in lines):
        errors.append("no tracing overhead reported")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for workload in sys.argv[1:] or list(NAMED):
        for trace in (0, 1):
            errors = smoke(workload, trace, spec)
            print(f"{'ok  ' if not errors else 'FAIL'} {workload} trace={trace}")
            for e in errors:
                print(f"     {e}")
            failed |= bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

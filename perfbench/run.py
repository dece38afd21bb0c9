"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one seeded workload against the library in this checkout, checks its
outputs, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, and the run also writes its spans and
Spark event-log counts to ``.bench_work/trace-<workload>-<seed>.json`` and
prints the tracing overhead against the latest untraced run of the same
workload. ``--smoke`` runs the workload at its smallest size.

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, WORK, Run, setup_env  # noqa: E402

WORKLOADS = ("oltp_mixed", "graph_analytics", "corpus_curation")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest sizes; for checking the harness, not for numbers")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graph_db_spark", "__init__.py")):
        print(f"error: no graph_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()
    setup_env()
    sys.path.insert(0, ROOT)

    import workloads

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    t0 = time.time()
    res = workloads.RUNNERS[args.workload](run)
    wall = time.time() - t0

    metrics = {}
    for m in spec["per_layer"] if args.trace else spec["end_to_end"]:
        try:
            value = (res.layer_named[m["name"]][0] if args.trace
                     else workloads.e2e_value(args.workload, res, m["name"]))
        except KeyError:
            raise SystemExit(f"workload {args.workload} did not measure {m['name']}") from None
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"wall {wall:.1f} s, session start {run.session_start_s:.2f} s")
    for k, v in sorted(run.sentinel.items()):
        print(f"sentinel {k} {v:.4f} s")
    if run.steal_share is not None:
        print(f"sentinel steal_share {run.steal_share:.4f} ratio (CPU time taken by other "
              "guests between the two readings)")
    for name, (value, unit) in sorted(res.named.items()):
        print(f"metric {name} {value:.6g} {unit}")
    if args.trace:
        for name, (value, unit) in sorted(res.layer_named.items()):
            print(f"layer {name} {value:.6g} {unit}")
    for line in res.checks:
        print(f"check {line}")
    for line in res.notes:
        print(f"note {line}")
    error_rate = res.failed / res.attempted if res.attempted else 1.0
    print(f"metric error_rate {error_rate:.6g} ratio ({res.failed}/{res.attempted})")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": res.named, "sentinel": run.sentinel,
        "steal_share": run.steal_share,
        "attempted": res.attempted, "failed": res.failed, "correct": res.correct,
        "finished": time.time(),
    }
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f)
    if args.trace:
        _report_overhead(args.workload, args.seed, res)
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        run.tracer.dump(path, {"layers": res.layer_named, "jobs": res.jobs,
                               "sentinel": run.sentinel})
        print(f"# spans and counts written to {os.path.relpath(path, ROOT)}")
    shutil.rmtree(run.dir)  # the run's inputs, store and event log; results stay

    print(json.dumps({
        "correct": bool(res.correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": metrics,
    }))
    return 0


def _report_overhead(workload: str, seed: int, res) -> None:
    """Tracing overhead: traced minus untraced end-to-end metrics, against
    the untraced run of this workload and seed in the work directory, or
    failing that the newest untraced run of this workload."""
    rdir = os.path.join(WORK, "results")
    base = None
    for name in os.listdir(rdir):
        if name.startswith(workload + "-") and name.endswith("-t0.json"):
            with open(os.path.join(rdir, name)) as f:
                r = json.load(f)
            if base is None or ((r["seed"] == seed, r["finished"])
                                > (base["seed"] == seed, base["finished"])):
                base = r
    if base is None:
        print("trace_overhead unknown: no untraced run of this workload to compare")
        return
    for name, (value, unit) in sorted(res.named.items()):
        if name in base["named"]:
            b = base["named"][name][0]
            rel = f" ({(value - b) / b:+.1%})" if b else ""
            print(f"trace_overhead {name} {value - b:+.6g} {unit}{rel} "
                  f"[traced {value:.6g}, untraced {b:.6g}, seed {base['seed']}]")


if __name__ == "__main__":
    sys.exit(main())

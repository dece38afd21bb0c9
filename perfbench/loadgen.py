"""Closed-loop OLTP load generator for the ``oltp_mixed`` workload.

Runs in its own process, apart from the server. Each of ``--clients``
threads holds one connection and sends its next transaction only after
the previous one returned. Every block of four transactions holds, in
seeded order:

- two point reads: a keyed walk root → region → nation → customer by name,
  with Zipf-skewed customer choice; exactly one node must come back.
- one range walk: region → nations → customers; the count must sit
  between the region's base count and base + writes started so far.
- one write: a new Customer node linked from its nation.

Client 0 first runs one untimed block; the measured window opens when it
is done, and its start time goes to ``--window-file``. Writes out one
JSON file: per-transaction records (warm-up ones flagged), the
acknowledged writes, client-side spans (traced runs) and this process's
peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from common import hwm_mb  # noqa: E402
from graph_db_spark.remote import RemoteGraphSession  # noqa: E402

MODEL_VERSION = 1  # must match workloads.MODEL_VERSION
# Untimed transactions client 0 runs before the window opens (one block of
# the mix): the server's JVM is shared, so one warm client compiles the
# serving path for all of them.
WARMUP_TX = 4


class Shared:
    def __init__(self, info: dict):
        self.info = info
        self.start = self.deadline = 0.0
        self.mu = threading.Lock()
        self.started_writes = {r: 0 for r in info["base_counts"]}
        self.records: list[dict] = []
        self.acked: list[dict] = []
        self.spans: list[dict] = []


def _connect(sock: str) -> RemoteGraphSession:
    return RemoteGraphSession(socket_path=sock, model_version=MODEL_VERSION)


def client(idx: int, args, sh: Shared, barrier: threading.Barrier) -> None:
    rng = random.Random(args.seed * 1000 + idx)
    custs = sh.info["customers"]  # [name, nation, region]
    weights = sh.info["zipf_weights"]
    db = _connect(args.socket)
    warmup = WARMUP_TX if idx == 0 else 0
    i = 0
    block: list[str] = []
    while True:
        if i == warmup:
            barrier.wait()  # the measured window opens once the warm-up is done
        if i >= warmup and time.time() >= sh.deadline:
            break
        i += 1
        if not block:
            # exact 2:1:1 proportions in every block, so the mix of a short
            # run does not drift with the seed
            block = ["point", "point", "range", "write"]
            rng.shuffle(block)
        kind = block.pop()
        marks: dict[str, float] = {}
        rec = {"kind": kind, "ok": False, "warmup": i <= warmup}
        t0 = time.time()
        try:
            if kind == "point":
                name, nation, region = rng.choices(custs, weights=weights)[0]

                def prog(tx, name=name, nation=nation, region=region):
                    marks["entry"] = time.time()
                    refs = tx.walk(tx.get_root(), [("Catalogue_Region_Name", region),
                                                   ("Region_Nation_Name", nation),
                                                   ("Nation_Customer_Name", name)])
                    marks["walk"] = time.time()
                    return refs

                refs = db.read(prog)
                if len(refs) != 1:
                    raise AssertionError(f"point read of {name}: {len(refs)} nodes")
            elif kind == "range":
                region = rng.choice(sorted(sh.info["base_counts"]))

                def prog(tx, region=region):
                    marks["entry"] = time.time()
                    refs = tx.walk(tx.get_root(), [("Catalogue_Region_Name", region),
                                                   "Region_Nation", "Nation_Customer"])
                    marks["walk"] = time.time()
                    return refs

                n = len(db.read(prog))
                rec["refs"] = n
                with sh.mu:  # any write the read saw had started by now
                    upper = sh.info["base_counts"][region] + sh.started_writes[region]
                if not sh.info["base_counts"][region] <= n <= upper:
                    raise AssertionError(f"range {region}: {n} customers, "
                                         f"expected {sh.info['base_counts'][region]}..{upper}")
            else:
                _, nation, region = rng.choice(custs)
                name = f"Customer#B{args.seed}-{idx}-{i}"
                with sh.mu:
                    sh.started_writes[region] += 1

                def prog(tx, name=name, nation=nation, region=region):
                    marks["entry"] = time.time()
                    nref = tx.walk(tx.get_root(), [("Catalogue_Region_Name", region),
                                                   ("Region_Nation_Name", nation)])
                    if len(nref) != 1:
                        raise AssertionError(f"nation {nation}: {len(nref)} nodes")
                    c = tx.new_node("Customer", name=name, uid=10_000_000 + idx * 100_000 + i)
                    tx.add_target(nref[0], c)
                    marks["staged"] = time.time()

                db.write(prog)
                with sh.mu:
                    sh.acked.append({"name": name, "nation": nation, "region": region})
            rec["ok"] = True
        except Exception as exc:  # noqa: BLE001 — every failure is counted, the loop goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            db.close()  # a failed write drops the connection; start clean
            db = _connect(args.socket)
        t1 = time.time()
        rec.update(start=t0, end=t1)
        with sh.mu:
            sh.records.append(rec)
            if args.trace and "entry" in marks and not rec["warmup"]:
                req = f"c{idx}-t{i}"  # the spans of one transaction share it
                sh.spans.append({"name": f"remote.tx.{kind}", "start": t0, "end": t1, "req": req})
                sh.spans.append({"name": f"remote.admission_wait.{kind}",
                                 "start": t0, "end": marks["entry"], "req": req})
                if "walk" in marks:
                    sh.spans.append({"name": f"graph.walk_{kind}", "req": req,
                                     "start": marks["entry"], "end": marks["walk"]})
                if "staged" in marks:
                    sh.spans.append({"name": "remote.write_finish", "req": req,
                                     "start": marks["staged"], "end": t1})
    db.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--socket", required=True)
    ap.add_argument("--info", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--window-file", required=True,
                    help="written with the window's start time when it opens")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--clients", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(args.info) as f:
        sh = Shared(json.load(f))

    rtt = []
    if args.trace:
        # round trip of an empty read transaction on the idle server
        with _connect(args.socket) as db:
            for _ in range(20):
                t0 = time.time()
                db.read(lambda tx: None)
                rtt.append({"name": "remote.rtt", "start": t0, "end": time.time()})

    def open_window():
        sh.start = time.time()
        sh.deadline = sh.start + args.seconds
        # tells the server side when to schedule its checkpoints
        with open(args.window_file + ".tmp", "w") as f:
            f.write(repr(sh.start))
        os.replace(args.window_file + ".tmp", args.window_file)

    barrier = threading.Barrier(args.clients, action=open_window)
    threads = [threading.Thread(target=client, args=(k, args, sh, barrier))
               for k in range(args.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        json.dump({"start": sh.start, "records": sh.records, "acked": sh.acked,
                   "spans": rtt + sh.spans, "hwm_mb": hwm_mb(os.getpid())}, f)


if __name__ == "__main__":
    main()

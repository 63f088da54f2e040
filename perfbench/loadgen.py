"""Load generator for the ingest workloads: a separate single process.

Each connection is one ``GrpcIngestClient`` Streaming RPC running a
closed loop: it sends a batch with ``write_batch`` and sends the next
only after that batch's ``BatchResult`` arrives, as the client API
requires. The loop is paced: a connection sends at most one batch per
``--period``, and a late ack delays its next send. All
batches are built from the seed before the first send.

    python3 perfbench/loadgen.py --seed S --rows R --batches N \
        --connections C --period P --out FILE

It builds the batches first, then reads ``{"port": P}`` from stdin and
starts sending to 127.0.0.1:P. Writes one JSON object to ``--out``:
per-batch due, send and ack times (wall clock), results and keys, the sink
aggregates of the rows whose batch was acknowledged OK, and the CPU
seconds used from the first connection on.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import threading
import time

from bristle_spark.ingest import service as svc
from bristle_spark.ingest import wire
from bristle_spark.ingest.grpc_transport import GrpcIngestClient

import trades


def _cpu_s() -> float:
    usage = resource.getrusage(resource.RUSAGE_SELF)
    return usage.ru_utime + usage.ru_stime


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--batches", type=int, required=True)
    ap.add_argument("--connections", type=int, required=True)
    ap.add_argument("--period", type=float, required=True,
                    help="seconds from one send to the next on a connection, start to "
                         "start; connections are staggered evenly")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    batches = trades.make_batches(args.seed, args.batches, args.rows)
    bodies = [[trades.encode(*t) for t in b] for b in batches]
    keys = [trades.batch_key(wire.join_frames(b)) for b in bodies]
    records: list[dict] = [{} for _ in batches]
    errors: list[str] = []

    port = json.loads(sys.stdin.readline())["port"]
    cpu0 = _cpu_s()
    clients = [GrpcIngestClient("127.0.0.1", port) for _ in range(args.connections)]
    for c in clients:
        c.register_type(trades.MESSAGE)

    t_start = time.time()

    def loop(conn: int) -> None:
        try:
            for j, i in enumerate(range(conn, len(batches), args.connections)):
                due = t_start + (j + conn / args.connections) * args.period
                time.sleep(max(0.0, due - time.time()))
                t_send = time.time()
                result = clients[conn].write_batch(bodies[i], type_name=trades.MESSAGE)
                records[i] = {"conn": conn, "due": due, "send": t_send, "ack": time.time(),
                              "result": result, "key": keys[i], "rows": len(bodies[i])}
        except Exception as exc:  # reported as failed batches, never hidden
            errors.append(f"connection {conn}: {exc!r}")

    threads = [threading.Thread(target=loop, args=(k,)) for k in range(args.connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for c in clients:
        c.close()

    ok_trades = [t for b, r in zip(batches, records) if r.get("result") == svc.OK for t in b]
    out = {
        "batches": records,
        "errors": errors,
        "expected": trades.aggregates(ok_trades),
        "cpu_s": _cpu_s() - cpu0,
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()

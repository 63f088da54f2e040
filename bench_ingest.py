"""Ingest-path throughput: decode (wire codec, Arrow-batched) +
transcode (Catalyst) over synthetic finnhub trades.

The reference's implied design point is ~100k rows/s/table sustained
(MaxBatchSize 100k x 1 Hz flush — BASELINE.md). This measures the
engine's equivalent hot path. Prints one JSON line.

Run: python bench_ingest.py  [N_ROWS]
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000

    from pyspark.sql import types as T

    from bristle_spark.ingest import pipeline, wire
    from bristle_spark.ingest.fixtures import finnhub_binding
    from bristle_spark.session import get_spark

    spark = get_spark(app_name="bristle-spark-bench-ingest")
    binding = finnhub_binding()
    bodies = [
        wire.encode_message(
            [
                (1, "string", f"SYM{i % 100}", False),
                (2, "double", float(i) * 0.01, False),
                (3, "uint64", 1_700_000_000_000 + i, False),
                (4, "double", float(i % 1000), False),
                (5, "string", ["1", "2"], True),
            ]
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        [(binding.message_name, b) for b in bodies],
        schema=T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
        ),
    ).repartition(32).cache()
    df.count()

    best = 0.0
    for _ in range(3):  # first run pays Python-worker startup
        t0 = time.perf_counter()
        assert pipeline.ingest(df, binding).count() == n
        best = max(best, n / (time.perf_counter() - t0))

    # D2 framing path: varint frame split throughput (frames/s), measured
    # on batches of 250 concatenated frames
    per_batch = 250
    framed = wire.join_frames(bodies[:per_batch])
    n_batches = max(1, n // per_batch)
    fdf = spark.createDataFrame(
        [(binding.message_name, framed) for _ in range(n_batches)],
        schema=T.StructType(
            [T.StructField("type", T.StringType()), T.StructField("data", T.BinaryType())]
        ),
    ).repartition(32).cache()
    fdf.count()
    n_frames = n_batches * per_batch
    best_framing = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        assert pipeline.explode_frames(fdf).count() == n_frames
        best_framing = max(best_framing, n_frames / (time.perf_counter() - t0))

    # D1 front door: acked throughput through a live gRPC Streaming RPC
    # (register-type handshake + write batches in h2 DATA frames +
    # per-frame decode validation + durable parquet landing; reference
    # ingest_service.go).
    import os
    import tempfile

    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.grpc_transport import GrpcIngestClient, GrpcIngestService
    from bristle_spark.ingest.server import IngestServer

    acked_rows = min(n, 100_000)
    acked_batch = 1_000
    with tempfile.TemporaryDirectory() as root:
        cfg = {
            "tables": [
                {
                    "name": binding.sink_table,
                    "columns": [
                        {"name": c.name, "type": c.ch_type, "default": c.default}
                        for c in binding.sink_columns
                    ],
                    "messages": [binding.message_name],
                }
            ],
            "messages": {
                binding.message_name: {
                    "fields": [
                        {
                            "number": f.number,
                            "name": f.name,
                            "kind": f.kind,
                            "repeated": f.repeated,
                            "column": f.column,
                            "json_name": f.json_name,
                        }
                        for f in binding.fields
                    ]
                }
            },
        }
        cfg_path = os.path.join(root, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        server = IngestServer(spark, cfg_path, os.path.join(root, "data"))
        with GrpcIngestService(server) as door:
            with GrpcIngestClient("127.0.0.1", door.port) as client:
                tid = client.register_type(binding.message_name)
                t0 = time.perf_counter()
                for off in range(0, acked_rows, acked_batch):
                    r = client.write_batch(bodies[off : off + acked_batch], type_id=tid)
                    assert r == svc.OK
                grpc_rps = acked_rows / (time.perf_counter() - t0)

        # D14/D16 producer path: protojson lines -> wire encode -> live
        # gRPC session with the client batcher (ingest/forwarder.py)
        from bristle_spark.ingest.forwarder import forward_json_lines

        fwd_rows = min(n, 100_000)
        lines = [
            json.dumps(
                {
                    "symbol": f"SYM{i % 100}",
                    "price": i * 0.01,
                    "tradeTime": 1_700_000_000_000 + i,
                    "volume": float(i % 1000),
                    "tradeConditions": ["1", "2"],
                }
            )
            for i in range(fwd_rows)
        ]
        with GrpcIngestService(server) as door:
            t0 = time.perf_counter()
            stats = forward_json_lines(
                lines, "127.0.0.1", door.port, binding, max_buffer=acked_batch
            )
            forwarder_rps = stats.n_sent / (time.perf_counter() - t0)
        assert stats.n_sent == fwd_rows, stats

    print(
        json.dumps(
            {
                "metric": "ingest_decode_transcode_throughput",
                "value": round(best),
                "unit": "rows/s",
                "rows": n,
                "framing_frames_per_s": round(best_framing),
                "grpc_acked_rows_per_s": round(grpc_rps),
                "forwarder_json_rows_per_s": round(forwarder_rps),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

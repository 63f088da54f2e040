"""Streaming ingest end-to-end: file payload stream -> decode ->
transcode -> checkpointed parquet sink, with exactly-once restart
semantics (the durability the reference lacks — SURVEY.md §8.2)."""

from __future__ import annotations

from pyspark.sql import types as T

from bristle_spark.ingest import wire
from bristle_spark.ingest.fixtures import finnhub_binding
from bristle_spark.streaming.ingest_stream import run_stream_ingest

PAYLOAD_SCHEMA = T.StructType(
    [T.StructField("type", T.StringType()), T.StructField("body", T.BinaryType())]
)


def _write_payload_chunks(spark, payload_dir, binding, n_chunks=3, per_chunk=20):
    rows_total = 0
    for c in range(n_chunks):
        bodies = [
            wire.encode_message(
                [
                    (1, "string", f"SYM{c}_{i}", False),
                    (2, "double", float(c * 100 + i), False),
                    (3, "uint64", 1_700_000_000_000 + (c * per_chunk + i) * 1000, False),
                ]
            )
            for i in range(per_chunk)
        ]
        rows_total += len(bodies)
        spark.createDataFrame(
            [(binding.message_name, b) for b in bodies], schema=PAYLOAD_SCHEMA
        ).coalesce(1).write.mode("append").parquet(payload_dir)
    return rows_total


def test_stream_ingest_exactly_once(spark, tmp_path):
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    total = _write_payload_chunks(spark, payload_dir, binding)
    n1 = run_stream_ingest(
        spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time"
    )
    assert n1 >= 1
    out = spark.read.parquet(sink_dir)
    assert out.count() == total
    assert "_day" in out.columns  # day-partitioned sink layout

    # restart with the same checkpoint: nothing new -> no duplicates
    run_stream_ingest(spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time")
    assert spark.read.parquet(sink_dir).count() == total

    # new data arrives -> only the delta lands
    more = _write_payload_chunks(spark, payload_dir, binding, n_chunks=1)
    run_stream_ingest(spark, payload_dir, binding, sink_dir, ckpt, ts_column="trade_time")
    assert spark.read.parquet(sink_dir).count() == total + more


def test_wire_journal_survives_server_restart(spark, tmp_path):
    """The full practical shape of the D1 row (gRPC door -> durable
    journal -> readStream -> sink) across a PROCESS RESTART: batches
    acked by server generation 1 and drained mid-stream must not be
    re-landed by generation 2, and batches acked between the crash and
    the restart drain land exactly once — the checkpoint's file-offset
    log plus the atomically-renamed journal files are the only state
    that survives, exactly like a redeployed ingest node."""
    import json
    import os

    from bristle_spark.ingest import service as svc
    from bristle_spark.ingest.fixtures import (
        encode_example_row,
        example_binding,
        example_descriptor_set,
    )
    from bristle_spark.ingest.grpc_transport import (
        GrpcIngestClient,
        GrpcIngestService,
    )
    from bristle_spark.ingest.server import IngestServer

    (tmp_path / "example.pb").write_bytes(example_descriptor_set())
    cfg = {
        "autobind": True,
        "proto_descriptor_paths": ["example.pb"],
        "tables": [
            {
                "name": "default.example_table",
                "columns": [
                    {"name": c.name, "type": c.ch_type, "default": c.default}
                    for c in example_binding().sink_columns
                ],
                "ts_column": "timestamp",
            }
        ],
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    data_root = str(tmp_path / "data")
    sink = os.path.join(data_root, "sink", "default__example_table")

    def rows(tag: str, n: int) -> list[bytes]:
        return [
            encode_example_row(
                name=f"{tag}_{i}", type_code=1, ts=(1_700_000_000 + i, 0), value=i
            )
            for i in range(n)
        ]

    # --- generation 1: ack two batches, drain ONE pump, then "crash"
    gen1 = IngestServer(spark, str(cfg_path), data_root)
    with GrpcIngestService(gen1) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.write_batch(rows("a", 4), type_name="ExampleMessage") == svc.OK
            gen1.pump()  # mid-stream drain: checkpoint now covers batch a
            assert client.write_batch(rows("b", 3), type_name="ExampleMessage") == svc.OK
            # crash here: batch b is journaled + acked but NOT drained
    del gen1

    # --- generation 2: fresh server object over the same durable state
    gen2 = IngestServer(spark, str(cfg_path), data_root)
    with GrpcIngestService(gen2) as service:
        with GrpcIngestClient("127.0.0.1", service.port) as client:
            assert client.write_batch(rows("c", 2), type_name="ExampleMessage") == svc.OK
    gen2.pump()

    out = spark.read.parquet(sink)
    names = sorted(r["name"] for r in out.collect())
    assert names == sorted(
        [f"a_{i}" for i in range(4)]
        + [f"b_{i}" for i in range(3)]
        + [f"c_{i}" for i in range(2)]
    )
    # idempotence: another restart + pump adds nothing
    gen3 = IngestServer(spark, str(cfg_path), data_root)
    gen3.pump()
    assert spark.read.parquet(sink).count() == 9


def test_stream_ingest_schema_matches_batch(spark, tmp_path):
    binding = finnhub_binding()
    payload_dir = str(tmp_path / "payloads")
    _write_payload_chunks(spark, payload_dir, binding, n_chunks=1, per_chunk=5)
    run_stream_ingest(
        spark, payload_dir, binding, str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    out = spark.read.parquet(str(tmp_path / "sink"))
    expected = [c.name for c in sorted(binding.sink_columns, key=lambda c: c.position)]
    assert out.columns == expected

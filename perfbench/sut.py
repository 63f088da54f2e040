"""The system under test, one fresh process per run.

``--kind ingest`` serves ``GrpcIngestService`` on loopback in front of
an ``IngestServer`` bound to the finnhub table of ``examples/config.json``
with a day-partitioned sink, and drains it with ``IngestServer.pump()``
once a second, start to start, until every batch the generator had
acknowledged is in the sink. ``--kind query`` runs the declared-query
mix over seeded fixture tables.

The process talks to ``run.py`` in JSON lines: events on stdout, and
for ingest one ``{"load_done": <last ack time>}`` line on stdin. Its
last stdout line is the result. Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import threading
import time

import procstat
from checks import WARMUP_SYMBOL
from spans import Tracer, percentile, union_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PUMP_INTERVAL_S = 1.0  # the reference's 1 Hz FlushInterval; `serve --pump-interval 1`
# Warm-up batches, of the workload's batch size, sent and drained in
# set-up: the drain's first micro-batches run while the JVM is still
# JIT-compiling them, which a long-running server pays once
WARMUP_BATCHES = 6
WARMUP_SEED = 0

# The query mix: five keys of SHARED38 (bench.py, the cross-round
# comparable set), one per kind of relational work, plus one key per
# kind of kernel that crosses the Python boundary. A run must finish a
# warm-up pass and three timed passes (a key's time and CPU time are
# medians over them) within the benchmark's time budget, which the full
# SHARED38 does not fit. l_dedup_clusters is never chosen: it reads the
# applicationId-keyed _PROP_CACHE memo, so it would time another key's
# work.
CATALYST_KEYS = [
    "r_hash_agg",                            # hash aggregation
    "r_join_multi",                          # shuffle joins, several ways
    "r_asof_join",                           # non-equi join
    "r_window_rank",                         # sort-based window
    "l_text_stats",                          # string functions over documents
]
PYTHON_KEYS = [
    "m_png_pixel_stats",                     # image decode
    "m_wav_audio_features",                  # audio decode
    "l_retrieval_mrr",                       # vector scoring
]
# nominal seconds a timed pass takes (5-7 s on 4 idle cores): the run
# makes max(MIN_PASSES, round(--seconds / PASS_S)) passes, as many on a
# slow host as on a fast one, so a median over passes is always taken
# over the same number of them
MIN_PASSES = 3
PASS_S = 7.5


def emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(app: str):
    from bristle_spark.session import get_spark

    return get_spark(app_name=app, cpus=nproc())


def query_keys() -> list[str]:
    return CATALYST_KEYS + PYTHON_KEYS


# ---------------------------------------------------------------- ingest


def write_config(path: str) -> str:
    """The finnhub table and message of examples/config.json, with the
    sink partitioned by day on trade_time."""
    with open(os.path.join(ROOT, "examples", "config.json")) as fh:
        cfg = json.load(fh)
    table = next(t for t in cfg["tables"] if t["name"] == "finnhub.trades")
    table["ts_column"] = "trade_time"
    cfg = {
        "tables": [table],
        "messages": {m: cfg["messages"][m] for m in table["messages"]},
    }
    with open(path, "w") as fh:
        json.dump(cfg, fh)
    return path


def warm_up(port: int, server, rows: int) -> None:
    """WARMUP_BATCHES batches of seeded trades, all under the warm-up
    symbol, through the front door and one drain cycle, so the Python
    workers, the stream and the sink writer are live and the JVM has
    compiled the drain's code."""
    import trades
    from bristle_spark.ingest.grpc_transport import GrpcIngestClient

    with GrpcIngestClient("127.0.0.1", port) as client:
        client.register_type(trades.MESSAGE)
        for batch in trades.make_batches(WARMUP_SEED, WARMUP_BATCHES, rows):
            bodies = [trades.encode(WARMUP_SYMBOL, *t[1:]) for t in batch]
            if client.write_batch(bodies, type_name=trades.MESSAGE) != 0:
                raise RuntimeError("warm-up batch was not acknowledged OK")
    server.pump()


class ProgressLog:
    """Collects streaming progress events (a StreamingQueryListener)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.events.append({
                    "batch": p.batchId, "timestamp": p.timestamp,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events: list[dict] = []
        self.listener = Listener()


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def sink_aggregates(spark, sink_dir: str) -> dict:
    from pyspark.sql import functions as F

    df = spark.read.parquet(sink_dir)
    rows = df.groupBy("symbol").agg(
        F.count("*").alias("n"), F.sum("price").alias("p"),
        F.sum("volume").alias("v"), F.sum(F.size("trade_conditions")).alias("c"),
    ).collect()
    days = [r["_day"].isoformat() for r in df.select("_day").distinct().collect()]
    return {
        "rows": sum(r["n"] for r in rows),
        "per_symbol": {r["symbol"]: [r["n"], r["p"], r["v"]] for r in rows},
        "conditions": sum(r["c"] for r in rows if r["symbol"] != WARMUP_SYMBOL),
        "days": sorted(days),
    }


def batches_not_ok() -> int:
    from bristle_spark.ingest import metrics

    return int(sum(v for labels, v in metrics.BATCHES.samples() if labels[1] != "OK"))


def instrument_front_door(tracer: Tracer) -> None:
    import trades
    from bristle_spark.ingest import h2, hpack, wire
    from bristle_spark.ingest import service as svc

    tracer.wrap(svc, "process_batch", "process_batch",
                key_of=lambda server, type_ids, batch, *a: trades.batch_key(batch["data"]))
    tracer.wrap(svc, "land_payload", "land_payload",
                key_of=lambda server, binding, type_name, bodies:
                trades.batch_key(wire.join_frames(bodies)))
    tracer.wrap(wire, "decode_message", "wire.decode_message")
    tracer.wrap(h2.H2Connection, "receive_data", "h2.receive_data")
    tracer.wrap(hpack.Decoder, "decode", "hpack.decode")


def instrument_decode(spark):
    """Time the function ``pipeline.decode`` hands to ``mapInPandas``,
    inside the Python workers, into an accumulator. The SQL metric
    "time to run Python workers" cannot serve here: the drain writes
    each micro-batch through ``foreachBatch``, whose write plan does not
    hold the decode node, so the status store drops its metric values."""
    from bristle_spark.ingest import pipeline

    acc = spark.sparkContext.accumulator(0.0)
    decode = pipeline.decode

    def timed(func):
        def run(batches):
            it, busy = iter(func(batches)), 0.0
            try:
                while True:
                    t = time.perf_counter()
                    try:
                        out = next(it)
                    except StopIteration:
                        return
                    finally:
                        busy += time.perf_counter() - t
                    yield out
            finally:
                acc.add(busy)
        return run

    def timed_decode(payloads, *args, **kwargs):
        cls = type(payloads)  # the concrete DataFrame class of this session
        map_in_pandas = cls.mapInPandas
        cls.mapInPandas = lambda df, func, *a, **k: map_in_pandas(df, timed(func), *a, **k)
        try:
            return decode(payloads, *args, **kwargs)
        finally:
            cls.mapInPandas = map_in_pandas

    pipeline.decode = timed_decode
    return acc


def payload_files(payload_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(payload_dir) if f.endswith(".parquet"))


def file_keys(payload_dir: str, names: list[str]) -> dict[str, str]:
    """Landed payload file name -> the key of the batch it holds."""
    import pyarrow.parquet as pq

    import trades
    from bristle_spark.ingest import wire

    out = {}
    for name in names:
        bodies = pq.read_table(os.path.join(payload_dir, name)).column("body").to_pylist()
        out[name] = trades.batch_key(wire.join_frames(bodies))
    return out


def microbatch_files(checkpoint_dir: str) -> dict[int, list[str]]:
    """Micro-batch id -> names of the payload files it read, from the
    file source's log in the checkpoint."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[int, set[str]] = {}
    for entry in os.listdir(log_dir):  # "N" and "N.compact" logs overlap
        if not entry.split(".")[0].isdigit():
            continue  # hidden .crc checksum files
        with open(os.path.join(log_dir, entry)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out.setdefault(rec["batchId"], set()).add(os.path.basename(rec["path"]))
    return {b: sorted(names) for b, names in out.items()}


def spark_job_totals(spark, since_s: float, until_s: float) -> dict:
    """Jobs submitted in [since_s, until_s] and their stages, from the
    application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = {"jobs": 0, "tasks": 0, "stages": 0, "executor_run_s": 0.0,
           "output_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0, "scan_bytes": 0, "intervals": []}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        sub = job.submissionTime()
        if not sub.isDefined():
            continue
        t_sub = sub.get().getTime() / 1000.0
        if not since_s <= t_sub <= until_s:
            continue
        done = job.completionTime()
        t_end = done.get().getTime() / 1000.0 if done.isDefined() else until_s
        out["jobs"] += 1
        out["tasks"] += job.numTasks()
        out["intervals"].append((t_sub, t_end))
        stage_ids = job.stageIds()
        for j in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(j))
            except Exception:  # stage skipped or evicted from the store
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["output_bytes"] += st.outputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["scan_bytes"] += st.inputBytes()
    return out


_DURATION_S = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def python_run_s(spark, since_s: float, until_s: float) -> float:
    """Sum of the "time to run Python workers" SQL metric over the plan
    nodes of the SQL executions submitted in [since_s, until_s], from
    the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    total = 0.0
    for i in range(execs.size()):
        ex = execs.apply(i)
        if not since_s <= ex.submissionTime() / 1000.0 <= until_s:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for j in range(nodes.size()):
            metrics = nodes.apply(j).metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "time to run Python workers" and v.isDefined():
                    # "total (min, med, max (stageId: taskId))\n4.6 s (2.2 s, ...)"
                    amount, unit = v.get().split("\n")[-1].split()[:2]
                    total += float(amount) * _DURATION_S[unit]
    return total


def run_ingest(args, tracer: Tracer | None) -> dict:
    from bristle_spark.ingest.grpc_transport import GrpcIngestService
    from bristle_spark.ingest.server import IngestServer

    cfg_path = write_config(os.path.join(args.run_dir, "config.json"))
    # set-up runs from process start: interpreter, JVM and SparkSession,
    # the IngestServer and its GrpcIngestService, the warm-up batches and their drain
    spark = start_spark("perfbench-ingest")
    phases = {"spark_ready": time.time() - args.t0}
    server = IngestServer(spark, cfg_path, os.path.join(args.run_dir, "data"))
    service = GrpcIngestService(server).start()
    warm_up(service.port, server, args.rows)
    setup_s = time.time() - args.t0
    phases["warmed_up"] = setup_s
    writer = server.writer_group.writers[0]
    warm_files = set(payload_files(writer.payload_dir))
    progress = decode_acc = None
    if tracer is not None:
        progress = ProgressLog()
        spark.streams.addListener(progress.listener)
        instrument_front_door(tracer)
        decode_acc = instrument_decode(spark)

    load_done = threading.Event()
    last_ack: list[float] = []

    def read_stdin() -> None:
        for line in sys.stdin:
            msg = json.loads(line)
            if "load_done" in msg:
                last_ack.append(msg["load_done"])
                load_done.set()

    threading.Thread(target=read_stdin, daemon=True).start()
    cpu0 = procstat.cpu_by_role(os.getpid())
    t_measure = time.time()
    emit({"event": "ready", "port": service.port, "setup_s": setup_s, "t": t_measure})
    pumps = []
    while True:
        s = time.time()
        n = sum(server.pump().values())
        e = time.time()
        pumps.append((s, e, n))
        if load_done.is_set() and s >= last_ack[0]:
            break  # this cycle started after the last ack, so it drained it
        time.sleep(max(0.0, s + PUMP_INTERVAL_S - time.time()))
    t_end = time.time()
    cpu1 = procstat.cpu_by_role(os.getpid())
    emit({"event": "measured", "t": t_end})
    service.stop()

    result = {
        "setup_s": setup_s,
        "setup_phases": phases,
        "pumps": pumps,
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        "sink": sink_aggregates(spark, writer.sink_dir),
        "warmup_rows": WARMUP_BATCHES * args.rows,
        "batches_not_ok": batches_not_ok(),
    }
    if tracer is not None:
        result["layers"] = ingest_layers(spark, tracer, progress, decode_acc, writer,
                                         warm_files, pumps, t_measure, t_end)
    return result, spark


def ingest_layers(spark, tracer, progress, decode_acc, writer, warm_files, pumps,
                  t0, t1) -> dict:
    for s, e, _n in pumps:
        tracer.span("pump", s, e)
    last = max(microbatch_files(writer.checkpoint_dir))
    deadline = time.time() + 10
    while time.time() < deadline and max((e["batch"] for e in progress.events), default=-1) < last:
        time.sleep(0.1)  # progress events arrive through the asynchronous listener bus
    files = microbatch_files(writer.checkpoint_dir)
    landed = [f for f in payload_files(writer.payload_dir) if f not in warm_files]
    keys = file_keys(writer.payload_dir, landed)
    pump_spans = [i for i, s in enumerate(tracer.spans) if s[0] == "pump"]
    events = [e for e in progress.events if e["rows"] > 0]
    for ev in events:
        start = _iso_to_epoch(ev["timestamp"])
        end = start + ev["ms"].get("triggerExecution", 0) / 1000.0
        parent = next((i for i in pump_spans
                       if tracer.spans[i][1] <= start + 0.001 and end <= tracer.spans[i][2] + 0.01),
                      None)
        batch_keys = [keys[f] for f in files.get(ev["batch"], []) if f in keys]
        tracer.span("microbatch", start, end, parent, ",".join(batch_keys) or None)
    trig = [e["ms"].get("triggerExecution", 0) / 1000.0 for e in events]
    add = [e["ms"].get("addBatch", 0) / 1000.0 for e in events]
    pump_s = [e - s for s, e, _ in pumps]
    jobs = spark_job_totals(spark, t0, t1)
    sink_files = [os.path.join(d, f) for d, _, fs in os.walk(writer.sink_dir)
                  for f in fs if f.endswith(".parquet")]
    pb = tracer.durations["process_batch"]
    return {
        "service.process_batch.calls": tracer.calls["process_batch"],
        "service.process_batch.ms_p50": percentile(pb, 0.5) * 1000,
        "service.process_batch.busy_s": tracer.busy["process_batch"],
        "wire.decode_message.calls": tracer.calls["wire.decode_message"],
        "wire.decode_message.busy_s": tracer.busy["wire.decode_message"],
        "service.land_payload.busy_s": tracer.busy["land_payload"],
        "service.land_payload.files": len(landed),
        "service.land_payload.bytes": sum(
            os.path.getsize(os.path.join(writer.payload_dir, f)) for f in landed),
        "h2.receive_data.busy_s": tracer.busy["h2.receive_data"],
        "hpack.decode.busy_s": tracer.busy["hpack.decode"],
        "metrics.batches_not_ok": batches_not_ok(),
        "server.pump.calls": len(pumps),
        "server.pump.busy_s": sum(pump_s),
        "server.pump.ms_p50": percentile(pump_s, 0.5) * 1000,
        "server.pump.startup_s": sum(pump_s) - sum(trig),
        "ingest_stream.microbatches": len(events),
        "ingest_stream.rows_per_microbatch":
            statistics.fmean([e["rows"] for e in events]) if events else 0.0,
        "ingest_stream.trigger_ms_p50": percentile(trig, 0.5) * 1000,
        "ingest_stream.add_batch_s": sum(add),
        "ingest_stream.planning_s": sum(e["ms"].get("queryPlanning", 0) for e in events) / 1000,
        "ingest_stream.offsets_s": sum(
            e["ms"].get(k, 0) for e in events
            for k in ("latestOffset", "getBatch", "walCommit", "commitOffsets")) / 1000,
        "ingest_stream.overhead_frac": 1 - sum(add) / sum(trig) if sum(trig) else 0.0,
        "pipeline.decode.python_s": decode_acc.value,
        "spark.jobs": jobs["jobs"],
        "spark.tasks": jobs["tasks"],
        "spark.executor_run_s": jobs["executor_run_s"],
        "spark.output_bytes": jobs["output_bytes"],
        "spark.output_files": len(sink_files),
        "spark.stages": jobs["stages"],
        "spark.shuffle_write_bytes": jobs["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": jobs["shuffle_read_bytes"],
        "spark.spill_bytes": jobs["spill_bytes"],
        "spark.scan_bytes": jobs["scan_bytes"],
        "spark.driver_idle_s": (t1 - t0) - union_s(jobs["intervals"]),
    }


# ----------------------------------------------------------------- query


class PlanningLog:
    """Sums the planning phases of every query execution
    (a QueryExecutionListener implemented over py4j)."""

    def __init__(self) -> None:
        self.seconds = 0.0

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            phase = phases.get(name)
            if phase.isDefined():
                self.seconds += phase.get().durationMs() / 1000.0

    def onFailure(self, func_name, qe, exception):
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def run_query(args, tracer: Tracer | None) -> dict:
    from checks import canon_frame
    from bristle_spark.registry import all_specs

    spark = start_spark("perfbench-query")
    phases = {"spark_ready": time.time() - args.t0}
    tables_dir = args.tables_dir
    specs = all_specs()
    keys = query_keys()
    random.Random(args.seed).shuffle(keys)
    canon = canon_frame()
    results_dir = os.path.join(args.run_dir, "results")
    os.makedirs(results_dir)
    errors: dict[str, str] = {}

    def run_key(name: str) -> None:
        specs[name].fn(spark, tables_dir).write.format("noop").mode("overwrite").save()

    # warm-up pass, timed into setup: each key runs once and its result
    # is collected; turning the result into the canonical form the
    # oracle check compares is not timed
    check_s = 0.0
    for name in keys:
        try:
            pdf = specs[name].fn(spark, tables_dir).toPandas()
            t = time.time()
            cols, rows = canon(pdf)
            with open(os.path.join(results_dir, f"{name}.json"), "w") as fh:
                json.dump({"columns": cols, "rows": rows}, fh)
            check_s += time.time() - t
        except Exception as exc:
            errors[name] = repr(exc)[:500]
        spark.catalog.clearCache()
    setup_s = time.time() - args.t0 - check_s
    phases.update({"warmed_up": setup_s, "check_s": check_s})

    planning = None
    if tracer is not None:
        from pyspark.java_gateway import ensure_callback_server_started

        planning = PlanningLog()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(planning)

    cpu0 = procstat.cpu_by_role(os.getpid())
    t_measure = time.time()
    emit({"event": "ready", "setup_s": setup_s, "t": t_measure})
    passes: list[dict[str, float]] = []
    pass_cpu: list[dict[str, float]] = []
    layers = {"queries.fn_s": 0.0, "queries.write_s": 0.0,
              "spark.planning_s": 0.0, "spark.driver_idle_s": 0.0}
    job_sums: dict[str, float] = {}
    for _ in range(max(MIN_PASSES, round(args.seconds / PASS_S))):
        times: dict[str, float] = {}
        cpu: dict[str, float] = {}
        for name in keys:
            if name in errors:
                continue
            cpu0_key = procstat.tree_cpu_s(os.getpid())
            if tracer is None:
                t = time.perf_counter()
                try:
                    run_key(name)
                except Exception as exc:
                    errors[name] = repr(exc)[:500]
                times[name] = time.perf_counter() - t
            else:
                times[name] = traced_key(spark, specs[name], tables_dir, tracer,
                                         layers, job_sums, name, errors)
            cpu[name] = procstat.tree_cpu_s(os.getpid()) - cpu0_key
            spark.catalog.clearCache()
        passes.append(times)
        pass_cpu.append(cpu)
    t_end = time.time()
    cpu1 = procstat.cpu_by_role(os.getpid())
    emit({"event": "measured", "t": t_end})
    key_s, key_cpu_s = ({k: statistics.median([p[k] for p in samples if k in p])
                         for k in keys if any(k in p for p in samples)}
                        for samples in (passes, pass_cpu))
    result = {
        "setup_s": setup_s,
        "setup_phases": phases,
        "key_s": key_s,
        "passes": len(passes),
        "key_cpu_s": key_cpu_s,
        "python_keys": PYTHON_KEYS,
        "errors": errors,
        "results_dir": results_dir,
        "tables_dir": tables_dir,
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
    }
    if tracer is not None:
        n = len(passes)
        layers["spark.planning_s"] = planning.seconds
        layers["queries.python_udf_s"] = python_run_s(spark, t_measure, t_end)
        layers.update({f"spark.{k}": v for k, v in job_sums.items()})
        result["layers"] = {k: v / n for k, v in layers.items()}
    return result, spark


def traced_key(spark, spec, tables_dir, tracer, layers, job_sums, name, errors) -> float:
    """One key with spans for the key, its query function, its write and
    the Spark jobs they ran; adds its layer counters into ``layers``."""
    t0 = time.time()
    key_span = tracer.span("key", t0, t0, None, name)
    try:
        df = spec.fn(spark, tables_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:
        errors[name] = repr(exc)[:500]
        t1 = time.time()
    t2 = time.time()
    fn_span = tracer.span("query_fn", t0, t1, key_span, name)
    write_span = tracer.span("query_write", t1, t2, key_span, name)
    tracer.spans[key_span] = ("key", t0, t2, None, name)
    jobs = spark_job_totals(spark, t0, t2)
    intervals = jobs.pop("intervals")
    for s, e in intervals:
        tracer.span("spark_job", s, e, fn_span if s < t1 else write_span, name)
    for k in ("stages", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "scan_bytes", "output_bytes", "jobs", "tasks", "executor_run_s"):
        job_sums[k] = job_sums.get(k, 0) + jobs[k]
    layers["queries.fn_s"] += t1 - t0
    layers["queries.write_s"] += t2 - t1
    layers["spark.driver_idle_s"] += (t2 - t0) - union_s(
        [(max(s, t0), min(e, t2)) for s, e in intervals])
    return t2 - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=["ingest", "query"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time the process was spawned")
    ap.add_argument("--rows", type=int, help="rows per ingest batch")
    ap.add_argument("--tables-dir", help="the query tables, written before the process started")
    args = ap.parse_args()
    tracer = Tracer() if args.trace else None
    run = run_ingest if args.kind == "ingest" else run_query
    result, spark = run(args, tracer)
    if tracer is not None:
        result["spans"] = [
            {"layer": s[0], "start": s[1], "end": s[2], "parent": s[3], "key": s[4]}
            for s in tracer.spans
        ]
    emit({"event": "result", **result})
    spark.stop()


if __name__ == "__main__":
    main()

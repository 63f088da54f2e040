"""Benchmark driver: runs one workload against the real system and prints
its metrics as the last line of stdout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run is a fresh system-under-test
process (``sut.py``) with its own Spark application, data root,
checkpoints and ``TMPDIR`` under ``.perfbench/runs/``; the ingest
workloads add a separate load-generator process (``loadgen.py``).
Outputs are checked outside the timed region. Metric names and units
come from ``BENCHMARK.json``; ``--trace 0`` prints its ``end_to_end``
metrics and ``--trace 1`` its ``per_layer`` metrics. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procstat
import tables
from spans import percentile, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 165  # a run, checks included, must end within 180 s

WORKLOADS = {
    "ingest_large_batches": {"kind": "ingest", "rows": 5000, "connections": 2, "period": 3.0},
    "ingest_small_batches": {"kind": "ingest", "rows": 200, "connections": 2, "period": 2.0},
    "query_mix": {"kind": "query", "sf": 0.01},
}
# ingest cpu_s is the CPU time of the system under test per this many
# acknowledged rows; query_mix cpu_s is the sum over keys of each key's
# median CPU time over the passes
CPU_ROWS = 100_000
SMOKE = {"ingest": {"rows": 50, "batches": 4, "period": 0.5}, "query": {"sf": 0.001}}
# per-layer metric name prefixes of the layers each kind of workload
# does not run; they are reported as 0
UNUSED_LAYERS = {
    "ingest": ("queries.", "spark.planning_s", "self_s.key", "self_s.query_fn",
               "self_s.query_write", "self_s.spark_job"),
    "query": ("service.", "wire.", "h2.", "hpack.", "grpc_transport.", "metrics.", "server.",
              "ingest_stream.", "pipeline.", "spark.output_files", "cpu.generator_s",
              "self_s.rpc", "self_s.process_batch", "self_s.land_payload", "self_s.pump",
              "self_s.microbatch"),
}


class RunError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_id() -> dict:
    """The git commit when the checkout is a repository, and always a
    digest of the program's sources."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "bristle_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the process group ``proc`` leads (the JVM and Python workers
    included) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RunError(f"processes of group {proc.pid} did not end")


class Sut:
    """The system-under-test process and its JSON-lines event stream."""

    def __init__(self, cmd: list[str], env: dict, run_dir: str) -> None:
        self.log_path = os.path.join(run_dir, "sut.log")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(self.log_path, "w"), cwd=run_dir, env=env, text=True,
            start_new_session=True,
        )
        self.deadline = time.time() + DEADLINE_S
        # a stalled process must not block readline past the deadline:
        # killing its group closes stdout, so next_event() raises
        self._timer = threading.Timer(DEADLINE_S, self._expire)
        self._timer.daemon = True
        self._timer.start()

    def _expire(self) -> None:
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(self) -> None:
        self._timer.cancel()
        stop_group(self.proc)

    def next_event(self, name: str) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                if time.time() >= self.deadline:
                    raise RunError(f"timed out after {DEADLINE_S} s waiting for '{name}'")
                raise RunError(f"system under test exited before '{name}'; "
                               f"see {self.log_path}: {self._tail()}")
            if line.startswith("{"):
                event = json.loads(line)
                if event.get("event") == name:
                    return event

    def send(self, obj: dict) -> None:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()

    def _tail(self) -> str:
        with open(self.log_path, errors="replace") as fh:
            lines = [ln.strip() for ln in fh if ln.strip() and not ln.startswith("\tat ")]
        return " | ".join(lines[-3:])


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak_mb = pid, 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.1):
            self.peak_mb = max(self.peak_mb, procstat.tree_rss_mb(self.pid))


def run_workload(name: str, args, run_dir: str) -> dict:
    wl = dict(WORKLOADS[name])
    if wl["kind"] == "ingest" and "batches" not in wl:
        # the paced load sends for --seconds: one batch per connection per period
        wl["batches"] = max(1, round(args.seconds * wl["connections"] / wl["period"]))
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + HERE,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "BRISTLE_DRIVER_MEM": "2g",
        # every JVM (the launcher and the driver) keeps its temp files,
        # Spark scratch dirs and native libraries included, in the run
        # directory, and writes no perf counters to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tables_dir = os.path.join(run_dir, "tables")
    if wl["kind"] == "query":
        # inputs, not the program's work: written before set-up is timed
        tables.write_tables(tables_dir, wl["sf"])
    probe_before = procstat.probe_ms()
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "sut.py"), "--kind", wl["kind"],
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--t0", repr(t0), "--tables-dir", tables_dir,
           "--rows", str(wl.get("rows", 0))]
    sut = Sut(cmd, env, run_dir)
    sampler = RssSampler(sut.proc.pid)
    loadgen, gen = None, None
    try:
        if wl["kind"] == "ingest":
            # started beside the server so it builds its batches during set-up
            gen_out = os.path.join(run_dir, "loadgen.json")
            loadgen = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "loadgen.py"),
                 "--seed", str(args.seed), "--rows", str(wl["rows"]),
                 "--batches", str(wl["batches"]), "--connections", str(wl["connections"]),
                 "--period", str(wl["period"]),
                 "--out", gen_out],
                stdin=subprocess.PIPE, env=env, cwd=run_dir, text=True,
                start_new_session=True,
            )
        ready = sut.next_event("ready")
        log(f"ready after {time.time() - t0:.1f} s (setup {ready['setup_s']})")
        host0, own0 = procstat.host_cpu(), _own_cpu_s()
        sampler.start()
        if loadgen is not None:
            loadgen.stdin.write(json.dumps({"port": ready["port"]}) + "\n")
            loadgen.stdin.close()
            loadgen.wait(timeout=max(1.0, sut.deadline - time.time()))
            stop_group(loadgen)
            if loadgen.returncode != 0 or not os.path.exists(gen_out):
                raise RunError(f"load generator failed with code {loadgen.returncode}")
            with open(gen_out) as fh:
                gen = json.load(fh)
            acks = [b["ack"] for b in gen["batches"] if b]
            sut.send({"load_done": max(acks) if acks else time.time()})
        sut.next_event("measured")
        sampler.stop.set()
        log(f"measured region ended after {time.time() - t0:.1f} s")
        host1, own1 = procstat.host_cpu(), _own_cpu_s()
        result = sut.next_event("result")
    finally:
        sampler.stop.set()
        if loadgen is not None:
            stop_group(loadgen)
        sut.stop()
    own = sum(result["cpu"].values()) + (gen["cpu_s"] if gen else 0.0) + own1 - own0
    host = procstat.host_noise(host0, host1, own)
    host["probe_ms"] = [probe_before, procstat.probe_ms()]
    return {
        "workload": name, "plan": wl, "result": result, "gen": gen,
        "peak_rss_mb": sampler.peak_mb,
        "host": host,
    }


def _own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


# ------------------------------------------------------------ reduction


def ingest_metrics(run: dict) -> tuple[dict, dict, int, int, list[str]]:
    """End-to-end figures, ISSUE-named details, attempted, failed, failures."""
    from checks import check_ingest

    res, gen = run["result"], run["gen"]
    wl = run["plan"]
    sent = [b for b in gen["batches"] if b]
    ack_ms = [(b["ack"] - b["send"]) * 1000 for b in sent]
    pumps = res["pumps"]
    first_send = min(b["send"] for b in sent)
    done = pumps[-1][1]
    fresh, visible = [], []
    for b in sent:
        # the first pump that started after the ack drains the batch:
        # availableNow takes every file visible when the pump starts
        p = next(p for p in pumps if p[0] >= b["ack"])
        fresh.append(p[1] - b["ack"])
        visible.append(p[1] - b["send"])
    failures = list(gen["errors"])
    not_ok = sum(1 for b in sent if b["result"] != 0)
    failures += [f"{not_ok} batches acknowledged non-OK"] if not_ok else []
    failures += [f"{wl['batches'] - len(sent)} batches never acknowledged"] \
        if len(sent) < wl["batches"] else []
    output = check_ingest(gen["expected"], res["sink"], res["warmup_rows"])
    failures += output
    attempted = wl["batches"]
    failed = attempted if output else min(attempted, not_ok + wl["batches"] - len(sent))
    e2e = {"cpu_s": sum(res["cpu"].values()) * CPU_ROWS / max(1, gen["expected"]["rows"])}
    detail = {
        "ingest_rows_per_s": (gen["expected"]["rows"] / (done - first_send), "rows/s"),
        "ack_p50_ms": (percentile(ack_ms, 0.5), "ms"),
        "ack_p75_ms": (percentile(ack_ms, 0.75), "ms"),
        "ack_p90_ms": (percentile(ack_ms, 0.9), "ms"),
        "freshness_p50_s": (percentile(fresh, 0.5), "s"),
        "freshness_p90_s": (percentile(fresh, 0.9), "s"),
        "visible_p50_s": (percentile(visible, 0.5), "s"),
        "send_lag_p90_ms": (percentile([(b["send"] - b["due"]) * 1000 for b in sent], 0.9), "ms"),
        "batches": (len(sent), "count"),
        "rows_acked": (gen["expected"]["rows"], "count"),
    }
    return e2e, detail, attempted, failed, failures


def query_metrics(run: dict) -> tuple[dict, dict, int, int, list[str]]:
    from checks import check_keys

    res = run["result"]
    failures = [f"{k}: {e}" for k, e in res["errors"].items()]
    checked = [k for k in res["key_s"] if k not in res["errors"]]
    mismatched = check_keys(checked, res["results_dir"], res["tables_dir"])
    failures += [m for msgs in mismatched.values() for m in msgs]
    bad = set(res["errors"]) | set(mismatched)
    key_s = {k: v for k, v in res["key_s"].items() if k not in res["errors"]}
    attempted = len(key_s) + len(res["errors"])
    suite = sum(key_s.values())
    python = sum(v for k, v in key_s.items() if k in res["python_keys"])
    e2e = {"cpu_s": sum(v for k, v in res["key_cpu_s"].items() if k in key_s)}
    detail = {
        "suite_s": (suite, "s"),
        "suite_python_s": (python, "s"),
        "suite_catalyst_s": (suite - python, "s"),
        "key_geomean_ms": (statistics.geometric_mean(key_s.values()) * 1000, "ms"),
        "key_p50_ms": (percentile(list(key_s.values()), 0.5) * 1000, "ms"),
        "key_p75_ms": (percentile(list(key_s.values()), 0.75) * 1000, "ms"),
        "keys": (len(key_s), "count"),
        "passes": (res["passes"], "count"),
    }
    return e2e, detail, attempted, len(bad), failures


def layer_metrics(run: dict, spans: list[dict]) -> dict:
    res, gen = run["result"], run["gen"]
    layers = dict(res.get("layers", {}))
    cpu = res["cpu"]
    layers.update({
        "cpu.driver_python_s": cpu["driver_python"],
        "cpu.jvm_s": cpu["jvm"],
        "cpu.python_workers_s": cpu["python_workers"],
    })
    if gen is not None:
        layers["cpu.generator_s"] = gen["cpu_s"]
        pb = {s["key"]: s["end"] - s["start"] for s in spans if s["layer"] == "process_batch"}
        over = [(b["ack"] - b["send"]) - pb[b["key"]] for b in gen["batches"]
                if b and b["key"] in pb]
        layers["grpc_transport.rpc_overhead_ms_p50"] = percentile(over, 0.5) * 1000
    for layer, s in self_times(spans).items():
        layers[f"self_s.{layer}"] = s
    return layers


def merged_spans(run: dict) -> list[dict]:
    """Server spans plus one ``rpc`` span per generator batch; a
    ``process_batch`` span's parent is the RPC that carried its batch."""
    spans = list(run["result"].get("spans", []))
    if run["gen"] is None:
        return spans
    offset = len(spans)
    rpc_index = {}
    for b in run["gen"]["batches"]:
        if b:
            rpc_index[b["key"]] = len(spans)
            spans.append({"layer": "rpc", "start": b["send"], "end": b["ack"],
                          "parent": None, "key": b["key"]})
    for s in spans[:offset]:
        if s["layer"] == "process_batch" and s["parent"] is None:
            s["parent"] = rpc_index.get(s["key"])
    return spans


def run_one(name: str, args, declared: dict) -> int:
    """Run workload ``name`` once; print its detail line and its result
    line. Returns the exit code."""
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        run = run_workload(name, args, run_dir)
        if args.keep:
            write_json(os.path.join(run_dir, "run.json"), run)
            log(f"kept run directory {run_dir}")
        kind = WORKLOADS[name]["kind"]
        e2e, detail, attempted, failed, failures = (
            ingest_metrics(run) if kind == "ingest" else query_metrics(run))
    except (RunError, subprocess.TimeoutExpired) as exc:
        log(f"run failed: {exc}")
        return 1
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    e2e["setup_s"] = run["result"]["setup_s"]
    detail["peak_rss_mb"] = (run["peak_rss_mb"], "MB")
    for msg in failures:
        log(f"CHECK FAILED: {msg}")

    record = {
        "workload": name, "seed": args.seed, "trace": args.trace,
        "time": time.time(), "end_to_end": e2e,
        "detail": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "error_rate": failed / attempted, "attempted": attempted, "failed": failed,
        "failures": failures,
        "host": run["host"], "setup_phases": run["result"]["setup_phases"],
        "key_s": run["result"].get("key_s"), "key_cpu_s": run["result"].get("key_cpu_s"),
        **source_id(),
    }
    if args.trace:
        spans = merged_spans(run)
        record["per_layer"] = {**layer_metrics(run, spans), "host.peak_rss_mb": run["peak_rss_mb"]}
        record["tracing_overhead"] = tracing_overhead(name, figures(record))
        if not args.smoke:
            write_json(os.path.join(ROOT, ".perfbench", "traces", f"{name}-seed{args.seed}.json"),
                       {**record, "spans": spans})
        values, wanted = record["per_layer"], declared["per_layer"]
        # a layer the workload does not run reads 0; any other missing
        # metric means a wrapper or listener stopped taking effect
        unused = UNUSED_LAYERS[WORKLOADS[name]["kind"]]
        missing = [m["name"] for m in wanted
                   if m["name"] not in values and not m["name"].startswith(unused)]
        if missing:
            log(f"per-layer metrics not measured: {', '.join(missing)}")
            return 1
    else:
        values, wanted = e2e, declared["end_to_end"]
    if not args.smoke:
        write_json(os.path.join(ROOT, ".perfbench", "results", name,
                                f"trace{args.trace}-seed{args.seed}-{int(record['time'] * 1000)}.json"),
                   record)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "detail",
                                              "error_rate", "host", "git_commit",
                                              "source_sha256", "tracing_overhead")
                      if k in record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="a workload, or 'all' to run every workload in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory, with the raw run in run.json")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (a few batches, sf0.001); results are not recorded")
    args = ap.parse_args()
    # on SIGTERM, unwind so the finally blocks stop every process started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    for need in ("BENCHMARK.json", "bristle_spark/__init__.py", "examples/config.json",
                 "tests/conftest.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from the root of a bristle checkout")
            return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.smoke:
        for wl in WORKLOADS.values():
            wl.update(SMOKE[wl["kind"]])
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    return max(run_one(name, args, declared) for name in names)


def figures(record: dict) -> dict:
    """A run record's end-to-end metrics and detail figures by name."""
    return {**record["end_to_end"], **{k: v["value"] for k, v in record["detail"].items()}}


def tracing_overhead(workload: str, traced: dict) -> dict:
    """Traced minus the median of this checkout's untraced runs of the
    same workload, per end-to-end metric and detail figure (empty before
    any untraced run)."""
    d = os.path.join(ROOT, ".perfbench", "results", workload)
    untraced = []
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith("trace0-"):
            with open(os.path.join(d, f)) as fh:
                untraced.append(figures(json.load(fh)))
    if not untraced:
        return {}
    return {k: v - statistics.median(u[k] for u in untraced if k in u)
            for k, v in traced.items() if any(k in u for u in untraced)}


def write_json(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh)


if __name__ == "__main__":
    sys.exit(main())

"""The system-under-test process of the benchmark.

``run.py`` starts this file in its own process (``local[$(nproc)]``) with
the repository root on ``PYTHONPATH``, so Spark's Python workers can import
the package too. It drives the program only through its public API and
talks to ``run.py`` in JSON lines: events out on stdout (prefixed ``@@``),
commands in on stdin.

Usage (by run.py): ``python3 perfbench/sut.py '<json config>'``
"""

from __future__ import annotations

import datetime as dt
import json
import os
import socket
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, self_times  # noqa: E402

#: Queries where the per-action scheduling floor dominates, one per engine
#: path: aggregate, join, window and dedup.
QUERY_SHORT = "q1_pricing_summary q3_shipping_priority q_window_native dedup_exact".split()
#: Queries whose own work outweighs the floor: the Arrow pandas-UDF path.
QUERY_HEAVY = ["sim_ann_ivf_topk"]
#: Noop-sink runs per transform prefix; the prefix's time is their median.
PREFIX_REPEATS = 3
#: Lines sent through one SyslogWriter in the send-cost loop.
SEND_LOOP_LINES = 20_000


def emit(event: str, **fields) -> None:
    sys.stdout.write("@@" + json.dumps({"event": event, **fields}) + "\n")
    sys.stdout.flush()


def command() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("run.py closed the command pipe")
    return json.loads(line)


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: int):
    """q-th percentile (Python's exclusive quantiles); max for tiny samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[q - 1]


def jvm_rss_peak_mb() -> float:
    """Peak RSS (VmHWM) of the JVM this process started."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[1] != me:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return 0.0


# --------------------------------------------------------------------------
# streaming workloads
# --------------------------------------------------------------------------


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_layers(queries, first_batch: dict[str, int]) -> dict:
    """Per-query and source metrics from ``StreamingQuery.recentProgress``,
    over the data batches at or after ``first_batch[name]``. A query's busy
    share is its trigger time over the span from its first batch's start to
    its last batch's end."""
    out: dict[str, float] = {}
    src_rows, src_latest, src_getbatch = [], [], []
    for q in queries:
        name = q.name
        batches = [
            p
            for p in q.recentProgress
            if p.batchId >= first_batch.get(name, 0) and p.numInputRows > 0
        ]
        dur = [p.durationMs for p in batches]
        trig = [d.get("triggerExecution", 0) for d in dur]
        out[f"pipeline.{name}.trigger_ms_p50"] = p50(trig)
        out[f"pipeline.{name}.trigger_ms_p95"] = pct(trig, 95)
        out[f"pipeline.{name}.query_planning_ms_p50"] = p50([d.get("queryPlanning", 0) for d in dur])
        out[f"pipeline.{name}.add_batch_ms_p50"] = p50([d.get("addBatch", 0) for d in dur])
        out[f"pipeline.{name}.commit_ms_p50"] = p50([d.get("commitOffsets", 0) for d in dur])
        span_s = (
            _epoch_s(batches[-1].timestamp) + trig[-1] / 1000.0 - _epoch_s(batches[0].timestamp)
            if batches
            else 0.0
        )
        out[f"pipeline.{name}.busy_share"] = sum(trig) / 1000.0 / span_s if span_s > 0 else 0.0
        if name == "dns_syslog":
            out["source.batches"] = len(batches)
            # every batch since start, warm-up included, for the oracle compare
            out["sinks.syslog_lines_sent"] = sum(
                max(p.sink.numOutputRows, 0) for p in q.recentProgress
            )
            src_rows = [p.numInputRows for p in batches]
            src_latest = [d.get("latestOffset", 0) for d in dur]
            src_getbatch = [d.get("getBatch", 0) for d in dur]
    out["source.rows_per_batch_p50"] = p50(src_rows)
    out["source.latest_offset_ms_p50"] = p50(src_latest)
    out["source.get_batch_ms_p50"] = p50(src_getbatch)
    return out


def transform_prefixes(spark, tracer: Tracer, landing_dir: str) -> dict:
    """Noop-sink time of each successive transform prefix over the landed
    bodies, minus the previous prefix, plus the record counts."""
    from dns_log_transformer_spark import transforms as T

    def timed(df) -> float:
        ts = []
        for _ in range(PREFIX_REPEATS):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    out: dict[str, float] = {}
    with tracer.span("transforms.prefix_chain"):
        raw = spark.read.text(landing_dir)
        prev = timed(raw)
        with tracer.span("transforms.parse_envelope"):
            env = T.parse_envelope(raw)
            t = timed(env)
        out["transforms.parse_envelope_s"], prev = t - prev, t
        with tracer.span("transforms.explode_records"):
            recs = T.explode_records(env)
            t = timed(recs)
        out["transforms.explode_records_s"], prev = t - prev, t
        with tracer.span("transforms.decode_records"):
            dec = T.decode_records(recs)
            t = timed(dec)
        out["transforms.decode_records_s"], prev = t - prev, t
        with tracer.span("transforms.split_valid_invalid"):
            valid, quarantine = T.split_valid_invalid(dec)
            t = timed(valid)
        out["transforms.split_valid_invalid_s"], prev = t - prev, t
        with tracer.span("transforms.to_bind9_lines"):
            lines = T.to_bind9_lines(
                T.with_client_hex(valid, seed_col="record_idx"), keep=["requestId", "record_idx"]
            )
            t = timed(lines)
        out["transforms.to_bind9_lines_s"] = t - prev
        n_in, n_valid, n_q, n_lines = (
            recs.count(),
            valid.count(),
            quarantine.count(),
            lines.count(),
        )
    out["transforms.records_in"] = n_in
    out["transforms.valid"] = n_valid
    out["transforms.quarantined"] = n_q
    out["transforms.lines_out"] = n_lines
    out["transforms.valid_share"] = n_valid / n_in if n_in else 0.0
    return out


def syslog_send_cost(tracer: Tracer) -> float:
    """Microseconds per line of SyslogWriter.open/process/close, sending to
    a local socket nobody reads."""
    from pyspark.sql import Row

    from dns_log_transformer_spark.streaming.sinks import SyslogWriter

    sink = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sink.bind(("127.0.0.1", 0))
    try:
        rows = [Row(line=f"Jan 01 00:00:00 vpc-0 route53resolver: probe line {i:08d} " + "x" * 90) for i in range(SEND_LOOP_LINES)]
        w = SyslogWriter("127.0.0.1", sink.getsockname()[1])
        with tracer.span("sinks.syslog_send_loop"):
            t0 = time.perf_counter()
            w.open(0, 0)
            for r in rows:
                w.process(r)
            w.close(None)
            dt = time.perf_counter() - t0
    finally:
        sink.close()
    return dt / SEND_LOOP_LINES * 1e6


def wrap_receiver(rx, tracer: Tracer, stats: dict) -> None:
    """Time each request the receiver serves (traced run only)."""
    base = rx.server.RequestHandlerClass

    class Timed(base):
        def do_POST(self):
            t0 = time.perf_counter()
            try:
                super().do_POST()
            finally:
                t1 = time.perf_counter()
                stats["service_ms"].append((t1 - t0) * 1000.0)
                stats["bytes_in"] += int(self.headers.get("Content-Length") or 0)
                tracer.record("receiver.do_POST", t0, t1)

    rx.server.RequestHandlerClass = Timed


def receiver_layers(stats: dict) -> dict:
    return {
        "receiver.requests": len(stats["service_ms"]),
        "receiver.service_ms_p50": p50(stats["service_ms"]),
        "receiver.service_ms_p95": pct(stats["service_ms"], 95),
        "receiver.bytes_in": stats["bytes_in"],
    }


def landed_files(landing_dir: str) -> int:
    return sum(1 for n in os.listdir(landing_dir) if not n.startswith("."))


def run_live(spark, cfg: dict, tracer: Tracer) -> dict:
    from dns_log_transformer_spark.sources.receiver import FirehoseReceiver
    from dns_log_transformer_spark.streaming import start_pipeline

    work, landing = cfg["work"], os.path.join(cfg["work"], "landing")
    rx_stats = {"service_ms": [], "bytes_in": 0}
    with tracer.span("receiver.start"):
        rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    if tracer.enabled:
        wrap_receiver(rx, tracer, rx_stats)
    with tracer.span("pipeline.start_pipeline"):
        queries = start_pipeline(
            spark,
            landing,
            os.path.join(work, "out"),
            syslog_host="127.0.0.1",
            syslog_port=cfg["collector_port"],
            deterministic_ids=True,
        )
    emit("ready", port=rx.port)
    layers: dict[str, float] = {}
    try:
        command()  # window_start: warm-up done
        first = {q.name: (q.lastProgress or {}).get("batchId", -1) + 1 for q in queries}
        command()  # window_end: last timed request acked
        processed = sum(
            p.numInputRows for q in queries if q.name == "dns_syslog" for p in q.recentProgress
        )
        layers["source.backlog_files_end"] = max(landed_files(landing) - processed, 0)
        with tracer.span("pipeline.process_all_available"):
            for q in queries:
                q.processAllAvailable()
        layers.update(progress_layers(queries, first))
        emit("drained")
        command()  # finish
    finally:
        with tracer.span("pipeline.stop"):
            for q in queries:
                q.stop()
        with tracer.span("receiver.stop"):
            rx.stop()
    layers.update(receiver_layers(rx_stats))
    if tracer.enabled:
        layers.update(transform_prefixes(spark, tracer, landing))
        layers["sinks.syslog_send_us_per_line"] = syslog_send_cost(tracer)
    return layers


def run_backfill(spark, cfg: dict, tracer: Tracer) -> dict:
    from dns_log_transformer_spark.sources.receiver import FirehoseReceiver
    from dns_log_transformer_spark.streaming import start_pipeline

    work, landing = cfg["work"], os.path.join(cfg["work"], "landing")
    rx_stats = {"service_ms": [], "bytes_in": 0}
    with tracer.span("receiver.start"):
        rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    if tracer.enabled:
        wrap_receiver(rx, tracer, rx_stats)
    emit("ready", port=rx.port)
    command()  # backlog posted
    with tracer.span("receiver.stop"):
        rx.stop()

    def drain(tag: str, landing: str = landing):
        t0 = time.monotonic()
        with tracer.span("pipeline.drain", request_id=tag):
            with tracer.span("pipeline.start_pipeline", request_id=tag):
                qs = start_pipeline(
                    spark,
                    landing,
                    os.path.join(work, tag),
                    syslog_host="127.0.0.1",
                    syslog_port=cfg["collector_port"],
                    available_now=True,
                    deterministic_ids=True,
                )
            with tracer.span("pipeline.await_termination", request_id=tag):
                for q in qs:
                    q.awaitTermination()
        return t0, time.monotonic(), qs

    # the first full-size drain after a small one still runs ~40% slow
    drain("warmup", os.path.join(work, "landing_warmup"))
    drain("warmup_full")
    drains, layers_by_drain = [], []
    t_first = None
    while True:
        t0, t1, qs = drain(f"drain{len(drains)}")
        t_first = t_first if t_first is not None else t0
        drains.append({"start": t0, "end": t1, "dir": f"drain{len(drains)}"})
        layers_by_drain.append(progress_layers(qs, {}))
        # stop before a drain that would end past the measuring time
        if len(drains) >= cfg["min_ops"] and t1 + (t1 - t0) - t_first > cfg["seconds"]:
            break
    # per-layer: median over the timed drains
    layers = {
        k: statistics.median(d[k] for d in layers_by_drain) for k in layers_by_drain[0]
    }
    layers["sinks.syslog_lines_sent"] = sum(d["sinks.syslog_lines_sent"] for d in layers_by_drain)
    layers["source.backlog_files_end"] = 0
    layers.update(receiver_layers(rx_stats))
    if tracer.enabled:
        layers.update(transform_prefixes(spark, tracer, landing))
        layers["sinks.syslog_send_us_per_line"] = syslog_send_cost(tracer)
    emit("drains", drains=drains)
    return layers


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


def group_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is None:
                continue
            stages += 1
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def rest_stage_metrics(spark, groups: set[str]) -> dict[str, dict]:
    """Per job group: shuffle-write and spill bytes, executor run and CPU
    seconds, from the UI REST API (traced run only)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    stage_group = {}
    for job in get("/jobs"):
        if job.get("jobGroup") in groups:
            for sid in job["stageIds"]:
                stage_group[sid] = job["jobGroup"]
    out = {g: {"shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0} for g in groups}
    for st in get("/stages"):
        g = stage_group.get(st["stageId"])
        if g is None:
            continue
        m = out[g]
        m["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        m["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        m["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
        m["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
    return out


def run_query_mix(spark, cfg: dict, tracer: Tracer) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.queries import ALL_QUERIES

    sc = spark.sparkContext
    sf_dir = os.path.join(cfg["work"], "tables")
    names = QUERY_SHORT + QUERY_HEAVY

    def run_pass(tag: str) -> dict:
        res = {}
        for name in names:
            with tracer.span("queries.query", request_id=f"{tag}:{name}"):
                sc.setJobGroup(f"{tag}:{name}:build", name)
                t0 = time.perf_counter()
                with tracer.span("queries.build", request_id=f"{tag}:{name}"):
                    df = ALL_QUERIES[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("operators.execute", request_id=f"{tag}:{name}"):
                    obs = Observation()
                    df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
                    sc.setJobGroup(f"{tag}:{name}:exec", name)
                    df.write.mode("overwrite").format("noop").save()
                t2 = time.perf_counter()
                rows = int(obs.get["rows_out"])
                with tracer.span("queries.release_all", request_id=f"{tag}:{name}"):
                    release_all()
                t3 = time.perf_counter()
            res[name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "release_s": t3 - t2, "rows": rows}
        sc.setJobGroup("bench:idle", "idle")
        time.sleep(0.5)  # let the status store catch up on the last job
        for name in names:
            for phase in ("build", "exec"):
                res[name][phase] = group_counts(sc, f"{tag}:{name}:{phase}")
        if tracer.enabled:
            rest = rest_stage_metrics(spark, {f"{tag}:{n}:{p}" for n in names for p in ("build", "exec")})
            for name in names:
                for phase in ("build", "exec"):
                    res[name][phase].update(rest[f"{tag}:{name}:{phase}"])
        return res

    # One untimed pass holds the cold start (first action, Python workers).
    # Passes keep getting faster for several more while the JIT warms up,
    # so every run times the same passes of that curve.
    warm = {}
    with tracer.span("queries.warm_up"):
        for name in names:
            t0 = time.perf_counter()
            ALL_QUERIES[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            release_all()
            warm[name] = time.perf_counter() - t0
    passes = []
    first_op = time.monotonic()
    t_first = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        passes.append(run_pass(f"pass{len(passes)}"))
        t1 = time.perf_counter()
        # stop before a pass that would end past the measuring time
        if len(passes) >= cfg["min_ops"] and t1 + (t1 - t0) - t_first > cfg["seconds"]:
            break
    emit(
        "queries",
        names=names,
        short=QUERY_SHORT,
        heavy=QUERY_HEAVY,
        passes=passes,
        warmup_s=warm,
        first_op=first_op,
    )
    return {}


def main() -> None:
    cfg = json.loads(sys.argv[1])
    tracer = Tracer(bool(cfg["trace"]))
    from dns_log_transformer_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{cfg['workload']}")
    get_spark_s = time.perf_counter() - t0
    emit("spark_ready")
    run = {"firehose_live": run_live, "firehose_backfill": run_backfill, "query_mix": run_query_mix}
    layers = run[cfg["workload"]](spark, cfg, tracer)
    layers["session.jvm_rss_peak_mb"] = jvm_rss_peak_mb()
    layers["session.get_spark_s"] = get_spark_s
    if tracer.enabled:
        layers["self_s"] = self_times(tracer.spans)
        tracer.write(os.path.join(cfg["work"], "spans_sut.jsonl"))
    emit("layers", layers=layers)
    spark.stop()


if __name__ == "__main__":
    main()

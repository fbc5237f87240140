#!/usr/bin/env python3
"""The repository's benchmark: the Firehose -> syslog path and the query mix.

Run from the repository root:

    python3 perfbench/run.py --workload firehose_backfill --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12   # all three
    python3 perfbench/run.py --workload query_mix --overhead        # traced vs not
    python3 perfbench/run.py --smoke          # list every metric with its unit
    python3 -m pytest perfbench -q            # the checks' own tests

Workloads (the system under test runs at ``local[$(nproc)]`` in its own
process, ``sut.py``; this process is the load generator, the UDP collector
and the checker):

- ``firehose_live``: an open loop POSTs 500-record Firehose envelopes at
  4 requests/s to ``FirehoseReceiver``; ``start_pipeline`` emits syslog
  datagrams to a collector here. A request is timed from when it was due.
- ``firehose_backfill``: a 30k-record backlog is POSTed through the
  receiver (closed loop, untimed); ``start_pipeline(available_now=True)``
  then drains it repeatedly, after two untimed warm-up drains.
- ``query_mix``: one closed-loop client runs passes over 5 registered
  queries on seeded sf0.1-sized tables, after an untimed warm-up pass; each
  query is timed as plan build plus noop execution.

``BENCHMARK.json`` gates on ``firehose_backfill`` and ``query_mix``;
``firehose_live`` is run by hand (``--workload firehose_live`` or ``all``),
because its emit latency spread 24-38% (IQR/median, 5 seeds) between runs
on a shared 4-vCPU host.

Every workload reports the same end-to-end metrics, over its own unit of
work (``op``): a request from due-send to its last syslog datagram, one
backlog drain from ``start_pipeline`` to all queries terminated, or one
pass over the query set (the sum of its queries' build plus execute).

- ``setup_s``: process start to the first timed operation (Spark start,
  pipeline start, warm-up);
- ``op_p50_ms``: the median op latency, with the op count on the report
  line.

The metric names and units are read from ``BENCHMARK.json``.

The line before the last is a report with the workload's own named
figures (emit/ack latency, drain records/s, query set sums, failure
ratios), sample counts and run metadata (nproc, SPARK_GRAFT_CPUS,
loadavg, git commit, seed). The last line is the result object. With
``--trace 1`` the metrics are the per-layer ones, and the spans go to
``.perfbench_out/``.

The run exits 1 when a correctness check fails and 2 when it cannot run.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import queue
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import traffic  # noqa: E402

WORKLOADS = ("firehose_live", "firehose_backfill", "query_mix")
LIVE_RATE = 4.0  # requests/s, 500 records each
LIVE_WARMUP_S = 6
BACKLOG_FILES = 60  # x 500 records
WARMUP_FILES = 4
MIN_DRAINS = 2  # timed backfill drains per run, at least
MIN_PASSES = 3  # timed query_mix passes per run, at least
RUN_DEADLINE_S = 150.0  # sut.py must be done by then; a run ends within 180 s
COLLECTOR_RCVBUF = 4 << 20

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
#: Every traced run reports all of these; a layer the workload does not
#: touch reports 0.
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: The workloads' own figures, printed on the report line.
REPORTED = {
    "firehose_live": {
        "emit_latency_p50_s": "s",
        "emit_latency_p95_s": "s",
        "ack_latency_p50_ms": "ms",
        "ack_latency_p95_ms": "ms",
        "records_failed_ratio": "ratio",
    },
    "firehose_backfill": {"drain_records_per_s": "records/s", "records_failed_ratio": "ratio"},
    "query_mix": {"query_short_s": "s", "query_heavy_s": "s", "queries_failed_ratio": "ratio"},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class BenchError(RuntimeError):
    """The benchmark could not run (as opposed to a wrong output)."""


def pct(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100)[q - 1]


# --------------------------------------------------------------------------
# UDP collector (in this process, never in the one running the pipeline)
# --------------------------------------------------------------------------


class Collector:
    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, COLLECTOR_RCVBUF)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.settimeout(0.1)
        self.port = self.sock.getsockname()[1]
        self.received: list[tuple[float, bytes]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "Collector":
        self._thread.start()
        return self

    def _loop(self) -> None:
        recv, append, now = self.sock.recv, self.received.append, time.monotonic
        while not self._stop.is_set():
            try:
                data = recv(65535)
            except socket.timeout:
                continue
            append((now(), data))

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sock.close()

    def by_seq(self) -> dict[int, list[float]]:
        out: dict[int, list[float]] = {}
        for t, data in self.received:
            seq = traffic.seq_of_datagram(data)
            if seq is not None:
                out.setdefault(seq, []).append(t)
        return out


# --------------------------------------------------------------------------
# the system-under-test process
# --------------------------------------------------------------------------


class Sut:
    """``sut.py`` in its own session, with an event reader thread."""

    def __init__(self, root: str, cfg: dict, trace: bool):
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
        env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        tmp = os.path.join(cfg["work"], "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["TMPDIR"] = tmp
        env["SPARK_LOCAL_DIRS"] = tmp
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        if trace:
            extra = env.get("SPARK_GRAFT_EXTRA_CONF", "")
            env["SPARK_GRAFT_EXTRA_CONF"] = ";".join(p for p in (extra, "spark.ui.enabled=true") if p)
        self.log_path = os.path.join(cfg["work"], "sut.log")
        self._log = open(self.log_path, "w")
        self.t_spawn = time.monotonic()
        self.deadline = self.t_spawn + RUN_DEADLINE_S
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            cwd=cfg["work"],
            env=env,
            text=True,
            start_new_session=True,
        )
        self.events: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self.events.put(json.loads(line[2:]))
        self.events.put({"event": "exit"})

    def expect(self, event: str, timeout: float) -> dict:
        timeout = max(0.0, min(timeout, self.deadline - time.monotonic()))
        try:
            ev = self.events.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"timed out after {timeout:.0f}s waiting for {event!r}") from None
        if ev["event"] != event:
            raise BenchError(f"expected {event!r} from sut.py, got {ev['event']!r}")
        return ev

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        """Wait for the process to exit, then make sure its whole session
        (the JVM and Python workers) is gone."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=min(30.0, max(2.0, self.deadline + 10 - time.monotonic())))
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline:
                try:
                    os.killpg(self.proc.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
        self.proc.wait()
        self._reader.join(timeout=5)
        self._log.close()



# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


def post(port: int, body: bytes) -> int:
    """POST one envelope; the receiver speaks HTTP/1.0, so each request
    opens and closes the client's single connection."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", "/endpoint", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def firehose_outputs(out_dirs: list[str]) -> tuple[list, list, dict]:
    archives, quarantines = [], []
    files = size = qrows = 0
    for d in out_dirs:
        archives.append(checks.read_sink(os.path.join(d, "archive"), ["requestId", "record_idx", "line_no", "line"]))
        quarantines.append(checks.read_sink(os.path.join(d, "quarantine"), ["requestId", "record_idx", "reject_reason"]))
        for f in checks.committed_files(os.path.join(d, "archive")):
            files += 1
            size += os.path.getsize(f)
        qrows += quarantines[-1].num_rows if quarantines[-1] is not None else 0
    return archives, quarantines, {"sinks.archive_files": files, "sinks.archive_bytes": size, "sinks.quarantine_rows": qrows}


def run_live(root: str, work: str, seed: int, seconds: int, trace: bool) -> dict:
    n_warm = int(LIVE_WARMUP_S * LIVE_RATE)
    n_timed = max(1, int(seconds * LIVE_RATE))
    # seq 0 takes the cold first batch alone; seqs 1..n_warm run the open
    # loop untimed until batch sizes settle
    requests = traffic.make_traffic(seed, 1 + n_warm + n_timed)
    col = Collector().start()
    sut = Sut(root, {"workload": "firehose_live", "work": work, "trace": trace, "collector_port": col.port}, trace)
    try:
        sut.expect("spark_ready", 90)
        port = sut.expect("ready", 60)["port"]
        expected = {r.seq: len(r.lines) for r in requests}
        status = {0: post(port, requests[0].body)}
        deadline = time.monotonic() + 90
        while len(col.by_seq().get(0, ())) < expected[0]:
            if time.monotonic() > deadline:
                raise BenchError("warm-up request's lines never arrived")
            time.sleep(0.05)
        t_loop = time.monotonic() + 0.05
        due, ack, late = {}, {}, []
        for i, req in enumerate(requests[1:]):
            d = t_loop + i / LIVE_RATE
            if i == n_warm:
                sut.send(cmd="window_start")
            wait = d - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.monotonic() - d))
            status[req.seq] = post(port, req.body)
            due[req.seq], ack[req.seq] = d, time.monotonic()
        sut.send(cmd="window_end")
        sut.expect("drained", 90)
        drained_at = time.monotonic()
        time.sleep(0.3)  # datagrams still in flight
        col.stop()
        sut.send(cmd="finish")
        layers = sut.expect("layers", 120)["layers"]
    finally:
        col.stop()
        sut.close()
    timed = [r.seq for r in requests[1 + n_warm :]]
    setup_s = due[timed[0]] - sut.t_spawn
    got = col.by_seq()
    emit = [(max(got[s]) if s in got else drained_at) - due[s] for s in timed]
    ack_ms = [(ack[s] - due[s]) * 1000.0 for s in timed]
    archives, quarantines, sink_counts = firehose_outputs([os.path.join(work, "out")])
    acked = {s for s, st in status.items() if st == 200}
    chk = checks.check_firehose(requests, acked, archives[0], quarantines[0])
    lines_expected = sum(expected.values())
    lines_received = sum(len(v) for v in got.values())
    layers.update(sink_counts)
    layers.update(
        {
            "receiver.non_200": sum(1 for st in status.values() if st != 200),
            "sinks.syslog_lines_received": lines_received,
            "sinks.syslog_delivered_ratio": lines_received / lines_expected,
            "loadgen.late_ms_max": max(late) * 1000.0,
        }
    )
    return {
        "setup_s": setup_s,
        "ops_ms": [e * 1000.0 for e in emit],
        "check": chk,
        "oracle_lines": lines_expected,
        "report": {
            "emit_latency_p50_s": statistics.median(emit),
            "emit_latency_p95_s": pct(emit, 95),
            "ack_latency_p50_ms": statistics.median(ack_ms),
            "ack_latency_p95_ms": pct(ack_ms, 95),
            "records_failed_ratio": chk["failed"] / chk["sent"],
        },
        "details": {
            "samples": len(emit),
            "offered_records_per_s": LIVE_RATE * traffic.RECORDS_PER_REQUEST,
            "late_ms_max": max(late) * 1000.0,
            "emit_latency_s": [round(e, 3) for e in emit],
        },
        "layers": layers,
    }


def land(landing: str, requests) -> None:
    """Write request bodies the way the receiver lands them."""
    os.makedirs(landing, exist_ok=True)
    for r in requests:
        name = f"{r.seq:08d}.json"
        tmp = os.path.join(landing, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(r.body + b"\n")
        os.rename(tmp, os.path.join(landing, name))


def run_backfill(root: str, work: str, seed: int, seconds: int, trace: bool) -> dict:
    requests = traffic.make_traffic(seed, BACKLOG_FILES)
    land(os.path.join(work, "landing_warmup"), requests[:WARMUP_FILES])
    col = Collector().start()
    cfg = {
        "workload": "firehose_backfill",
        "work": work,
        "trace": trace,
        "collector_port": col.port,
        "seconds": seconds,
        "min_ops": MIN_DRAINS,
    }
    sut = Sut(root, cfg, trace)
    try:
        sut.expect("spark_ready", 90)
        port = sut.expect("ready", 30)["port"]
        # the backlog arrives through the receiver, closed loop, untimed
        status, ack_ms = {}, []
        for r in requests:
            t0 = time.monotonic()
            status[r.seq] = post(port, r.body)
            ack_ms.append((time.monotonic() - t0) * 1000.0)
        sut.send(cmd="landed")
        drains = sut.expect("drains", RUN_DEADLINE_S)["drains"]
        time.sleep(0.3)
        col.stop()
        layers = sut.expect("layers", 120)["layers"]
    finally:
        col.stop()
        sut.close()
    n_records = BACKLOG_FILES * traffic.RECORDS_PER_REQUEST
    drain_s = [d["end"] - d["start"] for d in drains]
    out_dirs = [os.path.join(work, d) for d in ("warmup", "warmup_full")] + [
        os.path.join(work, d["dir"]) for d in drains
    ]
    archives, quarantines, sink_counts = firehose_outputs(out_dirs)
    acked = {s for s, st in status.items() if st == 200}
    total = {"sent": 0, "failed": 0, "by_cause": {}}
    for i, (a, q) in enumerate(zip(archives, quarantines)):
        c = checks.check_firehose(requests[:WARMUP_FILES] if i == 0 else requests, acked, a, q)
        total["sent"] += c["sent"]
        total["failed"] += c["failed"]
        for k, v in c["by_cause"].items():
            total["by_cause"][k] = total["by_cause"].get(k, 0) + v
    lines_per_drain = sum(len(r.lines) for r in requests)
    lines_received = sum(len(v) for v in col.by_seq().values())
    layers.update(sink_counts)
    layers.update(
        {
            "receiver.non_200": sum(1 for st in status.values() if st != 200),
            "sinks.syslog_lines_received": lines_received,
            "sinks.syslog_delivered_ratio": lines_received
            / (lines_per_drain * (len(drains) + 1) + sum(len(r.lines) for r in requests[:WARMUP_FILES])),
        }
    )
    return {
        "setup_s": drains[0]["start"] - sut.t_spawn,
        "ops_ms": [s * 1000.0 for s in drain_s],
        "check": total,
        # the traced lines-sent figure covers the timed drains only
        "oracle_lines": lines_per_drain * len(drains),
        "report": {
            "drain_records_per_s": n_records / statistics.median(drain_s),
            "records_failed_ratio": total["failed"] / total["sent"],
        },
        "details": {
            "samples": len(drain_s),
            "backlog_records": n_records,
            "drain_s": drain_s,
            "landing_ack_ms_p50": statistics.median(ack_ms),
        },
        "layers": layers,
    }


def run_query_mix(root: str, work: str, seed: int, seconds: int, trace: bool) -> dict:
    import tables

    sf_dir = os.path.join(work, "tables")
    tables.write_tables(seed, sf_dir)
    cfg = {"workload": "query_mix", "work": work, "trace": trace, "seconds": seconds, "min_ops": MIN_PASSES}
    sut = Sut(root, cfg, trace)
    try:
        sut.expect("spark_ready", 90)
        res = sut.expect("queries", RUN_DEADLINE_S)
        layers = sut.expect("layers", 60)["layers"]
    finally:
        sut.close()
    # the oracle runs after the system under test has exited
    sys.path.insert(0, root)
    from dns_log_transformer_spark.queries import ALL_QUERIES

    names, short, heavy, passes = res["names"], res["short"], res["heavy"], res["passes"]
    oracle = tables.oracle_rows(sf_dir, {n: ALL_QUERIES[n].oracle for n in names})
    spark_rows = {n: passes[-1][n]["rows"] for n in names}
    failed = checks.check_rows(spark_rows, oracle)

    def med(name, field):
        return statistics.median(p[name][field] for p in passes)

    cost = {n: med(n, "build_s") + med(n, "exec_s") for n in names}
    pass_s = [sum(p[n]["build_s"] + p[n]["exec_s"] for n in names) for p in passes]

    def counts(group, phase_field):
        return sum(
            statistics.median(p[n][ph][phase_field] for p in passes)
            for n in group
            for ph in ("build", "exec")
        )

    for label, group in (("short", short), ("heavy", heavy)):
        layers[f"queries.build_s.{label}"] = sum(med(n, "build_s") for n in group)
        layers[f"operators.exec_s.{label}"] = sum(med(n, "exec_s") for n in group)
        for m in ("jobs", "stages", "tasks", "failed_tasks"):
            layers[f"operators.{m}.{label}"] = counts(group, m)
        if trace:
            for m in ("shuffle_write_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s"):
                layers[f"operators.{m}.{label}"] = counts(group, m)
    for n in heavy:
        layers[f"queries.build_s.{n}"] = med(n, "build_s")
        layers[f"operators.exec_s.{n}"] = med(n, "exec_s")
    layers["operators.exec_s_per_job.short"] = layers["operators.exec_s.short"] / max(
        1, sum(statistics.median(p[n]["exec"]["jobs"] for p in passes) for n in short)
    )
    layers["queries.release_all_s"] = sum(med(n, "release_s") for n in names)
    return {
        "setup_s": res["first_op"] - sut.t_spawn,
        "ops_ms": [t * 1000.0 for t in pass_s],
        "check": {"sent": len(names), "failed": len(failed), "failed_queries": failed},
        "report": {
            "query_short_s": sum(cost[n] for n in short),
            "query_heavy_s": sum(cost[n] for n in heavy),
            "queries_failed_ratio": len(failed) / len(names),
        },
        "details": {
            "samples": len(passes),
            "pass_s": [round(t, 4) for t in pass_s],
            "per_query_s": {n: round(c, 4) for n, c in cost.items()},
            "warmup_s": {n: round(c, 4) for n, c in res["warmup_s"].items()},
        },
        "layers": layers,
        "passes": passes,
    }


RUNNERS = {"firehose_live": run_live, "firehose_backfill": run_backfill, "query_mix": run_query_mix}


# --------------------------------------------------------------------------
# results
# --------------------------------------------------------------------------


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def trace_consistency(workload: str, res: dict, layers: dict, spans: list[dict]) -> list[str]:
    """Cross-checks the traced run must pass; returns the failures."""
    bad = []
    if workload == "query_mix":
        timed = {f"pass{i}" for i in range(len(res["passes"]))}
        for kind, field in (("queries.build", "build_s"), ("operators.execute", "exec_s")):
            span_sum = sum(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == kind and s["request_id"].split(":")[0] in timed
            )
            rep_sum = sum(p[n][field] for p in res["passes"] for n in p)
            n_spans = len(res["passes"]) * len(res["passes"][0])
            if abs(span_sum - rep_sum) > 0.002 * n_spans + 0.01 * rep_sum:
                bad.append(f"{kind} spans sum {span_sum:.3f}s != reported {rep_sum:.3f}s")
    else:
        if layers["transforms.records_in"] != layers["transforms.valid"] + layers["transforms.quarantined"]:
            bad.append("transforms.records_in != valid + quarantined")
        if layers["sinks.syslog_lines_sent"] != res["oracle_lines"]:
            bad.append(
                f"sinks.syslog_lines_sent {layers['sinks.syslog_lines_sent']} != oracle {res['oracle_lines']}"
            )
    return bad


def run_workload(root: str, workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """Run one workload; returns (result object, report)."""
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = os.getloadavg()
    try:
        try:
            res = RUNNERS[workload](root, work, seed, seconds, trace)
        except BenchError as e:
            log = os.path.join(work, "sut.log")
            if os.path.exists(log):
                with open(log, errors="replace") as f:
                    tail = [ln for ln in f.read().splitlines() if " WARN " not in ln][-20:]
                raise BenchError(f"{e}\n--- sut.log tail ---\n" + "\n".join(tail)) from None
            raise
        spans_path = os.path.join(work, "spans_sut.jsonl")
        spans = []
        if trace and os.path.exists(spans_path):
            with open(spans_path) as f:
                spans = [json.loads(line) for line in f]
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(spans_path, os.path.join(out_dir, f"spans-{workload}-seed{seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    load_end = os.getloadavg()
    ops = res["ops_ms"]
    e2e = {"setup_s": res["setup_s"], "op_p50_ms": statistics.median(ops)}
    chk = res["check"]
    problems = []
    if chk["failed"]:
        problems.append(f"{chk['failed']} of {chk['sent']} outputs wrong: {chk.get('by_cause') or chk.get('failed_queries')}")
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "metrics": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()},
        "op_samples": len(ops),
        "workload_metrics": {
            k: {"value": v, "unit": REPORTED[workload][k]} for k, v in res["report"].items()
        },
        "details": res["details"],
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", str(nproc())),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "git_commit": git_commit(root),
    }
    if trace:
        layers = {k: 0 for k in PER_LAYER}
        layers.update({k: v for k, v in res["layers"].items() if k in PER_LAYER})
        layers["run.loadavg_start"] = load_start[0]
        layers["run.loadavg_end"] = load_end[0]
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v
        report["self_s"] = res["layers"].get("self_s", {})
        problems += trace_consistency(workload, res, res["layers"], spans)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = report["metrics"]
    report["problems"] = problems
    result = {
        "correct": not problems,
        "attempted": chk["sent"],
        "failed": chk["failed"],
        "metrics": metrics,
    }
    return result, report


def smoke() -> None:
    print("end-to-end metrics (every workload, --trace 0):")
    for k, u in END_TO_END.items():
        print(f"  {k} [{u}]")
    for w, ms in REPORTED.items():
        print(f"{w} report figures:")
        for k, u in ms.items():
            print(f"  {k} [{u}]")
    print("per-layer metrics (--trace 1):")
    for k, u in PER_LAYER.items():
        print(f"  {k} [{u}]")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="print every metric with its unit and exit")
    ap.add_argument(
        "--overhead",
        action="store_true",
        help="run each workload untraced, then traced, and report the tracing overhead",
    )
    args = ap.parse_args(argv)
    if args.smoke:
        smoke()
        return 0
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dns_log_transformer_spark")):
        print("run from the repository root: dns_log_transformer_spark/ not found", file=sys.stderr)
        return 2
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for w in workloads:
        try:
            if args.overhead:
                untraced = run_workload(root, w, args.seed, args.seconds, False)[1]["metrics"]
            result, report = run_workload(root, w, args.seed, args.seconds, bool(args.trace or args.overhead))
        except BenchError as e:
            print(f"{w}: benchmark could not run: {e}", file=sys.stderr)
            return 2
        if args.overhead:
            report["tracing_overhead"] = {
                k: report["metrics"][k]["value"] / v["value"] - 1.0 for k, v in untraced.items()
            }
        print(json.dumps(report, default=float), flush=True)
        results.append(result)
    if len(results) == 1:
        final = results[0]
    else:
        final = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {},
        }
        for w, r in zip(workloads, results):
            final["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

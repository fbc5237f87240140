"""Tests of the benchmark's own checks: each must fail on a wrong output.

Run from the repository root: ``python3 -m pytest perfbench -q``
(no Spark needed).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import run
import traffic
from spans import Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="module")
def requests():
    return traffic.make_traffic(seed=5, n_requests=6)


def oracle_outputs(requests):
    """The archive and quarantine a correct pipeline would write."""
    arch = {"requestId": [], "record_idx": [], "line_no": [], "line": []}
    quar = {"requestId": [], "record_idx": [], "reject_reason": []}
    for r in requests:
        for (idx, no), line in sorted(r.lines.items()):
            arch["requestId"].append(r.request_id)
            arch["record_idx"].append(idx)
            arch["line_no"].append(no)
            arch["line"].append(line)
        for idx, reason in sorted(r.poison.items()):
            quar["requestId"].append(r.request_id)
            quar["record_idx"].append(idx)
            quar["reject_reason"].append(reason)
    return pa.table(arch), pa.table(quar)


def acked(requests):
    return {r.seq for r in requests}


def test_correct_outputs_pass(requests):
    arch, quar = oracle_outputs(requests)
    res = checks.check_firehose(requests, acked(requests), arch, quar)
    assert res["sent"] == 6 * traffic.RECORDS_PER_REQUEST
    assert res["failed"] == 0


def test_dropped_archive_line_fails(requests):
    arch, quar = oracle_outputs(requests)
    dropped = arch.slice(1)  # lose one line of the first record
    res = checks.check_firehose(requests, acked(requests), dropped, quar)
    assert res["failed"] == 1
    assert res["by_cause"] == {"archive_mismatch": 1}


def test_changed_archive_line_fails(requests):
    arch, quar = oracle_outputs(requests)
    lines = arch.column("line").to_pylist()
    lines[3] = lines[3].replace("route53resolver", "route53resolvr")
    res = checks.check_firehose(
        requests, acked(requests), arch.set_column(3, "line", pa.array(lines)), quar
    )
    assert res["failed"] == 1


def test_duplicated_archive_line_fails(requests):
    arch, quar = oracle_outputs(requests)
    res = checks.check_firehose(
        requests, acked(requests), pa.concat_tables([arch, arch.slice(0, 1)]), quar
    )
    assert res["failed"] == 1


def test_poison_with_wrong_reason_fails(requests):
    arch, quar = oracle_outputs(requests)
    reasons = quar.column("reject_reason").to_pylist()
    reasons[0] = "decode_error" if reasons[0] != "decode_error" else "json_parse_error"
    wrong = quar.set_column(2, "reject_reason", pa.array(reasons))
    res = checks.check_firehose(requests, acked(requests), arch, wrong)
    assert res["by_cause"] == {"quarantine_mismatch": 1}


def test_missing_poison_fails(requests):
    arch, quar = oracle_outputs(requests)
    res = checks.check_firehose(requests, acked(requests), arch, quar.slice(1))
    assert res["by_cause"] == {"quarantine_mismatch": 1}


def test_unacked_request_fails_all_its_records(requests):
    arch, quar = oracle_outputs(requests)
    res = checks.check_firehose(requests, acked(requests) - {requests[0].seq}, arch, quar)
    assert res["by_cause"] == {"not_acked": traffic.RECORDS_PER_REQUEST}


def test_wrong_rows_out_fails():
    oracle = {"q1": 6, "q2": 10}
    assert checks.check_rows({"q1": 6, "q2": 10}, oracle) == []
    assert checks.check_rows({"q1": 6, "q2": 11}, oracle) == ["q2"]
    assert checks.check_rows({"q1": 6, "q3": 1}, oracle) == ["q3"]


def test_committed_files_follow_the_commit_log(tmp_path):
    sink = tmp_path / "archive"
    log = sink / "_spark_metadata"
    log.mkdir(parents=True)
    files = []
    for i in range(4):
        f = sink / f"part-{i}.parquet"
        pq.write_table(pa.table({"x": [i]}), f)
        files.append(str(f))

    def entry(path, action="add"):
        return json.dumps({"path": f"file://{path}", "action": action})

    (log / "0").write_text("v1\n" + entry(files[0]) + "\n")
    (log / "1.compact").write_text("v1\n" + entry(files[0]) + "\n" + entry(files[1]) + "\n")
    (log / "2").write_text("v1\n" + entry(files[2]) + "\n")
    # files[3] is an orphan from a failed task: not in the log
    assert checks.committed_files(str(sink)) == sorted(files[:3])
    assert checks.read_sink(str(sink), ["x"]).column("x").to_pylist() == [0, 1, 2]


def test_traffic_is_seeded_and_covers_every_reject_reason():
    a = traffic.make_traffic(seed=9, n_requests=4)
    b = traffic.make_traffic(seed=9, n_requests=4)
    assert [r.body for r in a] == [r.body for r in b]
    assert a[0].body != traffic.make_traffic(seed=10, n_requests=1)[0].body
    many = traffic.make_traffic(seed=9, n_requests=40)
    assert {k for r in many for k in r.poison.values()} == set(traffic.POISON_KINDS)
    n = sum(r.n_records for r in many)
    assert 0.02 < sum(len(r.poison) for r in many) / n < 0.04


def test_oracle_line_and_datagram_attribution():
    req = traffic.make_traffic(seed=3, n_requests=8)[7]
    idx = next(i for i in range(req.n_records) if i not in req.poison)
    line = req.lines[(idx, 0)]
    assert f" client @0x{idx:012x} " in line
    assert f"(q7-{idx}.bench.example.): query: q7-{idx}.bench.example. IN " in line
    assert traffic.seq_of_datagram(f"<30>{line}".encode()) == 7
    assert traffic.seq_of_datagram(b"<30>unrelated") is None


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 1, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "request_id": None},
        {"id": 2, "name": "b", "start": 1.0, "end": 4.0, "parent": 1, "request_id": None},
        {"id": 3, "name": "b", "start": 3.0, "end": 5.0, "parent": 1, "request_id": None},
    ]
    assert self_times(tr.spans) == {"a": 6.0, "b": 5.0}


def test_smoke_prints_every_metric_with_its_unit():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert f"  {name} [{unit}]" in out
    for figures in run.REPORTED.values():
        for name, unit in figures.items():
            assert f"  {name} [{unit}]" in out


def test_refuses_to_run_outside_the_repository(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix", "--seed", "1"],
        capture_output=True,
        text=True,
        cwd=tmp_path,
    )
    assert p.returncode != 0
    assert p.stdout == ""

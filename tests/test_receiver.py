"""HTTP receiver -> landing dir -> streaming pipeline, end to end —
the full reference data path (POST /endpoint through syslog-format
lines), with the receiver's gates mirroring app/app.py:60-102."""

from __future__ import annotations

import http.client
import json
import os
import urllib.error
import urllib.request

import pytest

from dns_log_transformer_spark.sources import FirehoseReceiver
from dns_log_transformer_spark.streaming import start_pipeline
from tests.test_transforms import envelope_json, expected_bind9_lines, make_record


def _post(url, data: bytes, content_type="application/json"):
    req = urllib.request.Request(url, data=data, headers={"Content-Type": content_type})
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def test_receiver_to_pipeline(spark, tmp_path):
    landing = str(tmp_path / "landing")
    work = str(tmp_path / "work")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        base = f"http://127.0.0.1:{rx.port}"

        # health probe (app/app.py:265-267)
        with urllib.request.urlopen(f"{base}/health", timeout=10) as resp:
            assert resp.status == 200

        # content-type gate (app/app.py:69-74)
        code, body = _post(f"{base}/endpoint", b"x=1", "application/x-www-form-urlencoded")
        assert code == 400
        assert body["requestId"] == "unknown"
        assert "errorMessage" in body

        # malformed JSON body
        code, body = _post(f"{base}/endpoint", b"{not json")
        assert code == 400

        # a real Firehose batch: ack carries the requestId (app/app.py:99-102)
        rec = make_record()
        code, body = _post(
            f"{base}/endpoint", envelope_json([rec], request_id="req-42").encode()
        )
        assert code == 200
        assert body["requestId"] == "req-42"
        assert isinstance(body["timestamp"], int)

        # the acked batch is durably landed before the ack
        files = [f for f in os.listdir(landing) if not f.startswith(".")]
        assert len(files) == 1
    finally:
        rx.stop()

    queries = start_pipeline(
        spark, landing, work, available_now=True, deterministic_ids=True
    )
    for q in queries:
        q.awaitTermination(timeout=120)
    rows = spark.read.parquet(os.path.join(work, "archive")).orderBy("line_no").collect()
    assert [r["line"] for r in rows] == expected_bind9_lines(rec, "@0x000000000000")


def _post_framed(port: int, content_length: str, body: bytes = b""):
    """POST with a hand-set Content-Length (urllib always computes its
    own); returns (status, decoded JSON body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        conn.putrequest("POST", "/endpoint")
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", content_length)
        conn.endheaders()
        if body:
            conn.send(body)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


@pytest.mark.parametrize(
    "content_length, body",
    [
        ("abc", b"{}"),  # non-integer length
        ("-1", b""),  # negative length: must not read until hang-up
        ("2", b"[]"),  # JSON array body
        ("5", b'"abc"'),  # JSON string body
    ],
    ids=["non_integer_length", "negative_length", "array_body", "string_body"],
)
def test_receiver_rejects_bad_framing(tmp_path, content_length, body):
    landing = str(tmp_path / "landing")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        code, resp = _post_framed(rx.port, content_length, body)
        assert code == 400
        assert resp["requestId"] == "unknown"
        assert resp["errorMessage"]
        # nothing landed, not even a .tmp file
        assert os.listdir(landing) == []
    finally:
        rx.stop()

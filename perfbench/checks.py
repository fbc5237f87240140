"""Correctness checks of the benchmark, kept apart so tests can feed them
wrong outputs.

The firehose check reads the pipeline's parquet outputs through the file
sink's commit log (``_spark_metadata``), so only committed files count.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq


def committed_files(sink_dir: str) -> list[str]:
    """Data files a streaming file sink has committed under ``sink_dir``."""
    log_dir = os.path.join(sink_dir, "_spark_metadata")
    if not os.path.isdir(log_dir):
        return []
    batches = []
    for name in os.listdir(log_dir):
        stem = name.split(".", 1)[0]
        if stem.isdigit() and not name.endswith(".tmp") and not name.startswith("."):
            batches.append((int(stem), name.endswith(".compact"), name))
    if not batches:
        return []
    compacts = [b for b in batches if b[1]]
    start = max(compacts)[0] if compacts else -1
    paths: set[str] = set()
    for batch_id, _, name in sorted(batches):
        if batch_id < start:
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line is the version
                entry = json.loads(line)
                path = entry["path"].removeprefix("file://")
                if entry.get("action", "add") == "add":
                    paths.add(path)
                else:
                    paths.discard(path)
    return sorted(paths)


def read_sink(sink_dir: str, columns: list[str]) -> pa.Table | None:
    files = committed_files(sink_dir)
    if not files:
        return None
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def check_firehose(requests, acked: set[int], archive: pa.Table | None, quarantine: pa.Table | None) -> dict:
    """Count records whose outcome is wrong.

    A record is wrong when its request was not acked 200, when it is valid
    and its archived lines differ from the oracle's (missing, extra,
    duplicated or changed), or when it is poison and does not sit in
    quarantine exactly once with the predicted ``reject_reason``.
    """
    got_lines: dict[tuple[str, int], Counter] = {}
    if archive is not None:
        for rid, idx, no, line in zip(
            archive.column("requestId").to_pylist(),
            archive.column("record_idx").to_pylist(),
            archive.column("line_no").to_pylist(),
            archive.column("line").to_pylist(),
        ):
            got_lines.setdefault((rid, idx), Counter())[(no, line)] += 1
    got_reasons: dict[tuple[str, int], list[str]] = {}
    if quarantine is not None:
        for rid, idx, reason in zip(
            quarantine.column("requestId").to_pylist(),
            quarantine.column("record_idx").to_pylist(),
            quarantine.column("reject_reason").to_pylist(),
        ):
            got_reasons.setdefault((rid, idx), []).append(reason)

    sent = failed = 0
    by_cause: Counter = Counter()
    expected_lines: dict[int, Counter] = {}
    for req in requests:
        expected_lines.clear()
        for (idx, no), line in req.lines.items():
            expected_lines.setdefault(idx, Counter())[(no, line)] += 1
        for idx in range(req.n_records):
            sent += 1
            key = (req.request_id, idx)
            if req.seq not in acked:
                cause = "not_acked"
            elif idx in req.poison:
                ok = got_reasons.get(key) == [req.poison[idx]] and key not in got_lines
                cause = None if ok else "quarantine_mismatch"
            else:
                ok = got_lines.get(key) == expected_lines[idx] and key not in got_reasons
                cause = None if ok else "archive_mismatch"
            if cause:
                failed += 1
                by_cause[cause] += 1
    return {"sent": sent, "failed": failed, "by_cause": dict(by_cause)}


def check_rows(spark_rows: dict[str, int], oracle_rows: dict[str, int]) -> list[str]:
    """Queries whose rows-out differs from the oracle's (or has none)."""
    return sorted(n for n, r in spark_rows.items() if oracle_rows.get(n) != r)

"""The wired-trigger end-to-end row VERDICT r12 #4 asked for: stream
the SAME 20 x 500-doc batch sequence into the near-dup sink twice —
once with self-compaction on (compact_max_files=8), once off — and
record every batch's merge wall time. What the row must show:

- with the trigger ON, the amortized rewrite is visible (the batches
  where the threshold crossed cost more: they carry the partition
  rewrite) and the per-batch cost stays FLAT afterwards;
- with the trigger OFF, per-batch cost drifts upward as files
  accumulate (the r11 two-decade growth term);
- both runs emit IDENTICAL pairs (compaction changed files, not rows).

Run from the repo root; requires scratch/x10 (`python tools/scale.py
--factor 10` builds it).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from dns_log_transformer_spark.session import get_spark  # noqa: E402
from dns_log_transformer_spark.streaming.compact import (  # noqa: E402
    max_files_per_partition,
)
from dns_log_transformer_spark.streaming.neardup_index import (  # noqa: E402
    neardup_merge_batch,
    read_pairs,
)
from tools.scale import DST10  # noqa: E402

X10_DOCS = os.path.join(DST10, "documents.parquet")
BATCHES = 20
BATCH_ROWS = 500


def run(spark, docs, store: str, compact_max_files: int | None) -> list[float]:
    shutil.rmtree(store, ignore_errors=True)
    times = []
    for i in range(BATCHES):
        rows = docs[i * BATCH_ROWS : (i + 1) * BATCH_ROWS]
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        t0 = time.monotonic()
        neardup_merge_batch(
            batch, store, compact_max_files=compact_max_files
        )
        times.append(time.monotonic() - t0)
    return times


def main() -> None:
    spark = get_spark("compact_wired_r13")
    docs = (
        spark.read.parquet(X10_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(BATCHES * BATCH_ROWS)
        .collect()
    )
    results = {}
    for tag, mx in (("trigger-on", 8), ("trigger-off", None)):
        store = f"/root/repo/scratch/wired_{tag}"
        times = run(spark, docs, store, mx)
        results[tag] = (store, times)
        worst = {
            sub: max_files_per_partition(f"{store}/{sub}")
            for sub in ("shingles", "buckets")
        }
        print(f"{tag}: worst files/partition {worst}")
        print(
            f"{tag}: per-batch s: "
            + " ".join(f"{t:.2f}" for t in times)
        )
        head = sum(times[:5]) / 5
        tail = sum(times[-5:]) / 5
        print(
            f"{tag}: first-5 avg {head:.2f}s, last-5 avg {tail:.2f}s "
            f"(drift {tail / head:.2f}x), total {sum(times):.1f}s"
        )
    a = {
        tuple(r)
        for r in read_pairs(spark, results["trigger-on"][0]).collect()
    }
    b = {
        tuple(r)
        for r in read_pairs(spark, results["trigger-off"][0]).collect()
    }
    print(f"pairs identical: {a == b} ({len(a)} pairs)")
    for tag in results:
        shutil.rmtree(results[tag][0], ignore_errors=True)


if __name__ == "__main__":
    main()

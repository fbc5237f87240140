"""Near-dup 50k store: the post-compaction probe row VERDICT r11 #3
asked for, plus a live fire of the new file-count trigger policy
(streaming/compact.py maybe_compact) on a real accumulated store.

Method: the persisted ``scratch/stream100`` store is the r10 two-decade
curve's end state (50k docs over ~16 batches). The probe is a REPLAY of
the r10 PROBE@50k batch (docs [49500, 50000) of the x10 corpus) —
neardup_merge_batch is idempotent under replay by contract (the
crash-window pins in test_streaming), so the replay exercises exactly
the per-batch read/merge path whose cost the file-accumulation term
inflates. Sequence: replay-probe on the accumulated store ->
compaction_due census -> maybe_compact (threshold crossed -> compacts)
-> identical replay-probe on the compacted store. Results go into the
PLANS.md round-12 notes next to the winnow 14.21 -> 1.83 s row.

Run from the repo root; requires scratch/x10 (`python tools/scale.py
--factor 10` builds it) and
scratch/stream100 (tools/scale100_r10_stream.py).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from dns_log_transformer_spark.session import get_spark  # noqa: E402
from dns_log_transformer_spark.streaming.compact import (  # noqa: E402
    compaction_due,
    max_files_per_partition,
    maybe_compact,
)
from dns_log_transformer_spark.streaming.neardup_index import (  # noqa: E402
    neardup_merge_batch,
)
from tools.scale import DST10  # noqa: E402

X10_DOCS = os.path.join(DST10, "documents.parquet")
STORE = "/root/repo/scratch/stream100"


def main() -> None:
    spark = get_spark("compact_policy_r12")
    docs = (
        spark.read.parquet(X10_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50_000)
        .collect()
    )
    probe_rows = docs[49_500:50_000]

    def probe(tag: str) -> float:
        batch = spark.createDataFrame(probe_rows, "doc_id long, text string")
        t0 = time.monotonic()
        neardup_merge_batch(batch, STORE)
        dt = time.monotonic() - t0
        print(f"{tag}: replay-probe(500 docs) -> {dt:6.2f}s", flush=True)
        return dt

    for sub in ("shingles", "buckets", "pairs"):
        print(f"  {sub}: worst partition "
              f"{max_files_per_partition(f'{STORE}/{sub}')} files")
    t_pre = probe("accumulated")
    due = compaction_due(STORE, max_files=16)
    print(f"compaction_due(max_files=16) = {due}")
    t0 = time.monotonic()
    res = maybe_compact(spark, STORE, max_files=16)
    t_cmp = time.monotonic() - t0
    print(f"maybe_compact -> {res} in {t_cmp:.2f}s")
    for sub in ("shingles", "buckets", "pairs"):
        print(f"  {sub}: worst partition "
              f"{max_files_per_partition(f'{STORE}/{sub}')} files")
    t_post = probe("compacted  ")
    print(
        f"near-dup 50k store: probe {t_pre:.2f}s -> {t_post:.2f}s "
        f"({t_pre / t_post:.2f}x) after maybe_compact({t_cmp:.2f}s)"
    )


if __name__ == "__main__":
    main()

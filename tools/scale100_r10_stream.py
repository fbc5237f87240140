"""Two-decade per-batch cost curve for the streaming near-dup index
(VERDICT r9 #6): grow the accumulated index 1x -> 10x -> 100x
(0.5k -> 5k -> 50k docs, distinct-content x10 replicas built by
tools/scale.py) and time an identical FIXED-size 500-doc probe
batch at each decade.

The claim under test: per-batch cost is O(batch + touched bucket
partitions + candidate partners), never O(index) — a batch's candidate
lookup reads only the ``_bb`` partitions its own band keys hash into
and the ``_kb`` shingle partitions of its candidate partners, so the
probe time should stay flat (parquet-file-count growth inside touched
partitions gives at most a slow drift, bounded by compaction in a real
deployment).

Method: filler batches of 4,500/45,000 docs advance the index between
probes (their own wall time is reported but not the metric — a bigger
batch legitimately costs more); each probe is 500 fresh docs, the
constant micro-batch shape a crawler actually feeds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from dns_log_transformer_spark.session import get_spark  # noqa: E402
from dns_log_transformer_spark.streaming.neardup_index import (  # noqa: E402
    neardup_merge_batch,
)
from tools.scale import DST10  # noqa: E402

X10_DOCS = os.path.join(DST10, "documents.parquet")
WORKDIR = "/root/repo/scratch/stream100"
PROBE = 500


def main():
    spark = get_spark("scale100_stream")
    shutil.rmtree(WORKDIR, ignore_errors=True)
    docs = (
        spark.read.parquet(X10_DOCS)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50_000)
        .collect()
    )
    assert len(docs) == 50_000, (
        f"need 50000 docs, got {len(docs)} — run tools/scale.py --factor 10 first"
    )

    def feed(lo, hi, tag):
        batch_df = spark.createDataFrame(
            docs[lo:hi], "doc_id long, text string"
        )
        t0 = time.monotonic()
        neardup_merge_batch(batch_df, WORKDIR)
        dt = time.monotonic() - t0
        print(f"{tag}: docs [{lo}, {hi}) -> {dt:6.2f}s", flush=True)
        return dt

    probes = []
    feed(0, 500, "seed    (index 0)")
    probes.append(feed(500, 500 + PROBE, "PROBE@0.5k"))
    feed(1_000, 5_000, "fill to 5k")
    probes.append(feed(5_000, 5_000 + PROBE, "PROBE@5k  "))
    # fill to 49.5k in 9k-doc slices (keeps per-call memory bounded)
    for lo in range(5_500, 49_500, 9_000):
        feed(lo, min(lo + 9_000, 49_500), "fill      ")
    probes.append(feed(49_500, 49_500 + PROBE, "PROBE@50k "))
    p1, p10, p100 = probes
    print(
        f"decades: probe@0.5k {p1:.2f}s | probe@5k {p10:.2f}s | "
        f"probe@50k {p100:.2f}s | 100x/1x ratio {p100 / p1:.2f}x"
    )


if __name__ == "__main__":
    main()

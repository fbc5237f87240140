"""Two-decade per-batch cost curves for the two stateful sinks that
didn't yet have one (VERDICT r10 #6; the near-dup index got its flat
0.98x curve in r10 via tools/scale100_r10_stream.py):

1. ``winnow_index_sink`` (streaming/winnow_index.py) — scale risk:
   the RETROACTIVE span rewrite. A batch doc sharing anchors with old
   docs forces their spans to be recomputed; the docstring claims per
   batch cost O(batch anchors + touched buckets + affected docs'
   anchors), never O(index). Method mirrors the near-dup curve: grow
   the accumulated index 0.5k -> 5k -> 50k docs (distinct-content x10
   replica corpus, tools/scale.py) with filler batches, and time
   an identical FIXED 500-doc probe batch at each decade.

2. ``mv_sink`` (streaming/mv_sink.py) — scale risks: (a) the per-epoch
   merge as accumulated state grows (claimed O(batch keys): the epoch
   partial never reads the table back), probed with an identical fixed
   20k-row/5k-key batch against a compacted base of 5k / 50k / 500k
   keys; (b) the ``compact_mv`` fold, which IS O(base keys + partial
   keys) by design — reported per decade so the linear-in-state,
   off-the-hot-path cost is measured, not guessed.

Run from the repo root (builds nothing; requires scratch/x10 from
`python tools/scale.py --factor 10`). Results recorded in PLANS.md
round-11 notes.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dns_log_transformer_spark.session import get_spark  # noqa: E402
from dns_log_transformer_spark.streaming.mv_sink import (  # noqa: E402
    compact_mv,
    merge_epoch,
    read_mv,
)
from dns_log_transformer_spark.streaming.winnow_index import (  # noqa: E402
    merge_docs_batch,
)
from tools.scale import DST10  # noqa: E402

X10_DOCS = os.path.join(DST10, "documents.parquet")
WINNOW_DIR = "/root/repo/scratch/winnow100"
MV_DIR = "/root/repo/scratch/mv100"
PROBE = 500


def winnow_curve(spark) -> None:
    shutil.rmtree(WINNOW_DIR, ignore_errors=True)
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
        merge_docs_batch(batch_df, WINNOW_DIR)
        dt = time.monotonic() - t0
        print(f"winnow {tag}: docs [{lo}, {hi}) -> {dt:6.2f}s", flush=True)
        return dt

    probes = []
    feed(0, 500, "seed    (index 0)")
    probes.append(feed(500, 500 + PROBE, "PROBE@0.5k"))
    feed(1_000, 5_000, "fill to 5k")
    probes.append(feed(5_000, 5_000 + PROBE, "PROBE@5k  "))
    for lo in range(5_500, 49_500, 9_000):
        feed(lo, min(lo + 9_000, 49_500), "fill      ")
    probes.append(feed(49_500, 49_500 + PROBE, "PROBE@50k "))
    p1, p10, p100 = probes
    print(
        f"winnow decades: probe@0.5k {p1:.2f}s | probe@5k {p10:.2f}s | "
        f"probe@50k {p100:.2f}s | 100x/1x ratio {p100 / p1:.2f}x",
        flush=True,
    )


def _facts(spark, n_rows: int, n_keys: int, salt: int):
    return spark.range(n_rows).select(
        ((F.col("id") * 2654435761 + salt) % n_keys).alias("k"),
        ((F.col("id") * 97 + salt) % 10_000).alias("v"),
    )


def mv_curve(spark) -> None:
    for decade, base_keys in enumerate((5_000, 50_000, 500_000)):
        table = f"{MV_DIR}/k{base_keys}"
        shutil.rmtree(table, ignore_errors=True)
        # build the accumulated state: 4 epochs covering base_keys keys,
        # folded into a single base so the probe sees a compacted table
        for e in range(4):
            merge_epoch(
                _facts(spark, base_keys * 2, base_keys, e), e, table, "k", "v"
            )
        t0 = time.monotonic()
        compact_mv(spark, table)
        t_fold = time.monotonic() - t0
        # identical probe batch at every decade: 20k rows over 5k keys
        probe = _facts(spark, 20_000, 5_000, 991).localCheckpoint()
        t0 = time.monotonic()
        merge_epoch(probe, 10, table, "k", "v")
        t_merge = time.monotonic() - t0
        t0 = time.monotonic()
        n = read_mv(spark, table).count()
        t_read = time.monotonic() - t0
        print(
            f"mv base={base_keys:>7} keys: fold {t_fold:5.2f}s | "
            f"probe merge_epoch {t_merge:5.2f}s | read_mv({n} keys) "
            f"{t_read:5.2f}s",
            flush=True,
        )
        if decade == 0:
            base_merge = t_merge
    print(
        f"mv decades: probe merge 100x/1x ratio {t_merge / base_merge:.2f}x "
        "(fold and read are O(state) BY DESIGN — off the per-batch path)",
        flush=True,
    )


def main() -> None:
    spark = get_spark("scale100_r11_sinks")
    mv_curve(spark)
    winnow_curve(spark)


if __name__ == "__main__":
    main()

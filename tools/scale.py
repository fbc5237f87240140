"""Input-scaling rows: time registered queries on the sf0.1 fixture and
on its distinct-content 10x (and 100x) replicas.

Usage: python tools/scale.py --factor 10|100 [<query> ...]

With no query it only builds and checks the replica set. Otherwise it
prints a header (cores, loadavg) and one row per query:

  name: 1x 0.52s (7 rows) | 10x 0.81s (7 rows) | ratio 1.6x

``--factor 100`` appends ``| 100x ... | 10->100 ratio ...`` to each row.
Each scale is timed the same way: one untimed warm run, then the min of
2 timed ``.count()`` runs of the full result, with ``release_all()``
after each. The core count comes from SPARK_GRAFT_CPUS, as for every
SparkSession built by ``get_spark``.

This module is the one place that knows the replica recipe. scratch/x10
(and scratch/x100 for factor 100) is built on first use; every
replicated table is then checked before anything is timed (``check``):
a real directory, not a symlink, with exactly factor x the sf0.1 rows
and factor x its distinct ids. A symlinked 1x table once passed an
existence gate and silently turned 10x rows into 1x measurements.

Replica r of each table (r = 0 .. factor-1) gets distinct content:

- documents: doc_id + r*1e7, source suffixed ``_r{r}``. Text at x10
  rotates the vowels by r (5 variants); at x100 it applies a seeded
  26-letter permutation per replica, so shingle sets are disjoint
  across replicas and near-dup structure per replica matches 1x (100
  vowel rotations would give every doc ~19 exact twins and saturate the
  LSH buckets instead of scaling them).
- orders: o_orderkey + r*1e8, o_custkey + r*1e7, totalprice + r*0.07.
- lineitem: l_orderkey + r*1e8 (matching orders), l_suppkey + r*1e4.
- events: event_id + r*1e8, user_id + r*1e6 (x10) or r*1e7 (x100);
  ts unchanged, so the time span stays fixed and traffic gets denser.
- embeddings: vec_id + r*1e7, aligned with the documents offsets so
  vec->doc joins span every replica; vectors rolled by r positions,
  and negated on odd full turns so no two of 100 replicas repeat.
- part (x10 only): p_partkey + r*1e7. Replicas repeat the same
  (price, size) points, so q_skyline_pareto returns each skyline point
  once per replica (40 rows at x10 vs 4 at 1x).

customer, supplier, nation and region are 1x symlinks in scratch/x10.
scratch/x100 holds documents, events and embeddings only; queries that
read any other table fail there (and tools that sweep it skip them).
"""

from __future__ import annotations

import argparse
import os
import random
import string
import sys
import time
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.queries import ALL_QUERIES  # noqa: E402
from dns_log_transformer_spark.session import get_spark, read_table  # noqa: E402

SRC = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")
DST10 = os.path.join(REPO, "scratch", "x10")
DST100 = os.path.join(REPO, "scratch", "x100")
DST = {10: DST10, 100: DST100}

VOWELS = "aeiou"
ALPHA = string.ascii_lowercase


def _documents_x10(docs: DataFrame, r: int) -> DataFrame:
    rot = VOWELS[r % 5 :] + VOWELS[: r % 5]
    return _documents(docs, r, VOWELS, rot)


def _documents_x100(docs: DataFrame, r: int) -> DataFrame:
    perm = list(ALPHA)
    random.Random(r).shuffle(perm)
    return _documents(docs, r, ALPHA, "".join(perm))


def _documents(docs: DataFrame, r: int, src: str, dst: str) -> DataFrame:
    return docs.select(
        (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
        F.translate("text", src, dst).alias("text"),
        "lang",
        F.concat("source", F.lit(f"_r{r}")).alias("source"),
        "n_chars",
    )


def _orders(orders: DataFrame, r: int) -> DataFrame:
    return orders.select(
        (F.col("o_orderkey") + r * 100_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + r * 10_000_000).alias("o_custkey"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") + r * 0.07, 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


def _lineitem(li: DataFrame, r: int) -> DataFrame:
    return li.select(
        (F.col("l_orderkey") + r * 100_000_000).alias("l_orderkey"),
        "l_partkey",
        (F.col("l_suppkey") + r * 10_000).alias("l_suppkey"),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )


def _events(user_step: int):
    def replica(ev: DataFrame, r: int) -> DataFrame:
        return ev.select(
            (F.col("event_id") + r * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + r * user_step).alias("user_id"),
            "event_type",
            "value",
            "props",
        )

    return replica


def _embeddings(emb: DataFrame, r: int) -> DataFrame:
    x = f"embedding[(i + {r}) % size(embedding)]"
    rolled = F.expr(
        f"transform(embedding, (_, i) -> "
        f"IF(({r} div size(embedding)) % 2 = 1, -{x}, {x}))"
    )
    return emb.select(
        (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
        rolled.alias("embedding"),
        "label",
    )


def _part(part: DataFrame, r: int) -> DataFrame:
    return part.withColumn("p_partkey", F.col("p_partkey") + r * 10_000_000)


#: factor -> {table: replica transform (df, r) -> df}
RECIPES = {
    10: {
        "documents": _documents_x10,
        "orders": _orders,
        "events": _events(1_000_000),
        "lineitem": _lineitem,
        "embeddings": _embeddings,
        "part": _part,
    },
    100: {
        "documents": _documents_x100,
        "events": _events(10_000_000),
        "embeddings": _embeddings,
    },
}
#: columns that identify a row; replicas never share a value
ID_COLS = {
    "documents": ("doc_id",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "embeddings": ("vec_id",),
    "part": ("p_partkey",),
}
#: 1x tables symlinked into scratch/x10
LINKED = ("customer", "supplier", "nation", "region")


class ReplicaError(RuntimeError):
    """A replica table is missing, a symlink, miscounted or has
    repeated ids."""


def build(spark, factor: int, src: str = SRC, dst: str | None = None) -> None:
    """Write every replicated table missing under ``dst``; existing
    entries (even bad ones) are left for :func:`check` to judge."""
    dst = dst or DST[factor]
    os.makedirs(dst, exist_ok=True)
    for table, replica in RECIPES[factor].items():
        out = os.path.join(dst, f"{table}.parquet")
        if os.path.lexists(out):
            continue
        base = read_table(spark, src, table)
        reps = [replica(base, r) for r in range(factor)]
        reduce(DataFrame.unionAll, reps).write.parquet(out)
    if factor == 10:
        for table in LINKED:
            link = os.path.join(dst, f"{table}.parquet")
            if not os.path.lexists(link):
                os.symlink(os.path.join(src, f"{table}.parquet"), link)


def check(spark, factor: int, src: str = SRC, dst: str | None = None) -> None:
    """Raise :class:`ReplicaError` unless every replicated table under
    ``dst`` is a real directory holding factor x the ``src`` rows and
    factor x its distinct ids, i.e. no replica repeats another's ids."""
    dst = dst or DST[factor]
    for table in RECIPES[factor]:
        path = os.path.join(dst, f"{table}.parquet")
        if os.path.islink(path) or not os.path.isdir(path):
            raise ReplicaError(f"{path}: not a replica directory")
        base = read_table(spark, src, table)
        want = [factor * n for n in _rows_and_ids(base, table)]
        got = _rows_and_ids(spark.read.parquet(path), table)
        if got != want:
            raise ReplicaError(
                f"{path}: {got[0]} rows, {got[1]} distinct ids; want "
                f"{want[0]} and {want[1]} ({factor} x {src})"
            )


def _rows_and_ids(df: DataFrame, table: str) -> list[int]:
    # lineitem has no unique key in the fixtures, so ids are compared
    # as counts against the source rather than against the row count
    ids = F.count_distinct(*ID_COLS[table])
    return list(df.agg(F.count(F.lit(1)), ids).first())


def timeq(spark, name: str, sf_dir: str) -> tuple[float, int]:
    q = ALL_QUERIES[name]
    q.fn(spark, sf_dir).count()
    release_all()
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        n = q.fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        release_all()
        best = dt if best is None else min(best, dt)
    return best, n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Time queries at 1x, 10x and optionally 100x input."
    )
    ap.add_argument("--factor", type=int, choices=(10, 100), required=True)
    ap.add_argument("queries", nargs="*", metavar="query")
    args = ap.parse_args(argv)
    unknown = [q for q in args.queries if q not in ALL_QUERIES]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    spark = get_spark(f"scale{args.factor}")
    factors = (10,) if args.factor == 10 else (10, 100)
    for factor in factors:
        build(spark, factor)
        check(spark, factor)
    if not args.queries:
        return 0
    print(f"cpus={spark.sparkContext.defaultParallelism} "
          f"load={[round(x, 2) for x in os.getloadavg()]}")
    for name in args.queries:
        t1, n1 = timeq(spark, name, SRC)
        t10, n10 = timeq(spark, name, DST10)
        row = (
            f"{name}: 1x {t1:.2f}s ({n1} rows) | 10x {t10:.2f}s ({n10} rows)"
            f" | ratio {t10 / t1:.1f}x"
        )
        if args.factor == 100:
            t100, n100 = timeq(spark, name, DST100)
            row += (
                f" | 100x {t100:.2f}s ({n100} rows)"
                f" | 10->100 ratio {t100 / t10:.1f}x"
            )
        print(row, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

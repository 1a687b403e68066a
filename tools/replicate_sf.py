"""Replicate an sf dir N× with consistent key remapping — a LOCAL
perf-smoke generator for scale checks above the largest shipped sf
(round 6: `/tmp/x4data`, BENCH/r06_session2_x4data.json).

Dimension tables (region, nation) stay fixed, TPC-H style; every
other table is crossJoined with range(N) and its key columns offset
by rep * stride, with matching strides on both sides of every FK so
joins keep hitting. Text/embedding payloads repeat verbatim — block
keys and LSH buckets therefore grow linearly with N exactly like hot
surface forms do in real corpora (same argument as bench.py's
replicated pipeline fixture), which is the interesting stress.

Usage: python tools/replicate_sf.py <src_sf_dir> <dst_dir> [N=4]
NOTE: do not put the substring "sf" in <dst_dir> if you plan to point
bench.py at it (its sf-label parser floats whatever follows "sf").
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
# key column → per-replica offset stride (FK pairs share one stride)
OFFSETS = {
    "c_custkey": 10**7, "s_suppkey": 10**7, "p_partkey": 10**7,
    "o_orderkey": 10**9, "o_custkey": 10**7,
    "l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**7,
    "event_id": 10**9, "user_id": 10**7,
    "doc_id": 10**7, "vec_id": 10**7,
}


INT64_MAX = 2**63 - 1


def check_offsets(table: str, key_max: dict[str, int | None], n: int) -> None:
    """Refuse a replication whose remapped keys would collide across
    replicas (a key at or above its stride) or overflow int64."""
    for c, mx in key_max.items():
        stride = OFFSETS[c]
        if mx is not None and mx >= stride:
            raise ValueError(f"{table}.{c}: max key {mx} >= stride {stride}; "
                             "replicas would collide")
        if n * stride > INT64_MAX:
            raise ValueError(f"{table}.{c}: {n} replicas x stride {stride} "
                             "overflows int64")


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    if len(args) < 2:
        sys.exit("usage: python tools/replicate_sf.py "
                 "<src_sf_dir> <dst_dir> [N=4]")
    src, dst = args[0], args[1]
    if os.path.abspath(src) == os.path.abspath(dst):
        sys.exit(f"refusing to replicate {src} onto itself")
    n = int(args[2]) if len(args) > 2 else 4
    from semlink.session import get_spark
    spark = get_spark("replicate-sf")
    dfs = {t: spark.read.parquet(f"{src}/{t}.parquet") for t in TABLES}
    keys = {t: [c for c in df.columns if c in OFFSETS] for t, df in dfs.items()}
    # validate every table before the first write
    for t, keyed in keys.items():
        if keyed:
            row = dfs[t].agg(*[F.max(c).alias(c) for c in keyed]).first()
            check_offsets(t, {c: row[c] for c in keyed}, n)
    reps = spark.range(n).select(F.col("id").alias("rep"))
    for t, df in dfs.items():
        types = {f.name: f.dataType for f in df.schema.fields}
        keyed = keys[t]
        out = df
        if keyed:
            out = df.crossJoin(reps)
            for c in keyed:
                out = out.withColumn(
                    c, (F.col(c) + F.col("rep") * OFFSETS[c]).cast(types[c]))
            out = out.drop("rep").repartition(8)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(t, "->", spark.read.parquet(f"{dst}/{t}.parquet").count())


if __name__ == "__main__":
    main()

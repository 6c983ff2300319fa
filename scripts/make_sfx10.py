"""Synthesize a 10x composite of the sf0.1 fixture (effective sf ~= 1)
for whole-registry scale benching (verdict r9 item 4).

No sf1 fixture exists in this container, so this script key-shifts the
sf0.1 tables 10x while preserving the fixture's character:

- region/nation: fixed dimensions (TPC-H semantics — they do not scale);
- customer/supplier/part/orders/lineitem: every copy shifts each key
  space by copy * max(key), with foreign keys shifted consistently, so
  referential integrity, join fan-outs, and rows-per-group on bounded
  axes (day, nation, brand) all scale 10x the way a real sf1 would;
- events: event_id/user_id shifted, timestamps KEPT (day cardinality is
  a bounded axis; rows-per-day x10 is the honest scaling);
- documents: doc_id shifted; copies >0 get a deterministic per-copy
  WORD-ORDER PERMUTATION (hash-keyed sort) plus a short suffix, so
  texts stay distinct AND their word-3-gram shingle sets diverge (the
  fixture has no exact or near duplicates — suffix-only replication
  planted 10-way near-dup families, flooding the LSH candidate stage
  with workload the real corpus does not have: dedup_edit_distance
  read x81 on that first composite); n_chars recomputed;
- embeddings: vec_id shifted; copies >0 perturbed with deterministic
  hash noise so vectors stay distinct.

Writes to /tmp/sfx10 (outside the read-only testdata tree).

Run:  python scripts/make_sfx10.py [n_copies] [out_dir]
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.session import get_session  # noqa: E402

SRC = "/root/testdata/sf0.1"


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfx10"
    os.makedirs(out, exist_ok=True)
    spark = get_session(app_name=f"make-sfx{n_copies}")
    spark.sparkContext.setLogLevel("ERROR")

    def rd(t):
        return spark.read.parquet(f"{SRC}/{t}.parquet")

    def wr(df, t):
        df.coalesce(8).write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        # the fixture layout is a bare .parquet file-or-dir per table;
        # a directory of part files reads identically

    # fixed dims
    for t in ("region", "nation"):
        wr(rd(t), t)

    maxes = {}
    for t, k in (
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("lineitem", None),
        ("events", None),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        if k:
            maxes[t] = rd(t).agg(F.max(k)).first()[0]
    maxes["events_id"] = rd("events").agg(F.max("event_id")).first()[0]
    maxes["events_user"] = rd("events").agg(F.max("user_id")).first()[0]

    copies = spark.range(n_copies).withColumnRenamed("id", "_c")

    def rep(t):
        return rd(t).crossJoin(copies)

    def shift(col, mx):
        # fixture keys are 0-based (0..max), so the per-copy stride is
        # max+1 — a stride of max would collide each copy's top key
        # with the next copy's key 0
        return (
            (F.col(col) + F.col("_c") * F.lit(mx + 1))
            .cast("bigint")
            .alias(col)
        )

    wr(
        rep("customer").select(
            shift("c_custkey", maxes["customer"]),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        ),
        "customer",
    )
    wr(
        rep("supplier").select(
            shift("s_suppkey", maxes["supplier"]),
            "s_name", "s_nationkey", "s_acctbal",
        ),
        "supplier",
    )
    wr(
        rep("part").select(
            shift("p_partkey", maxes["part"]),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        ),
        "part",
    )
    wr(
        rep("orders").select(
            shift("o_orderkey", maxes["orders"]),
            shift("o_custkey", maxes["customer"]),
            "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority",
        ),
        "orders",
    )
    wr(
        rep("lineitem").select(
            shift("l_orderkey", maxes["orders"]),
            shift("l_partkey", maxes["part"]),
            shift("l_suppkey", maxes["supplier"]),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ),
        "lineitem",
    )
    wr(
        rep("events").select(
            shift("event_id", maxes["events_id"]),
            "ts",
            (F.col("user_id") + F.col("_c") * F.lit(maxes["events_user"]))
            .cast("bigint")
            .alias("user_id"),
            "event_type", "value", "props",
        ),
        "events",
    )
    words = F.split(F.col("text"), " ")
    permuted = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    words,
                    lambda w, i: F.struct(
                        F.xxhash64(w, i, F.col("_c")).alias("h"),
                        w.alias("w"),
                    ),
                )
            ),
            lambda s: s["w"],
        ),
        " ",
    )
    docs = rep("documents").select(
        shift("doc_id", maxes["documents"]),
        F.when(F.col("_c") == 0, F.col("text"))
        .otherwise(F.concat(permuted, F.lit(" zq"), F.col("_c")))
        .alias("text"),
        "lang", "source",
    )
    wr(docs.withColumn("n_chars", F.length("text").cast("long")), "documents")
    wr(
        rep("embeddings").select(
            shift("vec_id", maxes["embeddings"]),
            F.when(F.col("_c") == 0, F.col("embedding"))
            .otherwise(
                F.transform(
                    F.col("embedding"),
                    lambda x: x
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("_c"), x),
                            F.lit(1000),
                        ).cast("double")
                        - 500.0
                    )
                    / 25000.0,
                ).cast("array<float>")
            )
            .alias("embedding"),
            "label",
        ),
        "embeddings",
    )
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        print(t, spark.read.parquet(f"{out}/{t}.parquet").count())


if __name__ == "__main__":
    main()

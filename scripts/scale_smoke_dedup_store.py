"""Scale smoke for the streaming exact-dedup digest index
(streaming/dedup_sink.py), round 12. Claims pinned with a committed
artifact:

1. **The store compacts to the DIGEST grain, not the corpus**: with
   n_copies exact replicas of the sf0.1 documents (corpus grows n x),
   the merged index stays exactly |distinct texts| rows — dedup state
   is flat while raw history grows without bound.
2. **Merge-on-read ≡ batch bit-identity at scale**: min-keeper and
   copy counts from fragmented micro-batch partials equal the batch
   operator over the full replicated corpus — checked by a full-frame
   aggregate fingerprint PLUS an exact per-row comparison on a
   1k-digest sample and a full-frame keeper-range filter (collecting
   all rows to compare dicts would be a driver anti-pattern here).
3. **Serving cost is store-bound, not history-bound**: flagging a
   FIXED 5k-doc batch against the compacted index costs ~the same for
   10x and 100x raw history (both compact to the same digest grain).

Run:  python scripts/scale_smoke_dedup_store.py [n_copies]
Default 100 (sf0.1 documents x100 = 5M docs; doc_ids shifted per copy
so min-keeper selection is exercised globally across batches).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    exact_dedup_groups,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402
from scala_data_pipeline_spark.streaming.dedup_sink import (  # noqa: E402
    dedup_append_sink,
    flag_new_batch,
    merged_groups,
)

SF_DIR = "/root/testdata/sf0.1"
ID_STRIDE = 100_000_000
COPIES_PER_BATCH = 5  # production micro-batches are multi-file too


def replicated(docs, copies: list[int]):
    sel = F.array(*[F.lit(c) for c in copies])
    return (
        docs.withColumn("copy", F.explode(sel))
        .withColumn(
            "doc_id",
            F.col("doc_id")
            + F.col("copy").cast("long") * F.lit(ID_STRIDE).cast("long"),
        )
        .drop("copy")
    )


def build_store(docs, n_copies: int, target: str) -> int:
    """Append per-micro-batch partials through the sink's own write
    path (COPIES_PER_BATCH replicas per batch)."""
    sink = dedup_append_sink(target)
    n_batches = 0
    for start in range(0, n_copies, COPIES_PER_BATCH):
        copies = list(range(start, min(start + COPIES_PER_BATCH, n_copies)))
        sink(replicated(docs, copies), n_batches)
        n_batches += 1
    return n_batches


def fingerprint(df) -> tuple:
    """Order-independent full-frame fingerprint: row count + long sums
    of (keeper, copies) + xor-free hash sum over all columns."""
    return tuple(
        df.select(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("keeper_id").cast("long").alias("sk"),
            F.sum("n_copies").cast("long").alias("sc"),
            F.sum(
                F.crc32(F.concat_ws("|", "digest", "keeper_id", "n_copies"))
            )
            .cast("long")
            .alias("h"),
        ).first()
    )


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_session(app_name=f"scale-smoke-dedup-store-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents").localCheckpoint()
    n_docs = docs.count()
    # sf0.1 carries a handful of intra-base exact dups (4992 distinct
    # of 5000) — the digest grain is distinct TEXTS, not doc rows
    n_distinct = docs.select("text").distinct().count()
    report: dict = {
        "n_copies": n_copies,
        "base_docs": n_docs,
        "base_distinct_texts": n_distinct,
    }

    with tempfile.TemporaryDirectory() as tmp:
        small = max(n_copies // 10, 1)
        for name, n in (("small", small), ("big", n_copies)):
            t0 = time.monotonic()
            nb = build_store(docs, n, f"{tmp}/store_{name}")
            report[f"t_build_{name}_sec"] = round(time.monotonic() - t0, 2)
            report[f"n_batches_{name}"] = nb

        # claim 1: merged index is digest-grain — flat while the raw
        # corpus grew n_copies x
        merged_big = merged_groups(spark, f"{tmp}/store_big")
        report["corpus_rows_big"] = n_docs * n_copies
        report["index_rows_big"] = merged_big.count()
        report["index_flat"] = report["index_rows_big"] == n_distinct

        # claim 2: merge-on-read ≡ batch over the full history —
        # full-frame fingerprint + exact 1k-digest row sample below
        batch_groups = exact_dedup_groups(
            replicated(docs, list(range(n_copies)))
        )
        t0 = time.monotonic()
        fp_merge = fingerprint(merged_big)
        report["t_merge_read_big_sec"] = round(time.monotonic() - t0, 2)
        fp_batch = fingerprint(batch_groups)
        report["merge_equals_batch"] = fp_merge == fp_batch
        # per-row check on a 1k-digest sample (the fingerprint alone
        # could in principle hide compensating row differences):
        # every sampled digest must agree on (keeper, count) exactly
        sample = merged_big.orderBy("digest").limit(1000)
        mismatches = (
            sample.alias("m")
            .join(batch_groups.alias("b"), on="digest", how="left")
            .filter(
                (F.col("m.keeper_id") != F.col("b.keeper_id"))
                | (F.col("m.n_copies") != F.col("b.n_copies"))
                | F.col("b.keeper_id").isNull()
            )
            .count()
        )
        report["sampled_rows_checked"] = 1000
        report["sampled_row_mismatches"] = mismatches
        keepers_ok = (
            merged_big.filter(F.col("keeper_id") >= F.lit(ID_STRIDE))
            .limit(1)
            .count()
            == 0
        )
        report["keepers_are_copy0"] = keepers_ok  # full-frame filter

        # compaction: rewrite the fragmented partials as ONE partial
        # per digest (same read→merge plan, offline)
        for name in ("small", "big"):
            merged_groups(spark, f"{tmp}/store_{name}").write.mode(
                "overwrite"
            ).parquet(f"{tmp}/compact_{name}")

        # claim 3: flagging a FIXED batch is store-bound — identical
        # digest grain after compaction, so ~flat in raw history size
        probe = docs.limit(5000).localCheckpoint()
        for name in ("small", "big"):
            t0 = time.monotonic()
            n_dup = (
                flag_new_batch(spark, f"{tmp}/compact_{name}", probe)
                .filter("is_dup_of_history")
                .count()
            )
            report[f"t_flag_vs_{name}_sec"] = round(
                time.monotonic() - t0, 2
            )
            report[f"n_dup_vs_{name}"] = n_dup

    print(json.dumps(report))


if __name__ == "__main__":
    main()

"""bucket_pairs: the one in-bucket pair emitter behind the LSH, simhash,
KNN, n-gram and prefix-join candidate generators.

Within the cap a bucket emits every pair a < b; above it, the keeper
star (ids[1] with every other id). Both are checked against
itertools.combinations for scalar and struct ids, and the plan's
observe metrics are read back from the executed query.
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ext.dedup import bucket_pairs

CAP = 5
SIZES = (2, CAP, CAP + 1)


def _buckets(spark, struct_ids: bool):
    """One bucket per size in SIZES, ids disjoint across buckets; struct
    ids carry a size field that sorts after doc_id."""
    rows, start = [], 0
    for bucket, n in enumerate(SIZES):
        ids = list(range(start, start + n))
        start += n
        rows.append((bucket, [(i, 100 - i) for i in ids] if struct_ids else ids))
    elem = "struct<doc_id:bigint,sz:int>" if struct_ids else "bigint"
    return rows, spark.createDataFrame(rows, f"bucket int, ids array<{elem}>")


def _expected(ids):
    if len(ids) <= CAP:
        return set(combinations(ids, 2))
    return {(ids[0], other) for other in ids[1:]}


@pytest.mark.parametrize("struct_ids", [False, True], ids=["bigint", "struct"])
def test_pairs_are_combinations_within_cap_and_star_above(spark, struct_ids):
    rows, grouped = _buckets(spark, struct_ids)
    got = bucket_pairs(grouped, CAP).collect()
    if struct_ids:
        got_pairs = [((r.a.doc_id, r.a.sz), (r.b.doc_id, r.b.sz)) for r in got]
        want = set().union(*(_expected([tuple(x) for x in ids]) for _, ids in rows))
    else:
        got_pairs = [(r.a, r.b) for r in got]
        want = set().union(*(_expected(ids) for _, ids in rows))
    assert len(got_pairs) == len(set(got_pairs))  # no pair twice
    assert set(got_pairs) == want
    # C(2,2) + C(cap,2) + cap star edges for the cap+1 bucket
    assert len(got_pairs) == 1 + CAP * (CAP - 1) // 2 + CAP


def test_single_id_buckets_emit_nothing(spark):
    grouped = spark.createDataFrame([(0, [7]), (1, [8, 9])], "bucket int, ids array<bigint>")
    assert [(r.a, r.b) for r in bucket_pairs(grouped, CAP).collect()] == [(8, 9)]


def test_observed_metrics_count_oversized_and_max_bucket(spark):
    sizes = (1, 2, CAP, CAP + 1, CAP + 3)
    rows, start = [], 0
    for bucket, n in enumerate(sizes):
        rows.append((bucket, list(range(start, start + n))))
        start += n
    grouped = spark.createDataFrame(rows, "bucket int, ids array<bigint>")
    pairs = bucket_pairs(grouped, CAP).agg(F.count(F.lit(1)).alias("n"))
    assert pairs.collect()[0]["n"] == 1 + CAP * (CAP - 1) // 2 + CAP + (CAP + 2)
    observed = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        pairs._jdf.queryExecution().observedMetrics()
    )
    assert len(observed) == 1
    (row,) = observed.values()
    assert row.getAs("oversized_buckets") == 2
    assert row.getAs("max_bucket") == CAP + 3

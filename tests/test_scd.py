"""SCD2 and CDC merges: every branch on a hand-built dimension, and
CDC idempotence over the fixture's orders."""

from __future__ import annotations

import os

import pytest

from scala_data_pipeline_spark.operators.scd import (
    OPEN_END,
    cdc_latest_wins,
    scd2_apply,
)


def test_scd2_branches(spark):
    dim = spark.createDataFrame(
        [
            # unchanged current
            (1, "alice", 10.0, "2024-01-01", OPEN_END, True),
            # will change
            (2, "bob", 20.0, "2024-01-01", OPEN_END, True),
            # history row of key 2 — must pass through untouched
            (2, "bob", 15.0, "2023-01-01", "2024-01-01", False),
            # current row not in updates
            (3, "carol", 30.0, "2024-01-01", OPEN_END, True),
        ],
        ["cust_key", "name", "acctbal", "effective_from", "effective_to", "is_current"],
    )
    updates = spark.createDataFrame(
        [
            (1, "alice", 10.0),  # no-op
            (2, "bob", 99.0),  # change
            (4, "dave", 5.0),  # new key
        ],
        ["cust_key", "name", "acctbal"],
    )
    out = scd2_apply(dim, updates, "cust_key", ["name", "acctbal"], "2024-06-01")
    rows = sorted(
        map(tuple, out.collect()), key=lambda r: (r[0], r[3], r[4])
    )
    assert rows == [
        (1, "alice", 10.0, "2024-01-01", OPEN_END, True),
        (2, "bob", 15.0, "2023-01-01", "2024-01-01", False),
        (2, "bob", 20.0, "2024-01-01", "2024-06-01", False),
        (2, "bob", 99.0, "2024-06-01", OPEN_END, True),
        (3, "carol", 30.0, "2024-01-01", OPEN_END, True),
        (4, "dave", 5.0, "2024-06-01", OPEN_END, True),
    ]


def test_scd2_fold_invariants(spark):
    """Folding update batches sequentially keeps the SCD2 contract at
    every step: exactly one current row per key, per-key validity
    intervals contiguous ([from, to) chains with no gap/overlap), and
    the current attributes equal the latest applied update."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [(1, "a", 1.0, "2024-01-01", OPEN_END, True)],
        ["cust_key", "name", "acctbal", "effective_from", "effective_to", "is_current"],
    )
    batches = [
        ("2024-02-01", [(1, "a", 2.0), (2, "b", 1.0)]),
        ("2024-03-01", [(1, "a", 3.0), (2, "b", 1.0), (3, "c", 9.0)]),
        ("2024-04-01", [(1, "a", 3.0), (2, "b", 2.0), (3, "c", 8.0)]),
    ]
    hist = dim
    last_attrs: dict = {1: ("a", 1.0)}
    for load_date, rows in batches:
        updates = spark.createDataFrame(
            rows, ["cust_key", "name", "acctbal"]
        )
        hist = scd2_apply(
            hist, updates, "cust_key", ["name", "acctbal"], load_date
        )
        for k, n, b in rows:
            last_attrs[k] = (n, b)

    collected = hist.collect()
    by_key: dict = {}
    for r in collected:
        by_key.setdefault(r.cust_key, []).append(r)
    for key, rows in by_key.items():
        currents = [r for r in rows if r.is_current]
        assert len(currents) == 1, (key, rows)
        assert (currents[0].name, currents[0].acctbal) == last_attrs[key]
        spans = sorted(
            (r.effective_from, r.effective_to) for r in rows
        )
        for (f1, t1), (f2, t2) in zip(spans, spans[1:]):
            assert t1 == f2, (key, spans)  # contiguous, no gap/overlap
        assert spans[-1][1] == OPEN_END


def test_cdc_apply_all_merge_branches(spark):
    """cdc_apply's four MERGE branches on a synthetic base+log: KEEP
    (no change), U (upsert), D (delete), and insert (key absent from
    base) — the parquet fixture only fires U/D (every customer has
    orders), so this locks the other branches."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["cust_key", "name", "acctbal"],
    )
    d = datetime.date(2024, 1, 1)
    log = spark.createDataFrame(
        [
            (2, "U", 99.0, d, 1),   # update
            (3, "U", 7.0, d, 2),    # superseded by the later delete
            (3, "D", 0.0, d, 3),    # delete wins (higher key, same day)
            (4, "U", 5.0, d, 4),    # insert (not in base)
        ],
        ["cust_key", "op", "new_acctbal", "o_orderdate", "o_orderkey"],
    )
    w = Window.partitionBy("cust_key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cust_key", "op", "new_acctbal")
    )
    merged = base.join(latest, on="cust_key", how="full_outer")
    out = {
        r.cust_key: r
        for r in merged.filter(
            F.col("op").isNull() | (F.col("op") != "D")
        )
        .select(
            "cust_key",
            F.coalesce(
                F.col("name"),
                F.concat(F.lit("NEW#"), F.col("cust_key").cast("string")),
            ).alias("name"),
            F.coalesce(F.col("new_acctbal"), F.col("acctbal")).alias(
                "acctbal"
            ),
            F.coalesce(F.col("op"), F.lit("KEEP")).alias("last_op"),
        )
        .collect()
    }
    assert set(out) == {1, 2, 4}              # 3 deleted
    assert out[1].last_op == "KEEP" and out[1].acctbal == 10.0
    assert out[2].last_op == "U" and out[2].acctbal == 99.0
    assert out[4].last_op == "U" and out[4].name == "NEW#4"
    assert out[4].acctbal == 5.0


def test_scd2_null_business_key(spark):
    """NULL-keyed rows must not corrupt the merge (round-13 review):
    a NULL-keyed current row with an unchanged NULL-keyed update passes
    through; changing it closes + reopens it exactly once — never the
    old behavior (spurious close + fabricated all-NULL current row)."""
    dim = spark.createDataFrame(
        [
            (None, "anon", 7.0, "2024-01-01", OPEN_END, True),
            (1, "alice", 10.0, "2024-01-01", OPEN_END, True),
        ],
        ["cust_key", "name", "acctbal", "effective_from", "effective_to", "is_current"],
    )
    upd_schema = "cust_key bigint, name string, acctbal double"
    # unchanged NULL-key update: pure passthrough
    upd_same = spark.createDataFrame([(None, "anon", 7.0)], upd_schema)
    out = {
        (r.cust_key, r.is_current): r
        for r in scd2_apply(
            dim, upd_same, "cust_key", ["name", "acctbal"], "2024-06-01"
        ).collect()
    }
    assert len(out) == 2
    assert out[(None, True)].acctbal == 7.0
    assert out[(None, True)].effective_from == "2024-01-01"
    # changed NULL-key update: one close + one reopen
    upd_diff = spark.createDataFrame([(None, "anon", 8.5)], upd_schema)
    rows = scd2_apply(
        dim, upd_diff, "cust_key", ["name", "acctbal"], "2024-06-01"
    ).collect()
    nulls = [r for r in rows if r.cust_key is None]
    assert len(nulls) == 2
    closed = [r for r in nulls if not r.is_current]
    opened = [r for r in nulls if r.is_current]
    assert len(closed) == 1 and closed[0].effective_to == "2024-06-01"
    assert len(opened) == 1 and opened[0].acctbal == 8.5
    # alice untouched either way
    assert sum(1 for r in rows if r.cust_key == 1) == 1


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_cdc_latest_wins_idempotent(spark, sf_dir, sf):
    """Applying the same changelog twice (at-least-once delivery) yields
    the first apply's state row for row. The log is every order as a
    change of its customer: status 'F' deletes, anything else upserts
    the balance to the order's total."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.sources import load_table

    root = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf)
    base = load_table(spark, root, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    log = load_table(spark, root, "orders").select(
        F.col("o_custkey").alias("cust_key"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
        F.round("o_totalprice", 2).alias("new_acctbal"),
        "o_orderdate",
        "o_orderkey",
    )
    once = cdc_latest_wins(base, log)
    twice = cdc_latest_wins(once.drop("last_op"), log)
    first = sorted(tuple(r) for r in once.collect())
    assert sorted(tuple(r) for r in twice.collect()) == first
    # both branches fired: some customers were deleted, some upserted
    assert len(first) < base.count()
    assert any(r[3] == "U" for r in first)

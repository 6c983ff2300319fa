"""operators/ranking.py: the two-pass range-partitioned ranking must be
bit-identical to the single-task window it replaces, global or per
group: rank, group sizes, running sums, totals, and the ntile replay,
while never planning a single-partition sort of the input frame."""

from __future__ import annotations

import re
from decimal import Decimal

import pyspark.sql.functions as F
from pyspark.sql import Window

from scala_data_pipeline_spark.operators.ranking import (
    crossing_pids,
    ntile_from_rank,
    with_rank,
)
from scala_data_pipeline_spark.plans.inspect import explain_str
from scala_data_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _per_cust(spark):
    return (
        load_table(spark, SF, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("v")
        )
    )


def test_rank_matches_global_window(spark):
    df = _per_cust(spark)
    got, parts = with_rank(
        df, [], ["v", "o_custkey"], rank_col="i", cum_cols=["v"]
    )
    w = Window.orderBy(F.asc("v"), F.asc("o_custkey"))
    want = df.withColumn("i", F.row_number().over(w)).withColumn(
        "cum_v",
        F.sum("v").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    g = {
        r["o_custkey"]: (r["i"], Decimal(r["cum_v"]))
        for r in got.collect()
    }
    e = {
        r["o_custkey"]: (r["i"], Decimal(r["cum_v"]))
        for r in want.collect()
    }
    assert g == e
    assert sum(p["cnt"] for p in parts) == df.count()
    assert sum(p["sum"]["v"] for p in parts) == sum(
        (r["v"] for r in df.collect()), Decimal(0)
    )


def test_ntile_replay_matches_builtin(spark):
    df = _per_cust(spark)
    got, parts = with_rank(df, [], ["v", "o_custkey"], rank_col="i")
    n = sum(p["cnt"] for p in parts)
    for tiles in (3, 7, 10):
        replay = {
            r["o_custkey"]: r["t"]
            for r in got.select(
                "o_custkey",
                ntile_from_rank(F.col("i"), n, tiles).alias("t"),
            ).collect()
        }
        w = Window.orderBy(F.asc("v"), F.asc("o_custkey"))
        builtin = {
            r["o_custkey"]: r["t"]
            for r in df.select(
                "o_custkey", F.ntile(tiles).over(w).alias("t")
            ).collect()
        }
        assert replay == builtin, f"ntile({tiles}) mismatch"


def test_ntile_fewer_rows_than_tiles(spark):
    df = _per_cust(spark).limit(4)
    got, parts = with_rank(df, [], ["v", "o_custkey"], rank_col="i")
    n = sum(p["cnt"] for p in parts)
    assert n == 4
    tiles = sorted(
        r["t"]
        for r in got.select(
            ntile_from_rank(F.col("i"), n, 10).alias("t")
        ).collect()
    )
    assert tiles == [1, 2, 3, 4]  # each row its own tile, SQL ntile


def test_no_single_partition_window_in_plan(spark):
    got, _ = with_rank(_per_cust(spark), [], ["v", "o_custkey"], rank_col="i")
    simple = explain_str(got, mode="simple")
    lines = simple.splitlines()
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln):
            for nxt in lines[i + 1 : i + 4]:
                assert "Exchange SinglePartition" not in nxt, simple


def test_empty_input(spark):
    df = _per_cust(spark).where(F.lit(False))
    got, parts = with_rank(
        df, [], ["v", "o_custkey"], rank_col="i", cum_cols=["v"]
    )
    assert parts == [] and got.count() == 0


def test_grouped_rank_matches_partitioned_window(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    df = (
        orders.join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("seg"),
            ),
            on="o_custkey",
        )
        .groupBy("seg", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("v"))
    )
    got, _ = with_rank(df, ["seg"], ["v", "o_custkey"], rank_col="i")
    w = Window.partitionBy("seg").orderBy(F.asc("v"), F.asc("o_custkey"))
    want = df.withColumn("i", F.row_number().over(w)).withColumn(
        "n_in_group", F.count(F.lit(1)).over(Window.partitionBy("seg"))
    )
    g = {
        (r["seg"], r["o_custkey"]): (r["i"], r["n_in_group"])
        for r in got.collect()
    }
    e = {
        (r["seg"], r["o_custkey"]): (r["i"], r["n_in_group"])
        for r in want.collect()
    }
    assert g == e


def test_grouped_ntile_column_n_matches_builtin(spark):
    df = _per_cust(spark).withColumn(
        "g", (F.col("o_custkey") % 3).cast("int")
    )
    got, _ = with_rank(df, ["g"], ["v", "o_custkey"], rank_col="i")
    replay = {
        (r["g"], r["o_custkey"]): r["t"]
        for r in got.select(
            "g",
            "o_custkey",
            ntile_from_rank(F.col("i"), F.col("n_in_group"), 7).alias("t"),
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("o_custkey"))
    builtin = {
        (r["g"], r["o_custkey"]): r["t"]
        for r in df.select(
            "g", "o_custkey", F.ntile(7).over(w).alias("t")
        ).collect()
    }
    assert replay == builtin


def test_ntile_replay_property(spark):
    """Property check of the ntile replay against SQL-standard ntile
    semantics computed in pure Python, across many (n_rows, n_tiles)
    shapes — including n_rows < n_tiles, exact multiples, and
    off-by-one sizes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=500),
        tiles=st.integers(min_value=1, max_value=20),
    )
    def check(n, tiles):
        df = spark.range(1, n + 1).select(
            F.col("id").alias("i"),
            ntile_from_rank(F.col("id"), n, tiles).alias("t"),
        )
        got = {r["i"]: r["t"] for r in df.collect()}
        base, rem = divmod(n, tiles)
        want = {}
        i = 1
        for tile in range(1, tiles + 1):
            size = base + (1 if tile <= rem else 0)
            for _ in range(size):
                want[i] = tile
                i += 1
        assert got == want, (n, tiles)

    check()


def test_ntile_replay_property_column_n(spark):
    """Same property for the Column-valued n_rows variant (per-group
    sizes carried as a column)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=300),
        tiles=st.integers(min_value=1, max_value=15),
    )
    def check(n, tiles):
        df = spark.range(1, n + 1).select(
            F.col("id").alias("i"),
            ntile_from_rank(
                F.col("id"), F.lit(n).cast("long"), tiles
            ).alias("t"),
        )
        got = {r["i"]: r["t"] for r in df.collect()}
        base, rem = divmod(n, tiles)
        want = {}
        i = 1
        for tile in range(1, tiles + 1):
            size = base + (1 if tile <= rem else 0)
            for _ in range(size):
                want[i] = tile
                i += 1
        assert got == want, (n, tiles)

    check()


def test_grouped_cum_matches_partitioned_window(spark):
    """cum_cols: per-group running sums and totals must numerically
    equal the partitioned-window builtins (Decimal compare — scales
    differ, values must not)."""
    df = _per_cust(spark).withColumn(
        "g", (F.col("o_custkey") % 4).cast("int")
    )
    got, _ = with_rank(
        df, ["g"], ["v", "o_custkey"], rank_col="i", cum_cols=["v"]
    )
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("o_custkey"))
    want = (
        df.withColumn("i", F.row_number().over(w))
        .withColumn(
            "cum_v",
            F.sum("v").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "total_v", F.sum("v").over(Window.partitionBy("g"))
        )
    )
    a = {
        (r["g"], r["o_custkey"]): (
            r["i"], Decimal(r["cum_v"]), Decimal(r["total_v"])
        )
        for r in got.collect()
    }
    b = {
        (r["g"], r["o_custkey"]): (
            r["i"], Decimal(r["cum_v"]), Decimal(r["total_v"])
        )
        for r in want.collect()
    }
    assert a == b


def test_grouped_rank_two_group_columns(spark):
    """A COMPOSITE group axis (two columns): offsets and sizes keyed on
    the tuple must match the partitioned-window builtins."""
    orders = load_table(spark, SF, "orders")
    df = orders.select(
        F.col("o_orderstatus").alias("g1"),
        F.col("o_orderpriority").alias("g2"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("v"),
    )
    got, _ = with_rank(df, ["g1", "g2"], ["v", "k"], rank_col="i")
    w = Window.partitionBy("g1", "g2").orderBy(F.asc("v"), F.asc("k"))
    want = df.withColumn("i", F.row_number().over(w)).withColumn(
        "n_in_group",
        F.count(F.lit(1)).over(Window.partitionBy("g1", "g2")),
    )
    a = {r["k"]: (r["i"], r["n_in_group"]) for r in got.collect()}
    b = {r["k"]: (r["i"], r["n_in_group"]) for r in want.collect()}
    assert a == b

def test_grouped_rank_null_group_keys(spark):
    """NULL group keys must form their own group (Window.partitionBy
    semantics): a plain equi-join back onto the offset frame would drop
    every NULL-keyed row."""
    df = _per_cust(spark).withColumn(
        "g",
        F.when(F.col("o_custkey") % 3 == 0, F.lit(None)).otherwise(
            (F.col("o_custkey") % 3).cast("int")
        ),
    )
    n_in = df.count()
    got, _ = with_rank(df, ["g"], ["v", "o_custkey"], rank_col="i")
    assert got.count() == n_in  # no silent loss of the NULL group
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("o_custkey"))
    want = df.withColumn("i", F.row_number().over(w)).withColumn(
        "n_in_group", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    a = {
        (r["g"], r["o_custkey"]): (r["i"], r["n_in_group"])
        for r in got.collect()
    }
    b = {
        (r["g"], r["o_custkey"]): (r["i"], r["n_in_group"])
        for r in want.collect()
    }
    assert a == b


def _check_double_cum(spark, group_cols):
    """cum_cols on a double column: the Decimal prefix accumulation
    takes float partials, and the result agrees with the single-task
    window to float tolerance — the prefix arithmetic is exact over the
    per-partition partials; only the partials' own float rounding
    differs from the window's running order."""
    import math

    df = (
        _per_cust(spark)
        .withColumn("g", (F.col("o_custkey") % 3).cast("int"))
        .withColumn("vd", F.col("v").cast("double"))
    )
    got, parts = with_rank(
        df, group_cols, ["vd", "o_custkey"], rank_col="i", cum_cols=["vd"]
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.asc("vd"), F.asc("o_custkey")
    )
    want = (
        df.withColumn("i", F.row_number().over(w))
        .withColumn(
            "cum_vd",
            F.sum("vd").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "total_vd", F.sum("vd").over(Window.partitionBy(*group_cols))
        )
    )
    a = {
        r["o_custkey"]: (r["i"], r["cum_vd"], r["total_vd"])
        for r in got.collect()
    }
    b = {
        r["o_custkey"]: (r["i"], r["cum_vd"], r["total_vd"])
        for r in want.collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0], k
        assert math.isclose(a[k][1], b[k][1], rel_tol=1e-9), k
        assert math.isclose(a[k][2], b[k][2], rel_tol=1e-9), k
    assert sum(p["cnt"] for p in parts) == df.count()


def test_global_rank_double_cum_col(spark):
    """Double cum_cols with no group columns (one global order)."""
    _check_double_cum(spark, [])


def test_grouped_rank_double_cum_col(spark):
    """Double cum_cols through the (partition x group) prefix scan."""
    _check_double_cum(spark, ["g"])


def test_ntile_exact_at_huge_ranks(spark):
    """The integer-floor-division replay must stay exact where a
    double-division form goes off by one tile: ranks near 2^50 with
    tile boundaries landing a ULP away from integers."""
    n = (1 << 50) + 7
    tiles = 3
    base, rem = divmod(n, tiles)
    # Probe the exact boundary ranks of every tile (first/last rank of
    # each tile) plus neighbors — the off-by-one shows at boundaries.
    probes = []
    i = 1
    for tile in range(1, tiles + 1):
        size = base + (1 if tile <= rem else 0)
        probes += [i, i + size - 1]
        i += size
    probes += [p + 1 for p in probes if p + 1 <= n]
    want = {}
    for p in sorted(set(probes)):
        # SQL-standard ntile in exact Python integer arithmetic
        cut = rem * (base + 1)
        if p <= cut:
            want[p] = (p - 1) // (base + 1) + 1
        else:
            want[p] = rem + (p - cut - 1) // base + 1
    df = spark.createDataFrame(
        [(p,) for p in sorted(set(probes))], "i long"
    ).select("i", ntile_from_rank(F.col("i"), n, tiles).alias("t"))
    got = {r["i"]: r["t"] for r in df.collect()}
    assert got == want

def _check_aqe_coalesced(spark, group_cols):
    """Without a pinned num_partitions the range shuffle is
    AQE-coalescible. Adjacent-merge must preserve the scheme's
    invariants: identical ranks, sizes and cums whether the shuffle is
    pinned wide, pinned narrow, or left to AQE, on a frame small enough
    that AQE collapses it hard."""
    df = _per_cust(spark).withColumn(
        "g", (F.col("o_custkey") % 3).cast("int")
    )

    def run(n_part):
        got, _ = with_rank(
            df, group_cols, ["v", "o_custkey"], rank_col="i",
            cum_cols=["v"], num_partitions=n_part,
        )
        return {
            r["o_custkey"]: (r["i"], r["n_in_group"], Decimal(r["cum_v"]))
            for r in got.collect()
        }

    base = run(64)
    for n_part in (None, 2):
        assert run(n_part) == base, f"num_partitions={n_part}"


def test_aqe_coalesced_matches_pinned_partitions(spark):
    _check_aqe_coalesced(spark, [])


def test_aqe_coalesced_grouped_matches_pinned(spark):
    _check_aqe_coalesced(spark, ["g"])


def test_layout_and_crossing_pids(spark):
    """The per-(partition, group) layout must tile each group exactly
    (contiguous rank offsets, partials summing to the group total), and
    crossing_pids must name the partition whose range holds each
    weighted position — verified by reading the rows back with their
    _pid column."""
    df = _per_cust(spark).withColumn(
        "g", (F.col("o_custkey") % 3).cast("int")
    ).withColumn("w", (F.col("o_custkey") % 7 + 1).cast("long"))
    out, parts = with_rank(
        df, ["g"], ["v", "o_custkey"], rank_col="i", cum_cols=["w"],
        num_partitions=8,
    )
    assert "_pid" in out.columns
    rows = out.collect()
    # Layout tiles each group: per-group rank offsets are contiguous
    # and the per-partition partial sums add up to the group total.
    by_group: dict = {}
    for p in sorted(parts, key=lambda p: p["pid"]):
        by_group.setdefault(p["group"], []).append(p)
    for g, ps in by_group.items():
        n = 0
        cum = Decimal(0)
        for p in ps:
            assert p["rank_off"] == n
            assert p["off"]["w"] == cum
            n += p["cnt"]
            cum += p["sum"]["w"]
        g_rows = [r for r in rows if (r["g"],) == g]
        assert n == len(g_rows)
        assert cum == Decimal(sum(r["w"] for r in g_rows))
    # crossing_pids: for a spread of weighted positions, the named pid
    # really contains the first row whose cum_w reaches the position.
    for g, ps in by_group.items():
        total = int(sum(p["sum"]["w"] for p in ps))
        for pos in {1, (total + 1) // 2, total}:
            (pid,) = crossing_pids(ps, "w", {g: [pos]})
            first = min(
                (r for r in rows if (r["g"],) == g and r["cum_w"] >= pos),
                key=lambda r: r["cum_w"],
            )
            assert first["_pid"] == pid, (g, pos)


def test_percentile_prune_matches_unpruned_bounds(spark):
    """The winsorize-style crossing-partition prune must not change the
    percentile bounds: replaying the vlo/vhi interpolation over ONLY
    the crossing partitions equals the full-frame computation."""
    import math

    li = load_table(spark, SF, "lineitem")
    grain = li.groupBy(
        "l_linestatus", F.col("l_extendedprice").alias("price")
    ).agg(F.count(F.lit(1)).alias("w"))
    ranked, parts = with_rank(
        grain, ["l_linestatus"], ["price"], rank_col="_i", cum_cols=["w"],
        num_partitions=16,
    )

    def bounds(frame):
        for tag, p in (("05", 0.05), ("95", 0.95)):
            frame = frame.withColumn(
                f"rn{tag}",
                (F.col("total_w").cast("double") - F.lit(1.0)) * F.lit(p),
            )

        def pct(tag):
            rn = F.min(f"rn{tag}")
            frn, crn = F.floor(rn), F.ceil(rn)
            vlo = F.min(
                F.when(
                    F.col("cum_w") >= F.floor(F.col(f"rn{tag}")) + 1,
                    F.col("price"),
                )
            )
            vhi = F.min(
                F.when(
                    F.col("cum_w") >= F.ceil(F.col(f"rn{tag}")) + 1,
                    F.col("price"),
                )
            )
            return F.round(
                F.when(crn == frn, vlo).otherwise(
                    vlo * (crn.cast("double") - rn)
                    + vhi * (rn - frn.cast("double"))
                ),
                4,
            )

        return {
            r["l_linestatus"]: (r["lo"], r["hi"])
            for r in frame.groupBy("l_linestatus")
            .agg(pct("05").alias("lo"), pct("95").alias("hi"))
            .collect()
        }

    totals: dict = {}
    for prt in parts:
        totals[prt["group"]] = totals.get(prt["group"], 0) + int(
            prt["sum"]["w"]
        )
    positions = {}
    for g, tw in totals.items():
        pos = set()
        for p in (0.05, 0.95):
            rn = (float(tw) - 1.0) * p
            pos.update((math.floor(rn) + 1, math.ceil(rn) + 1))
        positions[g] = sorted(pos)
    keep = sorted(crossing_pids(parts, "w", positions))
    pruned = ranked.filter(F.col("_pid").isin(keep)).drop("_pid")
    assert bounds(pruned) == bounds(ranked.drop("_pid"))

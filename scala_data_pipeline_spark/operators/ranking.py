"""Distributed exact ranking: ``row_number()`` and running sums over a
total order, per group or over the whole frame, WITHOUT a
single-partition sort.

``Window.orderBy(...)`` with an empty ``partitionBy`` funnels the whole
frame through ONE task, and ``Window.partitionBy(group)`` funnels each
group through one: fine on structurally bounded grains (days, cent
values, a 25-brand axis), fatal on corpus-proportional grains
(customers, parts: ~10^8+ rows at 100 TB) and on few, huge groups
(5 market segments over 10^8 customers). :func:`with_rank` is the
scale-safe equivalent, the classic two-pass range-partitioned ranking
(the same scheme Spark's own ``sortByKey``/range shuffle uses for
distributed sorts):

1. ``repartitionByRange`` on the group and order keys: each output
   partition holds a contiguous, non-overlapping slice of one or more
   (group, key range) runs, so a group's order == (partition id,
   local order). Equal keys land in one partition.
2. One tiny aggregation: per-(partition, group) row counts and value
   sums, collected to the driver. BOUNDED: partitions x groups rows,
   never corpus-proportional.
3. Exclusive prefix offsets and group totals are broadcast-joined back
   on (partition id, group); the final rank is a PARTITION-LOCAL
   window (every task ranks only its own range) plus the offset.
   Running sums likewise: local cumulative sum + the exact (decimal)
   sum of the group's preceding partitions.

The result is bit-identical to the single-task window (ties are
resolved by the caller-supplied order, which must be a total order
within a group: include a unique tiebreak column), but the frame never
collapses to one task: wall-clock scales with the widest partition,
not the corpus.

Reference parity note: the reference engine (dlomakov/scala_data_pipeline)
has no distributed ranking; this operator exists so the analytics
queries (ABC classes, Lorenz deciles, Gini ranks, percentiles, class
balancing) survive a 1000x scale-up.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _to_dec(x) -> Decimal:
    """Coerce a collected per-partition partial sum to Decimal for the
    driver-side exclusive-prefix accumulation. Exact for decimal/int
    partials; float/double partials route through ``str()`` (shortest
    round-trip repr), so the PREFIX arithmetic is exact over the
    partials — the partials themselves already carry executor-side
    float rounding, which no driver-side scheme can undo."""
    if x is None:
        return Decimal(0)
    if isinstance(x, float):
        return Decimal(str(x))
    return Decimal(x)


def _emit(v: Decimal, type_str: str):
    """Render a Decimal prefix for an offset-frame cell of the given
    Spark type: the double and integer columns take floats and ints."""
    if type_str in ("double", "float"):
        return float(v)
    if type_str in ("bigint", "int", "smallint", "tinyint"):
        return int(v)
    return v


def _floordiv(a: Column, b) -> Column:
    """Exact integer floor division for non-negative long operands:
    ``(a - a mod b) / b``. The numerator is an exact multiple of ``b``,
    so the double division returns the true integer quotient for every
    ``a < 2^53`` (~9e15 — beyond any feasible rank grain) — unlike
    naive ``(a / b).cast('long')``, whose correctly-rounded double
    quotient can land just above an integer boundary and bump a row
    into the wrong tile."""
    a = a.cast("long")
    return ((a - F.pmod(a, b)) / b).cast("long")


def ntile_from_rank(i, n_rows, n_tiles: int):
    """The exact ``ntile(n_tiles)`` tile for rank ``i`` of ``n_rows``
    rows — SQL-standard semantics (the first ``n_rows % n_tiles``
    tiles get ``n_rows // n_tiles + 1`` rows, the rest one fewer),
    assignable map-side once the rank is known. ``n_rows`` may be a
    driver scalar (global ranking) or a Column (per-group ranking,
    where each row carries its group's size). All tile arithmetic is
    exact integer floor division (:func:`_floordiv`), valid to
    ``n_rows < 2^53``."""
    if isinstance(n_rows, int):
        base, rem = divmod(n_rows, n_tiles)
        cut = rem * (base + 1)
        big = _floordiv(i - 1, F.lit(base + 1)) + 1
        if base == 0:  # fewer rows than tiles: every row its own tile
            return big
        small = F.lit(rem) + _floordiv(i - F.lit(cut) - 1, F.lit(base)) + 1
        return F.when(i <= cut, big).otherwise(small)
    n = n_rows.cast("long")
    base = _floordiv(n, F.lit(n_tiles))
    rem = n - base * n_tiles
    cut = rem * (base + 1)
    big = _floordiv(i - 1, base + 1) + 1
    # greatest() keeps the untaken branch division-safe under ANSI mode
    small = rem + _floordiv(i - cut - 1, F.greatest(base, F.lit(1))) + 1
    return F.when((base == 0) | (i <= cut), big).otherwise(small)


def with_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str = "i",
    cum_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Exact 1-based ``rank_col`` (row_number over ``PARTITION BY
    group_cols ORDER BY order_cols``; ``group_cols=[]`` ranks the whole
    frame) computed with partition-local windows only.

    ``order_cols`` must define a TOTAL order within a group (append a
    unique key as tiebreak) and sort ascending (a descending order is
    an ascending one on a negated key).

    The frame gains ``rank_col``, ``n_in_group`` (the row's group size)
    and ``_pid`` (its range partition), and for each ``c`` in
    ``cum_cols`` the exact running sum ``cum_<c>`` (rows
    unbounded-preceding to current within the group) and the group
    total ``total_<c>``.

    ``parts`` is the layout the offset scan collected, one dict per
    (range partition, group) in partition order: ``{"pid", "group",
    "rank_off", "cnt", "off": {c: Decimal}, "sum": {c: Decimal}}``,
    where ``rank_off``/``off`` are the group's rows and sums in earlier
    partitions and ``cnt``/``sum`` its rows and sums in this one. A
    group's size, the row count and exact decimal totals are sums over
    it. A consumer that needs only the rows around given cumulative
    positions can filter ``_pid`` to :func:`crossing_pids`: the
    predicate is on the window's partition key and the join key, so it
    pushes below both and the other partitions skip the sort.

    The driver-side collect is bounded by ``num_partitions x
    |groups|``. Use a group axis only when it has LOW cardinality
    (segments, sources, priority classes): ``Window.partitionBy`` is
    already parallel over many small groups; it is FEW, HUGE groups
    that it collapses into a few tasks.

    When ``num_partitions`` is not given, the range shuffle omits an
    explicit partition count so AQE may COALESCE it: a bounded grain
    collapses to a handful of tasks, while a corpus-proportional frame
    keeps them all. Coalescing merges ADJACENT range partitions only,
    so the scheme's invariants (contiguous non-overlapping key ranges,
    equal keys co-located, order == (partition id, local order)) are
    preserved.
    """
    spark = df.sparkSession
    sort_cols = [F.asc(c) for c in [*group_cols, *order_cols]]
    # The offset scan and the final plan both read `ranged`; the eager
    # checkpoint runs the range shuffle once, so both see the same
    # partitioning.
    ranged = (
        (
            df.repartitionByRange(num_partitions, *sort_cols)
            if num_partitions
            else df.repartitionByRange(*sort_cols)
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    cum_cols = list(cum_cols or [])
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(c).alias(f"_sum_{c}") for c in cum_cols
    ]
    part_rows = sorted(
        ranged.groupBy("_pid", *group_cols).agg(*aggs).collect(),
        key=lambda r: r["_pid"],
    )
    sum_types = {
        c: ranged.groupBy().agg(F.sum(c).alias("x")).schema["x"]
        .dataType.simpleString()
        for c in cum_cols
    }
    seen: dict[tuple, int] = {}  # group -> rows in earlier partitions
    run: dict[tuple, dict] = {}  # group -> sums in earlier partitions
    parts: list[dict] = []
    for r in part_rows:
        g = tuple(r[c] for c in group_cols)
        prefix = run.get(g, dict.fromkeys(cum_cols, Decimal(0)))
        sums = {c: _to_dec(r[f"_sum_{c}"]) for c in cum_cols}
        parts.append(
            {
                "pid": r["_pid"],
                "group": g,
                "rank_off": seen.get(g, 0),
                "cnt": r["_cnt"],
                "off": prefix,
                "sum": sums,
            }
        )
        seen[g] = seen.get(g, 0) + r["_cnt"]
        run[g] = {c: prefix[c] + sums[c] for c in cum_cols}
    gtypes = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name in group_cols
    }
    # One broadcast frame carries the per-(partition, group) exclusive
    # prefixes and the group size and totals. The group columns ride
    # under `_g_` aliases and join back with eqNullSafe: NULL group
    # keys form their own group (Window.partitionBy semantics), which a
    # plain equi-join would drop.
    off_schema = ", ".join(
        ["_opid int"]
        + [f"_g_{c} {gtypes[c]}" for c in group_cols]
        + ["_rank_off long"]
        + [f"_off_{c} {sum_types[c]}" for c in cum_cols]
        + ["n_in_group long"]
        + [f"total_{c} {sum_types[c]}" for c in cum_cols]
    )
    off_rows = [
        (
            p["pid"],
            *p["group"],
            p["rank_off"],
            *[_emit(p["off"][c], sum_types[c]) for c in cum_cols],
            seen[p["group"]],
            *[_emit(run[p["group"]][c], sum_types[c]) for c in cum_cols],
        )
        for p in parts
    ]
    off_df = local_frame(spark, off_rows, off_schema)
    off_cond = F.col("_pid") == F.col("_opid")
    for c in group_cols:
        off_cond = off_cond & F.col(c).eqNullSafe(F.col(f"_g_{c}"))
    w = Window.partitionBy("_pid", *group_cols).orderBy(
        *[F.asc(c) for c in order_cols]
    )
    out = (
        ranged.join(F.broadcast(off_df), on=off_cond)
        .drop("_opid", *[f"_g_{c}" for c in group_cols])
        .withColumn(rank_col, F.row_number().over(w) + F.col("_rank_off"))
    )
    for c in cum_cols:
        local = F.sum(c).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(f"cum_{c}", local + F.col(f"_off_{c}"))
    return out.drop("_rank_off", *[f"_off_{c}" for c in cum_cols]), parts


def crossing_pids(
    parts: list[dict],
    cum_col: str,
    positions_by_group: dict[tuple, list],
) -> set[int]:
    """The range-partition ids that contain the given 1-based
    cumulative positions, per group, from a :func:`with_rank` layout.

    A position ``P`` (in ``cum_<cum_col>`` units — weighted row
    positions) lives in the partition whose exclusive prefix satisfies
    ``off < P <= off + sum``: the first row of the group whose running
    sum reaches ``P`` is in that partition. Rows in LATER partitions
    also satisfy ``cum >= P`` but carry strictly later order keys, so a
    consumer taking ``min(order_key)`` / the first crossing row may
    filter the frame to exactly these pids — everything it reads is in
    them, and the filter pushes below the rank window and the offset
    join (both keyed on ``_pid``). Driver-side, bounded by the offset
    scan's own size."""
    out: set[int] = set()
    by_group: dict[tuple, list[dict]] = {}
    for p in parts:
        by_group.setdefault(p["group"], []).append(p)
    for g, positions in positions_by_group.items():
        rows = sorted(by_group.get(g, []), key=lambda p: p["pid"])
        for pos in positions:
            pos = Decimal(pos)
            for p in rows:
                if p["off"][cum_col] < pos <= p["off"][cum_col] + p["sum"][cum_col]:
                    out.add(p["pid"])
                    break
    return out

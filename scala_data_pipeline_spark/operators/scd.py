"""Slowly-Changing-Dimension type-2 merge: apply an update batch to a
versioned dimension table (the data-mart history pattern; engines with
``MERGE INTO`` express this as one statement — here it is one
full-outer join + conditional row emission, no table format required).

Single-pass design: the dimension and the update batch each scan ONCE
and meet in one full-outer join on the business key; every joined row
emits 0-2 output rows via an exploded CASE array:

- key only in dim            → unchanged row passes through;
- key only in updates        → new current row (first version);
- both, attributes equal     → unchanged row passes through;
- both, attributes differ    → the old row closed out
  (``effective_to`` = load date, ``is_current`` = false) PLUS the new
  current row.

At scale this is one shuffle of each side on the key (or zero if both
are bucketed on it) — the branch-and-union formulation most hand-rolled
SCD jobs use scans the dimension 2-3×.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN_END = "9999-12-31"


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: Sequence[str],
    load_date: str,
) -> DataFrame:
    """dim columns: key, *attrs, effective_from, effective_to,
    is_current; updates columns: key, *attrs. Only current dim rows are
    eligible for close-out (history rows pass through untouched).

    PRECONDITION (round-13 review): ``updates`` must hold AT MOST ONE
    row per key — it is a per-key state snapshot, not a change log. A
    key appearing twice would match the single current dim row twice
    and emit duplicate closed+opened rows, breaking the
    one-current-row-per-key invariant for every later batch. Compact a
    change log first (:func:`cdc_latest_wins` is the house form).

    NULL business keys are handled, not corrupted (round-13 review):
    presence on each side is tracked with marker columns and the join
    key compares null-safely, so a NULL-keyed dim row meets a
    NULL-keyed update row as one group (the oracle's IS NOT DISTINCT
    FROM semantics) instead of falling through every branch into a
    spurious close + an all-NULL opened row.
    """

    def row_struct(
        src: str, eff_from: Column, eff_to: Column, current: Column
    ) -> Column:
        return F.struct(
            F.col(f"{src}.{key}").alias(key),
            *[F.col(f"{src}.{a}").alias(a) for a in attrs],
            eff_from.alias("effective_from"),
            eff_to.alias("effective_to"),
            current.alias("is_current"),
        )

    d = dim.withColumn("_in_d", F.lit(1)).alias("d")
    u = updates.withColumn("_in_u", F.lit(1)).alias("u")
    in_dim = F.col("d._in_d").isNotNull()
    in_upd = F.col("u._in_u").isNotNull()
    changed = ~F.reduce(
        F.array(
            *[F.col(f"d.{a}").eqNullSafe(F.col(f"u.{a}")) for a in attrs]
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    )
    passthrough = row_struct(
        "d",
        F.col("d.effective_from"),
        F.col("d.effective_to"),
        F.col("d.is_current"),
    )
    closed = row_struct(
        "d", F.col("d.effective_from"), F.lit(load_date), F.lit(False)
    )
    opened = row_struct(
        "u", F.lit(load_date), F.lit(OPEN_END), F.lit(True)
    )
    emitted = (
        F.when(in_dim & ~in_upd, F.array(passthrough))
        .when(~in_dim & in_upd, F.array(opened))
        .when(in_dim & in_upd & ~changed, F.array(passthrough))
        .otherwise(F.array(closed, opened))
    )
    # History rows never join updates (join restricted to current rows
    # upstream); callers pass the full dim — split here so the union is
    # inside one plan.
    current = d.filter(F.col("d.is_current"))
    history = dim.filter(~F.col("is_current"))
    merged = (
        current.join(
            u,
            on=F.col(f"d.{key}").eqNullSafe(F.col(f"u.{key}")),
            how="full_outer",
        )
        .select(F.explode(emitted).alias("r"))
        .select("r.*")
    )
    return merged.unionByName(history)


def scd2_apply_sql(
    dim_sql: str, updates_sql: str, key: str, attrs: Sequence[str], load_date: str
) -> str:
    """DuckDB twin (branch-union formulation for clarity; same rows)."""
    cols = ", ".join([key, *attrs])
    eq = " AND ".join(
        f"(d.{a} = u.{a} OR (d.{a} IS NULL AND u.{a} IS NULL))" for a in attrs
    )
    d_cols = ", ".join([f"d.{key}"] + [f"d.{a}" for a in attrs])
    u_cols = ", ".join([f"u.{key}"] + [f"u.{a}" for a in attrs])
    # NOT EXISTS + IS NOT DISTINCT FROM throughout (round-13 review):
    # NOT IN against a subquery that can contain a NULL key evaluates
    # UNKNOWN for every row (three-valued logic), silently dropping all
    # inserts and all NULL-keyed passthrough rows — the oracle would
    # diverge from the Spark side exactly when NULL keys appear.
    return f"""
WITH dim AS ({dim_sql}), upd AS ({updates_sql}),
cur AS (SELECT * FROM dim WHERE is_current),
hist AS (SELECT * FROM dim WHERE NOT is_current),
changed_keys AS (
  SELECT d.{key} FROM cur d
  JOIN upd u ON d.{key} IS NOT DISTINCT FROM u.{key}
  WHERE NOT ({eq})
)
SELECT {cols}, effective_from, effective_to, is_current FROM hist
UNION ALL
SELECT {cols}, effective_from, effective_to, is_current FROM cur c
WHERE NOT EXISTS (SELECT 1 FROM changed_keys k
                  WHERE k.{key} IS NOT DISTINCT FROM c.{key})
UNION ALL
SELECT {d_cols}, d.effective_from, '{load_date}' AS effective_to,
       FALSE AS is_current
FROM cur d WHERE EXISTS (SELECT 1 FROM changed_keys k
                         WHERE k.{key} IS NOT DISTINCT FROM d.{key})
UNION ALL
SELECT {u_cols}, '{load_date}' AS effective_from,
       '{OPEN_END}' AS effective_to, TRUE AS is_current
FROM upd u
WHERE EXISTS (SELECT 1 FROM changed_keys k
              WHERE k.{key} IS NOT DISTINCT FROM u.{key})
   OR NOT EXISTS (SELECT 1 FROM cur c
                  WHERE c.{key} IS NOT DISTINCT FROM u.{key})
"""


def cdc_latest_wins(base: DataFrame, log: DataFrame) -> DataFrame:
    """Type-1 CDC MERGE (the latest-wins compaction a Debezium/Delta
    ingest runs): per key, ONE window over the changelog picks the
    last change by (o_orderdate, o_orderkey); deletes drop the row, upserts
    overwrite ``acctbal``, untouched base rows pass through, inserts
    for keys absent from base synthesize a name. Exactly the merge
    body of queries/scd_queries.py::cdc_apply_customer, lifted to
    frame level so jobs and the streaming CDC sink drive the same code
    path.

    Scale shape: one changelog-sized window (uniform key) + one full
    outer join onto base — no iteration. Exactly IDEMPOTENT: applying
    the same log twice yields the same state (at-least-once delivery
    safety; asserted by tests/test_scd.py::test_cdc_latest_wins_idempotent).

    ``base`` columns: (cust_key, name, acctbal); ``log`` columns:
    (cust_key, op in {'U','D'}, new_acctbal, o_orderdate, o_orderkey).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cust_key").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cust_key", "op", "new_acctbal")
    )
    merged = base.join(latest, on="cust_key", how="full_outer")
    return merged.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        "cust_key",
        F.coalesce(
            F.col("name"),
            F.concat(F.lit("NEW#"), F.col("cust_key").cast("string")),
        ).alias("name"),
        F.coalesce(F.col("new_acctbal"), F.col("acctbal")).alias("acctbal"),
        F.coalesce(F.col("op"), F.lit("KEEP")).alias("last_op"),
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    attrs: list[str],
) -> DataFrame:
    """Snapshot diff — CDC extraction when no change log exists (the
    nightly-full-export reality of most warehouse sources): classify
    every key across two snapshots as added / removed / changed /
    unchanged in ONE full outer join, attribute comparison null-safe
    (``eqNullSafe`` — a NULL→value flip is a change, not a match).

    Emits (key, change_type, old_<attr>..., new_<attr>...) so changed
    rows carry both sides for downstream merge/audit. Scale: one
    key-shuffle (zero if both snapshots are bucketed on the key); the
    classification is a codegen projection. The changed/added subset IS
    the incremental batch that feeds :func:`scd2_apply`.
    """
    o = old.select(
        key,
        F.lit(1).alias("_in_old"),
        *[F.col(a).alias(f"old_{a}") for a in attrs],
    )
    n = new.select(
        key,
        F.lit(1).alias("_in_new"),
        *[F.col(a).alias(f"new_{a}") for a in attrs],
    )
    j = o.join(n, on=key, how="full_outer")
    same_attrs = None
    for a in attrs:
        eq = F.col(f"old_{a}").eqNullSafe(F.col(f"new_{a}"))
        same_attrs = eq if same_attrs is None else (same_attrs & eq)
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same_attrs, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        key,
        change.alias("change_type"),
        *[f"old_{a}" for a in attrs],
        *[f"new_{a}" for a in attrs],
    )


def table_diff_sql(
    old_sql: str, new_sql: str, key: str, attrs: list[str]
) -> str:
    """DuckDB twin of :func:`table_diff` (IS NOT DISTINCT FROM is the
    null-safe equality mirroring eqNullSafe)."""
    same = " AND ".join(
        f"o.{a} IS NOT DISTINCT FROM n.{a}" for a in attrs
    )
    old_cols = ", ".join(f"o.{a} AS old_{a}" for a in attrs)
    new_cols = ", ".join(f"n.{a} AS new_{a}" for a in attrs)
    return f"""
WITH old_snap AS ({old_sql}), new_snap AS ({new_sql})
SELECT COALESCE(o.{key}, n.{key}) AS {key},
       CASE WHEN o.{key} IS NULL THEN 'added'
            WHEN n.{key} IS NULL THEN 'removed'
            WHEN {same} THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       {old_cols}, {new_cols}
FROM old_snap o FULL OUTER JOIN new_snap n ON o.{key} = n.{key}
"""


def scd2_as_of(hist: DataFrame, as_of: str) -> DataFrame:
    """Point-in-time read of an SCD2 history: rows valid on ``as_of``
    under the half-open [effective_from, effective_to) convention
    (current rows carry the OPEN_END far-future sentinel; a NULL
    effective_to convention is accepted too). The time-travel companion
    to :func:`scd2_apply` — a snapshot at any date is one filter over
    the history, no log replay. The filter is a plain comparison on
    the history's own columns, so it pushes into a parquet scan of a
    persisted dimension."""
    d = F.lit(as_of).cast("date")
    return hist.where(
        (F.col("effective_from").cast("date") <= d)
        & (
            F.col("effective_to").isNull()
            | (F.col("effective_to").cast("date") > d)
        )
    )

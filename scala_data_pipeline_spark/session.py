"""SparkSession factory.

The reference pins ``spark.sql.session.timeZone=UTC`` in 5 of 7 modules
(e.g. filter/filter.scala:19, features/features.scala:16); we pin it
globally — it is also required for DuckDB-oracle determinism (DuckDB
timestamps are UTC-naive).

Scale posture: AQE on (runtime coalescing + skew-join splitting), shuffle
partitions sized to the local core count for tests, but overridable via
``SPARK_GRAFT_CPUS`` / explicit args for cluster runs. At 100 TB the same
code runs with ``spark.sql.shuffle.partitions`` in the thousands and AQE
coalesces the tail — nothing in the operator layer assumes a partition
count.
"""

from __future__ import annotations

import os
import tempfile
from collections import Counter
from collections.abc import Callable, Hashable, Iterable, Sequence
from weakref import WeakSet

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "scala_data_pipeline_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are tuned for the local[N] test harness; on a real cluster
    pass ``master=None`` with a pre-set master and bump
    ``shuffle_partitions`` to ~2-3× total executor cores.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else cores),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The users×items pivot family plans ~200-column aggregates and
        # expands; the default codegen cutoff (maxFields=100) silently
        # drops those stages to interpreted row-at-a-time evaluation —
        # measured 1.5x on unpivot_matrix_long at sf0.1. 300 keeps the
        # engine's widest matrices inside whole-stage codegen while
        # staying far below JIT method-size trouble (Spark splits
        # generated methods; the hugeMethodLimit fallback still guards).
        .config("spark.sql.codegen.maxFields", "300")
        # Spark keeps the classes it generates in a cache of 100 entries
        # by default. One pass over all_queries() and extra_queries() at
        # sf0.001 compiles 2,771 distinct classes (the 50 driver queries
        # at sf0.1, 859), so at that size every warm rerun evicts and
        # recompiles its own code, and each recompiled class starts again
        # in the JVM interpreter. 8,192 holds the whole registry with
        # headroom for the plans AQE picks at larger scale factors. The
        # cache is a static conf, read once per JVM: it takes effect only
        # when get_session starts the JVM's first session, so a driver
        # that brings its own session keeps Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # The cache is keyed by the generated source, and by default a
        # whole-stage class is named after its codegen stage id. AQE
        # numbers stages in the order they are planned, which follows
        # the order in which independent stages finish, so a rerun of
        # the same plan can name the same code differently and miss the
        # cache: with the id in the name, recipe_funnel_accounting and
        # sim_knn_recall_eval recompile 8-10 classes on every warm pass.
        # Without it, the same plan reuses its classes. The id stays in a
        # comment of the generated code.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark 4's DataFrame-debugging origin capture wraps EVERY
        # DataFrame/Column API call with call-site bookkeeping that
        # costs ~4 py4j round-trips per call (getActiveSession + a
        # stackTracesInDataFrameContext conf read + origin set/clear) —
        # profiled at 0.5-1 s of pure query-CONSTRUCTION time on the
        # expression-heavy similarity/dedup builders (r20, guide §4
        # "the Python boundary" applied to the driver process itself).
        # The engine's error surface is the oracle harness, not
        # call-site decoration, so turn it off; errors still carry the
        # full JVM stack, only the "called from user code line N"
        # annotation is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Embedded Derby (JDBC tests) writes derby.log to
        # derby.system.home, which defaults to the CWD — point it at a
        # temp dir so runs leave no droppings at the repo root.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={tempfile.gettempdir()}",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        # Use the variable's VALUE (round-13 review: it was consulted
        # only as a presence flag, so `SPARK_MASTER=spark://... python
        # job.py` crashed with "A master URL must be set").
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cores}]")
        # Single-JVM local mode: driver memory is the only knob.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The one memo for what the engine reuses within a session: lazy table
# readers, registered views, scan partition counts and the shared hubs.
# Entries live on the session object, so they go when the session goes;
# a module-level dict would pin every session, because a DataFrame holds
# its session. _MEMO_SESSIONS indexes the sessions holding entries
# without keeping them alive, so a miss can clear the entries of stopped
# sessions that something else still references.
_MEMO_SESSIONS: WeakSet = WeakSet()
# Lookups served from the memo and lookups that built, per kind (key[0]).
HITS: Counter = Counter()
MISSES: Counter = Counter()


def memo(spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], object]):
    """Return ``build()`` once per (session, key); later calls with the
    same session and key return the stored value."""
    entries = vars(spark).get("_memo", {})
    if key in entries:
        HITS[key[0]] += 1
        return entries[key]
    MISSES[key[0]] += 1
    for other in list(_MEMO_SESSIONS):
        # Stopping a context from Python drops its JVM handle, so this
        # check makes no py4j call, and a live session keeps its entries.
        if other is not spark and other.sparkContext._jsc is None:
            _MEMO_SESSIONS.discard(other)
            del other._memo
    value = build()
    if "_memo" not in vars(spark):  # build() may have added the first entry
        spark._memo = {}
        _MEMO_SESSIONS.add(spark)
    spark._memo[key] = value
    return value


def forget(spark: SparkSession, kind: str) -> None:
    """Drop the session's entries of one kind."""
    entries = vars(spark).get("_memo", {})
    for key in [k for k in entries if k[0] == kind]:
        del entries[key]


def hub(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """An eager ``localCheckpoint`` of ``build()``, made once per session
    and sf dir and shared by every query that reads it. Counted under
    the kind ``"hub"``."""
    return memo(spark, ("hub", name, sf_dir), lambda: build().localCheckpoint(eager=True))


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in the field order of
    ``schema``, a ``StructType`` or a DDL string), with exactly that
    schema.

    ``createDataFrame`` on a Python list plans a scan of
    ``sc.parallelize``, and running it starts a Python worker task per
    slice. From a ``pyarrow.Table`` it plans a ``LocalRelation``: the
    rows ride in the plan and need no Python worker. Naive datetimes
    are read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)

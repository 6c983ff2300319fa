"""Shared contract for the streaming partial stores (rollup / drift /
HDR / inverted-index / CDC / heavy-hitters / dedup / fingerprint).

Every store is a directory of immutable parquet *partials* that readers
merge on read. The one write-path rule this module enforces is
**per-batch-id overwrite**: a ``foreachBatch`` sink writes its partials
into ``batch-{batch_id}/`` with ``mode("overwrite")`` instead of
appending files to the store root. foreachBatch delivery is
at-least-once — a crash between the parquet write and the streaming
checkpoint commit replays the SAME batch id — and for the additive
grains these stores hold (long/decimal sums, tf counts, SpaceSaving
est/err) a replayed ``mode("append")`` write double-counts the batch.
Keying the write by batch id makes the retry rewrite the same subdir:
idempotent, no coordination, still append-only at the STORE level
(subdirs are only ever created or atomically replaced, never edited).

The dedup digest store (streaming/dedup_sink.py) shipped this design
first; this module is the round-11 retrofit of the same rule across
the older stores, which previously appended to the root.

Readers use ``read_partials`` (recursive file lookup) so stores with
batch subdirs, pre-retrofit flat files, or a compacted top-level
segment all read identically — layout is invisible to the merge plan.

At 100 TB none of this changes the scaling story: partials stay tiny
relative to raw data, the store is object-store friendly (immutable
files, no read-modify-write), and compaction remains the same
read → merge → overwrite plan run offline. One compaction constraint
follows from per-batch keying: compact only while the stream is
STOPPED AFTER A CLEAN COMMIT — compacting an uncommitted batch's
subdir away and then replaying that batch id would re-add its
partials alongside the compacted copy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame


def per_batch_writer(
    target_dir: str, partials_fn: Callable[..., DataFrame]
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that writes
    ``partials_fn(batch_df)`` — or ``partials_fn(batch_df, batch_id)``
    when the callable takes two parameters (sinks that stamp the batch
    id into their grain, e.g. heavy hitters) — into
    ``{target_dir}/batch-{batch_id}`` (retry-idempotent, see module
    docstring).

    The install is write-to-hidden-tmp THEN rename (round-13 review
    finding): a plain ``mode("overwrite")`` of ``batch-{id}/`` is
    delete-then-write, so a reader racing a crash-replay rewrite saw
    the store go BACKWARDS for the whole write duration. The
    dot-prefixed tmp directory is invisible to Spark's file listing
    (hidden-path filter), so readers see the old subdir until the
    metadata-speed delete+rename swap; a tmp orphaned by a crash is
    overwritten by the replay and never read.
    """
    import inspect

    wants_id = len(inspect.signature(partials_fn).parameters) >= 2

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            partials_fn(batch_df, batch_id)
            if wants_id
            else partials_fn(batch_df)
        )
        tmp = f"{target_dir}/.batch-{batch_id}.tmp"
        tgt = f"{target_dir}/batch-{batch_id}"
        out.write.mode("overwrite").parquet(tmp)
        spark = batch_df.sparkSession
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(target_dir).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        fs.delete(hpath(tgt), True)
        if not fs.rename(hpath(tmp), hpath(tgt)):
            raise IOError(
                f"partial store: could not install {tmp} -> {tgt}"
            )

    return write_partials


def read_partials(
    spark: SparkSession,
    target_dir: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """All partial files under the store, whatever the layout (batch
    subdirs, legacy flat files, compacted segment). With ``schema``,
    an absent or not-yet-written store reads as EMPTY — the realistic
    startup state for a serving query racing the stream's first
    commit; without a schema an absent store raises (nothing to infer
    from)."""
    reader = spark.read.option("recursiveFileLookup", "true")
    if schema is not None:
        reader = reader.schema(schema)
        try:
            return reader.parquet(target_dir)
        except AnalysisException as exc:
            # ONLY a not-yet-written store reads as empty. IO errors,
            # permission failures, and corrupt footers must propagate —
            # a bare catch here made a broken store indistinguishable
            # from an empty one (advisor round-11).
            if (exc.getCondition() or "") == "PATH_NOT_FOUND":
                return local_frame(spark, [], schema)
            raise
    return reader.parquet(target_dir)

"""Document chunking: fixed-size token windows with stride — the
standard context-window prep step of an LLM training-data pipeline
(documents → training sequences).

Two implementations of the SAME semantics:

- :func:`chunk_documents` — JVM-native (split / sequence / slice /
  posexplode), whole-stage-codegen friendly, DuckDB-oracle-checked.
  This is the production path at 100 TB: per-row array work, no
  shuffle, no Python.
- :class:`ChunkDocumentsUDTF` — a Spark 4 Python UDTF twin
  (``FROM chunk_documents(TABLE(docs))``), registered for API parity
  with engines whose chunkers are table functions. Row-at-a-time
  Python: the demo/escape-hatch path, NOT the hot path — tests assert
  it produces byte-identical rows to the native operator.

Window semantics: windows of ``window`` tokens every ``stride`` tokens,
starting at token 0; documents shorter than ``window`` yield one chunk
with all their tokens. A tail shorter than the final full window is
dropped unless it aligns on the stride (the usual fixed-shape training
convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

WINDOW = 32
STRIDE = 24


def chunk_documents(
    docs: DataFrame, window: int = WINDOW, stride: int = STRIDE
) -> DataFrame:
    """(doc_id, chunk_idx, chunk, n_tokens) — one row per token window."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(1), F.greatest(n - window + 1, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda s: F.slice(toks, s, window))
    return docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_toks")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join("chunk_toks", " ").alias("chunk"),
        F.size("chunk_toks").cast("long").alias("n_tokens"),
    )


def chunk_documents_sql(table: str = "documents") -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM {table}
), s AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {WINDOW} + 1, 1) + 1, {STRIDE})) AS st
  FROM t
)
SELECT doc_id,
       CAST((st - 1) // {STRIDE} AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, st, st + {WINDOW} - 1), ' ') AS chunk,
       CAST(len(list_slice(toks, st, st + {WINDOW} - 1)) AS BIGINT) AS n_tokens
FROM s
"""


def pack_sequences(docs: DataFrame, budget: int = 512) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget bins
    (training sequences are built by concatenating each bin's docs).

    Deterministic streaming-concat packing: within each shard, docs in
    doc_id order accumulate a running token count; ``bin_id`` =
    ``floor((cumsum - n_tokens) / budget)`` — a doc opens a new bin when
    the previous docs already filled it. Bins can overflow by at most
    one document (standard greedy packing; long docs should be chunked
    first — see :func:`chunk_documents`).

    Scale: packing is windowed WITHIN a shard (``source``), so the
    sort is per-partition-group, not global — shards pack in parallel
    and no single task sees the corpus. A global (unsharded) pack would
    be a single-partition window: the anti-pattern this signature
    avoids.
    """
    from pyspark.sql import Window

    n_tokens = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tokens).over(w)
    return docs.select(
        "doc_id",
        F.col("source").alias("shard"),
        n_tokens.cast("long").alias("n_tokens"),
        F.floor((cum - n_tokens) / budget).cast("long").alias("bin_id"),
    )


def pack_sequences_sql(table: str = "documents") -> str:
    n = "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    return f"""
SELECT doc_id,
       source AS shard,
       CAST({n} AS BIGINT) AS n_tokens,
       CAST(floor(CAST(SUM({n}) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - {n} AS DOUBLE) / 512) AS BIGINT) AS bin_id
FROM {table}
"""


@udtf(returnType="doc_id bigint, chunk_idx int, chunk string, n_tokens bigint")
class ChunkDocumentsUDTF:
    """Python UDTF twin of :func:`chunk_documents` (same defaults).

    Usage::

        spark.udtf.register("chunk_documents", ChunkDocumentsUDTF)
        spark.sql("SELECT * FROM chunk_documents(TABLE(docs))")
    """

    def eval(self, row):
        if row.text is None:
            # Parity with the native twin (round-13 review): split(NULL)
            # propagates NULL through greatest/sequence into ONE
            # (chunk_idx=0, NULL, NULL) row; the UDTF previously crashed
            # the task on .split of None.
            yield row.doc_id, 0, None, None
            return
        toks = [t for t in row.text.split(" ") if t]
        n = len(toks)
        last_start = max(n - WINDOW, 0)
        for idx, start in enumerate(range(0, last_start + 1, STRIDE)):
            piece = toks[start : start + WINDOW]
            yield row.doc_id, idx, " ".join(piece), len(piece)

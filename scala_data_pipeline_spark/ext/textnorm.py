"""Text normalization for corpus ingestion (C4/CCNet-style cleaning).

The first step of every web-scale training pipeline: strip control
characters, drop zero-width code points, unify typographic quotes /
dashes / non-breaking spaces to ASCII, collapse whitespace runs. All of
it stays JVM-side (``translate`` + ``regexp_replace`` — whole-stage
codegen, no Python in the hot path); the only step that genuinely needs
a library is full Unicode NFKC, provided as an Arrow-batched
``mapInPandas`` lane over stdlib ``unicodedata`` (no external dep).

Reference parity note: the reference engine (dlomakov/
scala_data_pipeline) has no text-normalization surface; this module is
part of the mandated beyond-reference LLM-pipeline layer, next to the
Gopher/C4 quality rules in ext/textstats.py.

Scale: every operator here is a narrow map — no shuffle, no state;
cleaning 100 TB is embarrassingly parallel and pushdown-friendly (the
scan still prunes columns; the regex chain fuses into one codegen
stage).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Typographic -> ASCII, char-for-char (translate is a single pass):
# curly single/double quotes, en/em dash, non-breaking space.
_UNIFY_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
_UNIFY_TO = "''\"\"-- "

# C0 control chars except \t \n \r, plus DEL.
_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
# Zero-width space / non-joiner / joiner, BOM.
_ZERO_WIDTH_RE = "[\\u200b\\u200c\\u200d\\ufeff]"
_WS_RE = "\\s+"


def clean_text_col(text: Column) -> Column:
    """The cleaning chain as a single Column expression (fuses into one
    whole-stage-codegen projection): control-strip -> zero-width strip
    -> typographic unification -> whitespace collapse -> trim."""
    c = F.regexp_replace(text, _CONTROL_RE, "")
    c = F.regexp_replace(c, _ZERO_WIDTH_RE, "")
    c = F.translate(c, _UNIFY_FROM, _UNIFY_TO)
    c = F.regexp_replace(c, _WS_RE, " ")
    return F.trim(c)


def clean_text(docs: DataFrame) -> DataFrame:
    """Attach the cleaned text plus its post-clean char count (the
    delta against the raw count is the standard dirt metric)."""
    return docs.withColumn("text_clean", clean_text_col(F.col("text"))).withColumn(
        "n_chars_text_clean", F.length("text_clean").cast("long")
    )


def clean_text_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`clean_text_col` (RE2 accepts the same
    character-class escapes; DuckDB needs the explicit 'g' flag that
    Spark's regexp_replace implies)."""
    zero_width = "".join(
        f"\\x{{{o:04x}}}" for o in (0x200B, 0x200C, 0x200D, 0xFEFF)
    )
    frm = _UNIFY_FROM.replace("'", "''")
    to = _UNIFY_TO.replace("'", "''")
    return (
        "TRIM(regexp_replace(translate(regexp_replace(regexp_replace("
        f"{text_expr}, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),"
        f" '[{zero_width}]', '', 'g'),"
        f" '{frm}', '{to}'),"
        " '\\s+', ' ', 'g'))"
    )


def nfkc_normalize(docs: DataFrame) -> DataFrame:
    """Full Unicode NFKC via stdlib ``unicodedata``, Arrow-batched
    (``mapInPandas``) — ligatures fold (ﬁ->fi), fullwidth forms narrow,
    compatibility composites decompose. This is the one normalization
    step a regex chain cannot express; everything ASCII passes through
    unchanged, so on clean corpora the lane is skippable."""
    import unicodedata

    from pyspark.sql.types import StringType, StructField, StructType

    # A fresh StructType — StructType.add MUTATES the frame's cached
    # schema object, which poisons mapInPandas's own column listing.
    schema = StructType(
        list(docs.schema.fields) + [StructField("text_nfkc", StringType())]
    )

    def norm(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf["text_nfkc"] = pdf["text"].map(
                lambda s: unicodedata.normalize("NFKC", s)
                if isinstance(s, str)
                else s
            )
            yield pdf

    return docs.mapInPandas(norm, schema=schema)

"""BPE tokenizer training over a distributed corpus.

The industry-standard hybrid (what tokenizer trainers do over web-scale
corpora): the CORPUS-sized work — tokenize and count word frequencies —
runs distributed as one shuffle; the merge loop then runs driver-side
over the aggregated (word, count) vocabulary, which is orders of
magnitude smaller than the corpus (vocabulary grows ~O(corpus^0.4-0.6),
Heaps' law). At 100 TB the word-count aggregate is the scan+shuffle
job; the merge loop's input is MBs.

Everything is deterministic: merge candidates tie-break on the symbol
pair itself, so the learned merge table is a pure function of the
corpus. ``bpe_apply`` tokenizes with the learned merges as an
Arrow-batched ``mapInPandas`` (per-word greedy merge application — a
string algorithm with data-dependent iteration, the documented
slow-path case).

The merge-table result is genuinely non-SQL (iterative argmax +
re-segmentation per round), so the registry entry is rows-only; the
anchor to an oracle-checked query is tests/test_bpe.py's assertion
that merge #1 equals the top-ranked pair of ``bpe_pair_counts`` (which
has a DuckDB twin).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame
from .textstats import tokens_col

N_MERGES = 10

# Driver-side working-vocabulary bound.  On web-scale corpora the
# distinct-token count is corpus-proportional (URLs, IDs, typos —
# Heaps' law never saturates), so an uncapped collect of the word
# frequency table is a driver OOM at 100 TB.  Standard BPE trainers
# (HF tokenizers' ``min_frequency`` / bounded ``vocab_size``) train on
# a frequency-bounded working vocabulary; we take the top
# ``VOCAB_CAP`` words by (count desc, word) — a distributed top-K
# (TakeOrderedAndProject: per-partition heaps, only K rows reach the
# driver).  Effect on merge selection: pair counts are computed over
# the retained vocabulary only, so merges can differ from the uncapped
# run ONLY when the excluded tail's aggregate pair mass rivals the
# head's — impossible when the cap doesn't bind (every test/sf fixture
# here: distinct words << 1M, merges provably unchanged; see
# tests/test_bpe.py) and negligible at the default settings since a
# rank->1M word has count ~ n_tokens/1e7 (Zipf) while the first
# N_MERGES=10 merges have counts within a small factor of the top
# word's.
VOCAB_CAP = 1_000_000


def word_counts(docs: DataFrame) -> DataFrame:
    """Distributed word-frequency aggregate — the only corpus-sized
    step of BPE training (one explode + one shuffle)."""
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _merge_word(symbols: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if (
            i + 1 < len(symbols)
            and symbols[i] == pair[0]
            and symbols[i + 1] == pair[1]
        ):
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def train_merges(
    vocab: list[tuple[str, int]], n_merges: int = N_MERGES
) -> list[tuple[str, str, int]]:
    """Driver-side merge loop over the aggregated vocabulary.

    Returns [(left, right, pair_count), ...] in merge order. Ties on
    count break on (left, right) lexicographically — deterministic.
    """
    words: dict[tuple[str, ...], int] = {}
    for w, n in vocab:
        words[tuple(w)] = words.get(tuple(w), 0) + n
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += n
        if not counts:
            break
        # Max count; ties -> lexicographically smallest (left, right).
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((pair[0], pair[1], cnt))
        words = {
            _merge_word(syms, pair): n for syms, n in words.items()
        }
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    min_count: int = 1,
    vocab_cap: int = VOCAB_CAP,
) -> DataFrame:
    """Corpus → learned merge table as a DataFrame
    (merge_rank, left, right, pair_count).

    The driver never sees the full word-frequency table: words below
    ``min_count`` are filtered distributed-side, and at most
    ``vocab_cap`` words (top-K by count, ties on word — deterministic)
    are collected via a distributed top-K.  See the ``VOCAB_CAP`` note
    for the (bounded, documented) effect on merge selection.
    """
    wc = word_counts(docs)
    if min_count > 1:
        wc = wc.where(F.col("n") >= F.lit(int(min_count)))
    vocab = [
        (r.word, r.n)
        for r in (
            wc.orderBy(F.col("n").desc(), F.col("word"))
            .limit(int(vocab_cap))
            .collect()
        )
    ]
    merges = train_merges(vocab, n_merges)
    spark = docs.sparkSession
    return local_frame(
        spark,
        [
            (i + 1, left, right, int(cnt))
            for i, (left, right, cnt) in enumerate(merges)
        ],
        "merge_rank long, left string, right string, pair_count long",
    )


def bpe_apply(
    docs: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Tokenize with the learned merges: per-word greedy application in
    merge-priority order, Arrow-batched. Returns
    (doc_id, n_words, n_bpe_tokens)."""
    merge_pairs = [(left, right) for left, right, _ in merges]

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_words", LongType()),
            StructField("n_bpe_tokens", LongType()),
            StructField("tokens_head", ArrayType(StringType())),
        ]
    )

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, tuple[str, ...]] = {}

        def encode(word: str) -> tuple[str, ...]:
            got = cache.get(word)
            if got is None:
                syms = tuple(word)
                for p in merge_pairs:
                    syms = _merge_word(syms, p)
                cache[word] = got = syms
            return got

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text tokenizes to zero words (round-13 review:
                # .split on None crashed the task; the JVM token paths
                # treat NULL as empty).
                words = [w for w in text.split(" ") if w] if text else []
                toks: list[str] = []
                for w in words:
                    toks.extend(encode(w))
                rows.append(
                    (doc_id, len(words), len(toks), toks[:8])
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_words", "n_bpe_tokens", "tokens_head"],
            )

    return docs.select("doc_id", "text").mapInPandas(tokenize, schema)

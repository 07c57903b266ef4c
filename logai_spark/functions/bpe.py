"""Distributed byte-pair-encoding (BPE) tokenizer training + encoding.

The GPT-2-family counterpart to :mod:`wordpiece` (reference trains its
subword tokenizers via HuggingFace — vectorization_algo/logbert.py:87-146;
HF's ``BpeTrainer`` is the sibling trainer of the WordPiece one the LogBERT
path uses). Same Spark-first decomposition, because it is the only one that
scales:

- The CORPUS-SIZED stage is the pre-token word-count aggregate
  (``wordpiece.word_counts`` — partial-aggregatable ``groupBy(word)``, one
  shuffle of (distinct-word x map-partition) rows, bounded result).
- The MERGE-LEARNING loop runs on the driver over that bounded aggregate —
  exactly what HF's ``BpeTrainer``/subword-nmt do after reducing the corpus
  to word counts (Sennrich et al. 2016 "Neural Machine Translation of Rare
  Words with Subword Units", alg. 1). Cost is O(num_merges x distinct
  pairs), independent of corpus size; counts are maintained incrementally
  by per-word deltas (the same trainer-state design as
  ``wordpiece.train_wordpiece_from_counts``).
- ENCODING is distributed: merge ranks broadcast, greedy lowest-rank-first
  merge application per pre-token inside an Arrow-batched pandas UDF,
  memoized per distinct word within each batch.

Deliberate deviations from GPT-2's exact tokenizer (documented, both sides
of the oracle replicate them identically):
- Pre-tokenization reuses :data:`wordpiece.PRETOKEN_RE` (explicit ASCII
  whitespace class — see wordpiece.py for why ``\\s`` is a trap), not
  GPT-2's contraction-aware Unicode regex.
- Character-level (not byte-level) initial alphabet, with the subword-nmt
  ``</w>`` end-of-word marker fused onto the final character so merges can
  distinguish word-final units; no unknown token is needed (any word is
  representable as its characters).
- Merge objective: raw pair count (classic BPE), NOT WordPiece's
  count(ab)/(count(a)count(b)) score. Ties break on (lexicographically
  smallest pair) so training is fully deterministic regardless of dict
  iteration order.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logai_spark.functions.wordpiece import (
    pretokenize_expr,
    pretokenize_py,
    word_counts,
)

EOW = "</w>"


def _segment(word: str) -> tuple[str, ...]:
    """Initial symbol sequence: chars, with </w> fused onto the last one."""
    if not word:
        return ()
    return tuple(word[:-1]) + (word[-1] + EOW,)


def train_bpe_from_counts(
    counts: Iterable[tuple[str, int]],
    num_merges: int = 1000,
    min_frequency: int = 2,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from a (word, count) aggregate.

    Classic Sennrich et al. training over word frequencies with incremental
    pair-count maintenance: each merge touches only the words that contain
    the merged pair. Stops early when no pair reaches ``min_frequency``
    (floored at 1: a pair whose count fell to 0 no longer occurs in the
    corpus and is never merged). Returns merges in learned order — the
    order IS the rank table encoding uses.
    """
    min_frequency = max(1, min_frequency)
    words: dict[str, int] = {}
    for w, n in counts:
        if w and n > 0:
            words[w] = words.get(w, 0) + int(n)

    segs: dict[str, tuple[str, ...]] = {w: _segment(w) for w in words}
    pair_count: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}
    for w, n in words.items():
        seq = segs[w]
        for p in zip(seq, seq[1:]):
            pair_count[p] = pair_count.get(p, 0) + n
            pair_words.setdefault(p, set()).add(w)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        best, best_c = None, min_frequency - 1
        for p, c in pair_count.items():
            # deterministic total order: highest count, then smallest pair
            if c > best_c or (c == best_c and best is not None and p < best):
                best, best_c = p, c
        if best is None:
            break
        a, b = best
        tok = a + b
        merges.append(best)
        for w in sorted(pair_words.get(best, ())):
            seq = segs[w]
            # stale membership: a later merge may have re-segmented w
            if not any(
                seq[i] == a and seq[i + 1] == b for i in range(len(seq) - 1)
            ):
                continue
            n = words[w]
            for p in zip(seq, seq[1:]):
                pair_count[p] -= n
            out: list[str] = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(tok)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            segs[w] = tuple(out)
            for p in zip(out, out[1:]):
                pair_count[p] = pair_count.get(p, 0) + n
                pair_words.setdefault(p, set()).add(w)
        pair_count.pop(best, None)
        pair_words.pop(best, None)
    return merges


def fit_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    lowercase: bool = True,
    min_frequency: int = 2,
    max_words: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Distributed fit: corpus word-count aggregate in Spark (the only
    data-sized stage), merge loop on the driver over the bounded result."""
    rows = word_counts(df, text_col, lowercase, max_words).collect()
    return train_bpe_from_counts(
        ((r["word"], r["n"]) for r in rows),
        num_merges=num_merges,
        min_frequency=min_frequency,
    )


def encode_word_bpe(
    word: str, ranks: dict[tuple[str, str], int], max_chars: int = 200
) -> list[str]:
    """Apply trained merges to one pre-token: repeatedly merge the adjacent
    pair with the LOWEST rank (earliest-learned first — the standard BPE
    inference loop, identical to GPT-2's ``bpe()``), until no adjacent pair
    has a rank. Overlong words are left as raw characters (no [UNK] in
    BPE — every word is representable), skipping the O(len^2) loop."""
    seq = list(_segment(word))
    if not seq or len(word) > max_chars:
        return seq
    while len(seq) > 1:
        best_rank, best_i = None, -1
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Distributed encode: JVM-side pre-tokenize, then merge-rank
    application in an Arrow-batched pandas UDF with the rank table
    broadcast, memoized per distinct word (web corpora repeat words
    heavily). Appends ``out_col: array<string>``. Zero shuffles."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        {tuple(p): i for i, p in enumerate(merges)}
    )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(words_series):
        import pandas as pd

        ranks = bc.value
        memo: dict[str, list[str]] = {}

        def run(words):
            if words is None:
                return []
            out: list[str] = []
            for w in words:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = encode_word_bpe(w, ranks)
                out.extend(got)
            return out

        return pd.Series([run(ws) for ws in words_series])

    return df.withColumn(out_col, seg(pretokenize_expr(text_col, lowercase)))


def bpe_token_count_trained(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Per-doc token count under the TRAINED merges (the corpus-costing
    signal a token-budget curation pass needs; contrast
    ``textops.bpe_token_count``, the train-free regex heuristic)."""
    tmp = "_bpe_toks"
    out = bpe_encode(df, merges, text_col, tmp, lowercase)
    return out.withColumn(out_col, F.size(F.col(tmp)).cast("long")).drop(tmp)


def encode_doc_py(
    text: str | None,
    ranks: dict[tuple[str, str], int],
    lowercase: bool = True,
    memo: dict | None = None,
) -> list[str]:
    """Single-process replica of the full encode path (oracle side)."""
    out: list[str] = []
    if memo is None:
        memo = {}
    for w in pretokenize_py(text, lowercase):
        got = memo.get(w)
        if got is None:
            got = memo[w] = encode_word_bpe(w, ranks)
        out.extend(got)
    return out

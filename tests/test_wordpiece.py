"""WordPiece subword training + encoding (functions/wordpiece.py).

Reference contract: LogAI trains a HF WordPiece tokenizer over the corpus
(vectorization_algo/logbert.py:87-146). These tests pin (a) the merge loop
against a hand-computed fixture, (b) distributed-vs-single-process parity
of the full fit+encode path on generated HDFS lines (tests/synth_logs.py),
(c) HF WordPiece inference semantics (greedy longest match, whole-word [UNK])."""

from collections import Counter

import pytest

from logai_spark.functions.wordpiece import (
    SPECIAL_TOKENS,
    encode_word,
    fit_wordpiece,
    pretokenize_py,
    train_wordpiece_from_counts,
    word_counts,
    wordpiece_encode,
    wordpiece_token_count,
)
from tests.synth_logs import hdfs_lines


def test_merge_loop_hand_computed():
    # one word "aaa" x4: segs [a, ##a, ##a]; sym a:4, ##a:8
    # pair (a,##a): 4 -> score 4/(4*8)=0.125; (##a,##a): 4/64=0.0625
    # merge 1 = "aa"; then (aa,##a): 4/(4*4)=0.25 -> merge 2 = "aaa"
    vocab = train_wordpiece_from_counts([("aaa", 4)], vocab_size=len(SPECIAL_TOKENS) + 4)
    assert vocab[: len(SPECIAL_TOKENS)] == SPECIAL_TOKENS
    assert vocab[len(SPECIAL_TOKENS):] == ["##a", "a", "aa", "aaa"]


def test_merge_scoring_prefers_wordpiece_objective():
    # counts chosen so the RAW-count argmax and the WordPiece-score argmax
    # differ: pair (x,##y) occurs 12 times but both symbols are frequent;
    # (q,##z) occurs 3 times between rare symbols.
    vocab = train_wordpiece_from_counts(
        [("xy", 12), ("xw", 20), ("qz", 3)],
        vocab_size=len(SPECIAL_TOKENS) + 6,
    )
    # alphabet: ##w ##y ##z q x (5 symbols); first merge is the 6th entry
    merges = vocab[len(SPECIAL_TOKENS) + 5:]
    # score(q,##z) = 3/(3*3) = 0.333 beats score(x,##y) = 12/(32*12) = 0.031
    assert merges[0] == "qz"


def test_encode_greedy_longest_match_and_unk():
    vocab = set(SPECIAL_TOKENS) | {"un", "##able", "##e", "able", "u", "##n"}
    assert encode_word("unable", vocab) == ["un", "##able"]
    assert encode_word("able", vocab) == ["able"]
    # 'x' absent from the alphabet -> whole word becomes [UNK], no partials
    assert encode_word("unax", vocab) == ["[UNK]"]


def test_pretokenize_spark_matches_python(spark):
    rows = [
        ("Error: disk /dev/sda1 FULL (97%)!",),
        ("  weird\ttabs\nand CRLF\r\n",),
        (None,),
        ("",),
    ]
    df = spark.createDataFrame(rows, "text string")
    from pyspark.sql import functions as F

    from logai_spark.functions.wordpiece import pretokenize_expr

    got = df.select(pretokenize_expr("text").alias("t")).collect()
    for (txt,), row in zip(rows, got):
        expect = pretokenize_py(txt)
        assert (row["t"] or []) == expect


def test_pretokenize_unicode_whitespace_parity(spark):
    """Java \\s is ASCII-only while Python \\s is Unicode-aware, so the
    pattern must use an explicit whitespace char class: NBSP / LINE SEP /
    IDEOGRAPHIC SPACE / NEL must tokenize IDENTICALLY on both paths
    (as single non-word tokens, the Java-side behavior)."""
    from logai_spark.functions.wordpiece import pretokenize_expr

    rows = [
        ("foo\u00a0bar",),      # NBSP
        ("a\u2028b",),          # LINE SEPARATOR
        ("x\u3000y",),          # IDEOGRAPHIC SPACE
        ("p\x85q",),            # NEL
        ("tab\tok nl\nok",),   # ASCII ws still splits
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(pretokenize_expr("text").alias("t")).collect()
    for (txt,), row in zip(rows, got):
        assert (row["t"] or []) == pretokenize_py(txt)
    # the non-ASCII whitespace chars surface as tokens, not separators
    assert pretokenize_py("foo\u00a0bar") == ["foo", "\u00a0", "bar"]


def test_hdfs_fixture_distributed_matches_local(spark):
    """Full parity on generated HDFS lines: distributed word counts +
    driver merge loop == pure-Python Counter + the same loop; distributed
    encode == per-word local encode."""
    lines = hdfs_lines()[:800]
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")

    vocab_d = fit_wordpiece(df, vocab_size=150)
    cnt = Counter()
    for ln in lines:
        cnt.update(pretokenize_py(ln))
    vocab_l = train_wordpiece_from_counts(cnt.items(), vocab_size=150)
    assert vocab_d == vocab_l
    assert len(vocab_d) == 150

    enc = wordpiece_encode(df.limit(50), vocab_d).collect()
    vset = set(vocab_d)
    for r in enc:
        expect = [t for w in pretokenize_py(r["text"]) for t in encode_word(w, vset)]
        assert r["tokens"] == expect


def test_token_count_and_roundtrip(spark):
    lines = ["status ok", "status degraded", "statusok"]
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    vocab = fit_wordpiece(df, vocab_size=80)
    out = {r["text"]: r["n_wp_tokens"] for r in wordpiece_token_count(df, vocab).collect()}
    vset = set(vocab)
    for ln in lines:
        toks = [t for w in pretokenize_py(ln) for t in encode_word(w, vset)]
        assert out[ln] == len(toks)
        # fully-segmented words reconstruct exactly
        assert "".join(toks).replace("##", "") == ln.replace(" ", "")


def test_word_counts_max_words_cap(spark):
    df = spark.createDataFrame(
        [("a a a b b c",)], "text string"
    )
    top = word_counts(df, max_words=2).collect()
    assert {(r["word"], r["n"]) for r in top} == {("a", 3), ("b", 2)}

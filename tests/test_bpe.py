"""Trained BPE tokenizer (functions/bpe.py).

Reference contract: LogAI's subword tokenizers come from HuggingFace
(vectorization_algo/logbert.py:87-146); BPE is the sibling trainer of the
WordPiece one it uses, re-expressed Spark-first. Pins (a) the merge loop on
a hand-computed fixture (Sennrich et al. 2016 alg. 1 semantics), (b)
distributed-vs-single-process parity of fit+encode on generated HDFS
lines (tests/synth_logs.py), (c) lossless reconstruction (BPE has no
[UNK] — every word is representable), (d) the lowest-rank-first inference loop."""

from collections import Counter

from logai_spark.functions.bpe import (
    EOW,
    bpe_encode,
    bpe_token_count_trained,
    encode_doc_py,
    encode_word_bpe,
    fit_bpe,
    train_bpe_from_counts,
)
from logai_spark.functions.wordpiece import pretokenize_py
from tests.synth_logs import hdfs_lines


def test_merge_loop_hand_computed():
    # "low" x5, "lower" x2:
    #   low   -> l o w</w>
    #   lower -> l o w e r</w>
    # pairs: (l,o) 7; (o,w</w>) 5; (o,w) 2; (w,e) 2; (e,r</w>) 2
    # merge 1 = (l,o) [7]; then (lo,w</w>) 5 beats the 2-count pairs
    # merge 2 = (lo,w</w>); remaining 2-count pairs tie-break lexicographic:
    # (e,r</w>) < (lo,w) < (w,e) -> merge 3 = (e,r</w>)
    merges = train_bpe_from_counts(
        [("low", 5), ("lower", 2)], num_merges=3, min_frequency=2
    )
    assert merges == [("l", "o"), ("lo", "w" + EOW), ("e", "r" + EOW)]


def test_min_frequency_stops_training():
    merges = train_bpe_from_counts([("ab", 1)], num_merges=10, min_frequency=2)
    assert merges == []
    # and with the floor at 1 the single pair merges
    merges = train_bpe_from_counts([("ab", 1)], num_merges=10, min_frequency=1)
    assert merges == [("a", "b" + EOW)]


def test_min_frequency_zero_never_merges_a_dead_pair():
    # merging (a,b) in "abc" leaves (b,c</w>) at count 0; with the floor at
    # 0 that dead pair must not be learned once the live pairs run out
    merges = train_bpe_from_counts([("abc", 3)], num_merges=10, min_frequency=0)
    seg = ["a", "b", "c" + EOW]
    for a, b in merges:
        i = next((i for i in range(len(seg) - 1) if seg[i : i + 2] == [a, b]), None)
        assert i is not None, f"merge {(a, b)} does not occur in the corpus"
        seg[i : i + 2] = [a + b]
    assert merges == [("a", "b"), ("ab", "c" + EOW)]


def test_encode_applies_lowest_rank_first():
    # ranks force (b,c</w>) before (a,b) even though (a,b) is leftmost
    ranks = {("b", "c" + EOW): 0, ("a", "b"): 1, ("a", "bc" + EOW): 2}
    assert encode_word_bpe("abc", ranks) == ["abc" + EOW]
    # with only the late merge available, the leftmost pair applies
    assert encode_word_bpe("ab", {("a", "b" + EOW): 0}) == ["ab" + EOW]
    # no applicable merges -> raw characters with fused </w>
    assert encode_word_bpe("xyz", {}) == ["x", "y", "z" + EOW]
    assert encode_word_bpe("", {}) == []


def test_hdfs_fixture_distributed_matches_local(spark):
    """Distributed word counts + driver merge loop == pure-Python Counter +
    the same loop; distributed Arrow encode == per-word local encode."""
    lines = hdfs_lines()[:800]
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")

    merges_d = fit_bpe(df, num_merges=120)
    cnt = Counter()
    for ln in lines:
        cnt.update(pretokenize_py(ln))
    merges_l = train_bpe_from_counts(cnt.items(), num_merges=120)
    assert merges_d == merges_l
    assert len(merges_d) == 120

    ranks = {p: i for i, p in enumerate(merges_d)}
    enc = bpe_encode(df.limit(50), merges_d).collect()
    for r in enc:
        assert r["tokens"] == encode_doc_py(r["text"], ranks)


def test_lossless_reconstruction_no_unk(spark):
    lines = ["status ok", "status degraded", "zzzz unseen-word!"]
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    merges = fit_bpe(df, num_merges=40, min_frequency=1)
    out = {r["text"]: r["tokens"] for r in bpe_encode(df, merges).collect()}
    for ln in lines:
        # stripping </w> and re-joining reconstructs the pre-token stream
        rebuilt = "".join(t.replace(EOW, "") for t in out[ln])
        assert rebuilt == "".join(pretokenize_py(ln))


def test_token_count_trained(spark):
    df = spark.createDataFrame([("aa aa bb",), (None,), ("",)], "text string")
    merges = fit_bpe(df, num_merges=10, min_frequency=1)
    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["text"]: r["n_bpe_tokens"]
        for r in bpe_token_count_trained(df, merges).collect()
    }
    assert got["aa aa bb"] == len(encode_doc_py("aa aa bb", ranks))
    assert got[None] == 0 and got[""] == 0

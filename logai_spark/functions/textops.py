"""Large-scale training-data text operators: dedup, quality, fingerprints.

These extend the reference's tokenization/dedup surface
(/root/reference/logai/utils/tokenize.py:26-56, dedup-with-counts
openset_anomaly_detection_workflow.py:377-410) with the operations a 100 TB
web-text pipeline needs: exact + near dedup (MinHash/LSH, SimHash, n-gram
Jaccard), language id, quality scoring, token counting, fingerprinting.

Design rule: every hash is derived from md5 (available identically in Spark
and DuckDB), so each operator has an exact SQL oracle — no
platform-private hash functions, no RNG. All expressions are JVM built-ins
(split / explode / groupBy / aggregate HOFs); nothing here uses a Python UDF.

Scale notes: shingle explode is the only row-multiplying step; MinHash keeps
per-doc state at k signatures; LSH band-join groups on (band, signature-slice)
keys so candidate generation is a hash shuffle, never an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logai_spark.session import cut_lineage

# MinHash parameters: k permutations via (a*h + b) mod P over 32-bit md5-based
# token hashes. P is prime and < 2^31 so a*h fits in int64 exactly (matches
# DuckDB BIGINT arithmetic). Coefficients are fixed odd constants, not RNG.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_K = 12
def _perm_a(i: int) -> int:
    """i-th MinHash permutation multiplier (closed form — any k, not a
    fixed-length table; 0-indexed)."""
    return (2 * (i + 1) + 1) * 40503 % MINHASH_P


def _perm_b(i: int) -> int:
    return ((i + 1) * 9973 + 7) % MINHASH_P


_A = [_perm_a(i) for i in range(MINHASH_K)]  # kept for oracle builders
_B = [_perm_b(i) for i in range(MINHASH_K)]

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "from", "that", "this", "be", "are", "was",
]

# Per-language function-word profiles for lang_id (ASCII-only on purpose —
# byte-stable across engines/locales). Common words overlap across languages
# ("de", "que", "en"); the classifier scores ALL lists and takes the argmax,
# so overlaps just contribute evidence to several candidates.
LANG_STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "den",
           "dem", "ein", "eine", "zu", "auf", "im", "sich", "als", "auch",
           "werden", "bei"],
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with",
           "was", "on", "are", "this", "be", "at", "by", "from", "not", "but"],
    "es": ["el", "los", "las", "que", "en", "un", "una", "es", "por", "con",
           "para", "del", "se", "no", "su", "al", "lo", "como", "pero", "de"],
    "fr": ["le", "les", "des", "et", "est", "une", "du", "dans", "pour",
           "que", "qui", "pas", "sur", "avec", "au", "ce", "ne", "se",
           "plus", "de"],
    "it": ["il", "lo", "la", "le", "di", "che", "un", "una", "per", "non",
           "con", "del", "della", "sono", "come", "anche", "ma", "si",
           "nel", "alla"],
    "nl": ["de", "het", "een", "van", "en", "is", "dat", "op", "te", "met",
           "voor", "niet", "zijn", "aan", "ook", "maar", "als", "bij",
           "uit", "naar"],
    "pt": ["os", "as", "de", "que", "em", "um", "uma", "para", "com", "por",
           "do", "da", "dos", "das", "se", "mais", "como", "ao", "pelo",
           "uns"],
}


#: Segmentation-free script profiles for languages the whitespace-tokenized
#: stopword classifier can NEVER detect (CJK has no spaces; Cyrillic gets a
#: script profile too, covering the whole script family under 'ru' as the
#: dominant web language of that script — documented heuristic). Per lang:
#: (codepoint ranges, weight). hits = weight x (#chars in ranges): directly
#: comparable with distinct-stopword hits because any genuinely CJK/Cyrillic
#: document has far more script chars than a Latin doc has distinct profile
#: words (max 20). ja outranks zh via kana weight 4: running Japanese text is
#: >=~25% kana so 4x kana >= total CJK chars >= han, while Chinese has ~zero
#: kana; the alphabetic tie-break (ja before zh) resolves exact ties.
LANG_SCRIPTS: dict[str, tuple[list[tuple[int, int]], int]] = {
    "ja": ([(0x3040, 0x30FF)], 4),            # hiragana + katakana
    "ko": ([(0xAC00, 0xD7AF), (0x1100, 0x11FF)], 1),  # hangul + jamo
    "ru": ([(0x0400, 0x04FF)], 1),            # cyrillic
    "zh": ([(0x4E00, 0x9FFF)], 1),            # CJK unified ideographs
}


def script_char_class(ranges: list[tuple[int, int]], negate: bool = True) -> str:
    """Character-class regex for the codepoint ranges, as LITERAL characters —
    valid in both Java regex (Spark) and RE2 (DuckDB oracle), so one pattern
    string serves engine and oracle."""
    body = "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in ranges)
    return f"[{'^' if negate else ''}{body}]"


def script_hits_expr(col: Column, lang: str) -> Column:
    """weight x count of chars of ``lang``'s script (strip non-script chars,
    take the remaining length). Pure JVM, codegen-friendly."""
    ranges, weight = LANG_SCRIPTS[lang]
    kept = F.regexp_replace(col, script_char_class(ranges), "")
    return F.coalesce(F.length(kept), F.lit(0)) * weight


def tokenize_expr(col: str | Column, lowercase: bool = True) -> Column:
    """Whitespace tokenizer (reference tokenize.py:26-36 splits on space)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


DIGITS_SUB = "[DIGITS]"  # reference utils/constants.py:10


def camel_case_split_expr(col: str | Column) -> Column:
    """camelCase tokenization (reference tokenize.py:39-43): space before
    each uppercase run, then before each Capitalized word, then strip —
    'getUserIDFromDB' -> 'get User ID From DB'. Pure regexp_replace (JVM)."""
    c = F.col(col) if isinstance(col, str) else col
    step1 = F.regexp_replace(c, r"([A-Z]+)", r" $1")
    step2 = F.regexp_replace(step1, r"([A-Z][a-z]+)", r" $1")
    return F.trim(step2)


def mask_digit_tokens_expr(col: str | Column, sub: str = DIGITS_SUB) -> Column:
    """Digit-token masking (reference tokenize.py:46-56): tokens that are
    ALL digits become the [DIGITS] placeholder; everything else passes
    through. Split on single spaces like the reference's str.split()."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, r"\s+"), lambda t: t != "")
    masked = F.transform(
        toks, lambda t: F.when(t.rlike(r"^[0-9]+$"), F.lit(sub)).otherwise(t)
    )
    return F.array_join(masked, " ")


def _hash32(c: Column) -> Column:
    """Deterministic 32-bit-ish hash: first 8 hex chars of md5 -> bigint.
    Identical formula exists in DuckDB SQL, which is what makes every
    operator below oracle-checkable."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def round4(c: Column) -> Column:
    """Engine-portable 4-dp rounding: floor(x*1e4 + 0.5)/1e4 in pure IEEE
    double ops. Spark's round() goes through BigDecimal HALF_UP while DuckDB
    rounds the binary double — they disagree at representation ties; this
    formula evaluates bit-identically on both."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


def token_count(df: DataFrame, text_col: str = "text", out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, F.size(tokenize_expr(text_col, lowercase=False)))


# GPT-2-style pre-tokenizer split, lookahead-free so the same pattern text
# runs on Java regex (Spark) and RE2 (DuckDB oracle): English contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs,
# whitespace runs. Divergence from the published GPT-2 pattern: its
# `\s+(?!\S)` lookahead splits a whitespace run before a newline into two
# pre-tokens ("a \nb" -> 'a',' ','\n','b'); this RE2-compatible variant
# merges the run ('a',' \n','b') and so undercounts by one per
# trailing-whitespace line — still a lower bound, and zero on text without
# mid-run whitespace boundaries.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_bpe_tokens"
) -> DataFrame:
    """Count BPE PRE-tokens (the units byte-pair merges start from) under a
    GPT-2-style split — the standard budget proxy when the real tokenizer
    (an external artifact) isn't on the cluster: a lower bound on the true
    BPE token count (merges only ever split pre-tokens further) that tracks
    it closely on natural text. Pure `regexp_count` codegen, zero shuffle,
    zero Python."""
    return df.withColumn(
        out_col, F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_RE))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword ratio,
    alpha ratio -> a 0..1 score. All ratios rounded to 4 dp so float math is
    bit-stable across engines."""
    toks = tokenize_expr(text_col)
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    # distinct stopwords present / 22 as a crude fluency proxy + length band
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    total_chars = F.greatest(F.length(F.col(text_col)), F.lit(1))
    out = (
        df.withColumn("n_tokens", n)
        .withColumn("mean_token_len", round4(F.length(F.trim(F.col(text_col))) / F.greatest(n, F.lit(1))))
        .withColumn("stopword_hits", n_stop)
        .withColumn("alpha_ratio", round4(alpha_chars / total_chars))
    )
    score = round4(
        F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_hits") / F.lit(8.0), F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.3
    )
    return out.withColumn("quality", score)


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    min_hits: int = 2,
) -> DataFrame:
    """Multilingual language id: stopword profiles for whitespace-tokenized
    Latin-script languages (LANG_STOPWORDS) plus segmentation-free SCRIPT
    profiles for zh/ja/ko/ru (LANG_SCRIPTS — whitespace tokenization can
    never see a CJK function word). Per stopword language: count DISTINCT
    profile words present (array_intersect); per script language: weighted
    count of script characters. Prediction = argmax over all candidates,
    ties broken to the alphabetically first code (deterministic), 'unknown'
    when even the best candidate scores below ``min_hits``. Pure JVM column
    expressions — array_max over (hits, -rank, code) structs, whole-stage
    codegen, no UDF."""
    toks = tokenize_expr(text_col)
    langs = sorted(set(LANG_STOPWORDS) | set(LANG_SCRIPTS))

    def _hits(lang: str) -> Column:
        if lang in LANG_STOPWORDS:
            return F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
                )
            )
        return script_hits_expr(F.col(text_col), lang)

    candidates = F.array(
        *[
            F.struct(
                _hits(lang).alias("h"),
                F.lit(-i).alias("r"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(candidates)
    return df.withColumn("stopword_hits", best["h"]).withColumn(
        out_col,
        F.when(best["h"] >= min_hits, best["lang"]).otherwise(F.lit("unknown")),
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "fingerprint") -> DataFrame:
    """Order-sensitive rolling fingerprint: sum over tokens of
    hash32(token) * (pos+1), mod P. Position-weighted so permuted docs get
    different prints; pure aggregate arithmetic (no overflow: h < 2^32,
    pos < 2^20, docs < 2^10 tokens -> sum < 2^63)."""
    toks = tokenize_expr(text_col, lowercase=False)
    # aggregate HOF with (index via arrays_zip of sequence)
    idx = F.sequence(F.lit(1), F.size(toks))
    weighted = F.zip_with(toks, idx, lambda t, i: _hash32(t) * i.cast("long"))
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.withColumn(out_col, F.pmod(total, F.lit(MINHASH_P)).cast("long"))


def _null_safe_key_hash(key_cols: list[str]) -> Column:
    """128-bit md5 over a null-safe, injection-safe encoding of the key
    columns. ``concat_ws`` would SKIP NULLs (NULL and '' collide; multi-
    column keys are separator-injectable: (a\\x1fb, c) == (a, b\\x1fc)).
    ``to_json(struct(...))`` instead JSON-escapes every value and omits
    null fields by NAME, so NULL, '' and any separator-bearing value all
    encode distinctly — and it stays a pure JVM codegen expression."""
    return F.md5(F.to_json(F.struct(*[F.col(k) for k in key_cols])))


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
    hash_key: bool = False,
) -> DataFrame:
    """Exact dedup: one row per distinct key, keeper = min id, n_dups kept.

    ``hash_key=True`` groups by the 128-bit md5 of a null-safe JSON
    encoding of the key columns instead of the raw values: the shuffle
    then carries a 16-byte
    key per row instead of the full document text (duplicate texts rarely
    share a map partition, so map-side combine cannot shrink it) — at
    corpus scale that is the difference between reshuffling the whole
    corpus and reshuffling ~24 bytes/doc. md5 collision odds at 10^12 docs
    are ~1e-13; the raw-key mode remains for exactness-critical use.
    The key columns are dropped from the output in this mode (the hash is
    internal); output is (keeper_id, n_dups) either way plus raw keys when
    ``hash_key=False``.
    """
    if hash_key:
        key = _null_safe_key_hash(key_cols)
        return (
            df.groupBy(key.alias("_k"))
            .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
            .drop("_k")
        )
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups")
    )


def _shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings (empty when < n tokens).

    ``toks`` must be a MATERIALIZED token-array column (a plain column
    reference, not the tokenize expression itself): referencing the split()
    subtree from inside the per-shingle transform lambda defeats common-
    subexpression elimination and re-tokenizes the document once per
    shingle — measured 5x slower on the sf0.1 battery."""
    k = F.size(toks)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: min over the shingle set of each of k
    affine-permuted 32-bit hashes. Output: id + sig_0..sig_{k-1}.

    Computed entirely PER ROW (base md5 array materialized once, then k
    ``array_min`` passes over cheap affine permutations) — a pure map stage
    with NO explode and NO shuffle. The previous explode+groupBy shape was
    partial-aggregatable but still exchanged one row per (doc, k mins) and
    re-sorted; at 10^12 docs a signature pass should touch the shuffle
    system zero times. Value-identical to the exploded form (min is
    duplicate- and order-insensitive; empty shingle sets give NULL sigs in
    both shapes)."""
    work = df.withColumn("_toks", tokenize_expr(text_col))
    work = work.withColumn("_sh", _shingles(F.col("_toks"), shingle_n))
    # base hash once per shingle; the k permuted mins all reference this
    # array (otherwise each sig recomputes the md5)
    work = work.withColumn("_h", F.transform(F.col("_sh"), _hash32))
    def _perm(i: int):
        # closure (not a default arg): F.transform inspects lambda arity and
        # would pass the element INDEX into a second parameter
        return lambda h: F.pmod(
            F.lit(_perm_a(i)) * h + F.lit(_perm_b(i)), F.lit(MINHASH_P)
        )

    sigs = [
        F.array_min(F.transform(F.col("_h"), _perm(i))).alias(f"sig_{i}")
        for i in range(k)
    ]
    return work.select(F.col(id_col), *sigs)


def _band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int,
    rows_per_band: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band_key) table for MinHash-LSH banding — the shared candidate-
    generation front half of lsh_duplicate_pairs and cross_near_dup. Zero
    shuffle: per-row signatures + an explode.

    Docs with an empty shingle set (NULL text or < shingle_n tokens) have
    all-NULL signatures; concat_ws skips NULLs, so their band keys would
    collapse to the bare band index and pair EVERY such doc with every
    other (unrelated short docs then merge into one "duplicate" cluster
    and all but one get dropped downstream). They carry no MinHash
    evidence — leave them out of banding; they become singletons.
    The eligibility test runs BEFORE signature computation on the cheap
    token count (NULL text yields NULL size and is dropped too):
    filtering on sig_0 AFTER would substitute the full k-permutation
    min-hash expression into the predicate and recompute it per row —
    measured 4-5x slower on the sf0.1 LSH pass."""
    k = bands * rows_per_band
    eligible = df.filter(F.size(tokenize_expr(text_col)) >= shingle_n)
    sigs = minhash_signatures(eligible, id_col, text_col, k=k, shingle_n=shingle_n)
    keys = [
        F.concat_ws(
            "_",
            F.lit(b),
            *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
        )
        for b in range(bands)
    ]
    return sigs.select(F.col(id_col), F.explode(F.array(*keys)).alias("_band"))


def lsh_params(threshold: float, n_perm: int = 16) -> tuple[int, int]:
    """Choose (bands, rows_per_band) for a target Jaccard ``threshold``
    given ``n_perm`` MinHash permutations (Leskovec/Rajaraman/Ullman, MMDS
    ch. 3.4): the S-curve's 50%-collision point sits near (1/b)^(1/r), so
    pick the b x r grid cell (b*r <= n_perm, maximizing permutations used)
    whose implied threshold is closest to the request. Driver-side pure
    arithmetic over at most n_perm cells — call it once and pass the result
    to :func:`lsh_duplicate_pairs` / ``dup_clusters`` instead of hand-tuning
    bands for every new corpus similarity target.

    >>> lsh_params(0.8, 16)   # high threshold -> more rows per band
    (3, 5)
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if n_perm < 1:
        raise ValueError("n_perm must be >= 1")
    best: tuple[float, int, int] | None = None
    for r in range(1, n_perm + 1):
        b = n_perm // r
        if b < 1:
            break
        implied = (1.0 / b) ** (1.0 / r)
        key = (abs(implied - threshold), -b * r, b)
        if best is None or key < (best[0], -best[1] * best[2], best[1]):
            best = (key[0], b, r)
    assert best is not None
    return best[1], best[2]


def lsh_duplicate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (banding: k = bands*rows sigs;
    docs agreeing on ALL rows of any band become a pair). All bands share
    ONE self-equi-join over an exploded (id, band_key) table — the band
    index is baked into the key, so the single join is exactly the union of
    the per-band joins but with one shuffle of a bands*rows table instead
    of 2*bands exchanges of the signature table. Linear shuffle, no cross
    product — EXCEPT within a band bucket, where the join output is
    quadratic in bucket size by design.

    ``max_band_bucket`` is the guardrail for that quadratic: band buckets
    holding more than this many docs are dropped from pairing. On web-like
    corpora the MinHash of heavily shared boilerplate shingles saturates
    whole bands — measured on 200k synthetic pages: ONE bucket of 27,004
    docs = 3.6e8 pairs ground through a single task's pair-dedup sort
    (bench_artifacts/sf1_rehearsal_r4.json provenance) — and such
    mega-buckets are LSH false-positive storms, not true near-dup
    clusters (members merely share hot shingles' min-hashes; their actual
    Jaccard is low). Identical-text mass belongs to exact_dedup upstream.
    The cap bounds per-bucket work at cap^2 while leaving real (small)
    near-dup clusters intact; None preserves exact banding semantics.

    Eager, like ``connected_components``: the band table is materialized
    once, since the hot-bucket count, the anti-join and both join sides
    would each recompute its signatures and explode."""
    bandtbl = cut_lineage(_band_table(df, id_col, text_col, bands, rows_per_band, shingle_n))
    if max_band_bucket is not None:
        # same skew-safe shape as the ngram df-cap: partial-agg count of
        # the few hot buckets + shuffle-hash anti-join that streams the
        # probe side (no per-bucket buffering, AQE-splittable)
        hot = (
            bandtbl.groupBy("_band")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_bucket)
            .select("_band")
        )
        bandtbl = bandtbl.join(hot.hint("shuffle_hash"), "_band", "left_anti")
    left = bandtbl.select(F.col(id_col).alias("id_a"), "_band")
    right = bandtbl.select(F.col(id_col).alias("id_b"), "_band")
    return (
        left.join(right, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cross_near_dup(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
    bands: int = 4,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    out_col: str = "ref_dup",
) -> DataFrame:
    """Cross-corpus near-duplicate flagging: mark every doc of ``df`` whose
    MinHash-LSH band keys collide with ANY document of the reference corpus
    ``ref`` (a previous crawl snapshot, an already-trained-on corpus, an
    eval benchmark). The near-dup member of the decontamination family:
    ``decontaminate`` catches n-gram overlap and ``incremental_dedup``
    exact text matches; this catches whole-document near duplicates
    WITHOUT clustering the union corpus (no connected components, no
    pairing within either side).

    Scale shape: both corpora map to (id, band_key) tables with zero
    shuffle (per-row signatures + explode); the reference side reduces to
    DISTINCT band keys (partial-agg, Zipf-small vs the corpus); one
    left-semi equi-join on the band key flags collisions — linear shuffle,
    AQE broadcast-converts the key set when ref is small. The corpus being
    cleaned never shuffles on anything but the band key.

    Returns one row per ``df`` doc: (id_col, out_col boolean). Docs with
    < shingle_n tokens carry no MinHash evidence and are never flagged.
    """
    new_bands = _band_table(df, id_col, text_col, bands, rows_per_band, shingle_n)
    ref_keys = (
        _band_table(
            ref, id_col, ref_text_col or text_col, bands, rows_per_band, shingle_n
        )
        .select("_band")
        .distinct()
    )
    hits = (
        new_bands.join(ref_keys, "_band", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(id_col, F.coalesce(F.col("_hit"), F.lit(False)).alias(out_col))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    validate_ids: bool = False,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shingle inverted index:
    explode distinct shingles, self-join on shingle, count shared shingles,
    |A ∪ B| = |A| + |B| - shared. Only docs sharing >=1 shingle ever pair.

    Contract: ``id_col`` must be unique per row (it is the pair key); with
    duplicate ids, dedup first — the inverted index is built without a
    global distinct on the exploded pairs, so duplicate ids would silently
    inflate shared-shingle counts and sizes. ``validate_ids=True`` enforces
    the contract in-plan (raise_error on the first duplicate id — one extra
    row-level shuffle on ``id_col``, nothing at shingle granularity), so a
    bad input fails loudly instead of reporting wrong similarities.

    ``max_shingle_df`` caps the document frequency of shingles admitted to
    the index (stop-shingle removal): a single ubiquitous shingle shared by
    10^6 docs would otherwise make the self-join quadratic (10^12 candidate
    rows). With the cap, jaccard is computed over the df-capped shingle sets
    on BOTH the numerator and the denominators — a well-defined, documented
    semantics (the common trick in production near-dup pipelines). Pass None
    for exact jaccard on bounded corpora."""
    from pyspark.sql import Window

    if validate_ids:
        # the guard REPLACES id_col (used by everything downstream) so the
        # optimizer cannot prune it away as a dead column
        dup_guard = F.count(F.lit(1)).over(Window.partitionBy(id_col))
        df = df.withColumn(
            id_col,
            F.when(
                dup_guard > 1,
                F.raise_error(
                    F.concat(
                        F.lit(f"ngram_jaccard_pairs: duplicate {id_col}="),
                        F.col(id_col).cast("string"),
                    )
                ).cast(df.schema[id_col].dataType),
            ).otherwise(F.col(id_col)),
        )

    work = df.withColumn("_toks", tokenize_expr(text_col))
    # (id, shingle) pairs are already globally unique: array_distinct dedups
    # within the row and doc ids are unique across rows — no .distinct()
    # (it would add a full extra shuffle on the hottest table here)
    sh = work.select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(F.col("_toks"), shingle_n))).alias("_sh"),
    )
    if max_shingle_df is not None:
        # Stop-shingle removal as a partial-aggregated count + shuffle-hash
        # ANTI-join, not a count-window over _sh. The window shape is ~10%
        # faster at sf0.1 (its one exchange is reused by the self-join
        # below) but it must BUFFER every row of a shingle group in a
        # single task before emitting — and the hot shingles this cap
        # exists to kill (web boilerplate, df in the billions) are exactly
        # the groups that turn that into an unsplittable spilling
        # straggler. The anti-join streams hot rows through a hash lookup;
        # the count combines map-side so reducers see O(mappers) rows per
        # shingle, and AQE can split a skewed probe partition. Quiet-window
        # A/B at sf0.1 (steal < 2.4%): window 2.14 s, this 2.35 s,
        # broadcast-anti 4.06 s (bench_artifacts/ngram_cap_ab_r4.txt).
        hot = (
            sh.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_sh")
        )
        sh = sh.join(hot.hint("shuffle_hash"), "_sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "_sh")
    b = sh.select(F.col(id_col).alias("id_b"), "_sh")
    shared = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb"))
    out = (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            round4(F.col("_shared") / (F.col("_sza") + F.col("_szb") - F.col("_shared"))),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash fingerprint: per bit position, sum +1/-1 over token hashes;
    bit set iff the sum is positive; near-dup docs differ in few bits.

    Per-row like :func:`minhash_signatures`: ONE ``aggregate`` traversal of
    the token-hash array carries a ``bits``-wide count vector (zip_with
    accumulator), then the signature assembles from the counts — a pure map
    stage, no explode, no shuffle (the previous explode+groupBy was
    partial-aggregatable but still exchanged every token row at 10^12-doc
    scale). A +1/-1 sum being positive is equivalent to the set-bit count
    exceeding half the tokens (2*ones > n). Measured 0.9s -> 0.2s on the
    sf0.1 battery vs the exploded shape.

    NULL-text docs are dropped (no fingerprint), matching the previous
    explode shape and the SQL oracle — the per-row rewrite would otherwise
    emit a (doc_id, NULL) row for them."""
    work = df.withColumn("_h", F.transform(tokenize_expr(text_col), _hash32)).filter(
        F.col("_h").isNotNull()
    )
    # The per-token count update is UNROLLED in Python (literal bit index
    # per element) so every shift amount is a literal shiftright — the
    # previous zip_with(sequence, pow-based bit extract) built a ~4x larger
    # expression tree whose whole-stage codegen alone cost 2.8 s vs 0.8 s
    # at bits=32 (warm throughput identical, outputs byte-identical).
    ones = F.aggregate(
        F.col("_h"),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.array(
            *[
                acc[b] + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long")
                for b in range(bits)
            ]
        ),
    )
    n = F.size("_h")
    sig = F.aggregate(
        F.zip_with(
            ones,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda c, b: F.when(c * 2 > n, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # coalesce with a non-nullable literal marks the signature column
    # non-nullable (it already is: _h is filtered non-null and aggregate's
    # init is non-null). Without this, downstream joins infer
    # isnotnull(<band key>) and predicate pushdown substitutes the ENTIRE
    # aggregate expression into a per-row Filter below the exchange —
    # doubling signature evaluation in simhash_pairs. Non-nullable makes
    # the inferred filter fold to true.
    return work.select(
        F.col(id_col), F.coalesce(sig, F.lit(0).cast("long")).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance (Manku, Jain &
    Sarma, WWW'07 "Detecting Near-Duplicates for Web Crawling"): emit every
    (id_a, id_b, hamming) with Hamming(sig_a, sig_b) <= ``max_hamming``.

    Banding gives the pigeonhole recall guarantee from the paper: the
    signature splits into ``bands`` contiguous bit ranges (default
    ``max_hamming + 1``); two signatures differing in at most
    ``max_hamming`` bits MUST agree exactly on at least one band, so the
    banded equi-join followed by an exact bit_count(xor) verification
    returns EXACTLY the brute-force answer — which is what the DuckDB
    oracle checks with an O(n^2) self-join.

    Scale shape: signatures are a zero-shuffle per-row map (see
    :func:`simhash`); the only shuffle is ONE self-equi-join on a
    bands-per-doc (id, band_key) table with the band index baked into the
    key — linear in the corpus, same shape as
    :func:`lsh_duplicate_pairs`. Signatures ride along in the band table so
    verification needs no join-back. ``max_band_bucket`` is the same
    hot-bucket guardrail as the LSH path: boilerplate-heavy corpora
    collapse many documents onto one band value and the join output is
    quadratic within a bucket; capping drops those band buckets (identical-
    text mass belongs to exact_dedup upstream). At real corpus scale use a
    wider signature (bits=32 here tops out against the 32-bit token hash;
    the production recipe is 64-bit signatures over a 64-bit hash with
    16-bit bands).
    """
    if bands is None:
        bands = max_hamming + 1
    if not (1 <= bands <= bits):
        raise ValueError(f"bands must be in [1, bits], got {bands}")
    sigs = simhash(df, id_col=id_col, text_col=text_col, bits=bits)
    # Materialization barrier: without it Catalyst collapses the signature
    # projection into the band-key projection and the O(tokens x bits)
    # aggregate expression is re-evaluated once PER BAND KEY per join side
    # (~10x recomputation measured: 23 s -> 4 s at sf0.1). The exchange
    # moves only (id, 8-byte sig) rows — negligible next to the band join,
    # whose two sides then reuse the same shuffle (ReusedExchange).
    sigs = sigs.repartition(F.col(id_col))
    # contiguous bands whose widths differ by at most one bit; band index
    # baked into the key so one join covers all bands (cf. _band_table)
    base, extra = divmod(bits, bands)
    widths = [base + (1 if j < extra else 0) for j in range(bands)]
    offs = [sum(widths[:j]) for j in range(bands)]
    keys = F.array(
        *[
            F.shiftright(F.col("simhash"), offs[j])
            .bitwiseAND(F.lit((1 << widths[j]) - 1))
            + F.lit(j << bits)
            for j in range(bands)
        ]
    )
    bandtbl = sigs.select(F.col(id_col), F.col("simhash"), F.explode(keys).alias("_band"))
    if max_band_bucket is not None:
        hot = (
            bandtbl.groupBy("_band")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_bucket)
            .select("_band")
        )
        bandtbl = bandtbl.join(hot.hint("shuffle_hash"), "_band", "left_anti")
    a = bandtbl.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"), "_band"
    )
    b = bandtbl.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"), "_band"
    )
    return (
        a.join(b, "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition stats + PII redaction (training-data extensions)
# ---------------------------------------------------------------------------

def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document repetition metrics in the spirit of the Gopher quality
    filters (Rae et al. 2021, §A1.1): duplicate-word fraction and the
    fraction of bigrams taken by the single most common bigram.

    ``keep_cols``: extra input columns carried through to the output, so a
    caller assembling a per-doc flag ledger gets (id, extras, stats) from
    THIS scan instead of joining the stats back to the corpus on the id key
    (at corpus scale that join is a full extra shuffle).

    Scale shape: entirely row-local array expressions — zero shuffles, zero
    Python. The top-bigram count sorts the bigram array and folds a
    max-run-length with the ``aggregate`` HOF (O(n log n) per doc), instead
    of the O(n * distinct) transform-filter formulation that would crawl on
    10k-token web pages.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    d = df.withColumn("_t", toks)
    bigrams = F.when(
        F.size("_t") >= 2,
        F.expr("transform(sequence(0, size(_t)-2), i -> concat(_t[i], ' ', _t[i+1]))"),
    ).otherwise(F.array().cast("array<string>"))
    d = d.withColumn("_bg", F.array_sort(bigrams))
    # fold: state (prev token, current run, best run) over the sorted bigrams
    best_run = F.aggregate(
        "_bg",
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best, F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return d.select(
        id_col,
        *(keep_cols or []),
        F.size("_t").cast("long").alias("n_words"),
        round4(
            1.0 - F.size(F.array_distinct("_t")).cast("double") / F.size("_t")
        ).alias("dup_word_frac"),
        round4(
            F.when(
                F.size("_bg") > 0,
                best_run.cast("double") / F.size("_bg"),
            ).otherwise(F.lit(0.0))
        ).alias("top_bigram_frac"),
    )


# Shared Java/RE2-compatible PII patterns (Spark regexp_* use java.util.regex,
# DuckDB uses RE2 — these stay inside the common dialect: no lookaround).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_LONG_ID = r"\b\d{9,}\b"


def pii_redact(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and long digit runs (account/SSN-ish
    ids) with typed placeholders, and count each class. Redaction order
    matters: emails first (they contain dots+digits), then IPs, then bare
    long ids. Pure regexp codegen — no shuffle, no Python; this is the hot
    inner loop of a compliance scrub over a 100 TB corpus, so it must stay
    JVM-side.
    """
    s = F.col(text_col)
    n_emails = F.regexp_count(s, F.lit(PII_EMAIL)).cast("long")
    after_email = F.regexp_replace(s, PII_EMAIL, "<EMAIL>")
    n_ips = F.regexp_count(after_email, F.lit(PII_IPV4)).cast("long")
    after_ip = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    n_ids = F.regexp_count(after_ip, F.lit(PII_LONG_ID)).cast("long")
    redacted = F.regexp_replace(after_ip, PII_LONG_ID, "<ID>")
    return df.withColumn(out_col, redacted).withColumn(
        "n_emails", n_emails
    ).withColumn("n_ips", n_ips).withColumn("n_ids", n_ids)


def hash_sample(
    df: DataFrame,
    frac: float,
    id_col: str = "doc_id",
    strata_cols: list[str] | None = None,
    salt: str = "s42",
) -> DataFrame:
    """Deterministic (stratified) hash sampling: keep a row iff
    hash32(salt|strata|id) falls in the first ``frac`` of 10,000 buckets.
    The workhorse of training-data curation — held-out splits, ablation
    subsets, per-source quotas — where `df.sample()` is useless because it
    is neither reproducible across runs nor stable under repartitioning.

    Scale shape: a pure filter — zero shuffles, prunes at the scan when the
    predicate survives pushdown, and the same row always lands on the same
    side of the cut on any cluster size. ``strata_cols`` only enter the hash
    key (per-stratum independence); they do not group or shuffle anything.
    """
    parts = [
        F.lit(salt),
        *[F.col(c).cast("string") for c in (strata_cols or [])],
        F.col(id_col).cast("string"),
    ]
    bucket = F.pmod(_hash32(F.concat_ws("|", *parts)), F.lit(10000))
    return df.filter(bucket < int(round(frac * 10000)))


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-level most-frequent word n-grams (boilerplate / stock-phrase
    detection over a crawl). explode -> hash agg (map-side partial combine)
    -> global top-k; Spark plans the final step as TakeOrderedAndProject, so
    only k rows ever reach the driver side of the sort, not the full
    distinct-ngram table. Ties break on the ngram string for determinism.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    grams = _shingles(F.col("_t"), n)
    return (
        df.withColumn("_t", toks)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "ngram")
        .limit(k)
    )


def incremental_dedup(
    incoming: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental crawl dedup: drop incoming docs whose content fingerprint
    already exists in a prior corpus snapshot. LEFT ANTI join on the
    fingerprint — one shuffle on a long key on each side (or none on the
    snapshot side when its fingerprints are stored pre-bucketed); never
    compares text bodies. The dual of ``exact_dedup`` for the batch-over-
    batch ingestion loop, where re-reading the full corpus per batch is not
    an option."""
    inc = doc_fingerprint(incoming, text_col)
    snap = doc_fingerprint(snapshot, text_col).select("fingerprint").distinct()
    return inc.join(snap, "fingerprint", "left_anti")


def quality_floor(
    df: DataFrame,
    keep_frac: float = 0.5,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``keep_frac`` of documents by quality within each
    language (the per-language quality cut every corpus-curation pipeline
    applies before training).

    Scale shape: NOT a per-language rank window — language cardinality is
    tiny (~dozens) while rows are 10^12, so partitionBy(lang) would funnel
    whole languages through single tasks. Instead: (1) one partial-agg pass
    computes the per-language quantile cutoff (output = one row per
    language), (2) the cutoff table broadcast-joins back, (3) a pure filter
    keeps rows at-or-above it. Interpolated quantile (index = (n-1)*p, the
    numpy-linear definition) is evaluated identically by DuckDB's
    quantile_cont, which is what makes the cut oracle-checkable.
    """
    scored = quality_score(df, text_col).select(id_col, lang_col, "quality")
    cut = scored.groupBy(lang_col).agg(
        F.expr(f"percentile(quality, {1.0 - keep_frac})").alias("_cutoff")
    )
    return (
        scored.join(F.broadcast(cut), lang_col)
        .filter(F.col("quality") >= F.col("_cutoff"))
        .drop("_cutoff")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per-document count of word ``n``-grams
    shared with a benchmark/eval set (the GPT-3/Llama-style test-set-overlap
    scrub every pre-training pipeline runs before the corpus ships).

    Returns (id_col, n_hit_ngrams) for contaminated documents only; anti-join
    the ids back to drop them, or threshold n_hit_ngrams for a softer cut.

    Scale shape: the benchmark side is eval suites — thousands of docs vs
    10^12 corpus rows — so its distinct n-gram hash set is built once
    (explode -> distinct, tiny output) and BROADCAST; the corpus side then
    never shuffles its exploded shingles: explode -> broadcast-hash-join ->
    per-doc partial count-distinct. Joining on the 32-bit md5-derived hash
    (not the gram string) keeps the broadcast table bytes-small; the same
    hash formula exists in DuckDB, which makes the op oracle-checkable.
    """
    def grams(df: DataFrame, *keep: str) -> DataFrame:
        toks = F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        )
        return (
            df.withColumn("_t", toks)
            .select(*keep, F.explode(_shingles(F.col("_t"), n)).alias("_g"))
            .select(*keep, _hash32(F.col("_g")).alias("_gh"))
        )

    bench_set = grams(benchmark).distinct()
    return (
        grams(corpus, id_col)
        .join(F.broadcast(bench_set), "_gh")
        .groupBy(id_col)
        .agg(F.count_distinct("_gh").alias("n_hit_ngrams"))
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained add-one-smoothed
    bigram language model (the KenLM stand-in of CCNet-style curation:
    gibberish and word-soup spam score far below fluent text under even a
    bigram model trained on the corpus itself).

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), where c(w1 ·) counts
    w1 occurrences with a successor and V is the corpus vocabulary size.
    Output: (id_col, n_bigrams, avg_logp) with avg_logp = mean ln P over the
    document's bigram positions, 4-dp rounded; docs with < 2 tokens drop out.

    Scale shape: two corpus passes. Pass 1 trains — explode bigrams ->
    hash-agg counts (map-side partial combine); c(w1 ·) derives from the
    bigram table itself (sum over w1), so unigrams cost no extra scan, and V
    is one scalar agg crossJoined back (broadcast, 1 row). Pass 2 scores —
    exploded doc bigrams shuffle-join the count table on the bigram key
    (both sides hash-partition; the model table is Zipf-small relative to
    the corpus and AQE broadcast-converts it when it fits) then re-aggregate
    to one row per doc. Nothing leaves the JVM.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    pos = (
        df.withColumn("_t", toks)
        .filter(F.size("_t") >= 2)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("_t"), i).alias("w1"),
                        F.array_join(F.slice(F.col("_t"), i, 2), " ").alias("bg"),
                    ),
                )
            ).alias("_p"),
        )
        .select(id_col, "_p.w1", "_p.bg")
    )
    bg_counts = pos.groupBy("w1", "bg").agg(F.count(F.lit(1)).alias("c_bg"))
    w1_counts = bg_counts.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    vocab = df.withColumn("_t", toks).select(
        F.explode("_t").alias("w")
    ).agg(F.count_distinct("w").alias("v"))
    model = bg_counts.join(w1_counts, "w1").crossJoin(F.broadcast(vocab))
    logp = F.log((F.col("c_bg") + 1) / (F.col("c_w1") + F.col("v")))
    return (
        pos.join(model.select("bg", logp.alias("_lp")), "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round4(F.avg("_lp")).alias("avg_logp"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = True,
    scored: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document under the corpus-trained bigram LM
    (:func:`bigram_lm_score`, the KenLM stand-in) and split the corpus at
    the given avg-logp quantiles — ``head`` is the most fluent tercile
    (highest avg log-probability), ``tail`` the least; downstream mixtures
    typically train on head+middle and drop or down-weight tail.

    Scale shape: scoring is bigram_lm_score's two corpus passes; the cut
    points are ONE tiny aggregate (two scalars) crossJoined back as a
    broadcast literal row — no global sort, no window, the bucket label is
    a pure codegen projection. ``exact=True`` uses Spark's exact
    ``percentile`` (state proportional to distinct scores — bounded here
    because avg_logp is 4-dp rounded); at 10^12 docs pass ``exact=False``
    for ``approx_percentile`` and accept epsilon-boundary docs swapping
    buckets.

    The unpersisted plan evaluates the LM scoring subtree twice (once
    under the cut aggregate, once in the output projection) — 4 corpus
    passes instead of 2. Callers that already materialized
    ``bigram_lm_score`` output (or will reuse it downstream) pass it as
    ``scored`` — the keep_best(clusters=...) reuse pattern — or persist it
    first; the self-contained form stays correct, just not minimal.

    Returns (id_col, n_bigrams, avg_logp, bucket); docs with < 2 tokens
    have no bigram evidence and drop out, as in bigram_lm_score.
    """
    if scored is None:
        scored = bigram_lm_score(df, text_col, id_col)
    fn = "percentile" if exact else "approx_percentile"
    cuts_df = scored.agg(
        F.expr(f"{fn}(avg_logp, array({cuts[0]!r}D, {cuts[1]!r}D))").alias("_c")
    )
    out = scored.crossJoin(F.broadcast(cuts_df))
    bucket = (
        F.when(F.col("avg_logp") >= F.col("_c")[1], F.lit("head"))
        .when(F.col("avg_logp") >= F.col("_c")[0], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(id_col, "n_bigrams", "avg_logp", bucket.alias("bucket"))


#: Scheme-prefixed URL -> registered host, port and path stripped. Plain
#: character classes only — evaluates identically under Java regex (Spark)
#: and RE2 (DuckDB oracle).
URL_DOMAIN_RE = r"^[a-z][a-z0-9+.-]*://([^/:?#]+)"


def url_domain_expr(col: str | Column) -> Column:
    """Lower-cased host component of a URL column ('' for non-URLs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(F.lower(c), URL_DOMAIN_RE, 1)


def domain_cap(
    df: DataFrame,
    url_col: str = "url",
    max_per_domain: int = 100,
    order_cols: list[str] | None = None,
    id_col: str = "doc_id",
    domain_out: str = "domain",
) -> DataFrame:
    """Per-domain document quota (RefinedWeb/C4-style crawl curation: a hot
    domain with 10^8 near-identical pages must not dominate the corpus).
    Keeps at most ``max_per_domain`` rows per registered host, preferring
    ``order_cols`` order (ties broken by ``id_col`` for determinism).

    Scale shape: ONE hash shuffle on the domain key, then a rank window
    inside each domain partition. Domain cardinality is ~10^8 on a full
    crawl, so the window's partitionBy key is high-cardinality — tasks stay
    balanced except for hot domains, which AQE skew-split cannot help inside
    a window; for those the quota itself is the guard (a TopK per key), and
    planting `spark.sql.execution.rankLimit` caps the sort buffer at
    ``max_per_domain`` rows per key. No driver-side state.
    """
    order = [F.col(c).desc() for c in (order_cols or [])] + [F.col(id_col).asc()]
    w = Window.partitionBy(domain_out).orderBy(*order)
    return (
        df.withColumn(domain_out, url_domain_expr(url_col))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_per_domain)
        .drop("_rk")
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "s42",
) -> DataFrame:
    """Mixture sampling to TARGET GROUP PROPORTIONS (training-data mixture
    construction: "the corpus must be 60% en / 30% de / 10% fr", the knob
    every LLM data recipe exposes per language/domain/source). Returns the
    LARGEST subsample whose group shares match ``targets`` exactly (to
    integer rounding), selecting within each group by deterministic hash
    rank — reproducible across runs, cluster sizes and partitionings, like
    :func:`hash_sample`.

    Semantics: ``targets`` is normalized to sum 1. Feasibility bound
    N* = min_g floor(count_g / frac_g) (the classic mixture constraint:
    the scarcest group caps the total); quota_g = floor(frac_g * N*).
    Per group, the quota_g rows with the smallest (hash32(salt|group|id),
    id) win. Groups absent from ``targets`` are dropped; a target group
    with zero rows makes the mixture infeasible -> empty result (loud in
    counts, never a silently skewed mix).

    Scale shape: one partial-aggregated count of len(targets) groups to the
    driver (bounded by the targets dict, never by corpus cardinality),
    quotas re-enter the plan as a literal map (no join), then ONE hash
    shuffle on the group key + a rank window. The filter carries a
    CONSTANT ``row_number <= max(quota)`` conjunct so Spark's
    InferWindowGroupLimit caps each group's sort buffer at the largest
    quota (the same WindowGroupLimit plan domain_cap gets), with the exact
    per-group quota applied on top.
    """
    total = sum(targets.values())
    if not targets or total <= 0:
        raise ValueError("targets must be a non-empty dict of positive fracs")
    fracs = {g: f / total for g, f in targets.items() if f > 0}
    counts = {
        r["g"]: r["n"]
        for r in df.filter(F.col(group_col).isin(*fracs))
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_star = min(int(counts.get(g, 0) / f) for g, f in fracs.items())
    quotas = {g: int(f * n_star) for g, f in fracs.items()}
    max_quota = max(quotas.values(), default=0)
    if max_quota == 0:
        return df.filter(F.lit(False))
    quota_map = F.create_map(
        *[x for g, q in sorted(quotas.items()) for x in (F.lit(g), F.lit(q))]
    )
    key = F.concat_ws(
        "|", F.lit(salt), F.col(group_col).cast("string"), F.col(id_col).cast("string")
    )
    w = Window.partitionBy(group_col).orderBy(_hash32(key), F.col(id_col))
    return (
        df.filter(F.col(group_col).isin(*fracs))
        .withColumn("_rk", F.row_number().over(w))
        .filter(
            (F.col("_rk") <= F.lit(max_quota))
            & (F.col("_rk") <= F.element_at(quota_map, F.col(group_col)))
        )
        .drop("_rk")
    )


#: Query parameters that carry tracking state, not content identity. A
#: param is dropped when its NAME matches (utm_* family or the exact ids).
TRACKING_PARAM_RE = r"^(utm_[a-zA-Z_]*|fbclid|gclid|msclkid|mc_eid|igshid)(=|$)"

#: URL pieces — plain character classes, identical under Java regex and RE2.
_URL_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_URL_HOSTPORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"
_URL_QUERY_RE = r"^[^?#]*\?([^#]*)"


def url_normalize(
    df: DataFrame, url_col: str = "url", out_col: str = "url_norm"
) -> DataFrame:
    """Canonical URL form — the normalization pass that runs BEFORE any
    url-keyed dedup of a crawl (the same page arrives as http://X, X:80/,
    X/?utm_source=..., X/path/ across fetches; keying dedup on the raw
    string under-merges by ~10-30% on real crawl frontiers).

    Rules: lower-case scheme and host; strip default ports (http:80,
    https:443); drop the fragment; drop tracking params (``utm_*``, click
    ids); byte-sort surviving query params; strip one trailing slash from a
    non-root path; empty path -> "/". Non-URLs (no scheme://) pass through
    unchanged.

    Scale shape: pure regexp/array codegen on the row — zero shuffles, zero
    Python; safe to fuse into the scan of a 10^12-row frontier table.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _URL_HOSTPORT_RE, 1))
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.substring(hostport, 1, F.length(hostport) - 3),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.substring(hostport, 1, F.length(hostport) - 4),
    ).otherwise(hostport)
    path = F.regexp_extract(u, _URL_PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).when(
        (F.length(path) > 1) & path.endswith("/"),
        F.substring(path, 1, F.length(path) - 1),
    ).otherwise(path)
    params = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(u, _URL_QUERY_RE, 1), "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    norm = F.when(
        scheme == "", u  # not a URL: pass through
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, query))
    return df.withColumn(out_col, norm)


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """URL-level deduplication — the FIRST dedup stage of a crawl pipeline
    (FineWeb, Penedo et al. 2024 §3.1, dedups by URL before any content
    pass; Common Crawl's index keeps the newest snapshot per URL). One
    output row per distinct (normalized) URL:
    (url_norm, keeper_id[, keeper_ts], n_dups).

    Keeper election: with ``ts_col`` the LATEST snapshot wins (max ts,
    largest-id tie-break); without, the smallest id (first-seen, matching
    :func:`exact_dedup`). Both elections are min/max over a struct whose
    ordering is SQL-total — no arithmetic negation, so string ids are safe
    (the round-3 ``-id`` tie-break bug class).

    Scale shape: normalization is row-local codegen fused into the scan
    (:func:`url_normalize`); the only shuffle is ONE partial-aggregatable
    min/max(struct) keyed on the normalized URL — the same linear
    footprint as exact_dedup, and the cheapest dedup pass a crawl can run,
    which is why it goes first.
    """
    # NULL URLs carry no dedup evidence: grouping them would collapse
    # every URL-less doc into ONE group and keep a single survivor (the
    # NULL-key analog of the round-3 short-doc LSH bug). They get no
    # output row; the caller keeps them unconditionally.
    work = df.filter(F.col(url_col).isNotNull())
    if normalize:
        work = url_normalize(work, url_col=url_col, out_col="_u")
    else:
        work = work.withColumn("_u", F.col(url_col))
    if ts_col is None:
        k = F.min(F.struct(F.col(id_col).alias("_id"))).alias("_k")
        extra = []
    else:
        k = F.max(
            F.struct(F.col(ts_col).alias("_ts"), F.col(id_col).alias("_id"))
        ).alias("_k")
        extra = [F.col("_k._ts").alias("keeper_ts")]
    out = work.groupBy(F.col("_u").alias("url_norm")).agg(
        k, F.count(F.lit(1)).alias("n_dups")
    )
    return out.select(
        "url_norm", F.col("_k._id").alias("keeper_id"), *extra, "n_dups"
    )


#: Winnowing position encoder base — must exceed any token position; one
#: BIGINT carries (hash, rightmost-tiebreak position) so min() selects the
#: window's fingerprint identically in Spark and the DuckDB oracle.
_WINNOW_M = 1_000_000


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every word ``k``-gram, slide a ``w``-wide window over
    the hash sequence, keep each window's minimum (rightmost on ties), and
    emit the distinct (position, hash) selections. Guarantees any shared
    run of >= w+k-1 tokens between two documents shares a fingerprint —
    positional substring-level dup detection where MinHash only gives
    whole-document similarity.

    Output: one row per selected fingerprint (id_col, pos, fp), pos 1-based
    over the k-gram sequence.

    Scale shape: entirely row-local array expressions (shingle -> hash ->
    windowed min via an integer (hash, position) encoding) — the only
    shuffle is whatever the caller does with the fingerprints (typically a
    groupBy(fp) join to find cross-doc matches). ~|tokens|/w fingerprints
    per doc survive, so downstream state is w-fold smaller than full
    k-gram indexing.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    M = F.lit(_WINNOW_M)
    hs = F.transform(_shingles(F.col("_t"), k), lambda g: _hash32(g))
    wins = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_h")) - (w - 1)),
        lambda i: F.array_min(
            F.transform(
                F.sequence(i, i + (w - 1)),
                lambda j: F.element_at(F.col("_h"), j) * M + (M - j),
            )
        ),
    )
    sel = F.array_distinct(wins)
    return (
        df.withColumn("_t", toks)
        .withColumn("_h", hs)
        .filter(F.size("_h") >= w)
        .select(id_col, F.explode(sel).alias("_enc"))
        .select(
            id_col,
            (M - F.pmod(F.col("_enc"), M)).cast("long").alias("pos"),
            F.floor(F.col("_enc") / M).cast("long").alias("fp"),
        )
    )


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between the word distributions of two
    corpus snapshots (drift monitoring between crawl batches: a spam flood
    or a scraper change shows up as vocabulary drift long before quality
    metrics move). Returns one row: (n_words_a, n_words_b, js_divergence),
    JS in nats, 4-dp rounded.

    Scale shape: each side is one explode -> hash-agg word count (map-side
    partial combine); the two count tables (vocab-sized, Zipf-small) full-
    outer join on the word and reduce to one row. Absent words contribute
    zero KL mass by construction (p*ln(2p/(p+q)) -> 0 as p -> 0).
    """
    def counts(d: DataFrame, name: str) -> DataFrame:
        toks = F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        )
        return (
            d.withColumn("_t", toks)
            .select(F.explode("_t").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias(name))
        )

    a = counts(df_a, "ca")
    b = counts(df_b, "cb")
    j = a.join(b, "w", "full_outer").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = j.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    t = j.crossJoin(F.broadcast(tot))
    p = F.col("ca") / F.col("na")
    q = F.col("cb") / F.col("nb")
    m = (p + q) / 2
    kl_term = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    return t.agg(
        F.max("na").alias("n_words_a"),
        F.max("nb").alias("n_words_b"),
        round4(F.sum((kl_term(p) + kl_term(q)) / 2)).alias("js_divergence"),
    )


# ---------------------------------------------------------------------------
# Epoch upsampling + URL blocklist filtering (training-data extensions)
# ---------------------------------------------------------------------------

def epoch_upsample(
    df: DataFrame,
    epochs: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "e42",
    copy_col: str = "epoch_copy",
) -> DataFrame:
    """Pile-style epoch upsampling (Gao et al. 2020 §1, Table 1: each
    component is seen ``epochs`` times per training run): replicate every
    row of group g floor(epochs[g]) times, plus one more copy for a
    deterministic hash-chosen ``frac(epochs[g])`` share of the group —
    so the expected AND realized copy count per group converges to the
    requested epoch weight, and the SAME rows get the extra copy on every
    run, every cluster size, every partitioning (``df.sample`` guarantees
    none of that). The complement of :func:`mixture_sample`: that one can
    only downsample toward target proportions; this one upsamples scarce
    high-quality components (the paper's Wikipedia x3, books x1.5 recipe).

    Output: input columns + ``copy_col`` (1..k) — downstream shuffles
    (sequence packing, shard balancing) must treat (id, copy) as the key.
    Groups absent from ``epochs`` pass through with weight 1.0.

    Scale shape: zero shuffles — the weights enter as a literal CASE map,
    the fractional cut is the hash_sample filter, and the replication is
    explode(sequence(1, n_copies)) which grows the data exactly by the
    requested factor inside the same stage (no skew: copies of a row stay
    in its partition and downstream keys re-spread them).
    """
    if any(e < 0 for e in epochs.values()):
        raise ValueError("epoch weights must be >= 0")
    wmap = F.create_map(
        *[x for g, e in sorted(epochs.items()) for x in (F.lit(g), F.lit(float(e)))]
    )
    w = F.coalesce(
        F.element_at(wmap, F.col(group_col).cast("string")), F.lit(1.0)
    )
    key = F.concat_ws(
        "|", F.lit(salt), F.col(group_col).cast("string"), F.col(id_col).cast("string")
    )
    # floor(w) full copies + 1 more iff this row's hash falls inside the
    # fractional remainder (in 1/10000 buckets, like hash_sample)
    frac_extra = (
        _hash32(key) % 10000 < F.floor((w - F.floor(w)) * 10000).cast("long")
    ).cast("int")
    n_copies = (F.floor(w).cast("int") + frac_extra).alias("_n_copies")
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .drop("_n_copies")
    )


def url_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    id_col: str = "doc_id",
    action: str = "drop",
    flag_col: str = "url_blocked",
) -> DataFrame:
    """Domain-blocklist filtering (RefinedWeb §3.1 runs a 4.6M-domain
    adult/fraud blocklist before any content filter; C4 uses a badwords
    blocklist the same way). A row is blocked when its registered host
    equals a blocklist domain OR is a subdomain of one
    (``ads.tracker.example.com`` matches blocklist entry ``example.com``).

    ``action='drop'`` removes blocked rows; ``action='flag'`` keeps all
    rows and adds boolean ``flag_col`` (audit mode — count what WOULD drop
    before committing a new blocklist revision).

    Scale shape: ZERO corpus shuffles. The blocklist dedupes, lower-cases,
    and broadcasts (4.6M domains is ~100 MB); the corpus takes one
    broadcast LEFT join per suffix DEPTH — the last-2-label suffix, the
    last-3-label suffix, ... up to the deepest label count present in the
    blocklist (a bounded scalar read off the blocklist, itself tiny) —
    and ORs the hit flags. That beats the tempting alternatives: a plain
    equi-join misses subdomains; an `endswith` theta-join is a cartesian
    product; and explode(suffixes) + join + join-back re-shuffles the
    whole corpus on the id key just to reattach one boolean. Left
    broadcast joins preserve row count because the build side is
    distinct. Suffixes shorter than two labels never join (nobody blocks
    a bare TLD; it would also make ".com" a corpus-wide hot probe).
    """
    if action not in ("drop", "flag"):
        raise ValueError(f"action must be 'drop' or 'flag', got {action!r}")
    bl = blocklist.select(
        F.lower(F.trim(F.col(domain_col))).alias("_bl_domain")
    ).distinct()
    # deepest label count in the blocklist bounds the suffix depths worth
    # probing; a bounded scalar, not corpus-dependent
    max_labels = (
        bl.agg(F.max(F.size(F.split("_bl_domain", r"\.")))).collect()[0][0] or 0
    )
    host = url_domain_expr(url_col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    out = df
    hit = F.lit(False)
    for k in range(2, max(max_labels, 1) + 1):
        sfx = f"_sfx{k}"
        # last k labels of the host; NULL when the host is shallower
        out = out.withColumn(
            sfx,
            F.when(n >= k, F.array_join(F.slice(parts, n - k + 1, k), ".")),
        )
        marked = F.broadcast(
            bl.filter(F.size(F.split("_bl_domain", r"\.")) == k).select(
                F.col("_bl_domain").alias(sfx + "_bl"),
                F.lit(True).alias(sfx + "_hit"),
            )
        )
        out = out.join(marked, F.col(sfx) == F.col(sfx + "_bl"), "left").drop(
            sfx, sfx + "_bl"
        )
        hit = hit | F.coalesce(F.col(sfx + "_hit"), F.lit(False))
    out = out.withColumn(flag_col, hit).drop(
        *[f"_sfx{k}_hit" for k in range(2, max(max_labels, 1) + 1)]
    )
    if action == "drop":
        return out.filter(~F.col(flag_col)).drop(flag_col)
    return out

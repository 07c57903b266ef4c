"""End-to-end curation pipeline: every stage must account for its drops."""

import json
import os

import pytest
from pyspark.sql import functions as F

from logai_spark import curate
from logai_spark.curate import CurationConfig, run_curation


def _docs(spark):
    rows = []
    # 8 clean docs per lang, distinct text, increasing quality-ish length
    for i in range(8):
        rows.append((i, "the a of to and is in it " + "alpha beta " * (i + 2), "en", "s0"))
    for i in range(8, 16):
        rows.append((i, "der die das und ist ein " + "wort satz " * (i - 5), "de", "s1"))
    # exact duplicate pair: 100 duplicates doc 0's text -> dropped
    rows.append((100, rows[0][1], "en", "s0"))
    # hyper-repetitive doc: one bigram everywhere -> repetition filter
    rows.append((101, "spam ham " * 40, "en", "s0"))
    # doc with PII that survives the cuts (long, fluent)
    rows.append(
        (102,
         "the a of to and is in it " + "gamma delta " * 12
         + " contact root@host.example.org from 10.1.2.3",
         "en", "s0"),
    )
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_curation_stages_and_manifest(spark, tmp_path):
    out = str(tmp_path / "cur")
    m = run_curation(
        spark,
        _docs(spark),
        out,
        CurationConfig(keep_frac=0.75, max_top_bigram_frac=0.5, pack_budget=60),
    )
    c = m["counts"]
    assert c["input"] == 19
    assert c["after_exact_dedup"] == 18          # doc 100 dropped (dup of 0)
    assert c["after_repetition_filter"] == 17    # doc 101 dropped
    assert c["after_quality_floor"] < 17          # per-lang cut applied
    assert c["written"] == c["after_quality_floor"]

    written = spark.read.parquet(os.path.join(out, "curated"))
    assert 100 not in {r.doc_id for r in written.select("doc_id").collect()}
    # PII scrubbed in the surviving text
    pii_doc = written.filter(F.col("doc_id") == 102).collect()
    assert len(pii_doc) == 1
    assert "<EMAIL>" in pii_doc[0].text and "<IP>" in pii_doc[0].text
    assert "root@host" not in pii_doc[0].text
    # every doc packed; packs respect the budget for non-oversized docs
    assert written.filter(F.col("pack_id").isNull()).count() == 0
    sums = (
        written.filter(F.col("n_tokens") <= 60)
        .groupBy("source", "pack_id").agg(F.sum("n_tokens").alias("s"))
    )
    assert sums.filter(F.col("s") > 60).count() == 0
    # manifest on disk mirrors the returned one
    disk = json.load(open(os.path.join(out, "_curation_manifest.json")))
    assert disk["counts"] == c


def test_curation_near_dup_stage(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base, "en", "s0"),
            (2, base + " extra", "en", "s0"),       # near-dup of 1
            (3, "completely different words about spark shuffles and joins", "en", "s0")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    m = run_curation(
        spark, df, str(tmp_path / "nd"),
        CurationConfig(keep_frac=1.0, near_dup=True, minhash_k=12, lsh_bands=4),
    )
    c = m["counts"]
    assert c["after_exact_dedup"] == 3
    assert c["after_near_dup"] == 2               # canonical (min id) kept


def test_minhash_signatures_any_k(spark):
    """k above the legacy 12-entry coefficient table must work (closed-form
    permutation coefficients), and the first 12 must be unchanged."""
    from logai_spark.functions.textops import minhash_signatures

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    r16 = minhash_signatures(df, k=16).collect()[0]
    r12 = minhash_signatures(df, k=12).collect()[0]
    for i in range(12):
        assert r16[f"sig_{i}"] == r12[f"sig_{i}"]
    assert r16["sig_15"] is not None


def test_curation_normalize_and_boilerplate_stages(spark, tmp_path):
    # doc 0/100: same text modulo typography — normalize makes them
    # hash-equal so exact dedup catches the pair; every doc carries a
    # shared footer line that boilerplate removal must strip
    base = "the a of to and is in it " + "alpha beta " * 6
    rows = []
    for i in range(6):
        rows.append((i, base + f"body {i}\nSHARED FOOTER LINE", "en", "s0"))
    rows.append((100, rows[0][1].replace("the a", "the a").replace("alpha", "alpha "), "en", "s0"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "cur_nb")
    m = run_curation(
        spark,
        docs,
        out,
        CurationConfig(
            keep_frac=1.0, pack_budget=500, normalize=True, boilerplate_max_df=3
        ),
    )
    c = m["counts"]
    assert c["input"] == 7
    # NBSP + double-space doc normalizes back to doc 0's bytes -> deduped
    assert c["after_exact_dedup"] == 6
    assert c["normalized_docs"] >= 1
    # one footer per doc removed (df=7 > 3)
    assert c["boilerplate_lines_removed"] == 7
    written = spark.read.parquet(os.path.join(out, "curated"))
    texts = [r.text for r in written.select("text").collect()]
    assert all("SHARED FOOTER LINE" not in t for t in texts)
    assert all(" " not in t for t in texts)


def test_curation_balanced_shard_layout(spark, tmp_path):
    out = str(tmp_path / "cur_sh")
    m = run_curation(
        spark,
        _docs(spark),
        out,
        CurationConfig(keep_frac=1.0, pack_budget=60, n_shards=3),
    )
    c = m["counts"]
    assert c["shards"] == 3
    written = spark.read.parquet(os.path.join(out, "curated"))
    # packs never straddle shard boundaries: a reader of one shard dir
    # must hold only whole training sequences
    straddlers = (
        written.groupBy("source", "pack_id")
        .agg(F.count_distinct("shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert straddlers == 0
    per = (
        written.groupBy("shard")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    )
    assert {r["shard"] for r in per} == {0, 1, 2}
    toks = [r["toks"] for r in per]
    total = sum(toks)
    max_pack = (
        written.groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("t"))
        .agg(F.max("t"))
        .collect()[0][0]
    )
    # balance is now at pack granularity: within one max pack budget
    assert all(abs(t - total / 3) <= max_pack for t in toks)


def test_curation_resume_from_ledger(spark, tmp_path):
    out = str(tmp_path / "cur_res")
    cfg = CurationConfig(keep_frac=0.75, pack_budget=60, resume=True)
    m1 = run_curation(spark, _docs(spark), out, cfg)
    assert m1["resumed_from_ledger"] is False
    # wipe the final output but keep the ledger: the rerun must skip
    # stages 1-4 and still reproduce identical counts + written corpus
    import shutil

    shutil.rmtree(os.path.join(out, "curated"))
    m2 = run_curation(spark, _docs(spark), out, cfg)
    assert m2["resumed_from_ledger"] is True
    assert m2["counts"] == m1["counts"]
    # a changed STAGE config invalidates the ledger (pack_budget doesn't)
    m3 = run_curation(
        spark, _docs(spark), out,
        CurationConfig(keep_frac=0.75, pack_budget=90, resume=True),
    )
    assert m3["resumed_from_ledger"] is True
    m4 = run_curation(
        spark, _docs(spark), out,
        CurationConfig(keep_frac=0.5, pack_budget=60, resume=True),
    )
    assert m4["resumed_from_ledger"] is False


def _curated_rows(spark, out):
    return sorted(map(tuple, spark.read.parquet(os.path.join(out, "curated")).collect()))


def test_curation_crash_before_ledger_commit_recomputes(spark, tmp_path, monkeypatch):
    """A run killed after the ledger parquet lands but before its commit
    leaves a ledger that no manifest validates: the resumed rerun
    recomputes it and writes what an uninterrupted run writes."""
    cfg = CurationConfig(keep_frac=0.75, pack_budget=60, resume=True)
    ref = str(tmp_path / "ref")
    m_ref = run_curation(spark, _docs(spark), ref, cfg)
    real = curate.commit_lineage

    def crash(spark_, path, stage, *args, **kwargs):
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        monkeypatch.setattr(curate, "commit_lineage", real)
        raise RuntimeError("killed before the ledger commit")

    monkeypatch.setattr(curate, "commit_lineage", crash)
    out = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="killed before the ledger commit"):
        run_curation(spark, _docs(spark), out, cfg)
    m = run_curation(spark, _docs(spark), out, cfg)
    assert m["resumed_from_ledger"] is False
    assert m["counts"] == m_ref["counts"]
    assert _curated_rows(spark, out) == _curated_rows(spark, ref)


def test_curation_resume_invalidated_by_input_change(spark, tmp_path):
    src1 = str(tmp_path / "in1")
    src2 = str(tmp_path / "in2")
    _docs(spark).write.parquet(src1)
    _docs(spark).limit(10).write.parquet(src2)
    out = str(tmp_path / "cur_inp")
    cfg = CurationConfig(keep_frac=0.75, pack_budget=60, resume=True)
    m1 = run_curation(spark, spark.read.parquet(src1), out, cfg)
    assert m1["resumed_from_ledger"] is False
    # same config, same file set -> resumes
    m2 = run_curation(spark, spark.read.parquet(src1), out, cfg)
    assert m2["resumed_from_ledger"] is True
    # same config, DIFFERENT input files -> must recompute
    m3 = run_curation(spark, spark.read.parquet(src2), out, cfg)
    assert m3["resumed_from_ledger"] is False
    assert m3["counts"]["input"] == 10


def test_curation_near_dup_keep_best(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    # doc 2 (larger id) is the LONGER, higher-quality near-dup — with
    # keep="best" it must survive instead of the min-id canonical doc 1
    rows = [(1, base, "en", "s0"),
            (2, base + " plus detail", "en", "s0"),
            (3, "completely different words about spark shuffles and joins", "en", "s0")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    m = run_curation(
        spark, df, str(tmp_path / "ndb"),
        CurationConfig(keep_frac=1.0, near_dup=True, near_dup_keep="best",
                       minhash_k=12, lsh_bands=4),
    )
    assert m["counts"]["after_near_dup"] == 2
    written = spark.read.parquet(os.path.join(str(tmp_path / "ndb"), "curated"))
    kept = {r.doc_id for r in written.select("doc_id").collect()}
    assert 2 in kept and 1 not in kept and 3 in kept


def test_curation_gopher_stage(spark, tmp_path):
    """--gopher filters on the Rae-et-al rule bundle inside the same
    ledger-seeding scan as the repetition ceiling: the manifest gets an
    after_gopher_rules count and failing docs never reach the corpus."""
    good = ("the data of pipeline and scale that works with spark " * 4).strip()
    rows = [
        (0, good, "en", "s0"),                      # passes every rule
        (1, "short the of and", "en", "s0"),        # fails word-count floor
        (2, " ".join(["#tag"] * 40), "en", "s0"),   # fails symbol ratio
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "gopher")
    m = run_curation(
        spark,
        docs,
        out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            gopher=True, gopher_min_words=30,
        ),
    )
    c = m["counts"]
    assert c["after_repetition_filter"] == 3
    assert c["after_gopher_rules"] == 1
    assert c["written"] == 1
    written = spark.read.parquet(os.path.join(out, "curated"))
    assert {r.doc_id for r in written.select("doc_id").collect()} == {0}


def test_curation_mixture_stage(spark, tmp_path):
    """--mixture resamples the quality survivors to target language
    proportions on the thin ledger (ids + lang, never text); the written
    corpus matches the mix and the manifest accounts for the cut."""
    rows = []
    for i in range(12):
        rows.append((i, "the a of to and is in it " + "alpha beta " * (i + 2), "en", "s0"))
    for i in range(12, 18):
        rows.append((i, "der die das und ist ein " + "wort satz " * (i - 9), "de", "s1"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "mix")
    m = run_curation(
        spark,
        docs,
        out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            mixture={"en": 0.5, "de": 0.5},
        ),
    )
    c = m["counts"]
    # all 18 survive the filters; mixture: N* = min(12/.5, 6/.5) = 12 -> 6+6
    assert c["after_quality_floor"] == 18
    assert c["after_mixture"] == 12
    assert c["written"] == 12
    import pyspark.sql.functions as SF

    written = spark.read.parquet(os.path.join(out, "curated"))
    got = {r["lang"]: r["n"] for r in written.groupBy("lang").agg(SF.count("*").alias("n")).collect()}
    assert got == {"en": 6, "de": 6}


def test_curation_decontaminate_stage(spark, tmp_path):
    """--decontaminate-ref drops docs whose MinHash band keys collide with
    the reference corpus; the manifest gets an after_decontaminate count
    and a refreshed reference invalidates the resume ledger."""
    leak = ("the benchmark question about spark shuffle partitions " * 5).strip()
    clean = ("a perfectly ordinary web document about gardening tips " * 5).strip()
    rows = [
        (0, leak, "en", "s0"),           # near-identical to the ref doc
        (1, leak + " extra", "en", "s0"),  # near dup of the ref doc
        (2, clean, "en", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ref_dir = str(tmp_path / "ref")
    spark.createDataFrame(
        [(900, leak)], "doc_id long, text string"
    ).write.parquet(ref_dir)
    out = str(tmp_path / "decon")
    cfg = CurationConfig(
        keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
        decontaminate_ref=ref_dir,
    )
    m = run_curation(spark, docs, out, cfg)
    c = m["counts"]
    assert c["after_repetition_filter"] == 3
    assert c["after_decontaminate"] == 1
    assert c["written"] == 1
    written = spark.read.parquet(os.path.join(out, "curated"))
    assert {r.doc_id for r in written.select("doc_id").collect()} == {2}

    # resume with the same ref skips recompute; a CHANGED ref at the same
    # path must invalidate the ledger (its file set is fingerprinted)
    cfg_resume = CurationConfig(**{**cfg.__dict__, "resume": True})
    m2 = run_curation(spark, docs, out, cfg_resume)
    assert m2["resumed_from_ledger"] is True
    spark.createDataFrame(
        [(901, clean)], "doc_id long, text string"
    ).write.mode("append").parquet(ref_dir)
    m3 = run_curation(spark, docs, out, cfg_resume)
    assert m3["resumed_from_ledger"] is False
    assert m3["counts"]["after_decontaminate"] == 0


def test_curation_token_budget_stage(spark, tmp_path):
    """--token-budget keeps the best-quality survivors whose cumulative
    token count fits; post-ledger (resume hash unchanged), accounted in
    the manifest, and the written corpus respects the budget."""
    docs = _docs(spark)
    out = str(tmp_path / "tb")
    m = run_curation(
        spark,
        docs,
        out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=0.5, pack_budget=10_000,
            token_budget=300,
        ),
    )
    c = m["counts"]
    assert c["after_token_budget"] <= c["after_quality_floor"]
    assert c["written"] == c["after_token_budget"] > 0
    written = spark.read.parquet(os.path.join(out, "curated"))
    assert written.agg(F.sum("n_tokens")).first()[0] <= 300
    # best-first: every kept doc's quality >= every dropped survivor's,
    # up to the prefix tie-break on id
    kept = {r["doc_id"] for r in written.select("doc_id").collect()}
    assert kept  # non-degenerate


def test_curation_line_filter_stage(spark, tmp_path):
    """--line-filter applies the C4 line rules as the first hygiene stage:
    bad lines vanish from the WRITTEN text, docs failing the doc-level
    rules are dropped, and the manifest accounts for both."""
    good = "This is a perfectly normal retained sentence."
    rows = [
        # 6 good lines + one boilerplate line that must be cut from text
        (0, "\n".join([good] * 6 + ["Enable javascript to continue."]), "en", "s0"),
        # a '{' doc: dropped at the doc level
        (1, "\n".join([good] * 6) + "\nvar x = {1};", "en", "s0"),
        # too few sentences after filtering: dropped
        (2, "\n".join([good] * 2), "en", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "lf")
    m = run_curation(
        spark, docs, out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            line_filter=True,
        ),
    )
    c = m["counts"]
    assert c["input"] == 3
    assert c["after_line_filter"] == 1
    assert c["filtered_lines_removed"] == 2   # javascript line + brace line
    assert c["written"] == 1
    written = spark.read.parquet(os.path.join(out, "curated")).collect()
    assert written[0]["doc_id"] == 0
    assert "javascript" not in written[0]["text"].lower()
    assert "_c4_keep" not in spark.read.parquet(
        os.path.join(out, "curated")
    ).columns


def test_curation_substring_dedup_stage(spark, tmp_path):
    """--substring-window removes duplicated token windows in place BEFORE
    exact dedup, so two docs differing only inside a shared duplicated
    region become hash-equal and dedup to one."""
    r1 = " ".join(f"r1tok{i}" for i in range(10))
    r2 = " ".join(f"r2tok{i}" for i in range(10))
    rows = [
        (0, r1, "en", "s0"),                             # owns region r1
        (1, r2, "en", "s0"),                             # owns region r2
        (2, f"common prefix body {r1}", "en", "s0"),     # r1 removed
        (3, f"common prefix body {r2}", "en", "s0"),     # r2 removed
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "ss")
    m = run_curation(
        spark, docs, out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            substring_window=8,
        ),
    )
    c = m["counts"]
    assert c["substring_tokens_removed"] == 20
    # docs 2 and 3 both reduce to "common prefix body" -> exact dedup
    # drops 3 (a dup pair that did NOT exist before substring removal)
    assert c["after_exact_dedup"] == 3
    written = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    assert set(written) == {0, 1, 2}
    assert "r1tok0" in written[0]             # first occurrence kept
    assert written[2] == "common prefix body"  # later occurrence removed


def test_curation_classifier_stage(spark, tmp_path):
    """--classifier-ref trains the NB quality classifier (positives = ref
    corpus, negatives = hash-sample of the input) and drops docs scoring
    below threshold; a refreshed ref invalidates the resume ledger."""
    wiki = "spark shuffle partition join broadcast executor stage plan"
    junk = "buy cheap pills casino bonus click winner prize jackpot offer"
    rows = (
        [(i, wiki + f" page {i}", "en", "s0") for i in range(6)]
        + [(100 + i, junk + f" spam {i}", "en", "s0") for i in range(6)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ref_dir = str(tmp_path / "wiki_ref")
    # a ref corpus big enough that the wiki grams outweigh the add-one
    # smoothing mass (64 buckets keeps the smoothed denominators small
    # for a unit-test-sized labeled set)
    spark.createDataFrame(
        [(900 + i, wiki) for i in range(20)], "doc_id long, text string"
    ).write.parquet(ref_dir)
    out = str(tmp_path / "cls")
    cfg = CurationConfig(
        keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
        classifier_ref=ref_dir, classifier_neg_frac=0.5,
        classifier_buckets=64,
    )
    m = run_curation(spark, docs, out, cfg)
    c = m["counts"]
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    # every wiki-like doc survives (the negative hash-sample contains some
    # of them — the CCNet construction tolerates contaminated negatives);
    # the junk docs score far below zero and are dropped
    assert set(range(6)) <= kept
    assert c["after_classifier"] < c["after_repetition_filter"]
    assert len({d for d in kept if d >= 100}) <= 1

    # resume works, and a refreshed positive ref invalidates the ledger
    cfg_resume = CurationConfig(**{**cfg.__dict__, "resume": True})
    m2 = run_curation(spark, docs, out, cfg_resume)
    assert m2["resumed_from_ledger"] is True
    spark.createDataFrame(
        [(990, junk)], "doc_id long, text string"
    ).write.mode("append").parquet(ref_dir)
    m3 = run_curation(spark, docs, out, cfg_resume)
    assert m3["resumed_from_ledger"] is False


def test_curation_repetition_full_stage(spark, tmp_path):
    out = str(tmp_path / "repfull")
    rows = [
        # clean fluent docs (all-distinct words): pass the full suite
        *[(i, "the a of to and is in it "
           + " ".join(f"w{i}x{j}" for j in range(30)),
           "en", "s0") for i in range(6)],
        # dup-5gram monster: one 6-word phrase repeated -> dup_5gram rule
        (200, "one two three four five six " * 20, "en", "s0"),
        # dup lines: same line many times -> dup_line rules
        (201, "\n".join(["the same exact line of text here"] * 12), "en", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    m = run_curation(
        spark, docs, out,
        CurationConfig(keep_frac=1.0, max_top_bigram_frac=1.0,
                       repetition_full=True),
    )
    c = m["counts"]
    assert c["input"] == 8
    assert c["after_repetition_filter"] == 8      # bigram ceiling off (1.0)
    assert c["after_repetition_full"] == 6        # 200 + 201 dropped
    written = {r.doc_id for r in
               spark.read.parquet(os.path.join(out, "curated"))
               .select("doc_id").collect()}
    assert 200 not in written and 201 not in written


def test_curation_url_blocklist_stage(spark, tmp_path):
    out = str(tmp_path / "urlbl")
    bl_dir = str(tmp_path / "bl")
    spark.createDataFrame([("blocked.example",)], "domain string").write.parquet(bl_dir)
    shared = "the a of to and is in it " + "omega phi " * 10
    rows = [
        # doc 1 blocked by domain; doc 2 is its EXACT duplicate on a good
        # host and must survive (keeper election runs post-blocklist)
        (1, shared, "en", "s0", "https://blocked.example/a"),
        (2, shared, "en", "s0", "https://good.org/a"),
        (3, "completely different words about spark shuffles here today now",
         "en", "s0", "https://sub.blocked.example/b"),
        (4, "yet more unique fluent text the of and to is in it alpha",
         "en", "s0", "https://fine.net/c"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    m = run_curation(
        spark, docs, out,
        CurationConfig(keep_frac=1.0, max_top_bigram_frac=1.0,
                       url_blocklist=bl_dir),
    )
    c = m["counts"]
    assert c["input"] == 4
    assert c["after_url_filter"] == 2             # 1 and 3 blocked
    written = {r.doc_id for r in
               spark.read.parquet(os.path.join(out, "curated"))
               .select("doc_id").collect()}
    # the unblocked duplicate SURVIVES: blocklist ran before keeper election
    assert 2 in written and 1 not in written and 3 not in written


def test_curation_epochs_stage(spark, tmp_path):
    out = str(tmp_path / "epochs")
    rows = [
        (i, "the a of to and is in it " + f"tok{i} word{i} " * 6,
         "en", "s0" if i < 4 else "s1")
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    m = run_curation(
        spark, docs, out,
        CurationConfig(keep_frac=1.0, max_top_bigram_frac=1.0,
                       pack_budget=40, epochs={"s0": 3.0}),
    )
    c = m["counts"]
    assert c["input"] == 8
    assert c["after_epochs"] == 3 * 4 + 4          # s0 tripled, s1 once
    assert c["written"] == c["after_epochs"]
    written = spark.read.parquet(os.path.join(out, "curated"))
    assert "epoch_copy" in written.columns
    # copies are distinct (id, epoch_copy) rows and all packed
    assert written.select("doc_id", "epoch_copy").distinct().count() == 16
    assert written.filter(F.col("pack_id").isNull()).count() == 0


def test_curation_paragraph_dedup_stage(spark, tmp_path):
    """--paragraph-dedup removes later occurrences of corpus-duplicated
    paragraphs in place BEFORE substring/exact dedup; first (doc, pos)
    occurrence wins and the manifest accounts every removal."""
    boiler = "subscribe to our newsletter for updates and offers"
    rows = [
        (0, f"real article one\n\n{boiler}", "en", "s0"),
        (1, f"{boiler}\n\nreal article two body text", "en", "s0"),
        (2, f"real article three\n\n{boiler}\n\nmore three", "en", "s0"),
        (3, boiler, "en", "s0"),  # nothing survives -> empty text doc
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "pd")
    m = run_curation(
        spark, docs, out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            paragraph_dedup=True,
        ),
    )
    c = m["counts"]
    assert c["duplicate_paragraphs_removed"] == 3  # one per doc 1, 2, 3
    written = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    assert written[0] == f"real article one\n\n{boiler}"  # doc 0 owns it
    assert written[1] == "real article two body text"
    assert written[2] == "real article three\n\nmore three"


def test_curation_line_filter_keeps_paragraphs_for_paragraph_dedup(spark, tmp_path):
    """With the line filter in front, paragraph dedup still sees the
    paragraphs: the shared paragraph of three docs is removed from the
    later two, exactly as without the line filter."""
    shared = "\n".join(
        f"This shared paragraph line is number {n}." for n in ("one", "two", "three")
    )
    rows = [
        (i, f"Doc {i} has its own first line.\nDoc {i} has its own second line."
            f"\n\n{shared}", "en", "s0")
        for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    for line_filter in (False, True):
        out = str(tmp_path / f"lf_{line_filter}")
        m = run_curation(
            spark, docs, out,
            CurationConfig(
                keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
                line_filter=line_filter, paragraph_dedup=True,
            ),
        )
        assert m["counts"]["duplicate_paragraphs_removed"] == 2, line_filter
        written = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(os.path.join(out, "curated")).collect()
        }
        assert written[0] == rows[0][1]
        assert written[1] == "Doc 1 has its own first line.\nDoc 1 has its own second line."


def test_curation_url_dedup_stage(spark, tmp_path):
    """--url-dedup keeps one doc per normalized URL (latest ts wins)
    before any content stage; manifest accounts the reduction."""
    rows = [
        (0, "body zero", "en", "s0", "https://a.com/x", "2024-01-01"),
        (1, "body one", "en", "s0", "https://a.com/x/", "2024-03-01"),
        (2, "body two", "en", "s0", "https://a.com:443/x?utm_source=t", "2024-02-01"),
        (3, "body three", "en", "s0", "http://b.com/y", "2024-01-01"),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "url string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = str(tmp_path / "ud")
    m = run_curation(
        spark, docs, out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            url_dedup=True, url_ts_col="ts",
        ),
    )
    c = m["counts"]
    assert c["input"] == 4 and c["after_url_dedup"] == 2
    written = {
        r["doc_id"] for r in
        spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    assert written == {1, 3}  # latest a.com/x snapshot + the distinct URL


def test_curation_url_dedup_keeps_null_url_docs(spark, tmp_path):
    rows = [
        (0, "body zero", "en", "s0", "https://a.com/x"),
        (1, "body one", "en", "s0", "https://a.com/x/"),
        (2, "body two", "en", "s0", None),
        (3, "body three", "en", "s0", None),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    out = str(tmp_path / "udn")
    m = run_curation(
        spark, docs, out,
        CurationConfig(
            keep_frac=1.0, max_top_bigram_frac=1.0, pack_budget=10_000,
            url_dedup=True,
        ),
    )
    assert m["counts"]["after_url_dedup"] == 3  # dup URL merged, NULLs kept
    written = {
        r["doc_id"] for r in
        spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    assert written == {0, 2, 3}


def test_curation_domain_prior_stage(spark, tmp_path):
    # s1's harmonic centrality is below the floor -> its docs drop before
    # dedup keeper election; s9 is UNSCORED and must pass
    scores = spark.createDataFrame(
        [("s0", 0.4, 5.0), ("s1", 0.1, 0.5)],
        "domain string, pagerank double, harmonic double",
    )
    sp = str(tmp_path / "scores")
    scores.write.parquet(sp)
    docs = spark.createDataFrame(
        [
            (0, "the a of to and is in it " + "alpha beta " * 6, "en", "s0"),
            (1, "the a of to and is in it " + "gamma delta " * 6, "en", "s1"),
            (2, "the a of to and is in it " + "eps zeta " * 6, "en", "s9"),
            # duplicate of doc 1's text hosted on the GOOD domain: with s1
            # filtered first, doc 3 must win the exact-dedup election
            (3, "the a of to and is in it " + "gamma delta " * 6, "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = str(tmp_path / "cur_ds")
    m = run_curation(
        spark,
        docs,
        out,
        CurationConfig(
            keep_frac=1.0,
            pack_budget=60,
            domain_scores=sp,
            domain_min_harmonic=2.0,
        ),
    )
    c = m["counts"]
    assert c["input"] == 4
    assert c["after_domain_filter"] == 3          # doc 1 (s1) dropped
    assert c["after_exact_dedup"] == 3            # doc 3 survives as keeper
    written = {
        r["doc_id"] for r in
        spark.read.parquet(os.path.join(out, "curated")).collect()
    }
    assert written == {0, 2, 3}


def test_curation_zlib_stage(spark, tmp_path):
    """--zlib-min drops the highly-compressible templated doc, counts the
    stage in the manifest, and leaves natural-text docs alone."""
    out = str(tmp_path / "cur_zlib")
    rows = []
    for i in range(6):
        rows.append(
            (i, "the a of to and is in it " + f"alpha{i} beta{i} gamma{i} " * (i + 3),
             "en", "s0")
        )
    # templated spam: one phrase repeated — compresses to a tiny fraction
    rows.append((50, "click here buy now " * 120, "en", "s0"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")

    m = run_curation(
        spark, docs, out,
        CurationConfig(keep_frac=1.0, max_top_bigram_frac=0.9, pack_budget=200,
                       zlib_min=0.2),
    )
    c = m["counts"]
    assert c["input"] == 7
    assert c["after_zlib_filter"] == 6            # doc 50 dropped here
    written = spark.read.parquet(os.path.join(out, "curated"))
    ids = {r.doc_id for r in written.select("doc_id").collect()}
    assert 50 not in ids and ids >= {0, 1, 2, 3, 4, 5}

    # stage off -> doc 50 survives (repetition ceiling relaxed above)
    out2 = str(tmp_path / "cur_nozlib")
    m2 = run_curation(
        spark, docs, out2,
        CurationConfig(keep_frac=1.0, max_top_bigram_frac=0.95, pack_budget=200),
    )
    assert "after_zlib_filter" not in m2["counts"]
    written2 = spark.read.parquet(os.path.join(out2, "curated"))
    assert 50 in {r.doc_id for r in written2.select("doc_id").collect()}


def test_curation_empty_result_writes_manifest(spark, tmp_path):
    """A config that drops every doc still audits and writes its manifest,
    flat or sharded (a zero-row partitioned write leaves only _SUCCESS)."""
    bl_dir = str(tmp_path / "bl")
    spark.createDataFrame([("blocked.example",)], "domain string").write.parquet(bl_dir)
    docs = _docs(spark).withColumn("url", F.lit("https://blocked.example/p"))
    for n_shards in (None, 2):
        out = str(tmp_path / f"empty_{n_shards}")
        m = run_curation(
            spark, docs, out, CurationConfig(url_blocklist=bl_dir, n_shards=n_shards)
        )
        c = m["counts"]
        assert (c["input"], c["after_url_filter"]) == (19, 0)
        assert (c["written"], c["packs"]) == (0, 0)
        disk = json.load(open(os.path.join(out, "_curation_manifest.json")))
        assert disk["counts"] == c


def _composed_inputs(spark, tmp_path):
    """~27 multi-line random-vocabulary pages plus an exact dup, a near dup,
    a URL dup, a spam page and two pages on a blocked host; and the side
    tables every optional stage reads."""
    import random

    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choice(letters) for _ in range(rng.randint(4, 8)))
        for _ in range(300)
    ]
    stop = ["the", "and", "of", "to", "with", "that"]

    def page():
        lines = []
        for _ in range(8):
            words = [rng.choice(vocab) for _ in range(9)]
            words[2], words[5] = rng.choice(stop), rng.choice(stop)
            lines.append(" ".join(words).capitalize() + ".")
        lines.append("Read more about the site and the team here.")
        return "\n".join(lines)

    rows = [
        (i, page(), "de" if i % 3 == 0 else "en", f"site{i % 4}.org",
         f"https://site{i % 4}.org/p{i}")
        for i in range(21)
    ]
    # one word swapped mid-page: no 50-token window repeats, MinHash agrees
    words = rows[2][1].split(" ")
    near = " ".join(words[:36] + ["swapped"] + words[37:])
    rows[4] = (4, rows[4][1].replace(" ", "  ", 1), *rows[4][2:])  # normalize
    rows += [
        (21, page(), "en", "site1.org", "https://site1.org/p1/"),   # URL dup of 1
        (22, rows[0][1], "de", "site2.org", "https://site2.org/copy"),  # exact dup
        (23, near, "en", "site2.org", "https://site2.org/near"),  # near dup
        (24, "click here buy now " * 120, "en", "site0.org",
         "https://site0.org/spam"),
        (25, page(), "en", "site1.org", "https://blocked.example/a"),
        (26, page(), "de", "site2.org", "https://sub.blocked.example/b"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, url string"
    )
    paths = {k: str(tmp_path / k) for k in ("bl", "scores", "decon", "cls")}
    spark.createDataFrame([("blocked.example",)], "domain string").write.parquet(
        paths["bl"]
    )
    spark.createDataFrame(
        [("site0.org", 0.3, 5.0), ("site1.org", 0.3, 5.0), ("site3.org", 0.1, 0.5)],
        "domain string, pagerank double, harmonic double",
    ).write.parquet(paths["scores"])
    spark.createDataFrame([(900, rows[5][1])], "doc_id long, text string").write.parquet(
        paths["decon"]
    )
    spark.createDataFrame(
        [(950 + i, rows[i][1]) for i in range(12)], "doc_id long, text string"
    ).write.parquet(paths["cls"])
    return docs, paths


def test_curation_every_stage_composed_then_resume(spark, tmp_path):
    """Every optional stage at once: the manifest names each stage's count,
    the ledger cuts only ever shrink the corpus, and a resume from the
    checkpointed ledger reproduces every count."""
    import shutil

    from logai_spark.curate import LEDGER_CUTS

    docs, paths = _composed_inputs(spark, tmp_path)
    cfg = CurationConfig(
        keep_frac=0.9,
        pack_budget=200,
        url_blocklist=paths["bl"],
        domain_scores=paths["scores"],
        domain_min_harmonic=1.0,
        url_dedup=True,
        line_filter=True,
        normalize=True,
        boilerplate_max_df=3,
        paragraph_dedup=True,
        substring_window=50,
        gopher=True,
        zlib_min=0.2,
        repetition_full=True,
        decontaminate_ref=paths["decon"],
        classifier_ref=paths["cls"],
        classifier_neg_frac=0.2,
        classifier_buckets=64,
        near_dup=True,
        mixture={"en": 0.6, "de": 0.4},
        token_budget=1500,
        epochs={"site0.org": 2.0, "site1.org": 1.5},
        n_shards=2,
        resume=True,
    )
    out = str(tmp_path / "composed")
    m1 = run_curation(spark, docs, out, cfg)
    c = m1["counts"]
    assert set(c) == {
        "input", "after_url_filter", "after_domain_filter", "after_url_dedup",
        "filtered_lines_removed", "normalized_docs",
        "boilerplate_lines_removed", "duplicate_paragraphs_removed",
        "substring_tokens_removed",
        *(key for _, key in LEDGER_CUTS),
        "after_mixture", "after_token_budget", "after_epochs",
        "written", "packs", "shards",
    }
    assert c["input"] == 27 and c["after_url_filter"] == 25
    cuts = [c[key] for _, key in LEDGER_CUTS]
    assert c["after_url_dedup"] >= cuts[0]
    assert cuts == sorted(cuts, reverse=True)
    assert m1["resumed_from_ledger"] is False

    shutil.rmtree(os.path.join(out, "curated"))
    m2 = run_curation(spark, docs, out, cfg)
    assert m2["resumed_from_ledger"] is True
    assert m2["counts"] == c

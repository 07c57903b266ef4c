"""IPLoM parity vs the reference implementation (iplom.py:72-647).

Parity contract: identical per-line template string for every line, on the
reference's own raw fixture datasets, plus weighted-distinct equivalence
(our distributed core runs on distinct lines with counts) and the Spark
applyInPandas wrapper. The parity tests need the reference checkout and
skip, naming the missing file, where it is absent.
"""

import os

import pandas as pd
import pytest

from logai_spark.parse.iplom import (
    IPLoMConfig,
    iplom_map_distinct,
    parse_iplom,
    tokenize_iplom,
)
from tests.conftest import requires_reference
from tests.reference_drain import FIXTURES, fixture_lines, fixture_params
from tests.reference_iplom import REF_IPLOM, load_reference_iplom

refmod = load_reference_iplom() if os.path.exists(REF_IPLOM) else None
DATASETS = fixture_params()


def reference_parse(lines: list[str], **params) -> list[str]:
    algo = refmod.IPLoM(refmod.IPLoMParams(**params))
    out = algo.parse(pd.Series(lines, name="logline"))
    return list(out)


def our_parse(lines: list[str], config: IPLoMConfig | None = None) -> list[str]:
    s = pd.Series(lines)
    nonempty = s[s.str.strip() != ""]
    counts = nonempty.groupby(nonempty).size()
    distinct = pd.Series(counts.index, index=range(len(counts)))
    tpl = iplom_map_distinct(distinct, pd.Series(counts.values), config)
    mapping = dict(zip(distinct, tpl))
    return [mapping.get(ln) for ln in lines]


@requires_reference(REF_IPLOM)
@pytest.mark.parametrize("dataset", DATASETS)
def test_iplom_parity_fixtures(dataset):
    lines = fixture_lines(dataset)
    assert len(lines) > 1000
    ref = reference_parse(lines)
    mine = our_parse(lines)
    # reference skips empty lines (iplom.py:120-121); align on non-empty
    mismatches = [
        (a, b) for ln, a, b in zip(lines, ref, mine) if ln.strip() and a != b
    ]
    assert mismatches == [], mismatches[:5]


@requires_reference(REF_IPLOM)
def test_iplom_len2_step3_parity():
    # width-2 partitions exercise step 3's (0,1) path (iplom.py:526-528)
    lines = (
        ["alpha beta"] * 5
        + [f"alpha v{i}" for i in range(6)]
        + [f"k{i} close" for i in range(4)]
        + ["alpha beta"]
    )
    assert our_parse(lines) == reference_parse(lines)


@requires_reference(REF_IPLOM)
def test_iplom_weighted_distinct_equivalence():
    # heavy duplication: weighting must reproduce per-line-count decisions
    lines = ["conn from 10.0.0.1 port 80"] * 500 + [
        f"conn from 10.0.0.{i} port {1000 + i}" for i in range(50)
    ]
    assert our_parse(lines) == reference_parse(lines)


@requires_reference(REF_IPLOM)
def test_iplom_rex_masking():
    lines = [f"job {i} finished in {i * 3}ms" for i in range(40)]
    cfg = IPLoMConfig(rex=[r"\d+"])
    ref = reference_parse(lines, rex=[r"\d+"])
    assert our_parse(lines, cfg) == ref


def test_tokenize_matches_reference_split():
    line = "a=b c:d,e  f"
    assert tokenize_iplom(line) == ["a", "b", "c", "d", "e", "f"]
    assert tokenize_iplom(" =:, ") == [" "]


@requires_reference(REF_IPLOM, FIXTURES["healthapp"][0])
def test_parse_iplom_spark(spark):
    lines = fixture_lines("healthapp")[:1500]
    df = spark.createDataFrame(pd.DataFrame({"logline": lines}))
    parsed, sizes = parse_iplom(df, "logline")
    got = {r["logline"]: r["template"] for r in parsed.collect()}
    ref = dict(zip(lines, reference_parse(lines)))
    diff = {ln for ln in got if ln.strip() and got[ln] != ref[ln]}
    assert diff == set(), list(diff)[:5]
    assert sum(n for _, n in sizes) == len([l for l in lines if l.strip()])
    assert all(t for t, _ in sizes)


def test_oracle_token_pattern_matches_python_on_unicode_whitespace():
    """The driver-oracle's RE2 char class (ASCII \\s + \\p{Z} + \\x85 +
    \\x1c-\\x1f) must agree with tokenize_iplom's Python Unicode \\s —
    U+00A0 and friends are ubiquitous in real web text."""
    import duckdb

    from logai_spark.parse.iplom import tokenize_iplom

    pat = r"[\s\p{Z}\x85\x1c-\x1f=:,]"
    con = duckdb.connect()
    cases = [
        "a\xa0b c",          # no-break space (Zs)
        "x y z",   # line/paragraph separators (Zl/Zp)
        "a\x1c b\x85c",      # file separator + NEL
        "k=v:w,u plain",
        "　wide　",  # ideographic space
        "",
    ]
    for t in cases:
        dd = con.execute(
            "SELECT list_filter(regexp_split_to_array(?, ?), x -> x != '')",
            [t, pat],
        ).fetchone()[0]
        assert list(dd) == [x for x in tokenize_iplom(t) if x != " "] or (
            dd == [] and tokenize_iplom(t) == [" "]
        )


def test_iplom_sharded_skew_group_matches_unsharded(spark):
    """One dominant token count (the skew regime that would put a whole
    group's distinct lines into one task): sharding within the group must
    (a) bound the per-task distinct-line set by ~1/shards and (b) on a
    grammar whose per-position value diversity >> shard count, produce the
    exact line->template mapping of the unsharded run."""
    import pandas as pd

    from logai_spark.parse.iplom import IPLoMConfig, parse_iplom

    lines = []
    for i in range(3000):  # every line has the same token count (6)
        lines.append(f"conn from host{i % 211} port {7000 + i % 199} ok")
        lines.append(f"auth user u{i % 223} session s{i % 191} granted")
    df = spark.createDataFrame(pd.DataFrame({"logline": lines}))

    base, base_sizes = parse_iplom(df, "logline", IPLoMConfig())
    shard, shard_sizes = parse_iplom(
        df, "logline", IPLoMConfig(shards_per_group=8)
    )
    b = base.toPandas().sort_values("logline").reset_index(drop=True)
    s = shard.toPandas().sort_values("logline").reset_index(drop=True)
    assert b["template"].notna().all()  # mass conserved, no dropped lines
    assert b.equals(s)
    assert base_sizes == shard_sizes

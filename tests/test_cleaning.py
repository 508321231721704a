"""Semantic tests for the cleaning operators (passage dedup, redaction).

The oracle-equivalence rows in ``test_relational.py`` prove value parity;
these prove the operators actually DO the thing — a fully-duplicated
document loses all passages, redaction hits the planted terms — and that
the real corpus makes neither query vacuous.
"""

from __future__ import annotations

import pandas as pd
import pytest

from map_reduce_framework_spark.operators import cleaning

from .conftest import SF_DIR

DOC_A = " ".join(f"tok{i}" for i in range(16))  # exactly 2 passages of 8
DOC_C = " ".join(f"other{i}" for i in range(8)) + " " + " ".join(
    f"tok{i}" for i in range(8)
)  # second passage == DOC_A's first


@pytest.fixture(scope="module")
def passage_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cleaning")
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [DOC_A, DOC_A, DOC_C, "slow dup words big slow"],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [len(t) for t in [DOC_A, DOC_A, DOC_C, "slow dup words big slow"]],
        }
    )
    docs.to_parquet(d / "documents.parquet")
    return str(d)


def test_passage_dedup_drops_duplicated_doc(spark, passage_dir):
    rows = {r["doc_id"]: r for r in cleaning.dedup_passage(spark, passage_dir).collect()}
    # doc 0 owns both its passages; doc 1 (exact dup) keeps nothing
    assert rows[0]["n_kept"] == 2 and rows[0]["kept_text"] == DOC_A
    assert rows[1]["n_kept"] == 0 and rows[1]["kept_text"] is None
    # doc 2 keeps only its first (novel) passage — reconstruction order holds
    assert rows[2]["n_kept"] == 1
    assert rows[2]["kept_text"] == " ".join(f"other{i}" for i in range(8))


def test_blocklist_redact_hits_planted_terms(spark, passage_dir):
    rows = {r["doc_id"]: r for r in cleaning.blocklist_redact(spark, passage_dir).collect()}
    assert rows[3]["n_hits"] == 4
    assert rows[3]["redacted_text"] == (
        f"{cleaning.REDACTED} {cleaning.REDACTED} words "
        f"{cleaning.REDACTED} {cleaning.REDACTED}"
    )
    assert rows[0]["n_hits"] == 0 and rows[0]["redacted_text"] == DOC_A


def test_pii_redact_masks_planted_instances(spark, passage_dir):
    """Each doc_id % 5 arm plants exactly one PII instance of its kind;
    the counts and the rewritten text must reflect it, and the clean
    arms must pass their text through unmodified."""
    rows = {r["doc_id"]: r for r in cleaning.pii_redact(spark, passage_dir).collect()}
    # doc 0: planted email
    assert (rows[0]["n_emails"], rows[0]["n_phones"], rows[0]["n_ips"]) == (1, 0, 0)
    assert rows[0]["redacted_text"] == f"{DOC_A} contact <EMAIL> now"
    # doc 1: planted phone 555-001-0001
    assert (rows[1]["n_emails"], rows[1]["n_phones"], rows[1]["n_ips"]) == (0, 1, 0)
    assert rows[1]["redacted_text"] == f"{DOC_A} call <PHONE> today"
    # doc 2: planted IP 10.2.0.14
    assert (rows[2]["n_emails"], rows[2]["n_phones"], rows[2]["n_ips"]) == (0, 0, 1)
    assert rows[2]["redacted_text"] == f"{DOC_C} from <IP> logged"
    # doc 3: no plant arm (3 % 5 == 3) and no organic PII — untouched
    assert (rows[3]["n_emails"], rows[3]["n_phones"], rows[3]["n_ips"]) == (0, 0, 0)
    assert rows[3]["redacted_text"] == "slow dup words big slow"


def test_pii_redact_matches_oracle(spark, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        spark,
        duck,
        cleaning.pii_redact,
        cleaning.ORACLES["pii_redact"],
        "pii_redact",
    )


def test_encoding_repair_fixes_planted_mojibake(spark, passage_dir):
    """Each doc_id % 4 arm plants known UTF-8-as-cp1252 artifacts; the
    repair must produce the intended text and count every artifact."""
    rows = {r["doc_id"]: r for r in cleaning.encoding_repair(spark, passage_dir).collect()}
    # doc 0: cafÃ© → café (1 artifact)
    assert rows[0]["n_mojibake"] == 1 and not rows[0]["was_clean"]
    assert rows[0]["repaired_text"] == f"{DOC_A} café menu"
    # doc 1: donâ€™t → don’t (round-trip fix is the REAL right quote)
    assert rows[1]["n_mojibake"] == 1
    assert rows[1]["repaired_text"] == f"{DOC_A} don’t stop"
    # doc 2: seÃ±or paid â‚¬5 for Ã¼ber → señor paid €5 for über (3)
    assert rows[2]["n_mojibake"] == 3
    assert rows[2]["repaired_text"] == f"{DOC_C} señor paid €5 for über"
    # doc 3: no plant arm — clean and untouched
    assert rows[3]["n_mojibake"] == 0 and rows[3]["was_clean"]
    assert rows[3]["repaired_text"] == "slow dup words big slow"


def test_mojibake_table_full_cp1252_and_prefix_safe():
    """The generated table must (a) cover every strict-cp1252-reachable
    artifact exactly once (117 = 251 defined bytes − ASCII − the 6
    chars whose UTF-8 hits a cp1252 hole), (b) round-trip by
    construction, (c) be substring-free (no artifact occurs inside
    another — so chained replaces can never eat part of a later match),
    and (d) be ordered longest-first."""
    tbl = cleaning.MOJIBAKE_TABLE
    assert len(tbl) == 117
    arts = [a for a, _ in tbl]
    assert len(set(arts)) == 117
    for a, f in tbl:
        assert len(f) == 1
        # round trip: the artifact really is the char's UTF-8 bytes
        # mis-decoded as cp1252
        assert f.encode("utf-8").decode("cp1252") == a
    for i, a in enumerate(arts):
        for j, b in enumerate(arts):
            if i != j:
                assert a not in b, (a, b)
    lens = [len(a) for a in arts]
    assert lens == sorted(lens, reverse=True)
    # the provably-unreachable chars are absent (their UTF-8 contains a
    # cp1252-undefined byte)
    fixes = {f for _, f in tbl}
    for impossible in "”ÁÍÏÐÝ":
        assert impossible not in fixes


def test_ccnet_buckets_tercile_and_keep_semantics(spark):
    """Value-bucketed terciles: per language the head/middle/tail doc
    counts differ by at most the largest single ppl-value group; docs
    too short to score land in 'unscored' and are never kept; kept_final
    requires dedup survival AND a head/middle bucket."""
    from collections import Counter

    from .conftest import SF_DIR

    rows = cleaning.ccnet_buckets(spark, SF_DIR).collect()
    assert rows, "non-vacuous"
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["pred_lang"], []).append(r)
    for lang, rs in by_lang.items():
        scored = [r for r in rs if r["bucket"] != "unscored"]
        if len(scored) < 6:
            continue
        counts = Counter(r["bucket"] for r in scored)
        biggest_group = max(
            Counter((r["ppl"]) for r in scored).values()
        )
        n = len(scored)
        for b in ("head", "middle", "tail"):
            assert abs(counts[b] - n / 3) <= biggest_group + 1, (
                lang,
                counts,
            )
        # bucket ordering respects ppl: max head ppl <= min tail ppl
        head = [r["ppl"] for r in scored if r["bucket"] == "head"]
        tail = [r["ppl"] for r in scored if r["bucket"] == "tail"]
        if head and tail:
            assert max(head) <= min(tail)
    for r in rows:
        if r["bucket"] == "unscored":
            assert r["ppl"] is None and not r["kept_final"]
        assert r["kept_final"] == (
            r["kept_dedup"] and r["bucket"] in ("head", "middle")
        )


def test_ccnet_buckets_matches_oracle(spark, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        spark,
        duck,
        cleaning.ccnet_buckets,
        cleaning.ORACLES["ccnet_buckets"],
        "ccnet_buckets",
    )


def test_encoding_repair_matches_oracle(spark, duck):
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        spark,
        duck,
        cleaning.encoding_repair,
        cleaning.ORACLES["encoding_repair"],
        "encoding_repair",
    )


def test_cleaning_non_vacuous_on_corpus(spark):
    dp = cleaning.dedup_passage(spark, SF_DIR)
    dup_docs = dp.filter("n_kept < n_passages").count()
    assert dup_docs > 0, "corpus has no duplicate passages — query vacuous"
    br = cleaning.blocklist_redact(spark, SF_DIR)
    assert br.filter("n_hits > 0").count() > 0, "blocklist never fires"


def test_chunk_documents_covers_every_token(spark):
    """Chunks tile each document: ≤ CHUNK_TOKENS long, stride apart, and
    their union covers the full token sequence in order."""
    from map_reduce_framework_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )
    from map_reduce_framework_spark.sources import load_table

    from .conftest import SF_DIR

    chunks = chunk_documents(spark, SF_DIR).collect()
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        assert 1 <= r.n_chunk_tokens <= CHUNK_TOKENS
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        toks = docs[doc_id]
        for r in rows:
            start = r.chunk_idx * CHUNK_STRIDE
            assert r.chunk_text.split(" ") == toks[start : start + CHUNK_TOKENS]
        covered = max(
            r.chunk_idx * CHUNK_STRIDE + r.n_chunk_tokens for r in rows
        )
        assert covered == len(toks)


def test_clean_corpus_verdict_composition(spark):
    """kept_final must equal the AND of its three stage verdicts."""
    from map_reduce_framework_spark.operators.cleaning import clean_corpus

    from .conftest import SF_DIR

    rows = clean_corpus(spark, SF_DIR).collect()
    assert len(rows) > 0
    n_kept = 0
    for r in rows:
        expect = r.kept_dedup and r.quality_bucket != "low" and r.kept_sample
        assert r.kept_final == expect
        n_kept += int(r.kept_final)
    # the pipeline must neither drop everything nor keep everything
    assert 0 < n_kept < len(rows)


def test_gopher_rules_fail_in_isolation(spark, tmp_path):
    """Each Gopher rule must fire alone: six planted docs — one clean,
    five each violating exactly one rule — and the keep flag is the AND
    of the five."""
    from map_reduce_framework_spark.operators.text import quality_filter_rules

    filler = [f"word{i}" for i in range(21)]
    good = " ".join(["the", "and", *filler, "rock", "sand"])  # 25 normal words
    short = " ".join(["the", "and"] + filler[:8])  # 10 words
    longw = " ".join(["the", "and"] + ["x" * 15] * 23)  # mean len 14+
    symbols = " ".join(["the", "and"] + filler[:18] + ["$$$"] * 5)  # 20% symbols
    nostop = " ".join(f"uniq{i}" for i in range(25))
    numeric = " ".join(["the", "and"] + filler[:13] + ["123"] * 10)  # 60% alpha
    texts = [good, short, longw, symbols, nostop, numeric]
    pd.DataFrame(
        {
            "doc_id": range(6),
            "text": texts,
            "lang": ["en"] * 6,
            "source": ["src0"] * 6,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = {r["doc_id"]: r for r in quality_filter_rules(spark, str(tmp_path)).collect()}
    assert rows[0]["keep"] and rows[0]["n_rules_failed"] == 0
    failing = {
        1: "r_word_count",
        2: "r_mean_word_len",
        3: "r_symbol_frac",
        4: "r_stopwords",
        5: "r_alpha_frac",
    }
    for doc_id, rule in failing.items():
        r = rows[doc_id]
        assert not r[rule], (doc_id, rule)
        assert r["n_rules_failed"] == 1 and not r["keep"], (doc_id, r)


def test_source_overlap_finds_recrawl(spark, tmp_path):
    """A source that is a re-crawl subset of another must surface with
    containment ~1.0; disjoint sources share no grams and produce no
    row (only overlapping pairs appear)."""
    from map_reduce_framework_spark.operators.text import source_overlap_matrix

    big = [
        " ".join(f"alpha{i + j} beta{i + j} gamma{i + j}".split()) + " "
        + " ".join(f"word{i}{k}" for k in range(12))
        for i, j in ((0, 0), (1, 0), (2, 0), (3, 0))
    ]
    recrawl = big[:2]  # strict subset of crawl_a's documents
    disjoint = [" ".join(f"zeta{i}x{k}" for k in range(15)) for i in range(3)]
    texts = big + recrawl + disjoint
    sources = ["crawl_a"] * 4 + ["crawl_b"] * 2 + ["other"] * 3
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": sources,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {("crawl_a", "crawl_b")}
    r = rows[("crawl_a", "crawl_b")]
    assert r["containment_min"] == 1.0  # every crawl_b gram is in crawl_a
    assert r["shared"] == r["n_b"] and r["n_a"] > r["n_b"]
    assert 0 < r["jaccard"] < 1


def test_quality_weighted_sample_shifts_mass_toward_quality(spark):
    """The soft filter's point: realized keep rate must rise with the
    quality bucket, and each bucket's kept subset must average at least
    the bucket's population quality."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.text import (
        quality_weighted_sample,
    )

    from .conftest import SF_DIR

    try:
        rows = {
            r["quality_bucket"]: r
            for r in quality_weighted_sample(spark, SF_DIR).collect()
        }
    finally:
        cache.release()
    assert rows and sum(r["n_kept"] for r in rows.values()) > 0
    order = [b for b in ("low", "mid", "high") if b in rows]
    fracs = [rows[b]["kept_frac"] for b in order]
    assert fracs == sorted(fracs), fracs  # monotone in quality
    for b in order:
        if rows[b]["n_kept"]:
            assert rows[b]["avg_quality_kept"] >= rows[b]["avg_quality"] - 1e-9


def test_encoding_repair_null_text_propagates_null(spark):
    """A NULL ``pt`` must propagate NULL through every output column —
    the pre-rewrite Catalyst replace chain's behavior (replace/length
    over NULL are NULL); the Arrow kernel must not crash on it
    (round-13 advice: ``'in' on None`` TypeError)."""
    df = spark.createDataFrame(
        [(0, "cafÃ© menu"), (1, None), (2, "clean")],
        "doc_id long, pt string",
    )
    rows = {
        r["doc_id"]: r
        for r in cleaning.encoding_repair_docs(df).collect()
    }
    assert rows[0]["n_mojibake"] == 1
    assert rows[0]["repaired_text"] == "café menu"
    assert rows[1]["n_mojibake"] is None
    assert rows[1]["repaired_text"] is None
    assert rows[1]["was_clean"] is None
    assert rows[2]["n_mojibake"] == 0 and rows[2]["was_clean"]


def test_stopword_gopher_kernels_match_python(spark):
    """The round-15 mapInArrow kernels must reproduce the previous
    per-row Python implementations bit-for-bit (tokenize via
    str.split(' ') semantics: consecutive delimiters yield empty
    tokens, empty text yields ['']; s_<lang> counts OCCURRENCES;
    n_stop counts DISTINCT stopwords present)."""
    import re

    from map_reduce_framework_spark.operators.text import (
        LANG_STOPWORDS,
        _gopher_counts,
        _stopword_counts,
    )

    rows = [
        (0, "en", "the cat sat on the mat the end"),
        (1, "de", "der die das der und !! der"),
        (2, "en", ""),
        (3, "fr", "le  la   de"),  # consecutive spaces -> empty tokens
        (4, "zh", "的 是 不 x1 9 ?? the"),
        (5, "en", "a a a a a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    got = {r["doc_id"]: r.asDict() for r in _stopword_counts(docs).collect()}
    langs = sorted(LANG_STOPWORDS)
    for doc_id, lang, text in rows:
        ts = text.split(" ")
        exp = {
            "doc_id": doc_id,
            "lang": lang,
            "n_tokens": len(ts),
            "n_uniq_tokens": len(set(ts)),
        }
        for lg in langs:
            s = frozenset(LANG_STOPWORDS[lg])
            exp[f"s_{lg}"] = sum(1 for t in ts if t in s)
        assert got[doc_id] == exp, f"stopword kernel mismatch doc {doc_id}"

    stop_en = frozenset(LANG_STOPWORDS["en"])
    alpha_re = re.compile(r"[a-zA-Z]")
    symbol_re = re.compile(r"^[^a-zA-Z0-9]+$")
    gg = {r["doc_id"]: r.asDict() for r in _gopher_counts(docs).collect()}
    for doc_id, _, text in rows:
        ts = text.split(" ")
        exp = {
            "doc_id": doc_id,
            "n_words": len(ts),
            "sum_len": sum(len(t) for t in ts),
            "n_alpha": sum(1 for t in ts if alpha_re.search(t)),
            "n_stop": len(stop_en.intersection(ts)),
            "n_symbol": sum(1 for t in ts if symbol_re.match(t)),
        }
        assert gg[doc_id] == exp, f"gopher kernel mismatch doc {doc_id}"


def test_stopword_gopher_kernels_null_text(spark):
    """A NULL ``text`` row: ``pc.split_pattern`` propagates the null, so
    the token count is NULL and every per-token count is 0 (the old
    per-row Python kernel raised on ``None.split``).  Neighbouring rows
    of the same batch are unaffected."""
    from map_reduce_framework_spark.operators.text import (
        LANG_STOPWORDS,
        _gopher_counts,
        _stopword_counts,
    )

    docs = spark.createDataFrame(
        [(0, "en", "the cat"), (1, "en", None), (2, "de", "der die")],
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in _stopword_counts(docs).collect()}
    exp = {"doc_id": 1, "lang": "en", "n_tokens": None, "n_uniq_tokens": 0}
    exp.update({f"s_{lg}": 0 for lg in LANG_STOPWORDS})
    assert got[1] == exp
    assert got[0]["n_tokens"] == 2 and got[0]["s_en"] == 1
    assert got[2]["n_tokens"] == 2 and got[2]["s_de"] == 2

    gg = {r["doc_id"]: r.asDict() for r in _gopher_counts(docs).collect()}
    assert gg[1] == {
        "doc_id": 1,
        "n_words": None,
        "sum_len": 0,
        "n_alpha": 0,
        "n_stop": 0,
        "n_symbol": 0,
    }
    assert gg[0]["n_words"] == 2 and gg[0]["n_stop"] == 1
    assert gg[2]["n_words"] == 2 and gg[2]["n_stop"] == 0

"""Planted-duplicate tests: the dedup operators must actually find dups.

The synthetic corpus has near-dups but no exact dups, so these tests plant
known duplicates in a temp parquet table and assert each detector fires.
"""

from __future__ import annotations

import pandas as pd
import pytest

from map_reduce_framework_spark.operators import dedup

from .conftest import SF_DIR, assert_matches_oracle

BASE = (
    "the quick brown fox jumps over the lazy dog near the quiet river bank "
    "while morning light settles on the tall grass and birds call softly"
)
# change only the FINAL token: exactly one 3-gram shingle differs, so
# jaccard = 22/24 ≈ 0.9167 — above the 0.8 threshold
NEAR = BASE.replace("call softly", "call gently")
OTHER = (
    "completely different content about spark query engines and columnar "
    "storage with vectorized execution and adaptive partition planning"
)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("planted")
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [BASE, BASE, NEAR, OTHER, BASE.upper()],
            "lang": ["en"] * 5,
            "source": ["src0"] * 5,
            "n_chars": [len(t) for t in [BASE, BASE, NEAR, OTHER, BASE.upper()]],
        }
    )
    docs.to_parquet(d / "documents.parquet")
    return str(d)


def test_dedup_exact_finds_planted(spark, planted_dir):
    out = dedup.dedup_exact(spark, planted_dir).collect()
    by_copies = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_copies[0] == 2  # doc 0 and 1 identical, survivor = 0
    assert len(out) == 4  # 5 docs, one collapsed pair


def test_dedup_exact_normalized_catches_case_variant(spark, planted_dir):
    out = dedup.dedup_exact_normalized(spark, planted_dir).collect()
    by_copies = {r["keep_id"]: r["n_copies"] for r in out}
    assert by_copies[0] == 3  # doc 4 (uppercased) also collapses
    assert len(out) == 3


def test_ngram_jaccard_finds_near_dup(spark, planted_dir):
    out = dedup.dedup_ngram_jaccard(spark, planted_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact pair
    assert (0, 2) in pairs and 0.8 <= pairs[(0, 2)] < 1.0  # near pair
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_finds_near_dup(spark, planted_dir):
    out = dedup.dedup_minhash_lsh(spark, planted_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (0, 1) in pairs  # identical docs always share all bands
    assert (0, 2) in pairs  # 1-token edit: high-jaccard pair surfaces
    assert not any(3 in p for p in pairs)


def test_simhash_finds_exact_dup(spark, planted_dir):
    # NOTE: on ~23-token docs a single token swap moves ~10 of 60 simhash
    # bits (each bit-sum is small, so one ±2 swing flips many) — SimHash
    # is a long-document detector, so only the exact pair is asserted.
    out = dedup.dedup_simhash(spark, planted_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert pairs[(0, 1)] == 0  # identical token sets
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_ngram_df_cap_drops_hot_grams(spark, tmp_path):
    """Grams in > NGRAM_DF_CAP docs must not generate candidates, and the
    Spark result must still equal the DuckDB oracle on a corpus where the
    cap actually fires (the real testdata never exceeds df=25).

    110 docs share one hot 3-gram ("common shared prefix") but are
    otherwise unique — without the cap that gram alone creates
    110·109/2 ≈ 6k candidate pairs; with it, zero.  One planted near-dup
    pair made of low-df grams must still be found.
    """
    import duckdb

    hot = "common shared prefix"
    docs = [f"{hot} unique tail number{i} alpha{i} beta{i} gamma{i}" for i in range(110)]
    base = (
        "entirely separate story about rivers and mountains where cold water "
        "keeps flowing through deep green valleys toward the east"
    )
    near = base.replace("east", "west")  # 18 tokens: jaccard 15/17 ≈ 0.88
    docs += [base, near]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["src0"] * len(docs),
            "n_chars": [len(t) for t in docs],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    out = dedup.dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert (110, 111) in pairs  # planted near-dup survives the cap
    # no pair among the 110 hot-gram docs: their only shared gram is capped
    assert not any(a < 110 and b < 110 for a, b in pairs)

    from map_reduce_framework_spark.plans.registry import get_oracles

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    oracle = {
        (r[0], r[1]): r[2]
        for r in con.execute(get_oracles()["dedup_ngram_jaccard"]).fetchall()
    }
    assert pairs == oracle


def test_exact_substring_finds_planted_spans(spark, tmp_path):
    """Span geometry must be exact: a 12-word block shared by two docs
    yields ONE merged span of exactly 12 words in each (the three
    overlapping 10-word windows coalesce; boundary-straddling windows
    are unique and never fire), and a 10-word phrase repeated twice
    WITHIN one doc yields two 10-word spans (self-repetition is
    duplication, per Lee et al.).  A fully-unique doc never appears."""
    shared = " ".join(f"s{i}" for i in range(12))
    doc_a = " ".join(
        [" ".join(f"a{i}" for i in range(5)), shared,
         " ".join(f"a{i}" for i in range(5, 18))]
    )  # shared block at word positions 5..16 of 30
    doc_b = shared + " " + " ".join(f"b{i}" for i in range(8))  # 20 words
    phrase = " ".join(f"p{i}" for i in range(10))
    doc_c = " ".join(
        [phrase, " ".join(f"c{i}" for i in range(11)), phrase]
    )  # 31 words; phrase at 0..9 and 21..30
    doc_d = " ".join(f"d{i}" for i in range(25))
    texts = [doc_a, doc_b, doc_c, doc_d]
    pd.DataFrame(
        {
            "doc_id": range(4),
            "text": texts,
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = {
        r["doc_id"]: r
        for r in dedup.dedup_exact_substring(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 1, 2}
    assert (rows[0]["n_dup_spans"], rows[0]["longest_span_words"],
            rows[0]["dup_words"]) == (1, 12, 12)
    assert rows[0]["dup_frac"] == 0.4  # 12 of 30 words
    assert (rows[1]["n_dup_spans"], rows[1]["dup_words"]) == (1, 12)
    assert rows[1]["dup_frac"] == 0.6  # 12 of 20 words
    assert (rows[2]["n_dup_spans"], rows[2]["longest_span_words"],
            rows[2]["dup_words"]) == (2, 10, 20)
    assert rows[2]["dup_frac"] == round(20 / 31, 6)


def test_fingerprint_equal_for_exact_dups(spark, planted_dir):
    from map_reduce_framework_spark.operators.text import doc_fingerprint

    out = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(spark, planted_dir).collect()}
    assert out[0] == out[1]  # identical docs, identical sketches
    assert out[0] != out[3]


def test_indexed_incremental_equals_derived(spark):
    """The bucketed-index screen must reproduce the self-derived batch
    screen exactly (the df-cap views only diverge past NGRAM_DF_CAP,
    which no test-SF gram reaches)."""
    from map_reduce_framework_spark.operators.dedup import (
        dedup_incremental,
        dedup_incremental_indexed,
    )
    from map_reduce_framework_spark import cache

    try:
        got = sorted(map(tuple, dedup_incremental_indexed(spark, SF_DIR).collect()))
        want = sorted(map(tuple, dedup_incremental(spark, SF_DIR).collect()))
    finally:
        cache.release()
    assert got == want and len(got) > 0


def test_gram_index_name_tracks_corpus_content(tmp_path):
    """Regenerating the documents table at the SAME path must produce a
    DIFFERENT index table name (round-6 ADVICE: a stale index must not
    be served after the corpus files change)."""
    import os
    import shutil

    from map_reduce_framework_spark.operators.dedup import _gram_index_name

    d = tmp_path / "corpus"
    d.mkdir()
    shutil.copy(
        os.path.join(SF_DIR, "documents.parquet"), d / "documents.parquet"
    )
    first = _gram_index_name(str(d))
    assert first != _gram_index_name(SF_DIR)  # path is still part of the key
    # "regenerate" the corpus: same path, new mtime
    os.utime(d / "documents.parquet", ns=(1, 1))
    assert _gram_index_name(str(d)) != first


def test_containment_finds_embedded_doc(spark, tmp_path):
    """A short document whose text is verbatim inside a much longer one
    must be flagged contained (C = 1.0) even though Jaccard is far below
    its threshold — the case the resemblance screen structurally misses."""
    short = "the quick brown fox jumps over the lazy dog by the river"
    filler = (
        "spark engines scan columnar batches with vectorized readers while "
        "adaptive planning rebalances shuffle partitions across executors "
        "and broadcast relations prune the probe side of each join stage"
    )
    long_doc = filler + " " + short + " " + filler.replace("spark", "flink")
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [short, long_doc, filler],
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [len(short), len(long_doc), len(filler)],
        }
    )
    d = tmp_path / "contain"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet")
    from map_reduce_framework_spark import cache

    try:
        out = {
            (r["contained_id"], r["container_id"]): r["containment"]
            for r in dedup.dedup_containment(spark, str(d)).collect()
        }
        jac = dedup.dedup_ngram_jaccard(spark, str(d)).collect()
    finally:
        cache.release()
    assert out.get((0, 1)) == pytest.approx(1.0)  # short ⊂ long
    assert all(not (r["doc_a"] == 0 and r["doc_b"] == 1) for r in jac)


def test_bloom_screen_equals_plain_membership(spark):
    """The Bloom bypass must be semantically invisible: the screen's
    output equals the plain (no-Bloom) prefix-hash membership screen —
    Bloom filters have no false negatives, and every maybe-hit is
    verified with the exact semi-join."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        _bloom_key,
        _incr_is_new,
        dedup_incremental_bloom,
    )
    from map_reduce_framework_spark.sources import load_table

    got = sorted(map(tuple, dedup_incremental_bloom(spark, SF_DIR).collect()))

    docs = load_table(spark, SF_DIR, "documents")
    is_new = _incr_is_new()
    newd = docs.where(is_new).select("doc_id", "source", _bloom_key().alias("h"))
    oldh = docs.where(~is_new).select(_bloom_key().alias("h")).distinct()
    dup_ids = newd.join(oldh, "h", "left_semi").select("doc_id").withColumn(
        "is_dup", F.lit(1)
    )
    d = F.coalesce("is_dup", F.lit(0))
    want = sorted(
        map(
            tuple,
            newd.join(dup_ids, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_new"),
                F.sum(d).alias("n_head_dup"),
                F.sum(F.when(d == 0, 1).otherwise(0)).alias("n_kept"),
            )
            .orderBy("source")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    assert sum(r[2] for r in got) > 0  # the verify path actually fires


def test_bloom_bypass_actually_prunes(spark):
    """The point of the Bloom: most definitely-new docs must be screened
    OUT before the membership join.  On the sf0.001 corpus the batch is
    ~dozens of docs with ~1% fpp, so maybe-hits must be well under half
    the batch while still covering every true dup."""
    from map_reduce_framework_spark.operators.dedup import (
        _bloom_blocks,
        _bloom_key,
        _bloom_maybe,
        _incr_is_new,
        BLOOM_M_BITS,
    )
    from map_reduce_framework_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    is_new = _incr_is_new()
    newd = docs.where(is_new).select("doc_id", "source", _bloom_key().alias("h"))
    oldh = docs.where(~is_new).select(_bloom_key().alias("h")).distinct()
    blocks = _bloom_blocks(oldh)
    assert blocks.count() <= BLOOM_M_BITS // 64
    maybe = _bloom_maybe(newd, blocks)
    n_new = newd.count()
    n_maybe = maybe.count()
    n_true_dup = newd.join(oldh, "h", "left_semi").count()
    assert n_true_dup <= n_maybe  # no false negatives
    assert n_maybe < n_new / 2  # the bypass prunes most of the batch


def test_indexed_minhash_equals_derived(spark):
    """The bucketed band-index screen must reproduce the self-derived
    incremental MinHash screen exactly (same signatures, same banding,
    same verify — the index only changes WHERE the corpus side comes
    from)."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import (
        dedup_incremental_minhash,
        dedup_incremental_minhash_indexed,
    )

    try:
        got = sorted(
            map(tuple, dedup_incremental_minhash_indexed(spark, SF_DIR).collect())
        )
        want = sorted(
            map(tuple, dedup_incremental_minhash(spark, SF_DIR).collect())
        )
    finally:
        cache.release()
    assert got == want and len(got) > 0


def test_adaptive_sign_bits_bounds_block_size():
    """bits must grow with the corpus so expected bucket occupancy stays
    ≤ EMB_BLOCK_TARGET — the round-6 '100×' fix for the embedding dedup."""
    from map_reduce_framework_spark.operators.dedup import (
        EMB_BITS_MAX,
        EMB_BITS_MIN,
        EMB_BLOCK_TARGET,
        adaptive_sign_bits,
    )

    for n in (1, 500, 2_000, 20_000, 1_000_000, 10**9):
        b = adaptive_sign_bits(n)
        assert EMB_BITS_MIN <= b <= EMB_BITS_MAX
        if b < EMB_BITS_MAX:
            # expected occupancy bound holds, and b is minimal
            assert (1 << b) * EMB_BLOCK_TARGET >= n
            if b > EMB_BITS_MIN:
                assert (1 << (b - 1)) * EMB_BLOCK_TARGET < n
    # strictly more buckets at 10× the corpus (until the cap)
    assert adaptive_sign_bits(20_000) > adaptive_sign_bits(2_000) > 0


def test_embedding_dedup_blocks_are_corpus_bounded(spark):
    """Replay the operator's own banded blocking at SF_DIR and assert
    the LARGEST per-(band, key) block is within a constant skew factor
    of EMB_BLOCK_TARGET — i.e. block size is set by the target, not by
    corpus size — and that buckets actually spread.  Pure numpy (the
    band-key rule is deterministic); the asymptotic law lives in
    test_adaptive_sign_bits_bounds_block_size."""
    import numpy as np

    from map_reduce_framework_spark.operators.dedup import (
        EMB_BANDS,
        EMB_BLOCK_TARGET,
        _emb_band_weights,
        adaptive_sign_bits,
    )
    from map_reduce_framework_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings").toPandas()
    n = len(emb)
    r = adaptive_sign_bits(n)
    nbands = EMB_BANDS[r]
    w = _emb_band_weights(r, nbands)
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    signs = (m @ w.T >= 0).astype(np.int64)
    pows = (1 << np.arange(r)).astype(np.int64)
    max_block = 0
    n_blocks = 0
    for b in range(nbands):
        keys = signs[:, b * r : (b + 1) * r] @ pows
        _, counts = np.unique(keys, return_counts=True)
        max_block = max(max_block, int(counts.max()))
        n_blocks += len(counts)
    # 8x skew allowance: the synthetic embeddings cluster around label
    # centroids, so some sign buckets run well above their uniform
    # expectation; what matters is the bound is a CONSTANT multiple of
    # the target, independent of n (r grows to hold expected occupancy)
    assert max_block <= 8 * EMB_BLOCK_TARGET, (
        f"max block {max_block} exceeds 8x target (r={r}, n={n})"
    )
    assert n_blocks >= nbands * (1 << r) // 4  # buckets actually spread


def test_embedding_dedup_recall_floor(spark):
    """CI recall floor for dedup_embedding_cosine measured DIRECTLY
    against exhaustive ground truth (round-8: VERDICT r7 item 5) — not
    by analogy to ann_lsh_bucketed.  The banded construction targets
    recall 0.95 at design cosine 0.80; at SF_DIR every true pair sits
    in the borderline band (max cosine < 0.5), where predicted recall
    for r=3/R=6 is ~0.84 — floor 0.70 leaves noise margin while still
    catching any regression to the round-7 Hamming-1 scheme (measured
    0.36 overall at sf0.1, 0.0009 borderline at sf1).  Precision must
    be EXACTLY 1: every emitted pair is exact-verified in its block."""
    import numpy as np

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        dedup_embedding_cosine,
    )
    from map_reduce_framework_spark.sources import load_table

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    m /= np.sqrt((m * m).sum(axis=1, keepdims=True))
    sims = np.floor((m @ m.T) * 1e4 + 0.5) / 1e4
    ia, ib = np.nonzero(np.triu(sims >= COSINE_DUP_THRESHOLD, k=1))
    truth = {(ids[i], ids[j]) for i, j in zip(ia, ib)}
    try:
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup_embedding_cosine(spark, SF_DIR).collect()
        }
    finally:
        cache.release()
    assert truth, "fixture must plant pairs above threshold"
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.70, f"recall {recall:.3f} below floor"


def test_embedding_dedup_chunked_gemm_equals_whole_block(spark, monkeypatch):
    """Round-10 hot-block hardening: with the per-chunk GEMM budget
    starved so every block scores across MANY chunk boundaries, the
    pair set and every rounded cosine must be identical to the
    default (effectively whole-block) run — the chunking bounds
    memory, never results.  (The sf100 probe's 200k-member block OOM'd
    the unchunked scorer.)"""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators import dedup

    try:
        base = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.dedup_embedding_cosine(spark, SF_DIR).collect()
        }
        cache.release()
        # 64 cells / typical block width (~tens) → chunk of a few rows
        monkeypatch.setattr(dedup, "_GEMM_CHUNK_CELLS", 64)
        chunked = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.dedup_embedding_cosine(spark, SF_DIR).collect()
        }
    finally:
        cache.release()
    assert chunked == base and len(base) > 0


def test_index_maintain_redetects_every_kept_doc(spark):
    """After the delta lands, every kept document's postings are
    indexed (base ∪ delta), so the re-screen must self-hit ALL of them
    — and the DELTA table must hold exactly the appended rows (it is
    batch-sized: the base index is never rewritten)."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import (
        GRAM_INDEX_DELTA_TABLE,
        dedup_index_maintain,
    )
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    try:
        rows = dedup_index_maintain(spark, SF_DIR).collect()
    finally:
        cache.release()
    assert len(rows) > 0
    total_kept = sum(r["n_kept"] for r in rows)
    assert total_kept > 0
    for r in rows:
        assert r["n_redetected"] == r["n_kept"], r
        assert (r["grams_added"] > 0) == (r["n_kept"] > 0), r
    added = sum(r["grams_added"] for r in rows)
    delta = spark.table(
        fingerprinted_table_name(GRAM_INDEX_DELTA_TABLE, SF_DIR, "documents")
    )
    assert delta.count() == added


def test_index_maintain_is_rerun_idempotent(spark):
    """Running the maintenance query twice must not double-append: the
    delta table is overwrite-mode and batch-sized."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import dedup_index_maintain

    try:
        first = sorted(map(tuple, dedup_index_maintain(spark, SF_DIR).collect()))
        second = sorted(map(tuple, dedup_index_maintain(spark, SF_DIR).collect()))
    finally:
        cache.release()
    assert first == second


def test_winnowing_guarantee_on_planted_run(spark, tmp_path):
    """The winnowing detection guarantee: two documents sharing a run of
    >= WINNOW_W + SHINGLE_N - 1 = 6 words MUST share a selected
    fingerprint (selection is local), while unrelated docs share none.
    Also pins the threshold: a pair sharing exactly one long run
    produces >= WINNOW_MIN_SHARED shared fingerprints only when the run
    spans enough windows — here the 12-word run gives several."""
    shared = " ".join(f"s{i}" for i in range(12))
    doc_a = " ".join(f"a{i}" for i in range(9)) + " " + shared
    doc_b = shared + " " + " ".join(f"b{i}" for i in range(9))
    doc_c = " ".join(f"c{i}" for i in range(25))
    texts = [doc_a, doc_b, doc_c]
    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = dedup.dedup_winnowing(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_fps"] for r in rows}
    assert (0, 1) in pairs, "guaranteed shared-run fingerprint missed"
    assert pairs[(0, 1)] >= dedup.WINNOW_MIN_SHARED
    assert not any(2 in p for p in pairs)


def test_winnowing_density_bound(spark):
    """Selected fingerprints per document must respect the winnowing
    density: more than 1/W of grams (every window selects) and at most
    all grams; expected ~2/(W+1)."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark.operators.dedup import (
        SHINGLE_N,
        WINNOW_W,
        _df_cap,  # noqa: F401  (documented pairing)
    )
    from map_reduce_framework_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n_grams = docs.select(
        F.sum(
            F.greatest(
                F.size(F.split("text", " ")) - (SHINGLE_N - 1), F.lit(0)
            )
        ).alias("n")
    ).collect()[0]["n"]
    # count distinct selected fingerprints via the operator's own
    # selection (pairs output is post-threshold, so recompute inline)
    from map_reduce_framework_spark.operators import dedup as D

    out = D.dedup_winnowing(spark, SF_DIR)
    out.count()  # runs end-to-end (plan sanity)
    # density check on the windowed selection itself
    sel = (
        docs.selectExpr(
            "doc_id",
            f"""explode(element_at(transform(array(split(text, ' ')), toks ->
            CASE WHEN size(toks) >= {SHINGLE_N}
            THEN transform(sequence(0, size(toks) - {SHINGLE_N}),
                 i -> named_struct('i', CAST(i AS BIGINT),
                      'n_grams', CAST(size(toks) - {SHINGLE_N - 1} AS BIGINT),
                      'h', CAST(conv(substr(md5(concat_ws(' ',
                           slice(toks, i + 1, {SHINGLE_N}))), 1, 15), 16, 10)
                           AS BIGINT)))
            ELSE CAST(array() AS array<struct<
                 i: bigint, n_grams: bigint, h: bigint>>) END), 1)) AS w""",
        )
        .select("doc_id", "w.i", "w.n_grams", "w.h")
    )
    from pyspark.sql import Window as W

    key = F.concat(
        F.lpad(F.col("h").cast("string"), 19, "0"),
        F.lpad((F.lit(D._WINNOW_POS_MAX) - F.col("i")).cast("string"), 7, "0"),
    )
    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(WINNOW_W - 1), 0)
    n_sel = (
        sel.withColumn("s", F.min(key).over(win))
        .where((F.col("i") >= WINNOW_W - 1) | (F.col("i") == F.col("n_grams") - 1))
        .select("doc_id", "s")
        .distinct()
        .count()
    )
    assert n_grams > 0
    frac = n_sel / n_grams
    # expected 2/(W+1) = 0.4; generous band that still catches a broken
    # frame (1.0) or a degenerate global min (≈ 1/doc)
    assert 0.15 <= frac <= 0.8, frac


def test_band_index_maintain_redetects_every_kept_doc(spark):
    """Signature-axis maintenance proof: after the bucketed append every
    kept doc's bands are indexed, so the re-screen must self-hit all of
    them, and reruns must be idempotent."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import band_index_maintain

    try:
        rows = band_index_maintain(spark, SF_DIR).collect()
        again = band_index_maintain(spark, SF_DIR).collect()
    finally:
        cache.release()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert len(rows) > 0
    assert sum(r["n_kept"] for r in rows) > 0
    for r in rows:
        assert r["n_redetected"] == r["n_kept"], r
        assert (r["bands_added"] > 0) == (r["n_kept"] > 0), r


def test_split_leakage_consistent_with_pair_list(spark):
    """The audit must partition the LSH pair list exactly: row totals
    equal the verified pair count, is_leakage marks precisely the
    cross-split rows, and labels are canonicalized (a <= b)."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import (
        dedup_minhash_lsh,
        split_leakage_check,
    )

    try:
        rows = split_leakage_check(spark, SF_DIR).collect()
        n_pairs = dedup_minhash_lsh(spark, SF_DIR).count()
    finally:
        cache.release()
    assert sum(r["n_dup_pairs"] for r in rows) == n_pairs > 0
    for r in rows:
        assert r["split_a"] <= r["split_b"]
        assert r["is_leakage"] == (r["split_a"] != r["split_b"])


def test_quality_keeplist_picks_best_member(spark, tmp_path):
    """Planted cluster where the LOWEST id is the WORST copy: the
    quality rule must keep the higher-quality member, the id rule the
    lower id — and exactly one member per cluster survives either way."""
    import pandas as pd

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.graph import (
        dedup_keeplist_quality,
        dedup_pipeline_keeplist,
    )

    # doc 0 and doc 1 are exact duplicates (one cluster); doc 0 has the
    # lower id.  doc 2 is unrelated filler.  Quality is equal for exact
    # dups, so extend doc 1 with high-quality filler?  No — exact dups
    # share text.  Instead: near-dups via shingles: doc 1 = doc 0 plus a
    # long high-quality tail (same 0.8+ Jaccard needs near-identical
    # shingle sets, hard to combine with a big quality gap) — use the
    # EXACT pair to pin determinism of the tie-break instead, and the
    # real-corpus divergence check for the quality behavior.
    base = " ".join(
        "the and for with that this from have was are one two three "
        "four five six seven eight nine ten".split()
    )
    texts = [base, base, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll"]
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    try:
        rows = {
            r["doc_id"]: r
            for r in dedup_keeplist_quality(spark, str(tmp_path)).collect()
        }
    finally:
        cache.release()
    # equal quality (identical text) -> tie-break keeps the LOWER id
    assert rows[0]["kept"] and not rows[1]["kept"]
    assert rows[0]["quality"] == rows[1]["quality"]
    assert rows[2]["kept"]  # singleton cluster keeps itself

    # real-corpus divergence: the quality rule must actually move some
    # survivors relative to the id rule, with one survivor per cluster
    # either way
    from pyspark.sql import functions as F

    try:
        kq = dedup_keeplist_quality(spark, SF_DIR)
        ki = dedup_pipeline_keeplist(spark, SF_DIR)
        n_kq = kq.where("kept").count()
        n_ki = ki.where("kept").count()
        moved = (
            kq.select("doc_id", F.col("kept").alias("a"))
            .join(ki.select("doc_id", F.col("kept").alias("b")), "doc_id")
            .where(F.col("a") != F.col("b"))
            .count()
        )
    finally:
        cache.release()
    assert n_kq == n_ki  # one survivor per cluster under both rules
    assert moved > 0 and moved % 2 == 0  # swaps come in pairs


def test_index_compact_matches_oracle(spark, duck):
    from map_reduce_framework_spark.operators.dedup import ORACLES, dedup_index_compact

    assert_matches_oracle(
        spark,
        duck,
        dedup_index_compact,
        ORACLES["dedup_index_compact"],
        "dedup_index_compact",
    )


def test_index_compact_is_rerun_idempotent(spark):
    """Every compaction write is overwrite-mode with deterministic
    content — running it twice must not change the next base."""
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import dedup_index_compact

    try:
        first = sorted(map(tuple, dedup_index_compact(spark, SF_DIR).collect()))
        second = sorted(map(tuple, dedup_index_compact(spark, SF_DIR).collect()))
    finally:
        cache.release()
    assert first == second and len(first) > 0


def test_index_compact_tombstones_make_fold_equal_rebuild(spark, tmp_path):
    """The case the shipped SFs never exercise (max df 25 < cap 100):
    a gram whose OLD df crosses NGRAM_DF_CAP is capped out of the base,
    so the index alone cannot tell its delta postings from a genuinely
    new gram's — without the tombstone set the fold would KEEP them
    (delta df ≤ cap) while a from-scratch rebuild drops them (union df
    > cap).  Plant exactly that: a 3-gram shared by ~150 docs (> cap in
    the old split alone), and assert the compacted table is row-equal
    to a from-scratch rebuild over old ∪ kept raw postings."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators import dedup
    from map_reduce_framework_spark.operators.dedup import (
        GRAM_INDEX_COMPACT_TABLE,
        GRAM_INDEX_DELTA_TABLE,
        NGRAM_DF_CAP,
        _gram_overcap_name,
        _incr_is_new,
        _shingled_docs,
        dedup_index_compact,
        fan_out,
    )
    from map_reduce_framework_spark.sources import load_table
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    n = 200
    texts = [
        (f"f{i} g{i} shared gram here t{i}" if i < 150
         else f"f{i} g{i} u{i} v{i} w{i} t{i}")
        for i in range(n)
    ]
    pd.DataFrame(
        {
            "doc_id": range(n),
            "text": texts,
            "lang": ["en"] * n,
            "source": [f"src{i % 3}" for i in range(n)],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    sf_dir = str(tmp_path)

    try:
        out = dedup_index_compact(spark, sf_dir)
        out.collect()  # force the writes

        tomb = spark.table(_gram_overcap_name(sf_dir))
        assert tomb.count() >= 1, "planted over-cap gram not tombstoned"

        compacted = spark.table(
            fingerprinted_table_name(GRAM_INDEX_COMPACT_TABLE, sf_dir, "documents")
        )
        delta = spark.table(
            fingerprinted_table_name(GRAM_INDEX_DELTA_TABLE, sf_dir, "documents")
        )
        # from-scratch rebuild: raw old postings ∪ kept-batch postings
        # (the delta IS the kept docs' raw postings), capped on union df
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        raw_old = _shingled_docs(
            docs.where(~_incr_is_new()), with_hashes=True
        ).select("doc_id", F.explode("gh").alias("g"))
        raw = raw_old.unionByName(delta)
        dfs = raw.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        rebuilt = (
            raw.join(dfs.where(F.col("df") > NGRAM_DF_CAP), "g", "left_anti")
        )
        got = sorted(map(tuple, compacted.select("doc_id", "g").collect()))
        want = sorted(map(tuple, rebuilt.select("doc_id", "g").collect()))
        assert got == want and len(got) > 0
        # and the planted gram is gone from the compacted index entirely
        shared_g = dedup.hash60(F.lit("shared gram here"))
        shared_val = (
            spark.range(1).select(shared_g.alias("g")).collect()[0]["g"]
        )
        assert compacted.where(F.col("g") == shared_val).count() == 0
        assert delta.where(F.col("g") == shared_val).count() > 0, (
            "fixture must plant tombstoned-gram postings in the delta "
            "(otherwise the tombstone path is vacuous)"
        )
    finally:
        cache.release()


def test_suffix_spans_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark,
        duck,
        dedup.dedup_suffix_spans,
        dedup.ORACLES["dedup_suffix_spans"],
        "dedup_suffix_spans",
    )


def test_span_clip_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark,
        duck,
        dedup.dedup_span_clip,
        dedup.ORACLES["dedup_span_clip"],
        "dedup_span_clip",
    )


def test_span_clip_keeps_canonical_and_clips_foreign(spark, tmp_path):
    """Span-removal semantics: the canonical (first doc, first offset)
    occurrence of a duplicated span survives verbatim; every other
    occurrence is clipped out of the rewritten text; clean docs pass
    their original text through untouched."""
    import pandas as pd

    from map_reduce_framework_spark.operators.dedup import dedup_span_clip

    planted = "zebra quark nimbus fjord glyph vortex plinth"  # 7 words
    span_w = len(planted.split())

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    texts = [
        f"{filler('a', 5)} {planted} {filler('b', 9)}",  # canonical
        f"{filler('c', 3)} {planted} {filler('d', 11)}",  # foreign copy
        filler("e", 20),  # clean doc
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    )
    sf_dir = tmp_path / "sf_clip"
    sf_dir.mkdir()
    pdf.to_parquet(sf_dir / "documents.parquet", index=False)

    rows = {
        r["doc_id"]: (r["n_words"], r["n_clipped"], r["clipped_text"])
        for r in dedup_span_clip(spark, str(sf_dir)).collect()
    }
    # doc 0 holds the canonical occurrence: untouched, original text
    assert rows[0] == (21, 0, texts[0])
    # doc 1's copy is foreign: exactly the 7 span words removed
    assert rows[1] == (21, span_w, f"{filler('c', 3)} {filler('d', 11)}")
    # doc 2 is clean: passes through
    assert rows[2] == (20, 0, texts[2])


def test_span_clip_self_repetition_keeps_first_occurrence(spark, tmp_path):
    """Same-document repetition (the count ≥ 2 rule includes
    self-repeats, per the paper): the FIRST copy inside the doc is
    canonical and survives; the second copy is clipped."""
    import pandas as pd

    from map_reduce_framework_spark.operators.dedup import dedup_span_clip

    span = "zebra quark nimbus fjord glyph vortex"  # exactly L = 6 words
    mid = " ".join(f"m{i}" for i in range(7))
    tail = " ".join(f"t{i}" for i in range(5))
    text = f"{span} {mid} {span} {tail}"  # span at offs 0 and 13
    pdf = pd.DataFrame(
        {
            "doc_id": [0],
            "text": [text],
            "lang": ["en"],
            "source": ["t"],
            "n_chars": [len(text)],
        }
    )
    d = tmp_path / "sf_self"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet", index=False)

    [r] = dedup_span_clip(spark, str(d)).collect()
    assert (r["n_words"], r["n_clipped"]) == (24, 6)
    assert r["clipped_text"] == f"{span} {mid} {tail}"


def test_suffix_spans_find_sub_gram_width_planted_span(spark, tmp_path):
    """The round-11 contract: a duplicated span of 7 words — at or
    above SUFFIX_SPAN_MIN_WORDS but BELOW dedup_exact_substring's
    SUBSTR_WINDOW — must be found with exact word boundaries by the
    prefix-doubling pass and missed entirely by the gram pass (whose
    digest width floors its sensitivity)."""
    import pandas as pd

    from map_reduce_framework_spark.operators.dedup import (
        SUBSTR_WINDOW,
        SUFFIX_SPAN_MIN_WORDS,
        dedup_exact_substring,
        dedup_suffix_spans,
    )

    planted = "zebra quark nimbus fjord glyph vortex plinth"  # 7 words
    span_w = len(planted.split())
    assert SUFFIX_SPAN_MIN_WORDS <= span_w < SUBSTR_WINDOW

    # unique filler words everywhere else: no other window repeats
    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    texts = [
        f"{filler('a', 5)} {planted} {filler('b', 9)}",  # span at off 5
        f"{filler('c', 3)} {planted} {filler('d', 11)}",  # span at off 3
        filler("e", 20),  # clean doc
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    )
    sf_dir = tmp_path / "sf_planted"
    sf_dir.mkdir()
    pdf.to_parquet(sf_dir / "documents.parquet", index=False)

    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup_suffix_spans(spark, str(sf_dir)).collect()
    }
    n_win = span_w - SUFFIX_SPAN_MIN_WORDS + 1
    assert spans == {
        0: (5, 5 + span_w, n_win),
        1: (3, 3 + span_w, n_win),
    }, spans

    # the 10-word gram pass sees nothing: no duplicated 10-word window
    assert dedup_exact_substring(spark, str(sf_dir)).count() == 0


def test_band_index_compact_matches_oracle(spark, duck):
    from map_reduce_framework_spark.operators.dedup import (
        ORACLES,
        band_index_compact,
    )

    assert_matches_oracle(
        spark,
        duck,
        band_index_compact,
        ORACLES["band_index_compact"],
        "band_index_compact",
    )


def test_band_index_compact_store_fold_matches_band_table(spark):
    """The compacted doc-keyed shingle store must agree with the
    compacted band table: same doc set, one store row per doc, and each
    doc's array size equal to the n_sh the band rows carry (round-11
    ADVICE: the store write was previously unread by any check, so a
    wrong fold — dropped or duplicated doc rows — went undetected)."""
    from pyspark.sql import functions as F

    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import (
        BAND_INDEX_COMPACT_TABLE,
        BAND_SIG_COMPACT_TABLE,
        band_index_compact,
    )
    from map_reduce_framework_spark.sources.bucketing import (
        fingerprinted_table_name,
    )

    try:
        band_index_compact(spark, SF_DIR).collect()  # materialize both folds
    finally:
        cache.release()
    band = spark.table(
        fingerprinted_table_name(BAND_INDEX_COMPACT_TABLE, SF_DIR, "documents")
    )
    store = spark.table(
        fingerprinted_table_name(BAND_SIG_COMPACT_TABLE, SF_DIR, "documents")
    )
    n_docs = store.select("doc_id").distinct().count()
    assert n_docs > 0
    assert store.count() == n_docs, "store fold duplicated doc rows"
    expected = band.select("doc_id", "n_sh").distinct()
    got = store.select("doc_id", F.size("sh").alias("n_sh"))
    # symmetric difference: any doc missing from either side, or with a
    # diverging shingle count, surfaces as a row
    assert (
        got.exceptAll(expected).union(expected.exceptAll(got)).count() == 0
    ), "compacted store (doc_id, size(sh)) diverges from band table (doc_id, n_sh)"


def test_band_index_compact_is_rerun_idempotent(spark):
    from map_reduce_framework_spark import cache
    from map_reduce_framework_spark.operators.dedup import band_index_compact

    try:
        first = sorted(map(tuple, band_index_compact(spark, SF_DIR).collect()))
        second = sorted(map(tuple, band_index_compact(spark, SF_DIR).collect()))
    finally:
        cache.release()
    assert first == second and len(first) > 0


def test_fuzzy_edit_pairs_planted_typos(spark, tmp_path):
    """Planted-edit contract: titles at Levenshtein distance 1 and 2
    are found with the exact distance, distance 3 is excluded, and an
    unrelated title pairs with nothing — through the REAL Ed-Join
    prefix blocking, not a brute-force shortcut."""
    from map_reduce_framework_spark.operators.dedup import (
        FUZZY_TITLE_LEN,
        fuzzy_edit_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog etc"[:FUZZY_TITLE_LEN]
    rows = [
        (0, base),
        (1, base[:10] + "x" + base[11:]),          # 1 substitution
        (2, base[:5] + "xy" + base[7:]),           # 2 substitutions
        (3, base[:5] + "xyz" + base[8:]),          # 3 substitutions
        (4, "completely different title text entirely here"),
    ]
    docs = spark.createDataFrame(
        [(i, t + " filler" * 5, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # fuzzy_edit_pairs loads via load_table(sf_dir, "documents") — write
    # the parquet under the expected name
    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_edit_pairs(spark, sf).collect()
    }
    assert got[(0, 1)] == 1
    assert got[(0, 2)] == 2
    assert (0, 3) not in got  # distance 3 exceeds FUZZY_MAX_ED
    assert all(4 not in pair for pair in got)
    assert all(dist <= 2 for dist in got.values())


# --------------------------------------------------------------------------
# round 12: sampled LSH-recall governance audit
# --------------------------------------------------------------------------


def _recall_h60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _recall_bands(sh: set[str]) -> set[tuple]:
    """Band-key set for a shingle set — the engine's exact arithmetic
    (60-bit md5 → mod-PRIME → 12 affine mins → 4 bands of 3),
    re-implemented independently for the fixture search."""
    hs = [_recall_h60(s) % dedup.MINHASH_PRIME for s in sh]
    sig = [
        min((h * a + b) % dedup.MINHASH_PRIME for h in hs)
        for a, b in dedup.MINHASH_COEFFS
    ]
    return {tuple(sig[i * 3 : (i + 1) * 3]) for i in range(dedup.LSH_BANDS)}


def test_recall_audit_pins_a_genuinely_missed_pair(spark, tmp_path):
    """Construct a pair with exact Jaccard ≥ 0.8 whose signatures share
    NO band (searched with the engine's own md5/affine arithmetic) —
    the screen must miss it, the audit must report it, and an identical
    planted pair must still be caught: recall lands at exactly 1/2 with
    worst_missed_jaccard naming the miss."""
    import math

    def shingle_set(text):
        t = text.split(" ")
        return set(" ".join(t[i : i + 3]) for i in range(len(t) - 2))

    missed = None
    for seed in range(2000):
        words = [f"w{seed}x{k}" for k in range(30)]
        a = " ".join(words)
        wb = list(words)
        wb[15] = f"z{seed}q"
        b = " ".join(wb)
        sa, sb = shingle_set(a), shingle_set(b)
        j = math.floor(len(sa & sb) / len(sa | sb) * 1e4 + 0.5) / 1e4
        if j < dedup.JACCARD_THRESHOLD:
            continue
        if _recall_bands(sa).isdisjoint(_recall_bands(sb)):
            missed = (a, b, j)
            break
    assert missed, "no band-disjoint near-dup pair found in 2000 seeds"
    a, b, j_missed = missed

    # fixture corpora are far below RECALL_SAMPLE_TARGET·1e6/400000 =
    # 2500 docs, so the engine's per-million threshold sits at the 400k
    # floor
    in_sample = (
        lambda i: _recall_h60(f"recall:{i}") % 1_000_000
        < dedup.RECALL_SAMPLE_PERMILLE * 1000
    )
    ids = [i for i in range(200) if in_sample(i)]
    out = next(i for i in range(200) if not in_sample(i))
    ident = " ".join(f"same{k}" for k in range(30))
    rows = {
        ids[0]: a,  # the engineered miss, both endpoints sampled
        ids[1]: b,
        ids[2]: ident,  # identical pair: every band shared → caught
        ids[3]: ident,
        ids[4]: " ".join(f"solo{k}" for k in range(30)),  # clean filler
        out: a,  # a copy OUTSIDE the sample: must not join the audit
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(rows),
            "text": list(rows.values()),
            "lang": ["en"] * len(rows),
            "source": ["t"] * len(rows),
            "n_chars": [len(t) for t in rows.values()],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)

    (row,) = dedup.dedup_recall_audit(spark, str(tmp_path)).collect()
    assert row["n_sample_docs"] == 5
    assert row["n_true_pairs"] == 2
    assert row["n_caught"] == 1 and row["n_missed"] == 1
    assert row["recall"] == 0.5
    assert row["worst_missed_jaccard"] == j_missed

    # consistency: the screen itself really does not report the pair
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    assert (min(ids[0], ids[1]), max(ids[0], ids[1])) not in lsh
    assert (min(ids[2], ids[3]), max(ids[2], ids[3])) in lsh


def test_recall_audit_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark,
        duck,
        dedup.dedup_recall_audit,
        dedup.ORACLES["dedup_recall_audit"],
        "dedup_recall_audit",
    )


def test_recall_audit_prefix_filter_is_lossless(spark, tmp_path):
    """The PPJoin-style prefix candidate generator must lose NO true
    pair: on a seeded corpus engineered to straddle the 0.8 boundary
    (shared vocab chunks of varying overlap, plus hot shingles shared
    by EVERY doc so rarity-ordering actually matters), the audit's
    n_true_pairs must equal an independent brute-force count."""
    import math

    # fixture corpora are far below RECALL_SAMPLE_TARGET·1e6/400000 =
    # 2500 docs, so the engine's per-million threshold sits at the 400k
    # floor
    in_sample = (
        lambda i: _recall_h60(f"recall:{i}") % 1_000_000
        < dedup.RECALL_SAMPLE_PERMILLE * 1000
    )
    ids = [i for i in range(400) if in_sample(i)][:40]
    # 4 hot + 36 body words; even docs = the identical base (J = 1
    # pairs), odd docs = one doc-specific substitution (≈0.85 vs the
    # base — above the bar; odd-odd pairs differ in two places ≈0.72 —
    # below), so the truth set straddles the threshold and the hot
    # shingles shared by EVERY doc make rarity-ordering load-bearing
    base = ["hot0", "hot1", "hot2", "hot3"] + [f"tok{k}" for k in range(36)]
    texts = {}
    for j, i in enumerate(ids):
        words = list(base)
        if j % 2 == 1:
            words[10 + (j % 20)] = f"u{j}"
        texts[i] = " ".join(words)

    def sh_set(t):
        w = t.split(" ")
        return {" ".join(w[k : k + 3]) for k in range(len(w) - 2)}

    expect = 0
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sh_set(texts[ids[x]]), sh_set(texts[ids[y]])
            j = math.floor(len(a & b) / len(a | b) * 1e4 + 0.5) / 1e4
            if j >= dedup.JACCARD_THRESHOLD:
                expect += 1

    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    (row,) = dedup.dedup_recall_audit(spark, str(tmp_path)).collect()
    assert row["n_sample_docs"] == len(ids)
    assert expect > 0, "fixture must contain true pairs"
    assert row["n_true_pairs"] == expect


def test_ppjoin_predicates_no_int32_wrap_at_production_lengths(spark):
    """Round-13 advice regression pin: the PPJoin prefix/positional
    predicates must evaluate in BIGINT.  At n_sh = 110,000 (a ~110k-token
    production document) int32 `n_sh * 20005` wraps NEGATIVE, which
    would make the prefix bound negative (no postings survive → true
    pairs silently dropped).  Evaluate the EXACT production predicate
    strings against Python integer arithmetic at boundary and
    production scales."""
    from map_reduce_framework_spark.operators.dedup import (
        PPJOIN_POSITIONAL_PRED,
        PPJOIN_PREFIX_PRED,
    )

    cases = [(54, 11), (107_000, 21_405), (110_000, 22_006), (500_000, 100_026)]
    rows = [(n, r) for n, _ in cases for r in (1, (n * 20005) // 100000 + 1,
                                               (n * 20005) // 100000 + 2)]
    df = spark.createDataFrame(rows, "n_sh int, r int")
    got = {
        (row["n_sh"], row["r"])
        for row in df.where(PPJOIN_PREFIX_PRED).collect()
    }
    for n, r in rows:
        expect = r <= (n * 20005) // 100000 + 1  # exact Python ints
        assert ((n, r) in got) == expect, (n, r)

    # positional filter: a genuinely near-identical 110k-shingle pair
    # (first common token at r=1) MUST survive; with int32 wrap the
    # alpha bound goes negative-garbage.  Also check a pair the exact
    # bound rejects.
    a = spark.createDataFrame(
        [(110_000, 1), (110_000, 50_000)], "n_sh int, r int"
    ).alias("a")
    b = spark.createDataFrame([(110_000, 1)], "n_sh int, r int").alias("b")
    kept = a.crossJoin(b).where(PPJOIN_POSITIONAL_PRED).collect()
    alpha = (79995 * (110_000 + 110_000) + 179994) // 179995
    assert any(row["a.r" if "a.r" in row else "r"] is not None for row in kept)
    surv = {row[1] for row in kept}  # a.r values that survived
    assert 1 in surv, "first-common-token row must survive the bound"
    expect_50k = 1 + min(110_000 - 50_000, 110_000 - 1) >= alpha
    assert (50_000 in surv) == expect_50k


def test_dedup_url_canonicalizes_planted_variants(spark):
    """Arms 0–2 of each planted group must collapse to ONE canonical
    URL (group size 3, keep_id = the arm-0 doc), arms 3–4 must stay
    unique — and each arm's specific noise (case, www, default port,
    fragment, utm params, param order, trailing slash) must be gone."""
    from map_reduce_framework_spark.operators.dedup import dedup_url

    from .conftest import SF_DIR

    rows = dedup_url(spark, SF_DIR).collect()
    by_url = {r["canon_url"]: r for r in rows}
    # arm 0-2 group for g=1 (docs 5,6,7)
    g1 = by_url["https://example1.com/a/1?id=1&ref=home"]
    assert g1["keep_id"] == 5 and g1["n_variants"] == 3
    # arm 3 (doc 8): scheme+host lowered, :80 stripped, unique
    u3 = by_url["http://news.example8.org/b/8?id=8"]
    assert u3["keep_id"] == 8 and u3["n_variants"] == 1
    # arm 4 (doc 9): trailing slash folded, no query, unique
    u4 = by_url["https://example9.com/c/9"]
    assert u4["keep_id"] == 9 and u4["n_variants"] == 1
    # no canonical URL retains any spelling noise
    assert not any(
        "#" in u or "utm_" in u or ":443" in u or ":80" in u
        or "www." in u or u != u.lower() or u.rstrip("/") != u
        for u in by_url
    )
    # every group is ≤ 3 and the multiset of sizes is exactly the plant
    n_docs = sum(r["n_variants"] for r in rows)
    n_groups3 = sum(1 for r in rows if r["n_variants"] == 3)
    assert n_groups3 >= n_docs // 5 - 1  # one per full 5-arm group


def test_dedup_url_matches_oracle(spark, duck):
    from map_reduce_framework_spark.operators.dedup import ORACLES, dedup_url

    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        spark, duck, dedup_url, ORACLES["dedup_url"], "dedup_url"
    )


def test_scan_partitions_matches_rdd_truth(spark, tmp_path):
    """scan_partitions must equal the exact plan->RDD partition count
    across the shipped single-file layouts, a many-small-files layout, a
    forced multi-chunk split of one larger file, and a table rewritten
    at the same path with another file count: a memoized count is never
    served for other files or other split confs."""
    from map_reduce_framework_spark.sources import load_table
    from map_reduce_framework_spark.sources.tables import scan_partitions

    from .conftest import SF_DIR

    def check(df, label):
        est = scan_partitions(df)
        truth = df.rdd.getNumPartitions()
        assert est == truth, f"{label}: estimate {est} != truth {truth}"

    # shipped layouts (one parquet file per table at test SFs)
    for table in ("documents", "lineitem", "events", "embeddings"):
        check(load_table(spark, SF_DIR, table), table)

    # many-small-files layout: 40 tiny files — the greedy pack charges
    # openCostInBytes per file, so the naive byte-ratio bound diverges
    many = str(tmp_path / "many_small")
    spark.range(4000).repartition(40).write.parquet(many)
    check(spark.read.parquet(many), "40 small files")
    spark.conf.set("spark.sql.files.minPartitionNum", "3")
    try:
        check(spark.read.parquet(many), "40 small files, minPartitionNum=3")
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

    # the same path rewritten with another file count is counted again
    spark.range(4000).repartition(3).write.mode("overwrite").parquet(many)
    check(spark.read.parquet(many), "rewritten as 3 files")

    # chunked split: one file larger than a shrunken maxPartitionBytes
    one = str(tmp_path / "one_chunky")
    spark.range(200_000).coalesce(1).write.parquet(one)
    check(spark.read.parquet(one), "default confs")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        check(spark.read.parquet(one), "chunk-split file")
        # and with an explicit minPartitionNum (the conf Spark consults
        # before defaultParallelism)
        spark.conf.set("spark.sql.files.minPartitionNum", "3")
        check(spark.read.parquet(one), "minPartitionNum=3")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.unset("spark.sql.files.minPartitionNum")

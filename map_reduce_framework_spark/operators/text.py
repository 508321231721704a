"""Text-analysis operators for training-data pipelines over ``documents``.

Pure Column expressions (codegen'd, scan-pushed) except the stopword
counting, which runs in one shared Arrow kernel
(:func:`_stopword_counts`) per the repo rule that hot paths avoid
interpreted higher-order functions.  All have DuckDB oracles:

- :func:`text_stats` — length/token/uniqueness statistics
- :func:`quality_score` — composite quality heuristic + bucket
- :func:`lang_id` — stopword-list language scoring (argmax with
  alphabetical tie-break).  NOTE: honest about the synthetic corpus — all
  languages share one vocabulary, so the predictor is deterministic but
  uninformative here; the operator's value is the (portable) scoring
  plumbing.
- :func:`token_count_bpe` — regex "BPE-ish" tokenizer count (letter runs,
  digit runs, single punctuation — the classic pre-tokenizer split)
- :func:`doc_fingerprint` — bottom-k sketch of shingle hashes (a
  deterministic, mergeable document fingerprint: equal docs ⇒ equal
  sketches; near-dup docs ⇒ overlapping sketches)

The reference has no text operators beyond substring containment
(Search.cpp:223); these are mandated extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import rnd, rnd_sql
from ..sources import load_table
from .dedup import fan_out, shingles

#: per-language stopword lists for the scoring heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "to", "and", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
    "zh": ("的", "是", "不", "了", "在", "人", "有"),
}

#: regex for the BPE-ish pre-tokenizer (portable Java/RE2 subset)
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

FINGERPRINT_K = 4


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document length/token statistics."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "lang",
        F.length(F.col("text")).alias("n_chars_actual"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        rnd(F.expr(
                "aggregate(split(text, ' '), CAST(0 AS DOUBLE),"
                " (acc, t) -> acc + length(t)) / size(split(text, ' '))"
            ), 4).alias("avg_token_len"),
    ).orderBy("doc_id")


def _stopword_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, n_uniq_tokens, s_<lang>…) in ONE Arrow
    pass.

    Replaces the previous per-language interpreted ``filter(split(...))``
    higher-order functions (HOFs run row-at-a-time through the
    interpreted projection — the repo's Arrow-kernel rule, same move as
    the dedup signature pass, measured ~4× there).  One batch pass
    tokenizes each doc once and counts membership against all five
    frozen stopword sets; downstream scoring stays pure Column exprs.

    Round-15 (guide §4.2): ``mapInArrow`` + vectorized segment ops
    instead of ``mapInPandas`` + a per-document Python loop.  The
    tokenize (``split_pattern``), membership (``is_in``) and
    dictionary-encode run in Arrow C++ over the whole batch; the
    per-document reductions are numpy ``bincount``/``unique`` over the
    flattened (token, parent-index) arrays.  Token semantics are
    unchanged: ``split_pattern(text, " ")`` produces exactly
    ``text.split(" ")`` (consecutive delimiters yield empty tokens, an
    empty text yields ``[""]``), membership counts OCCURRENCES, and
    ``n_uniq`` counts distinct token strings per document — pinned
    bit-for-bit against the old kernel by
    ``tests/test_cleaning.py::test_stopword_gopher_kernels_match_python``.
    """
    langs = sorted(LANG_STOPWORDS)

    def batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        sets = {
            lang: pa.array(sorted(LANG_STOPWORDS[lang])) for lang in langs
        }
        for rb in it:
            n = rb.num_rows
            tok = pc.split_pattern(rb.column("text"), " ")
            flat = pc.list_flatten(tok)
            parent = pc.list_parent_indices(tok).to_numpy()
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy()
            k = max(len(enc.dictionary), 1)
            # distinct tokens per doc: unique (parent, code) pairs,
            # folded into one int64 key (parent < batch rows, code < k)
            uniq_parents = np.unique(parent * np.int64(k) + codes) // k
            cols = {
                "doc_id": rb.column("doc_id"),
                "lang": rb.column("lang"),
                "n_tokens": pc.list_value_length(tok),
                "n_uniq_tokens": pa.array(
                    np.bincount(uniq_parents, minlength=n).astype(np.int32)
                ),
            }
            for lang in langs:
                mask = pc.is_in(flat, value_set=sets[lang]).to_numpy(
                    zero_copy_only=False
                )
                cols[f"s_{lang}"] = pa.array(
                    np.bincount(parent[mask], minlength=n).astype(np.int32)
                )
            yield pa.RecordBatch.from_pydict(cols)

    schema = "doc_id bigint, lang string, n_tokens int, n_uniq_tokens int, " + ", ".join(
        f"s_{lang} int" for lang in langs
    )
    return docs.select("doc_id", "lang", "text").mapInArrow(batches, schema)


def quality_expr():
    """Composite quality Column over :func:`_stopword_counts` output:
    stopword ratio + length saturation + lexical diversity."""
    stop_ratio = F.col("s_en") / F.col("n_tokens").cast("double")
    len_sat = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    diversity = F.col("n_uniq_tokens") / F.col("n_tokens").cast("double")
    return rnd(0.3 * stop_ratio + 0.4 * len_sat + 0.3 * diversity, 4)


def quality_bucket_expr(quality_col):
    """high/mid/low bucket for a quality Column."""
    return (
        F.when(quality_col >= 0.6, "high")
        .when(quality_col >= 0.4, "mid")
        .otherwise("low")
    )


def pred_lang_expr():
    """argmax language Column over :func:`_stopword_counts` output
    (alphabetical tie-break: the CASE chain checks langs in order)."""
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred_expr = None
    for l in langs:
        cond = F.col(f"s_{l}") == best
        pred_expr = (
            F.when(cond, F.lit(l)) if pred_expr is None else pred_expr.when(cond, F.lit(l))
        )
    return pred_expr


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic: stopword ratio + length saturation +
    lexical diversity, bucketed high/mid/low.  Counting runs in the
    shared Arrow kernel (:func:`_stopword_counts`); scoring is Column
    arithmetic."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = _stopword_counts(docs)
    return (
        counts.select("doc_id", quality_expr().alias("quality"))
        .withColumn("quality_bucket", quality_bucket_expr(F.col("quality")))
        .orderBy("doc_id")
    )


#: Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language
#: Models: ... Gopher", Table A1 — adapted to the synthetic corpus's
#: 10-99-word documents so each rule has live signal).  Documents must:
GOPHER_MIN_WORDS = 20  #: have at least this many words (Gopher: 50)
GOPHER_MAX_WORDS = 1000  #: ... and at most this many (Gopher: 100k)
GOPHER_MEAN_LEN_RANGE = (3.0, 10.0)  #: mean word length in chars
GOPHER_MIN_ALPHA_FRAC = 0.8  #: fraction of words with an alphabetic char
GOPHER_MIN_STOPWORDS = 2  #: distinct English stopwords present
GOPHER_MAX_SYMBOL_FRAC = 0.1  #: fraction of pure-symbol words


def _gopher_counts(docs: DataFrame) -> DataFrame:
    """One Arrow pass computing every count the Gopher rules need —
    same kernel shape as :func:`_stopword_counts` (the repo's rule:
    per-token work happens in numpy/pandas batches, not interpreted
    Catalyst HOFs)."""
    def batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        stop_en = pa.array(sorted(LANG_STOPWORDS["en"]))
        for rb in it:
            n = rb.num_rows
            tok = pc.split_pattern(rb.column("text"), " ")
            flat = pc.list_flatten(tok)
            parent = pc.list_parent_indices(tok).to_numpy()
            # Round-15 (guide §4.2): vectorized segment reductions over
            # the flattened token array replace the per-document Python
            # loop; regex/membership kernels run in Arrow C++ (RE2
            # search semantics == re.search / anchored re.match here).
            lens = pc.utf8_length(flat).to_numpy()
            alpha = pc.match_substring_regex(flat, "[a-zA-Z]").to_numpy(
                zero_copy_only=False
            )
            symbol = pc.match_substring_regex(
                flat, "^[^a-zA-Z0-9]+$"
            ).to_numpy(zero_copy_only=False)
            stop = pc.is_in(flat, value_set=stop_en).to_numpy(
                zero_copy_only=False
            )
            # n_stop counts DISTINCT stopwords present (the old kernel's
            # set.intersection) — dedupe (parent, code) among stop hits
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy()
            k = max(len(enc.dictionary), 1)
            stop_parents = (
                np.unique(parent[stop] * np.int64(k) + codes[stop]) // k
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": rb.column("doc_id"),
                    "n_words": pc.list_value_length(tok).cast(pa.int64()),
                    "sum_len": pa.array(
                        np.bincount(
                            parent, weights=lens, minlength=n
                        ).astype(np.int64)
                    ),
                    "n_alpha": pa.array(
                        np.bincount(parent[alpha], minlength=n).astype(
                            np.int64
                        )
                    ),
                    "n_stop": pa.array(
                        np.bincount(stop_parents, minlength=n).astype(
                            np.int64
                        )
                    ),
                    "n_symbol": pa.array(
                        np.bincount(parent[symbol], minlength=n).astype(
                            np.int64
                        )
                    ),
                }
            )

    return docs.select("doc_id", "text").mapInArrow(
        batches,
        "doc_id bigint, n_words long, sum_len long, n_alpha long, "
        "n_stop long, n_symbol long",
    )


def quality_filter_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: one boolean per rule plus
    the overall keep decision.

    Unlike :func:`quality_score` (a soft composite), this is the
    hard-gate family production corpora actually ship through — each
    document either passes every rule or records exactly which ones it
    failed (the per-rule flags are what a curation dashboard aggregates).
    Map-only: counting is one Arrow pass, the rules are Column
    arithmetic, and there is NO shuffle — at 100 TB this filter runs at
    scan speed, the honest cost model for a narrow per-document gate.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    c = _gopher_counts(docs)
    nw = F.col("n_words").cast("double")
    mean_len = F.col("sum_len") / nw
    lo, hi = GOPHER_MEAN_LEN_RANGE
    rules = {
        "r_word_count": (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (mean_len >= lo) & (mean_len <= hi),
        "r_alpha_frac": F.col("n_alpha") / nw >= GOPHER_MIN_ALPHA_FRAC,
        "r_stopwords": F.col("n_stop") >= GOPHER_MIN_STOPWORDS,
        "r_symbol_frac": F.col("n_symbol") / nw <= GOPHER_MAX_SYMBOL_FRAC,
    }
    out = c.select(
        "doc_id",
        "n_words",
        rnd(mean_len, 4).alias("mean_word_len"),
        *[expr.alias(name) for name, expr in rules.items()],
    )
    n_failed = sum(
        F.when(~F.col(name), 1).otherwise(0) for name in rules
    ).cast("long")
    return (
        out.withColumn("n_rules_failed", n_failed)
        .withColumn("keep", F.col("n_rules_failed") == 0)
        .orderBy("doc_id")
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-count language scoring; argmax, alphabetical tie-break.
    Counting runs in the shared Arrow kernel (:func:`_stopword_counts`)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = _stopword_counts(docs)
    pred = pred_lang_expr()
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    ).orderBy("doc_id")


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts per doc + whitespace-token baseline."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_uniq_bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
    ).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest shingle hashes, joined
    into a stable string key.  Equal fingerprints ⇒ near-certain dup;
    at scale this is a groupable/joinable dedup key (mergeable sketch)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashes = F.expr(
        "transform(sh, s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT))"
    )
    return (
        docs.select("doc_id", shingles().alias("sh"))
        .select("doc_id", F.slice(F.array_sort(hashes), 1, FINGERPRINT_K).alias("bk"))
        .select(
            "doc_id",
            F.concat_ws(
                "-", F.expr("transform(bk, x -> CAST(x AS STRING))")
            ).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


#: ngram_topk: top-N corpus grams by document frequency
NGRAM_TOP_N = 20

#: stratified_sample: keep-permille per stratum (10%)
STRATA_PERMILLE = 100


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-N word-3-grams by document frequency.

    The per-doc shingle set is distinct (dedup.shingles), so a plain
    count after explode IS the document frequency.  Partial aggregation
    makes the shuffle carry (gram, partial-count) pairs — at 100 TB this
    is the canonical map-side-combine rollup, and the top-N cut is a
    TakeOrderedAndProject (no global sort materialization).  Ties at the
    boundary break by gram ascending so the result is deterministic
    across engines.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(shingles()).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("gram"))
        .limit(NGRAM_TOP_N)
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample of ``documents`` per language,
    summarized per stratum.

    The keep decision is a pure function of (lang, doc_id) via the
    shared md5-60bit hash — reproducible across engines and runs (unlike
    TABLESAMPLE), stable under repartitioning, and evaluable at the scan
    (predicate on hash of key columns; no shuffle before the filter).
    The per-stratum aggregate keeps the oracle row set small and checks
    both membership and payload stats.
    """
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    key = F.concat_ws(":", F.col("lang"), F.col("doc_id"))
    return (
        docs.where(hash60(key) % 1000 < STRATA_PERMILLE)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            rnd(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


#: pack_sequences: whitespace-token budget per training sequence
PACK_TOKEN_BUDGET = 64

#: pack_sequences: doc_id bucket width for the distributed prefix sum —
#: each (source, bucket) cumsum task sees at most this many ids' rows,
#: and the bucket-level prefix table carries |id-range|/width rows
PACK_ID_BUCKET = 1000

#: contamination_check: benchmark = 3-gram set of docs with doc_id < this
CONTAM_BENCHMARK_DOCS = 5
#: flag a doc as contaminated at >= this many shared distinct grams
CONTAM_MIN_SHARED = 3


#: chunk_documents: context-window length and stride (tokens).  Stride <
#: window ⇒ overlapping chunks, the standard LM context-window prep.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

#: bm25_topk: fixed query terms (corpus-vocabulary words so scores are
#: non-vacuous), Okapi parameters, and result size
BM25_QUERY_TERMS = ("spark", "shuffle", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_N = 25


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: score every document against the fixed
    ``BM25_QUERY_TERMS`` and return the top ``BM25_TOP_N``  (Lucene's
    idf variant, ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Corpus side: one token explode feeding per-(doc, term) tf restricted
    to the |Q| query terms (the filter evaluates AT the explode, so only
    query-term hits ever shuffle) and a |Q|-row df table; doc lengths are
    a narrow projection and avgdl a broadcast scalar — the same
    vocabulary-not-corpus shuffle shape as tf-idf.  Per-term partial
    scores are pivoted into FIXED columns and added in a fixed order, so
    the float sum is bit-reproducible across engines and partitionings
    (a float SUM over a group has no deterministic order).
    """
    q_terms = list(BM25_QUERY_TERMS)
    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    lens = scan.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("double").alias("dl")
    )
    avgdl = lens.agg(F.avg("dl").alias("avgdl"))
    n_docs = scan.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term").isin(q_terms))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term", rnd(idf * tf_norm, 6).alias("s"))
    )
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
        ).alias(f"s_{i}")
        for i, t in enumerate(q_terms)
    ]
    total = sum(
        (F.col(f"s_{i}") for i in range(1, len(q_terms))),
        F.col("s_0"),
    )
    ranked = (
        scored.groupBy("doc_id")
        .agg(*per_term)
        .select("doc_id", rnd(total, 4).alias("score"))
    )
    # Top-N via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps, one N-row merge at the driver side of the stage), NOT a
    # global row_number window — an unpartitioned window funnels every
    # candidate document into a single task, which at 100 TB is the
    # bottleneck.  rank is then a window over only the N surviving rows.
    top = ranked.orderBy(F.col("score").desc(), F.col("doc_id")).limit(BM25_TOP_N)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("rank")
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slide a ``CHUNK_TOKENS``-token window with ``CHUNK_STRIDE`` over
    each document — the context-window chunking step between cleaning and
    tokenization in an LM data pipeline (each chunk becomes a training
    example; the overlap preserves cross-boundary context).

    Narrow throughout: the windows are computed per row by one codegen'd
    array expression (the same let-binding trick as
    :func:`~.dedup.shingles`) and exploded — no shuffle before the
    presentation sort, so at 100 TB this is scan-bound and perfectly
    parallel.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    windows = F.expr(
        f"""element_at(transform(array(split(text, ' ')), toks ->
            transform(sequence(0, CAST(ceil(size(toks) / {CHUNK_STRIDE}.0) AS INT) - 1),
                      i -> slice(toks, i * {CHUNK_STRIDE} + 1,
                                 {CHUNK_TOKENS}))), 1)"""
    )
    return (
        docs.select("doc_id", F.posexplode(windows).alias("chunk_idx", "ctoks"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("ctoks").cast("long").alias("n_chunk_tokens"),
            F.array_join("ctoks", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to token-budgeted training sequences.

    The LLM-pretraining packing step: documents are laid out into
    fixed-budget sequences (here greedy-by-document-order: a doc's
    sequence id = exclusive running token total ÷ budget, so a doc may
    straddle a boundary exactly as a token-level packer would split it).

    Distributed prefix sum (round-6 scale rewrite): packing runs per
    source stratum, but a window partitioned by ``source`` alone IS a
    single-partition cumsum per stratum — ~5 sources at 100 TB means
    five serial tasks.  The standard decomposition instead: (1) local
    exclusive cumsum per ``(source, doc_id-bucket)``; (2) exclusive
    prefix of the per-bucket token totals over the BUCKET-LEVEL table
    (one row per bucket — thousands of rows, not billions, so its
    single-partition-per-source window is a no-op); (3) broadcast the
    bucket offsets back and add.  Output-identical to the naive global
    window (integer token counts — association-free), with every
    row-level task bounded by one bucket of one source.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    toks = docs.select(
        "doc_id",
        "source",
        n_tok.alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_ID_BUCKET).alias("bkt"),
    )
    w_local = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_excl = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    # per-bucket totals: map-side partial agg; the prefix window below
    # runs over ~|id-range|/PACK_ID_BUCKET rows per source — tiny
    w_bkt = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        toks.groupBy("source", "bkt")
        .agg(F.sum("n_tokens").alias("bkt_tokens"))
        .select(
            "source",
            "bkt",
            F.coalesce(F.sum("bkt_tokens").over(w_bkt), F.lit(0)).alias(
                "bkt_offset"
            ),
        )
    )
    return (
        toks.withColumn("local_excl", local_excl)
        .join(F.broadcast(offsets), ["source", "bkt"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(
                (F.col("bkt_offset") + F.col("local_excl")) / PACK_TOKEN_BUDGET
            ).cast("bigint").alias("seq_id"),
        )
        .orderBy("doc_id")
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document: the share of the
    doc taken by its single most frequent token, and the fraction of
    duplicated word bigrams.  One Arrow pass (same kernel pattern as
    :func:`_stopword_counts` — token multisets are not expressible
    without interpreted HOFs)."""

    def batches(it):
        import pandas as pd
        from collections import Counter

        for pdf in it:
            ids, top_ratio, dup_bigram = [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = txt.split(" ")
                n = len(toks)
                counts = Counter(toks)
                ids.append(doc_id)
                top_ratio.append(counts.most_common(1)[0][1] / n)
                bigrams = [
                    toks[i] + " " + toks[i + 1] for i in range(n - 1)
                ]
                dup_bigram.append(
                    0.0
                    if len(bigrams) == 0
                    else 1.0 - len(set(bigrams)) / len(bigrams)
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "top_token_ratio": top_ratio,
                    "dup_bigram_ratio": dup_bigram,
                }
            )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", "text").mapInPandas(
        batches,
        "doc_id bigint, top_token_ratio double, dup_bigram_ratio double",
    )
    return raw.select(
        "doc_id",
        rnd(F.col("top_token_ratio"), 4).alias("top_token_ratio"),
        rnd(F.col("dup_bigram_ratio"), 4).alias("dup_bigram_ratio"),
    ).orderBy("doc_id")


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise gram-overlap matrix between mixture sources: for every
    source pair, distinct-3-gram counts, shared grams, Jaccard, and the
    min-side containment — the corpus-governance answer to "which of my
    sources are re-crawls of each other" that decides mixture weights
    before any per-document dedup runs.

    Scale shape: the join key is the 60-bit gram hash over DISTINCT
    (source, gram) rows, so a gram's fan-out is bounded by the SOURCE
    COUNT (a handful), not its document frequency — no hot-gram
    quadratic risk, hence no df cap needed (contrast
    ``dedup_ngram_jaccard``, where the unit is the document).  Per-source
    totals are a partial-agg groupBy; the output is |sources|² rows.
    """
    from .dedup import hash60, shingles

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    e = (
        docs.select("source", F.explode(shingles()).alias("gram"))
        .select("source", hash60(F.col("gram")).alias("g"))
        .distinct()
    )
    sz = e.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = e.alias("a"), e.alias("b")
    shared = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "shared",
            rnd(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                4,
            ).alias("jaccard"),
            rnd(
                F.col("shared") / F.least(F.col("n_a"), F.col("n_b")), 4
            ).alias("containment_min"),
        )
        .orderBy("source_a", "source_b")
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: per document, how many distinct
    3-grams it shares with the benchmark set (= grams of docs with
    doc_id < CONTAM_BENCHMARK_DOCS), and a contaminated flag.

    The benchmark gram set is BROADCAST (eval suites are tiny next to a
    100 TB corpus — the real-world shape), so the screen is a map-side
    semi-join: no shuffle of corpus grams, one partial-agg count per
    doc.  Gram identity is the shared 60-bit md5 hash.
    """
    from .dedup import hash60, shingles

    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    grams = docs.select(
        "doc_id", F.explode(shingles()).alias("gram")
    ).withColumn("g", hash60(F.col("gram")))
    bench = (
        grams.where(F.col("doc_id") < CONTAM_BENCHMARK_DOCS)
        .select("g")
        .distinct()
    )
    shared = (
        grams.where(F.col("doc_id") >= CONTAM_BENCHMARK_DOCS)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        scan.where(F.col("doc_id") >= CONTAM_BENCHMARK_DOCS)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) >= CONTAM_MIN_SHARED).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


#: tfidf_topterms: restrict the per-doc output to this id range / top-N
TFIDF_DOC_LIMIT = 100
TFIDF_TOP_TERMS = 3

#: mixture_sample: per-source keep rate = 100..499 permille (10-50%),
#: derived from the source name hash — a stand-in for the externally
#: supplied domain-mixing weight table of a real pretraining run
MIXTURE_BASE_PERMILLE = 100
MIXTURE_SPREAD = 400


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_TERMS`` terms per document by smoothed TF-IDF
    (sklearn-style ``tf · (ln((N+1)/(df+1)) + 1)``).

    Corpus-side: one token explode feeding two partial aggregations —
    per-(doc, term) tf and per-term document frequency — plus a
    broadcast scalar N.  The df table is vocabulary-sized (≪ token
    count; Zipf), so the tf⋈df equi-join shuffles the vocab, not the
    corpus, and AQE broadcast-converts it when the vocab is small.
    Ranking uses the 6-dp-rounded score with term tie-break, so order is
    float-ulp-stable across engines.
    """
    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    n_docs = scan.agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
    df_t = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = (
        toks.where(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
        .withColumn("score6", rnd(F.col("tfidf"), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_TERMS)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "rank",
            rnd(F.col("tfidf"), 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing resample: each source keeps a source-specific
    deterministic fraction of its documents (the pretraining "mixture
    weights" step), summarized per source.

    Both the per-source rate and the per-doc keep decision are pure
    md5-hash functions, so the sample is reproducible across engines,
    runs, and repartitionings, and the keep predicate evaluates at the
    scan with no shuffle (exactly like :func:`stratified_sample`).  With
    a real weight table the rate column becomes a broadcast join against
    it; nothing else changes.
    """
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    permille = (
        hash60(F.col("source")) % MIXTURE_SPREAD + MIXTURE_BASE_PERMILLE
    )
    keep_key = F.concat_ws(":", F.col("source"), F.col("doc_id"))
    kept = (hash60(keep_key) % 1000 < permille).cast("int")
    return (
        docs.select(
            "source",
            "n_chars",
            permille.alias("permille"),
            kept.alias("kept"),
        )
        .groupBy("source", "permille")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum(F.col("kept") * F.col("n_chars")).alias("kept_chars"),
        )
        .orderBy("source")
    )


#: quality_weighted_sample: keep probability = quality², a SHARPENED
#: soft filter (low-quality docs are downsampled smoothly instead of
#: hard-gated — the keep-rate analogue of temperature in mixture
#: sampling).  The square is written as quality*quality, a single IEEE
#: multiply, so the boundary comparison is bit-identical across
#: engines (pow() would route through libm and can differ in the last
#: ulp).  The per-doc uniform draw is hash-derived at 6-digit
#: resolution.
QSAMP_RES = 1_000_000


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED soft sampling: every document keeps with
    probability quality² — the smooth alternative to the hard Gopher
    gate (:func:`quality_filter_rules`): marginal documents survive at
    reduced rate instead of dying at a threshold cliff, which preserves
    distributional coverage while still shifting mass toward quality
    (the standard soft-filtering refinement over binary gates).

    Deterministic end to end: quality is the shared 4-dp composite
    (:func:`quality_expr`), the uniform draw is a 6-digit md5-hash
    fraction of ``qsamp:<doc_id>``, and the keep rule ``u < q·q``
    compares exactly representable doubles — reproducible across
    engines, runs, and repartitionings, with the decision evaluated
    map-side (no shuffle before the summary aggregation).

    Output per quality bucket: population, kept count, realized keep
    fraction, and the mean quality of the kept subset (which must
    exceed the bucket's population mean — the point of the weighting).
    """
    from .dedup import hash60

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = _stopword_counts(docs)
    q = quality_expr()
    u = (
        hash60(F.concat_ws(":", F.lit("qsamp"), F.col("doc_id")))
        % QSAMP_RES
    ).cast("double") / F.lit(float(QSAMP_RES))
    scored = counts.select(
        "doc_id",
        q.alias("quality"),
        (u < q * q).cast("int").alias("kept"),
    )
    return (
        scored.withColumn(
            "quality_bucket", quality_bucket_expr(F.col("quality"))
        )
        .groupBy("quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            rnd(F.sum("kept") / F.count(F.lit(1)), 4).alias("kept_frac"),
            rnd(F.avg("quality"), 4).alias("avg_quality"),
            rnd(
                F.sum(F.col("kept") * F.col("quality"))
                / F.greatest(F.sum("kept"), F.lit(1)),
                4,
            ).alias("avg_quality_kept"),
        )
        .orderBy("quality_bucket")
    )


def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score per document: the mean negative log
    probability of the doc's tokens under the corpus unigram model
    (CCNet-style perplexity filtering, with the n-gram LM reduced to
    unigrams so the score is exactly SQL-expressible).

    Corpus pass = one token-count aggregate + a broadcast scalar total;
    scoring = a vocab-sized equi-join (broadcast/AQE at real scale) and
    one per-doc average.  Nothing wider than (doc_id, term) ever
    shuffles.  Out-of-vocabulary tokens cannot occur (the model is
    trained on the same corpus), so no smoothing term is needed.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        toks.where(F.col("doc_id") < TFIDF_DOC_LIMIT)
        .join(counts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("nll", -F.log(F.col("tc") / F.col("total")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            rnd(F.avg("nll"), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


#: Kneser–Ney absolute discount (Chen & Goodman 1998's fixed-D variant;
#: 0.75 is the standard choice and is exactly representable in binary,
#: so both engines subtract the identical double)
KN_DISCOUNT = 0.75


def _kn_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, tk) — the non-empty space tokens, shared KN tokenizer."""
    return docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("tk"),
    )


def _kn_tri_inst(tk: DataFrame) -> DataFrame:
    """Per-document trigram INSTANCES (doc_id, u, v, w)."""
    return tk.select(
        "doc_id",
        F.explode(
            F.expr(
                """CASE WHEN size(tk) >= 3 THEN
                       transform(sequence(0, size(tk) - 3),
                           i -> struct(tk[i] AS u, tk[i+1] AS v,
                                       tk[i+2] AS w))
                   ELSE CAST(array() AS
                             array<struct<u: string, v: string,
                                          w: string>>) END"""
            )
        ).alias("g"),
    ).select("doc_id", "g.u", "g.v", "g.w")


def _kn_model(tk: DataFrame, tri_inst: DataFrame):
    """The interpolated-KN TYPE tables over a training token stream:
    ``(c3, ctx, sfx, mid, lam, r1, nbt)`` — trigram counts, context
    totals/type-counts, continuation counts, and the bigram-type
    normalizer.  The corpus collapses to these immediately; everything
    downstream joins types-to-types (see :func:`kn_perplexity`)."""
    big_types = (
        tk.select(
            F.explode(
                F.expr(
                    """CASE WHEN size(tk) >= 2 THEN
                           transform(sequence(0, size(tk) - 2),
                               i -> struct(tk[i] AS a, tk[i+1] AS b))
                       ELSE CAST(array() AS
                                 array<struct<a: string, b: string>>)
                       END"""
                )
            ).alias("g")
        )
        .select("g.a", "g.b")
        .distinct()
    )
    c3 = tri_inst.groupBy("u", "v", "w").agg(F.count(F.lit(1)).alias("c3"))
    ctx = c3.groupBy("u", "v").agg(
        F.sum("c3").alias("cuv"),  # c(uv·): trigram tokens with ctx uv
        F.count(F.lit(1)).alias("n1uv"),  # N₁₊(uv·): distinct w after uv
    )
    sfx = c3.groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("n1vw")  # N₁₊(·vw): distinct u before vw
    )
    mid = c3.groupBy("v").agg(
        F.count(F.lit(1)).alias("n1vdot")  # N₁₊(·v·): tri types, middle v
    )
    lam = sfx.groupBy("v").agg(
        F.count(F.lit(1)).alias("lam2")  # N₁₊(v·): distinct w with ·vw
    )
    r1 = big_types.groupBy(F.col("b").alias("w")).agg(
        F.count(F.lit(1)).alias("r1w")  # N₁₊(·w): bigram types ending w
    )
    nbt = big_types.agg(F.count(F.lit(1)).alias("nbt"))  # N₁₊(··)
    return c3, ctx, sfx, mid, lam, r1, nbt


def kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an INTERPOLATED KNESER–NEY trigram
    LM trained on the corpus itself — the standard n-gram quality
    signal (CCNet-style filtering uses exactly this model shape),
    upgrading :func:`perplexity_proxy`'s unigram reduction to the real
    three-order smoothing recursion:

    ``P₃(w|uv) = max(c(uvw)−D,0)/c(uv·) + D·N₁₊(uv·)/c(uv·) · P₂(w|v)``
    ``P₂(w|v)  = max(N₁₊(·vw)−D,0)/N₁₊(·v·)
                 + D·N₁₊(v·)/N₁₊(·v·) · P₁(w)``
    ``P₁(w)   = N₁₊(·w) / N₁₊(··)``  (continuation unigram)

    where N₁₊ are TYPE counts (how many distinct contexts), the
    Kneser–Ney insight that makes lower orders model novel-context
    likelihood rather than raw frequency.  Every denominator is
    provably nonzero when scoring the training corpus (each scored
    trigram witnesses its own contexts), so no OOV epsilon is needed.

    Scale shape: the corpus collapses to TYPE tables immediately —
    trigram counts are one partial-agg groupBy, every continuation
    count is a groupBy over the (much smaller) type table, and scoring
    joins types-to-types (vocab-sized, AQE/broadcast at real scale)
    before the per-doc average touches instance rows again.  Nothing
    wider than (doc_id, u, v, w) ever shuffles, and per-trigram math
    runs once per TYPE, not per occurrence.

    Output: per doc (≥3 tokens), trigram count, cross-entropy in bits
    (``-avg log₂ P``) and perplexity ``2^ce`` — 4-dp rounded.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _kn_doc_scores(docs).orderBy("doc_id")


def _kn_doc_scores(docs: DataFrame) -> DataFrame:
    """:func:`kn_perplexity`'s per-doc frame WITHOUT the presentation
    sort — for composition (``ccnet_buckets``), where a downstream join
    would destroy the order anyway."""
    D = KN_DISCOUNT
    tk = _kn_tokens(docs)
    tri_inst = _kn_tri_inst(tk)
    c3, ctx, sfx, mid, lam, r1, nbt = _kn_model(tk, tri_inst)

    p1 = F.col("r1w").cast("double") / F.col("nbt").cast("double")
    p2 = F.greatest(
        F.col("n1vw").cast("double") - F.lit(D), F.lit(0.0)
    ) / F.col("n1vdot").cast("double") + F.lit(D) * F.col("lam2").cast(
        "double"
    ) / F.col("n1vdot").cast("double") * p1
    p3 = F.greatest(
        F.col("c3").cast("double") - F.lit(D), F.lit(0.0)
    ) / F.col("cuv").cast("double") + F.lit(D) * F.col("n1uv").cast(
        "double"
    ) / F.col("cuv").cast("double") * p2
    scored_types = (
        c3.join(ctx, ["u", "v"])
        .join(sfx, ["v", "w"])
        .join(mid, "v")
        .join(lam, "v")
        .join(r1, "w")
        .crossJoin(F.broadcast(nbt))
        .select("u", "v", "w", p3.alias("p"))
    )
    # Round-14 scoring-join note: the mid-build md5-key variant (join on
    # unhex(md5(u\x1fv\x1fw)) with a skinny (doc_id, key) instance side)
    # was REVERTED after an interleaved 5M-doc A/B measured it 1.3-2×
    # SLOWER than this plain string-key join (r13 code 215/322 s vs
    # md5-key 384/421/458 s, same box, alternating runs): natural-text
    # trigram strings are highly repetitive and lz4-compress to a few
    # bytes in the shuffle/spill stream, while 16-byte digests are
    # incompressible — the "3× fewer raw bytes" inverted after
    # compression, and the 250M-row join paid one JVM md5 per instance
    # on top.  Narrow-key rewrites of compressible-string joins need a
    # post-compression byte measurement, not a row-width argument.
    scored = tri_inst.join(scored_types, ["u", "v", "w"])
    ce = -F.avg(F.log2("p"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        rnd(ce, 4).alias("ce_bits"),
        rnd(F.pow(F.lit(2.0), ce), 4).alias("ppl"),
    )


#: held-out split: docs whose 60-bit doc_id hash ≡ 0 (mod 5) are SCORED,
#: the rest train the model — the CCNet regime (incoming data is never
#: the training corpus)
KN_HELDOUT_MOD = 5
#: OOV floor: the probability assigned to a continuation word the model
#: has never seen as a bigram type end.  2⁻²⁰ is exactly representable,
#: far below any seen-word continuation probability at the shipped SFs,
#: and keeps log₂ finite.
KN_OOV_EPS = 2.0**-20


def kn_perplexity_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT Kneser–Ney scoring — the regime CCNet actually runs:
    the trigram LM trains on one split and scores documents it has
    NEVER seen, so unseen events are possible at every order and the
    smoothing recursion needs explicit backoff instead of
    :func:`kn_perplexity`'s self-scoring nonzero-denominator guarantee.

    Split: the 60-bit md5 of ``doc_id`` (the repo's shared hash, so
    the oracle splits identically) ≡ 0 mod :data:`KN_HELDOUT_MOD`
    selects the scored split (~20%); the rest train the model.

    Backoff ladder (standard interpolated-KN with escape-to-lower-order
    on unseen contexts, Chen & Goodman 1998 §4; OOV floor at the
    bottom):

    - context (u,v) seen → full trigram interpolation with the unseen-
      trigram numerator clamped (``max(0−D, 0) = 0`` keeps exactly the
      reserved mass λ(uv)·P₂);
    - (u,v) unseen → ``P₃ = P₂``; middle word v unseen → ``P₂ = P₁``;
    - w never a continuation type → ``P₁ = KN_OOV_EPS``.

    For every trained context, Σ over the TRAINING vocabulary of the
    backed-off P is still 1 (the same property the self-scoring tests
    pin); OOV words sit outside that sum at the ε floor.

    Scale shape: identical to :func:`kn_perplexity` — the training
    corpus collapses to type tables in one partial-agg pass each, the
    held-out split's trigram TYPES left-join the (vocab-sized,
    AQE/broadcast-able) model tables, and instance rows are touched
    only by the final per-doc average.

    Output adds ``n_oov`` (trigram instances whose continuation word is
    out-of-vocabulary) to the ``kn_perplexity`` shape.
    """
    from .dedup import hash60

    D = KN_DISCOUNT
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    held_flag = hash60(F.col("doc_id").cast("string")) % KN_HELDOUT_MOD == 0
    train_tk = _kn_tokens(docs.where(~held_flag))
    held_tk = _kn_tokens(docs.where(held_flag))
    c3, ctx, sfx, mid, lam, r1, nbt = _kn_model(
        train_tk, _kn_tri_inst(train_tk)
    )
    held_inst = _kn_tri_inst(held_tk)
    held_types = held_inst.select("u", "v", "w").distinct()

    p1 = F.when(
        F.col("r1w").isNotNull(),
        F.col("r1w").cast("double") / F.col("nbt").cast("double"),
    ).otherwise(F.lit(KN_OOV_EPS))
    p2 = F.when(
        F.col("n1vdot").isNotNull(),
        F.greatest(
            F.coalesce(F.col("n1vw"), F.lit(0)).cast("double") - F.lit(D),
            F.lit(0.0),
        )
        / F.col("n1vdot").cast("double")
        + F.lit(D)
        * F.col("lam2").cast("double")
        / F.col("n1vdot").cast("double")
        * p1,
    ).otherwise(p1)
    p3 = F.when(
        F.col("cuv").isNotNull(),
        F.greatest(
            F.coalesce(F.col("c3"), F.lit(0)).cast("double") - F.lit(D),
            F.lit(0.0),
        )
        / F.col("cuv").cast("double")
        + F.lit(D)
        * F.col("n1uv").cast("double")
        / F.col("cuv").cast("double")
        * p2,
    ).otherwise(p2)
    scored_types = (
        held_types.join(c3, ["u", "v", "w"], "left")
        .join(ctx, ["u", "v"], "left")
        .join(sfx, ["v", "w"], "left")
        .join(mid, "v", "left")
        .join(lam, "v", "left")
        .join(r1, "w", "left")
        .crossJoin(F.broadcast(nbt))
        .select(
            "u", "v", "w", p3.alias("p"), F.col("r1w").isNull().alias("oov")
        )
    )
    # string-key scoring join (see the round-14 revert note in
    # _kn_doc_scores: the md5-key variant lost the 5M-doc A/B)
    scored = held_inst.join(scored_types, ["u", "v", "w"])
    ce = -F.avg(F.log2("p"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum(F.col("oov").cast("long")).alias("n_oov"),
            rnd(ce, 4).alias("ce_bits"),
            rnd(F.pow(F.lit(2.0), ce), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


#: DSIR hashed-feature dimension (buckets for unigram+bigram hashes) —
#: the paper uses 10k; 256 keeps the sf0.001 bucket table dense enough
#: that smoothing actually matters while the method is unchanged
DSIR_BUCKETS = 256
#: target distribution = documents with this language (the "target
#: domain corpus" of the method; English as the Wikipedia-like stand-in)
DSIR_TARGET_LANG = "en"
#: Gumbel-top-k selection size
DSIR_SAMPLE_K = 200
#: hash-uniform resolution for the Gumbel draw
DSIR_GUMBEL_M = 1_000_000


def dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    — select raw-corpus documents that look like a TARGET domain, the
    standard pretraining-mixture curation step:

    1. hashed n-gram features: every unigram and bigram hashes into
       :data:`DSIR_BUCKETS` buckets (shared 60-bit md5 hash — the
       oracle buckets identically);
    2. two bucket DISTRIBUTIONS with add-1 smoothing — the target
       (docs with ``lang = DSIR_TARGET_LANG``) and the raw corpus;
    3. per-doc log importance weight
       ``Σ_b f_b(doc)·(ln p̂_target(b) − ln p̂_raw(b))`` — a bag-of-
       hashed-ngrams likelihood ratio;
    4. Gumbel top-k resampling: rank by ``log w + Gumbel(0,1)`` with
       the Gumbel drawn from a deterministic per-doc hash uniform —
       sampling-without-replacement ∝ importance, reproducible.

    Scale: ONE corpus-scale shuffle total (round-11 sf100 probe fix —
    the first cut staged a (doc, lang, bucket) count table, which cost
    a SECOND full-corpus exchange and measured 22×/decade at 5M docs
    from the spill pressure): both distributions are 256-row
    partial-agg rollups straight off the exploded features (combiners
    collapse them map-side, so those "shuffles" move ~256 rows per
    task), and scoring sums λ(bucket) per raw OCCURRENCE through the
    broadcast λ table into one groupBy(doc_id).  Selection is a
    TakeOrderedAndProject (per-partition top-k, no global sort).  The
    ranking key is 4-dp-rounded with a doc_id tie-break so the cut is
    deterministic across engines (float-sum low bits cannot reorder
    the boundary).

    No counterpart in the reference (SURVEY §2.4 extension; the
    training-data-pipeline family).
    """
    from .dedup import hash60

    B = DSIR_BUCKETS
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tk = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("tk"),
    )
    # one array of bucket ids per doc: hashed unigrams ++ hashed bigrams
    uni = (
        "transform(tk, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10)"
        f" AS BIGINT) % {B})"
    )
    big = (
        "CASE WHEN size(tk) >= 2 THEN"
        " transform(sequence(0, size(tk) - 2),"
        " i -> CAST(conv(substring(md5(concat(tk[i], ' ', tk[i+1])),"
        f" 1, 15), 16, 10) AS BIGINT) % {B})"
        " ELSE CAST(array() AS array<bigint>) END"
    )
    feats = tk.select(
        "doc_id",
        "lang",
        F.explode(F.expr(f"concat({uni}, {big})")).alias("b"),
    )
    from ..cache import persist_tracked

    # feats feeds the distribution pass AND the scoring pass — persist
    # so the corpus-scale explode + per-token md5 runs once, not twice
    feats = persist_tracked(feats)
    # BOTH distributions in ONE partial-agg pass (conditional count);
    # combiners collapse to ≤256 rows per task before the exchange
    dist = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1))
        ).alias("ct"),
    )
    buckets = (
        spark.range(B)
        .select(F.col("id").alias("b"))
        .join(dist, "b", "left")
        .select(
            "b",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    totals = buckets.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
    )
    lam = buckets.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1).cast("double") / (F.col("tt") + B))
            - F.log((F.col("cr") + 1).cast("double") / (F.col("tr") + B))
        ).alias("lam"),
    )
    weighted = (
        feats.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lam").alias("logw"),
        )
    )
    u = (
        (
            hash60(F.concat_ws(":", F.lit("dsir"), F.col("doc_id")))
            % DSIR_GUMBEL_M
        ).cast("double")
        + 0.5
    ) / DSIR_GUMBEL_M
    gumbel = -F.log(-F.log(u))
    return (
        weighted.select(
            "doc_id",
            "lang",
            "n_feats",
            rnd(F.col("logw"), 4).alias("log_weight"),
            rnd(F.col("logw") + gumbel, 4).alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), "doc_id")
        .limit(DSIR_SAMPLE_K)
    )


#: bpe_pair_stats: report the top-N most frequent adjacent char pairs
BPE_PAIR_TOP_N = 20


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training statistic: corpus frequency of adjacent
    character pairs — exactly the quantity a BPE trainer maximizes when
    picking its next merge.

    The heavy lifting happens on the VOCABULARY, not the corpus: one
    token-count aggregate collapses the corpus to (term, count), then
    pair generation runs per distinct term weighted by its count — at
    100 TB the pair explode touches millions of vocab entries instead of
    trillions of token occurrences (the standard word-counts-first BPE
    formulation).  Top-N cut is a TakeOrderedAndProject.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    pairs = (
        vocab.where(F.length("term") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(term) - 1),"
                    " i -> substr(term, i, 2))"
                )
            ).alias("pair"),
            "tc",
        )
        .groupBy("pair")
        .agg(F.sum("tc").alias("n"))
    )
    return pairs.orderBy(F.col("n").desc(), F.col("pair")).limit(
        BPE_PAIR_TOP_N
    )


#: bpe_train_merges: total merge rules the trainer learns, how many of
#: them one round may select (the distributed-BPE batching dial), the
#: static round cap the oracle unrolls, the per-round candidate pool
#: collected to the driver, and the symbol separator used in the
#: intermediate spaced representation (unit separator — never occurs in
#: the corpus, and regex-inert in Spark's split()).
#:
#: Round 7 moved from one-merge-per-round (64 merges = 64 scheduled
#: jobs — parameter-scale-bound) to BATCHED rounds: each round ranks
#: pairs by (count DESC, pair ASC), collects the top BPE_CAND_POOL to
#: the driver, and greedily selects up to BPE_BATCH SYMBOL-DISJOINT
#: pairs in rank order (a pair is skipped iff it shares a symbol with
#: an already-selected pair this round).  Disjointness means one
#: combined fold applies the whole batch in a single vocab pass, so a
#: 32k-merge vocab costs 32k/BPE_BATCH scheduled jobs, not 32k.  On
#: the synthetic corpus every round fills its batch: 64 merges in 8
#: rounds (tests pin ≤ BPE_MERGES/4).
BPE_MERGES = 64
BPE_BATCH = 8
BPE_ROUNDS_MAX = 16
BPE_CAND_POOL = 64
BPE_SEP = "\x1f"


def _bpe_apply_batch(rules: "list[tuple[str, str]]") -> "F.Column":
    """Greedy left-to-right application of a SYMBOL-DISJOINT merge batch
    to the spaced symbol string in column ``syms`` — one combined
    re-segmentation fold: walk symbols in order; when the current
    symbol is some rule's ``b`` (at most one rule can claim it — the
    ``b``s are distinct by disjointness) and the previously-emitted
    symbol is that rule's ``a``, fuse them.  Handles the overlap case
    correctly ("a a a" under merge (a,a) → "aa a", never "a aa").
    Pure Column API — merge pairs are driver-known literals, so no
    SQL-string escaping is ever involved."""
    arr = F.split(F.col("syms"), BPE_SEP)
    rest = F.slice(arr, F.lit(2), F.size(arr) - 1)

    def step(acc, x):
        default = F.concat(acc, F.lit(BPE_SEP), x)
        chain = None
        for a, b in rules:
            cond = (x == F.lit(b)) & (
                (acc == F.lit(a)) | acc.endswith(BPE_SEP + a)
            )
            fuse = F.concat(
                acc.substr(F.lit(1), F.length(acc) - len(a)), F.lit(a + b)
            )
            chain = (
                F.when(cond, fuse) if chain is None else chain.when(cond, fuse)
            )
        return default if chain is None else chain.otherwise(default)

    return F.aggregate(rest, F.element_at(arr, 1), step)


def _bpe_apply_merge(a: str, b: str) -> "F.Column":
    """Single-rule convenience wrapper over :func:`_bpe_apply_batch`."""
    return _bpe_apply_batch([(a, b)])


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real multi-round BPE trainer: ``BPE_MERGES`` merge rules
    learned from the corpus, with their weighted pair counts.

    The scalable formulation (Sennrich et al. 2016, word-counts-first,
    plus standard distributed-BPE merge batching): ONE corpus-scale
    aggregation collapses the corpus to the (term, count) vocabulary
    table, then every training round runs on that bounded table —
    adjacent-pair explode weighted by term count, partial-agg sum per
    pair, a deterministic top-``BPE_CAND_POOL`` collect, driver-side
    greedy selection of up to ``BPE_BATCH`` symbol-disjoint merges in
    (count DESC, pair ASC) rank order, and ONE combined JVM
    higher-order-function fold that re-segments each vocabulary entry
    under the whole batch.  At 100 TB the rounds touch millions of
    vocab rows, never trillions of token occurrences; driver traffic is
    ≤ ``BPE_CAND_POOL`` rows per round; and a 32k-merge vocab costs
    ~32k/``BPE_BATCH`` scheduled jobs, not 32k (the round-6 verdict's
    parameter-scale bound).  Each round's vocabulary is lazily
    ``localCheckpoint``-ed, so lineage and analysis cost stay O(1) per
    round instead of nesting every prior round's fold (round-6 ADVICE).

    The DuckDB oracle replays the identical trajectory as an unrolled
    CTE chain (the `pagerank_dup_graph` pattern): per-round pair
    counts, the same ranked candidate pool, the same greedy disjoint
    selection via a recursive CTE walking the pool in rank order, and
    the same combined fold via a `list_reduce` lambda — every merge
    rule and count is bit-identical, not approximately similar.

    No counterpart in the reference (SURVEY §2.4 extension);
    complements :func:`bpe_pair_stats`, which reports only the
    first-round pair frequencies.
    """
    merges, _, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank int, pair_a string, pair_b string, merged string,"
        " pair_count long",
    ).orderBy("rank")


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> "tuple[list[tuple[int, str, str, str, int]], DataFrame, int]":
    """Shared BPE training loop: returns the merge trajectory, the
    fully re-segmented (term, tc, syms) vocabulary after training
    (consumed by :func:`bpe_segment_docs`) and the number of rounds it
    took (one driver collect per round; the tests bound it).

    Cache protocol: each round's vocab is ``cache.persist_tracked`` —
    materialized for free inside the round's collect job (one job per
    round), with the PREVIOUS round unpersisted as soon as its
    successor is cached, so at most two vocab-sized caches exist at
    once and everything still staged at return is adopted by the
    query's result (the registry contract; the hygiene suite asserts
    zero persistent RDDs after the caller drops the result).  Rounds
    execute from the previous round's cache, never from a re-folded
    corpus scan; the logical plans still nest one fold per round, which
    is fine at the registered depth (8 rounds).  At production merge
    counts the analyzer cost grows with the fold depth, so such a run
    needs lineage truncation (BASELINE.md, "Production-vocab BPE point,
    round 9", measured 1k+ merges with a reliable checkpoint every 16
    rounds).
    """
    from .. import cache

    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    vocab = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tc"))
        .select(
            "term",
            "tc",
            F.regexp_replace(F.col("term"), "(.)", "$1" + BPE_SEP).alias(
                "sp"
            ),
        )
        .select(
            "term",
            "tc",
            F.col("sp").substr(F.lit(1), F.length("sp") - 1).alias("syms"),
        )
    )
    # Round-14 (guide §2.2 fewer/larger partitions): every training
    # round launches a TakeOrdered job over the cached vocab, so its
    # partition count is paid BPE_ROUNDS times.  Coalesce to the
    # corpus SCAN's own parallelism (input-size-derived; the raw scan,
    # not the fanned-out docs, whose .rdd would run the shuffle): on
    # the tiny test corpora that is 1-2 tasks per round instead of 32;
    # at scale the scan count exceeds the shuffle partition count and
    # coalesce is a no-op.
    from ..sources.tables import scan_partitions

    vocab = vocab.coalesce(max(1, scan_partitions(scan)))
    cur = cache.persist_tracked(vocab)
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    while rounds < BPE_ROUNDS_MAX and len(merges) < BPE_MERGES:
        rounds += 1
        arr = F.split(F.col("syms"), BPE_SEP)
        pairs = (
            cur.select("tc", arr.alias("l"))
            .where(F.size("l") >= 2)
            .select(
                "tc",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(l) - 2), j -> "
                        "struct(element_at(l, j + 1) AS a,"
                        " element_at(l, j + 2) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("tc").alias("n"))
        )
        top = (
            pairs.orderBy(F.col("n").desc(), "a", "b")
            .limit(BPE_CAND_POOL)
            .collect()
        )
        # that collect materialized `cur`'s cache (from `prev`'s cache,
        # or the corpus scan in round 1) — the round before it is now
        # dead weight; dropping it here keeps at most two vocab-sized
        # caches alive with NO extra job
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        cap = min(BPE_BATCH, BPE_MERGES - len(merges))
        used: set[str] = set()
        sel: list[tuple[str, str, int]] = []
        for r in top:
            if len(sel) >= cap:
                break
            a, b, n = r["a"], r["b"], int(r["n"])
            if a in used or b in used:
                continue
            sel.append((a, b, n))
            used.update((a, b))
        if not sel:
            break
        for a, b, n in sel:
            merges.append((len(merges) + 1, a, b, a + b, n))
        prev = cur
        folded = cur.select(
            "term",
            "tc",
            _bpe_apply_batch([(a, b) for a, b, _ in sel]).alias("syms"),
        )
        cur = cache.persist_tracked(folded)
    if prev is not None:
        # the loop exits with the LAST round's predecessor still cached
        # (its unpersist normally happens at the top of the next
        # iteration's collect — which never runs).  The final `cur` is
        # NOT yet materialized and computes FROM prev's cache, so
        # materialize it first (one vocab-scale job), then drop the
        # predecessor — leaving exactly one vocab cache staged for the
        # result to adopt.
        cur.count()
        prev.unpersist()
    if len(merges) < BPE_MERGES:
        raise ValueError(
            f"BPE training exhausted pairs after {rounds} rounds with "
            f"{len(merges)} merges — corpus has fewer than {BPE_MERGES} "
            f"learnable merges"
        )
    return merges, cur, rounds


def bpe_segment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus — the tokenizer
    APPLICATION pass that turns the learned rules into per-document
    token statistics (token count, character count, compression ratio).

    The scale trick is the vocab-join formulation: the tokenizer runs
    once per DISTINCT word (the re-segmented vocabulary
    :func:`_bpe_train` already produces — at 100 TB millions of rows,
    not trillions of occurrences), and the corpus pass is a word
    explode + equi-join against that table plus a partial-agg sum per
    document.  The vocabulary side is broadcastable at realistic sizes;
    past the broadcast threshold the identical plan degrades to a
    shuffle equi-join on the term.  The corpus is touched exactly
    twice: the training word count and the final join pass.

    Oracle: the same unrolled training replay as ``bpe_train_merges``
    extended with the vocabulary fold after the last round and the
    document join (exact-integer token counts; ratio rounded via the
    shared rnd/rnd_sql).
    """
    _, final_vocab, _ = _bpe_train(spark, sf_dir)
    tok = final_vocab.select(
        "term",
        F.size(F.split(F.col("syms"), BPE_SEP)).alias("n_tok"),
        F.length("term").alias("n_chr"),
    )
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    return (
        words.join(tok, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chr").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_chars",
            rnd(F.col("n_chars") / F.col("n_tokens"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("doc_id")
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY audit — the governance table
    every multilingual pretraining effort publishes (tokens-per-word by
    language): a tokenizer trained on a skewed mixture over-segments
    under-represented languages, inflating their effective sequence
    length and training cost.  Fertility (tokens/word) and compression
    (chars/token) per language make that inequity measurable.

    Plumbing is :func:`bpe_segment_docs`'s vocab-join formulation with
    the rollup keyed by language instead of document: the trained
    merges fold once per DISTINCT word, the corpus pass is one explode
    + equi-join + partial agg to language cardinality — strictly
    smaller output than the per-doc variant, same two corpus touches.

    No counterpart in the reference (SURVEY §2.4 extension; the
    training-data-pipeline governance family).
    """
    _, final_vocab, _ = _bpe_train(spark, sf_dir)
    tok = final_vocab.select(
        "term",
        F.size(F.split(F.col("syms"), BPE_SEP)).alias("n_tok"),
        F.length("term").alias("n_chr"),
    )
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    return (
        words.join(tok, "term")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chr").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            rnd(F.col("n_tokens") / F.col("n_words"), 4).alias("fertility"),
            rnd(F.col("n_chars") / F.col("n_tokens"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled per-document training record — what a downstream
    trainer's data loader actually consumes: text stats + modality
    availability + the sampling verdict, one row per document.

    Composes the engine's standalone decisions declaratively: the
    mixture-sample keep flag (hash predicate, evaluated at the scan),
    token counts (Column expressions), and embedding availability via a
    doc_id↔vec_id left join (at 100 TB both sides hash-partition on the
    shared id; with bucketed layouts the join is exchange-free).  No
    Python anywhere — the manifest is a pure Catalyst plan.
    """
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.size("embedding").alias("embedding_dim"),
    )
    permille = (
        hash60(F.col("source")) % MIXTURE_SPREAD + MIXTURE_BASE_PERMILLE
    )
    keep_key = F.concat_ws(":", F.col("source"), F.col("doc_id"))
    kept = hash60(keep_key) % 1000 < permille
    return (
        docs.join(emb, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            F.col("embedding_dim").isNotNull().alias("has_embedding"),
            F.coalesce("embedding_dim", F.lit(0)).cast("long").alias("embedding_dim"),
            kept.alias("kept"),
        )
        .orderBy("doc_id")
    )


_EN_STOP_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


def _lang_score_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({lst})))"


_LANG_SCORES = ", ".join(
    f"{_lang_score_sql(l)} AS s_{l}" for l in sorted(LANG_STOPWORDS)
)
_BEST = "greatest(" + ", ".join(f"s_{l}" for l in sorted(LANG_STOPWORDS)) + ")"
_PRED = (
    "CASE "
    + " ".join(
        f"WHEN s_{l} = {_BEST} THEN '{l}'" for l in sorted(LANG_STOPWORDS)
    )
    + " END"
)

#: DuckDB twin of :func:`quality_expr` (shared with the clean_corpus
#: capstone oracle)
QUALITY_SQL = f"(floor((0.3::DOUBLE * (len(list_filter(string_split(text, ' '), t -> t IN ({_EN_STOP_SQL}))) / CAST(len(string_split(text, ' ')) AS DOUBLE)) + 0.4::DOUBLE * least(len(string_split(text, ' ')) / 100.0::DOUBLE, 1.0::DOUBLE) + 0.3::DOUBLE * (len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE))) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE)"

#: DuckDB twin of :func:`quality_bucket_expr`
QUALITY_BUCKET_SQL = (
    "CASE WHEN quality >= 0.6 THEN 'high' "
    "WHEN quality >= 0.4 THEN 'mid' ELSE 'low' END"
)

ORACLES = {
    "text_stats": """
        SELECT doc_id, lang,
               length(text) AS n_chars_actual,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
               (floor((list_sum(list_transform(string_split(text, ' '), t -> length(t))) * 1.0 / len(string_split(text, ' '))) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE) AS avg_token_len
        FROM documents ORDER BY doc_id
    """,
    "quality_score": f"""
        WITH q AS (
            SELECT doc_id, {QUALITY_SQL} AS quality
            FROM documents)
        SELECT doc_id, quality,
               {QUALITY_BUCKET_SQL} AS quality_bucket
        FROM q ORDER BY doc_id
    """,
    "lang_id": f"""
        WITH s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM documents)
        SELECT doc_id, {_PRED} AS pred_lang,
               ({_PRED}) = lang AS is_correct
        FROM s ORDER BY doc_id
    """,
    "token_count_bpe": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
               len(list_distinct(regexp_extract_all(text, '{BPE_TOKEN_RE}')))
                   AS n_uniq_bpe_tokens,
               len(string_split(text, ' ')) AS n_ws_tokens
        FROM documents ORDER BY doc_id
    """,
    "doc_fingerprint": f"""
        WITH s AS (SELECT doc_id,
            list_sort(list_transform(
                {{SH}},
                s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)))
                AS hs
            FROM documents)
        SELECT doc_id,
               list_aggr(list_transform(hs[1:{FINGERPRINT_K}],
                             x -> CAST(x AS VARCHAR)),
                         'string_agg', '-') AS fingerprint
        FROM s ORDER BY doc_id
    """,
}

# doc_fingerprint oracle needs the shared shingle SQL — inject it here to
# keep a single source of truth with dedup._shingles_sql.
from .dedup import _hash60_sql, _shingles_sql  # noqa: E402

ORACLES["doc_fingerprint"] = ORACLES["doc_fingerprint"].replace(
    "{SH}", _shingles_sql("text")
)

ORACLES["ngram_topk"] = f"""
    SELECT gram, count(*) AS df
    FROM (SELECT doc_id, unnest({_shingles_sql("text")}) AS gram
          FROM documents)
    GROUP BY gram
    ORDER BY df DESC, gram
    LIMIT {NGRAM_TOP_N}
"""

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
_BM25_PIVOT_SQL = ", ".join(
    f"coalesce(max(CASE WHEN term = '{t}' THEN sc END), 0) AS s_{i}"
    for i, t in enumerate(BM25_QUERY_TERMS)
)
_BM25_SUM_SQL = " + ".join(f"s_{i}" for i in range(len(BM25_QUERY_TERMS)))

ORACLES["bm25_topk"] = f"""
    WITH lens AS (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                  FROM documents),
    stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs
              FROM lens),
    toks AS (SELECT doc_id, t.term
             FROM documents, unnest(string_split(text, ' ')) AS t(term)
             WHERE t.term IN ({_BM25_TERMS_SQL})),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, term),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term,
               {rnd_sql(f"ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))"
                        f" * (tf.tf * ({BM25_K1} + 1))"
                        f" / (tf.tf + {BM25_K1} * (1 - {BM25_B}"
                        f" + {BM25_B} * l.dl / s.avgdl))", 6)} AS sc
        FROM tf JOIN dft d USING (term)
             JOIN lens l ON l.doc_id = tf.doc_id
             CROSS JOIN stats s),
    agg AS (SELECT doc_id, {_BM25_PIVOT_SQL} FROM scored GROUP BY doc_id),
    ranked AS (
        SELECT doc_id, {rnd_sql(_BM25_SUM_SQL, 4)} AS score FROM agg)
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM ranked QUALIFY rank <= {BM25_TOP_N} ORDER BY rank
"""

ORACLES["chunk_documents"] = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents)
    SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
           CAST(len(t[u.i * {CHUNK_STRIDE} + 1 :
                      u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(t[u.i * {CHUNK_STRIDE} + 1 :
                             u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
               AS chunk_text
    FROM toks,
         unnest(range(0, CAST(ceil(len(t) / {CHUNK_STRIDE}.0) AS INT))) AS u(i)
    ORDER BY doc_id, chunk_idx
"""

ORACLES["pack_sequences"] = f"""
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(floor(coalesce(
               SUM(len(string_split(text, ' '))) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS seq_id
    FROM documents ORDER BY doc_id
"""

ORACLES["repetition_stats"] = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    topc AS (SELECT doc_id, max(cnt) AS max_cnt FROM (
                 SELECT doc_id, tok, count(*) AS cnt FROM tok
                 GROUP BY 1, 2) GROUP BY 1),
    big AS (SELECT doc_id,
                   list_transform(range(len(toks) - 1),
                                  i -> toks[i + 1] || ' ' || toks[i + 2])
                       AS bgs
            FROM t)
    SELECT t.doc_id,
           {rnd_sql("max_cnt * 1.0 / len(t.toks)", 4)} AS top_token_ratio,
           {rnd_sql("CASE WHEN len(bgs) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs) END", 4)}
               AS dup_bigram_ratio
    FROM t JOIN topc USING (doc_id) JOIN big USING (doc_id)
    ORDER BY t.doc_id
"""

ORACLES["contamination_check"] = f"""
    WITH gr AS (SELECT doc_id,
                       unnest(list_transform({{SH}},
                                             t -> {_hash60_sql('t')})) AS g
                FROM documents),
    bench AS (SELECT DISTINCT g FROM gr
              WHERE doc_id < {CONTAM_BENCHMARK_DOCS}),
    shared AS (SELECT doc_id, count(*) AS n
               FROM gr JOIN bench USING (g)
               WHERE doc_id >= {CONTAM_BENCHMARK_DOCS}
               GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(s.n, 0) AS n_shared_grams,
           coalesce(s.n, 0) >= {CONTAM_MIN_SHARED} AS contaminated
    FROM documents d LEFT JOIN shared s USING (doc_id)
    WHERE d.doc_id >= {CONTAM_BENCHMARK_DOCS}
    ORDER BY d.doc_id
"""

ORACLES["contamination_check"] = ORACLES["contamination_check"].replace(
    "{SH}", _shingles_sql("text")
)

ORACLES["stratified_sample"] = f"""
    SELECT lang, count(*) AS n_sampled,
           {rnd_sql("avg(n_chars)", 4)} AS avg_chars,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM documents
    WHERE {_hash60_sql("concat(lang, ':', doc_id)")} % 1000 < {STRATA_PERMILLE}
    GROUP BY lang ORDER BY lang
"""

ORACLES["tfidf_topterms"] = f"""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> ''),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    dft AS (SELECT term, count(*) AS df
            FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           WHERE doc_id < {TFIDF_DOC_LIMIT} GROUP BY doc_id, term),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dft.df,
               tf.tf * (ln((nd.n_docs + 1) / (dft.df + 1)) + 1) AS tfidf
        FROM tf JOIN dft USING (term) CROSS JOIN nd),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id
            ORDER BY {rnd_sql("tfidf", 6)} DESC, term) AS rank
        FROM scored)
    SELECT doc_id, term, tf, df, rank, {rnd_sql("tfidf", 4)} AS tfidf
    FROM ranked WHERE rank <= {TFIDF_TOP_TERMS} ORDER BY doc_id, rank
"""

ORACLES["mixture_sample"] = f"""
    WITH flagged AS (
        SELECT source, n_chars,
               ({_hash60_sql("source")} % {MIXTURE_SPREAD}
                + {MIXTURE_BASE_PERMILLE}) AS permille,
               CASE WHEN {_hash60_sql("concat(source, ':', doc_id)")} % 1000
                         < ({_hash60_sql("source")} % {MIXTURE_SPREAD}
                            + {MIXTURE_BASE_PERMILLE})
                    THEN 1 ELSE 0 END AS kept
        FROM documents)
    SELECT source, permille, count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept * n_chars) AS BIGINT) AS kept_chars
    FROM flagged GROUP BY source, permille ORDER BY source
"""

ORACLES["perplexity_proxy"] = f"""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> ''),
    counts AS (SELECT term, count(*) AS tc FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS total FROM toks),
    scored AS (
        SELECT toks.doc_id, -ln(counts.tc / tot.total) AS nll
        FROM toks JOIN counts USING (term) CROSS JOIN tot
        WHERE toks.doc_id < {TFIDF_DOC_LIMIT})
    SELECT doc_id, count(*) AS n_tokens,
           {rnd_sql("avg(nll)", 4)} AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["dsir_sample"] = f"""
    WITH d AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    feats AS (
        SELECT doc_id, lang, unnest(list_concat(
            list_transform(tk, t ->
                CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                    % {DSIR_BUCKETS}),
            list_transform(range(0, greatest(len(tk) - 1, 0)), i ->
                CAST(concat('0x', substr(md5(concat(tk[i+1], ' ',
                     tk[i+2])), 1, 15)) AS BIGINT) % {DSIR_BUCKETS})
        )) AS b
        FROM d),
    dist AS (
        SELECT b, count(*) AS cr,
               count(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS ct
        FROM feats GROUP BY b),
    buckets AS (
        SELECT r.b, COALESCE(dist.cr, 0) AS cr, COALESCE(dist.ct, 0) AS ct
        FROM (SELECT unnest(range(0, {DSIR_BUCKETS}))::BIGINT AS b) r
        LEFT JOIN dist USING (b)),
    totals AS (
        SELECT CAST(sum(cr) AS BIGINT) AS tr,
               CAST(sum(ct) AS BIGINT) AS tt
        FROM buckets),
    lam AS (
        SELECT b,
               ln((ct + 1)::DOUBLE / (tt + {DSIR_BUCKETS}))
               - ln((cr + 1)::DOUBLE / (tr + {DSIR_BUCKETS})) AS lam
        FROM buckets CROSS JOIN totals),
    weighted AS (
        SELECT doc_id, lang,
               count(*) AS n_feats,
               sum(lam) AS logw
        FROM feats JOIN lam USING (b)
        GROUP BY doc_id, lang),
    keyed AS (
        SELECT doc_id, lang, n_feats,
               {rnd_sql("logw", 4)} AS log_weight,
               {rnd_sql(
                   "logw - ln(-ln((("
                   "CAST(concat('0x', substr(md5(concat('dsir', ':',"
                   " doc_id)), 1, 15)) AS BIGINT) % "
                   + str(DSIR_GUMBEL_M)
                   + ")::DOUBLE + 0.5) / "
                   + str(DSIR_GUMBEL_M) + "))", 4)}
               AS sel_key
        FROM weighted)
    SELECT * FROM keyed
    ORDER BY sel_key DESC, doc_id LIMIT {DSIR_SAMPLE_K}
"""

# the self-scoring KN pipeline as a reusable CTE block (kn_perplexity
# consumes it directly; ccnet_buckets embeds it in its composition) —
# ends at `knsc` = (doc_id, p) per scored trigram instance
_KN_SELF_CTES = f"""d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents),
    tri_i AS (
        SELECT doc_id, g.u AS u, g.v AS v, g.w AS w FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, greatest(len(tk) - 2, 0)),
                       i -> struct_pack(u := tk[i+1], v := tk[i+2],
                                        w := tk[i+3]))) AS g
            FROM d) q),
    big AS (
        SELECT DISTINCT g.a AS a, g.b AS b FROM (
            SELECT unnest(list_transform(
                       range(0, greatest(len(tk) - 1, 0)),
                       i -> struct_pack(a := tk[i+1],
                                        b := tk[i+2]))) AS g
            FROM d) q),
    c3 AS (SELECT u, v, w, count(*) AS c3 FROM tri_i GROUP BY u, v, w),
    ctx AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS cuv,
                   count(*) AS n1uv
            FROM c3 GROUP BY u, v),
    sfx AS (SELECT v, w, count(*) AS n1vw FROM c3 GROUP BY v, w),
    mid AS (SELECT v, count(*) AS n1vdot FROM c3 GROUP BY v),
    lam AS (SELECT v, count(*) AS lam2 FROM sfx GROUP BY v),
    r1 AS (SELECT b AS w, count(*) AS r1w FROM big GROUP BY b),
    nbt AS (SELECT count(*) AS nbt FROM big),
    st AS (
        SELECT c3.u, c3.v, c3.w,
               greatest(c3.c3::DOUBLE - {KN_DISCOUNT}, 0.0)
                   / ctx.cuv::DOUBLE
               + {KN_DISCOUNT} * ctx.n1uv::DOUBLE / ctx.cuv::DOUBLE
                 * (greatest(sfx.n1vw::DOUBLE - {KN_DISCOUNT}, 0.0)
                        / mid.n1vdot::DOUBLE
                    + {KN_DISCOUNT} * lam.lam2::DOUBLE
                        / mid.n1vdot::DOUBLE
                      * (r1.r1w::DOUBLE / nbt.nbt::DOUBLE)) AS p
        FROM c3 JOIN ctx USING (u, v) JOIN sfx USING (v, w)
                JOIN mid USING (v) JOIN lam USING (v)
                JOIN r1 USING (w) CROSS JOIN nbt),
    knsc AS (
        SELECT tri_i.doc_id, st.p
        FROM tri_i JOIN st USING (u, v, w))"""

ORACLES["kn_perplexity"] = f"""
    WITH {_KN_SELF_CTES}
    SELECT doc_id, count(*) AS n_trigrams,
           {rnd_sql("-avg(log2(p))", 4)} AS ce_bits,
           {rnd_sql("pow(2.0, -avg(log2(p)))", 4)} AS ppl
    FROM knsc GROUP BY doc_id ORDER BY doc_id
"""

# held-out KN: identical type-table arithmetic trained on the ~80%
# split, LEFT joins + the CASE backoff ladder on the held split, OOV
# floor at 2^-20 (exactly representable; same double literal both
# engines).  Op order mirrors the Spark expressions term for term.
_KN_HELD_PRED = (
    f"{_hash60_sql('CAST(doc_id AS VARCHAR)')} % {KN_HELDOUT_MOD} = 0"
)
_KN_P1 = (
    "CASE WHEN r1w IS NOT NULL THEN r1w::DOUBLE / nbt.nbt::DOUBLE"
    f" ELSE {KN_OOV_EPS!r} END"
)
_KN_P2 = f"""CASE WHEN n1vdot IS NOT NULL THEN
        greatest(COALESCE(n1vw, 0)::DOUBLE - {KN_DISCOUNT}, 0.0)
            / n1vdot::DOUBLE
        + {KN_DISCOUNT} * lam2::DOUBLE / n1vdot::DOUBLE * ({_KN_P1})
    ELSE ({_KN_P1}) END"""
_KN_P3 = f"""CASE WHEN cuv IS NOT NULL THEN
        greatest(COALESCE(c3, 0)::DOUBLE - {KN_DISCOUNT}, 0.0)
            / cuv::DOUBLE
        + {KN_DISCOUNT} * n1uv::DOUBLE / cuv::DOUBLE * ({_KN_P2})
    ELSE ({_KN_P2}) END"""

ORACLES["kn_perplexity_heldout"] = f"""
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tk,
               {_KN_HELD_PRED} AS held
        FROM documents),
    tri_tr AS (
        SELECT g.u AS u, g.v AS v, g.w AS w FROM (
            SELECT unnest(list_transform(
                       range(0, greatest(len(tk) - 2, 0)),
                       i -> struct_pack(u := tk[i+1], v := tk[i+2],
                                        w := tk[i+3]))) AS g
            FROM d WHERE NOT held) q),
    tri_h AS (
        SELECT doc_id, g.u AS u, g.v AS v, g.w AS w FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, greatest(len(tk) - 2, 0)),
                       i -> struct_pack(u := tk[i+1], v := tk[i+2],
                                        w := tk[i+3]))) AS g
            FROM d WHERE held) q),
    big AS (
        SELECT DISTINCT g.a AS a, g.b AS b FROM (
            SELECT unnest(list_transform(
                       range(0, greatest(len(tk) - 1, 0)),
                       i -> struct_pack(a := tk[i+1],
                                        b := tk[i+2]))) AS g
            FROM d WHERE NOT held) q),
    c3 AS (SELECT u, v, w, count(*) AS c3 FROM tri_tr GROUP BY u, v, w),
    ctx AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS cuv,
                   count(*) AS n1uv
            FROM c3 GROUP BY u, v),
    sfx AS (SELECT v, w, count(*) AS n1vw FROM c3 GROUP BY v, w),
    mid AS (SELECT v, count(*) AS n1vdot FROM c3 GROUP BY v),
    lam AS (SELECT v, count(*) AS lam2 FROM sfx GROUP BY v),
    r1 AS (SELECT b AS w, count(*) AS r1w FROM big GROUP BY b),
    nbt AS (SELECT count(*) AS nbt FROM big),
    ht AS (SELECT DISTINCT u, v, w FROM tri_h),
    st AS (
        SELECT u, v, w, {_KN_P3} AS p, (r1w IS NULL) AS oov
        FROM ht LEFT JOIN c3 USING (u, v, w) LEFT JOIN ctx USING (u, v)
                LEFT JOIN sfx USING (v, w) LEFT JOIN mid USING (v)
                LEFT JOIN lam USING (v) LEFT JOIN r1 USING (w)
                CROSS JOIN nbt),
    sc AS (
        SELECT tri_h.doc_id, st.p, st.oov
        FROM tri_h JOIN st USING (u, v, w))
    SELECT doc_id, count(*) AS n_trigrams,
           CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           {rnd_sql("-avg(log2(p))", 4)} AS ce_bits,
           {rnd_sql("pow(2.0, -avg(log2(p)))", 4)} AS ppl
    FROM sc GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["bpe_pair_stats"] = f"""
    WITH toks AS (
        SELECT t.term, count(*) AS tc
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> '' GROUP BY t.term),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(term)),
                                     i -> substr(term, i, 2))) AS pair, tc
        FROM toks WHERE length(term) >= 2)
    SELECT pair, CAST(sum(tc) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_PAIR_TOP_N}
"""

def _bpe_round_ctes(carry_term: bool) -> "tuple[list[str], list[str], str]":
    """Per-round CTE blocks replaying the BATCHED-BPE trajectory of
    :func:`_bpe_train` (the `pagerank_dup_graph` unroll pattern, round
    granularity).  Each round: pair counts → ranked top-BPE_CAND_POOL
    candidates → GREEDY SYMBOL-DISJOINT selection via a recursive CTE
    that walks the pool in rank order carrying the used-symbol set →
    one combined ``list_reduce`` fold applying the whole batch.

    Returns ``(cte_blocks, per_round_out_selects, final_vocab_cte)``;
    callers must prefix ``WITH RECURSIVE``.
    """
    sep = "chr(31)"
    tcols = "term, " if carry_term else ""
    ctes = [
        f"""w0 AS MATERIALIZED (
        SELECT {tcols}tc, substr(sp, 1, length(sp) - 1) AS syms FROM (
            SELECT term, count(*) AS tc,
                   regexp_replace(term, '(.)', '\\1' || {sep}, 'g') AS sp
            FROM (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE term <> '' GROUP BY term))"""
    ]
    outs = []
    for i in range(1, BPE_ROUNDS_MAX + 1):
        prev_total = "0" if i == 1 else f"(SELECT total FROM cum{i - 1})"
        # the rule claimed by symbol x: at most one, because batch
        # symbols are disjoint (b values distinct across the batch)
        a_of_x = f"m.al[list_position(m.bl, x)]"
        ctes.append(
            f"""p{i} AS MATERIALIZED (
        SELECT pr[1] AS a, pr[2] AS b, sum(tc) AS n FROM (
            SELECT tc, unnest(list_transform(range(len(l) - 1),
                       j -> [l[j + 1], l[j + 2]])) AS pr
            FROM (SELECT tc, string_split(syms, {sep}) AS l FROM w{i - 1}))
        GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
        SELECT a, b, CAST(n AS BIGINT) AS n,
               row_number() OVER (ORDER BY n DESC, a, b) AS rk
        FROM p{i} QUALIFY rk <= {BPE_CAND_POOL})"""
        )
        ctes.append(
            f"""cap{i} AS MATERIALIZED (
        SELECT LEAST({BPE_BATCH}, {BPE_MERGES} - {prev_total}) AS cap)"""
        )
        ctes.append(
            f"""sel{i} AS (
        SELECT 0::BIGINT AS rk,
               CAST([] AS VARCHAR[]) AS al, CAST([] AS VARCHAR[]) AS bl,
               CAST([] AS BIGINT[]) AS nl, CAST([] AS VARCHAR[]) AS used
        UNION ALL
        SELECT rk,
               CASE WHEN ok THEN list_append(al, a) ELSE al END,
               CASE WHEN ok THEN list_append(bl, b) ELSE bl END,
               CASE WHEN ok THEN list_append(nl, n) ELSE nl END,
               CASE WHEN ok THEN list_concat(used, [a, b]) ELSE used END
        FROM (
            SELECT c.rk, c.a, c.b, c.n, s.al, s.bl, s.nl, s.used,
                   (len(s.al) < cap{i}.cap
                    AND NOT list_contains(s.used, c.a)
                    AND NOT list_contains(s.used, c.b)) AS ok
            FROM sel{i} s JOIN c{i} c ON c.rk = s.rk + 1, cap{i}))"""
        )
        ctes.append(
            f"""msel{i} AS MATERIALIZED (
        SELECT al, bl, nl FROM sel{i} ORDER BY rk DESC LIMIT 1)"""
        )
        ctes.append(
            f"""cum{i} AS MATERIALIZED (
        SELECT {prev_total} + (SELECT len(al) FROM msel{i}) AS total)"""
        )
        ctes.append(
            f"""w{i} AS MATERIALIZED (
        SELECT {tcols}tc, list_reduce(l, (acc, x) -> CASE
                WHEN list_contains(m.bl, x)
                     AND (acc = {a_of_x}
                          OR right(acc, length({a_of_x}) + 1)
                              = {sep} || {a_of_x})
                THEN substr(acc, 1, length(acc) - length({a_of_x}))
                     || {a_of_x} || x
                ELSE acc || {sep} || x END) AS syms
        FROM (SELECT {tcols}tc, string_split(syms, {sep}) AS l
              FROM w{i - 1}), msel{i} AS m)"""
        )
        outs.append(
            f"""SELECT CAST(({prev_total} + j) AS INTEGER) AS rank,
               al[j] AS pair_a, bl[j] AS pair_b,
               al[j] || bl[j] AS merged, nl[j] AS pair_count
        FROM (SELECT unnest(range(1, len(al) + 1)) AS j, al, bl, nl
              FROM msel{i})"""
        )
    return ctes, outs, f"w{BPE_ROUNDS_MAX}"


def _bpe_merges_oracle() -> str:
    ctes, outs, _final = _bpe_round_ctes(carry_term=False)
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(outs)
        + "\n    ORDER BY rank"
    )


ORACLES["bpe_train_merges"] = _bpe_merges_oracle()


def _bpe_segment_oracle() -> str:
    """Training replay (term column carried through every round) plus
    the vocabulary-join application pass of ``bpe_segment_docs``."""
    sep = "chr(31)"
    ctes, _outs, final = _bpe_round_ctes(carry_term=True)
    ctes.append(
        f"""tok AS (
        SELECT term, len(string_split(syms, {sep})) AS n_tok,
               length(term) AS n_chr
        FROM {final})"""
    )
    ctes.append(
        """words AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> '')"""
    )
    ratio = rnd_sql("sum(n_chr) / sum(n_tok)", 4)
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chr) AS BIGINT) AS n_chars,
           {ratio} AS chars_per_token
    FROM words JOIN tok USING (term)
    GROUP BY doc_id ORDER BY doc_id"""
    )


ORACLES["bpe_segment_docs"] = _bpe_segment_oracle()


def _fertility_oracle() -> str:
    """The segment-oracle replay with the rollup keyed by language."""
    sep = "chr(31)"
    ctes, _outs, final = _bpe_round_ctes(carry_term=True)
    ctes.append(
        f"""tok AS (
        SELECT term, len(string_split(syms, {sep})) AS n_tok,
               length(term) AS n_chr
        FROM {final})"""
    )
    ctes.append(
        """words AS (
        SELECT doc_id, lang, t.term
        FROM documents, unnest(string_split(text, ' ')) AS t(term)
        WHERE t.term <> '')"""
    )
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(ctes)
        + f"""
    SELECT lang, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_words,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chr) AS BIGINT) AS n_chars,
           {rnd_sql("sum(n_tok) / count(*)", 4)} AS fertility,
           {rnd_sql("sum(n_chr) / sum(n_tok)", 4)} AS chars_per_token
    FROM words JOIN tok USING (term)
    GROUP BY lang ORDER BY lang"""
    )


ORACLES["tokenizer_fertility"] = _fertility_oracle()

ORACLES["training_manifest"] = f"""
    SELECT d.doc_id, d.lang, d.source,
           len(string_split(d.text, ' ')) AS n_tokens,
           e.vec_id IS NOT NULL AS has_embedding,
           coalesce(len(e.embedding), 0) AS embedding_dim,
           {_hash60_sql("concat(d.source, ':', d.doc_id)")} % 1000
               < ({_hash60_sql("d.source")} % {MIXTURE_SPREAD}
                  + {MIXTURE_BASE_PERMILLE}) AS kept
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    ORDER BY d.doc_id
"""

ORACLES["source_overlap_matrix"] = f"""
    WITH e AS (
        SELECT DISTINCT source, {_hash60_sql('gram')} AS g
        FROM (SELECT source, unnest({_shingles_sql('text')}) AS gram
              FROM documents)),
    sz AS (SELECT source, count(*) AS n FROM e GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared
        FROM e a JOIN e b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
    SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, shared,
           {rnd_sql('shared / (sa.n + sb.n - shared)', 4)} AS jaccard,
           {rnd_sql('shared / least(sa.n, sb.n)', 4)} AS containment_min
    FROM shared JOIN sz sa ON sa.source = source_a
                JOIN sz sb ON sb.source = source_b
    ORDER BY source_a, source_b
"""

ORACLES["quality_weighted_sample"] = f"""
    WITH q AS (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents),
    s AS (SELECT doc_id, quality,
                 CASE WHEN (({_hash60_sql("concat('qsamp:', doc_id)")}
                             % {QSAMP_RES})
                            / {QSAMP_RES}.0) < quality * quality
                      THEN 1 ELSE 0 END AS kept
          FROM q),
    b AS (SELECT *, {QUALITY_BUCKET_SQL} AS quality_bucket FROM s)
    SELECT quality_bucket, count(*) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           {rnd_sql('(sum(kept) * 1.0 / count(*))', 4)} AS kept_frac,
           {rnd_sql('avg(quality)', 4)} AS avg_quality,
           {rnd_sql('(sum(kept * quality) / greatest(sum(kept), 1))', 4)}
               AS avg_quality_kept
    FROM b GROUP BY quality_bucket ORDER BY quality_bucket
"""

_STOP_EN_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
_GOPHER_FAILS = " + ".join(
    f"(CASE WHEN NOT {r} THEN 1 ELSE 0 END)"
    for r in ("r_word_count", "r_mean_word_len", "r_alpha_frac",
              "r_stopwords", "r_symbol_frac")
)
ORACLES["quality_filter_rules"] = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    c AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(toks, t -> length(t)))
                AS BIGINT) AS sum_len,
            len(list_filter(toks,
                t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
            len(list_distinct(list_filter(toks,
                t -> t IN ({_STOP_EN_SQL})))) AS n_stop,
            len(list_filter(toks,
                t -> regexp_matches(t, '^[^a-zA-Z0-9]+$'))) AS n_symbol
          FROM t),
    r AS (SELECT doc_id, n_words,
            {rnd_sql('sum_len / n_words', 4)} AS mean_word_len,
            (n_words >= {GOPHER_MIN_WORDS}
             AND n_words <= {GOPHER_MAX_WORDS}) AS r_word_count,
            (sum_len / n_words >= {GOPHER_MEAN_LEN_RANGE[0]}
             AND sum_len / n_words <= {GOPHER_MEAN_LEN_RANGE[1]})
                AS r_mean_word_len,
            (n_alpha / n_words >= {GOPHER_MIN_ALPHA_FRAC}) AS r_alpha_frac,
            (n_stop >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords,
            (n_symbol / n_words <= {GOPHER_MAX_SYMBOL_FRAC})
                AS r_symbol_frac
          FROM c)
    SELECT doc_id, n_words, mean_word_len, r_word_count, r_mean_word_len,
           r_alpha_frac, r_stopwords, r_symbol_frac,
           CAST({_GOPHER_FAILS} AS BIGINT) AS n_rules_failed,
           ({_GOPHER_FAILS}) = 0 AS keep
    FROM r ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# Heavy hitters: two-pass exact frequent tokens (Misra-Gries prune)
# ---------------------------------------------------------------------------

#: report tokens with corpus frequency > n_tokens / HH_K
HH_K = 200
#: per-partition Misra-Gries counter budget.  The MG guarantee needs
#: only C ≥ HH_K − 1 (an item with global count > N/K exceeds n_p/K on
#: at least one partition by averaging, and a C-counter MG summary
#: under-counts any item by at most n_p/(C+1)); 2× gives margin so the
#: candidate pool stays small without running near the bound.
HH_COUNTERS = 2 * HH_K


def _mg_candidates(budget: int = HH_COUNTERS):
    """Per-partition Misra-Gries summary over Arrow batches: merge each
    batch's value_counts into the counter dict, then apply the mergeable
    -summaries decrement (Agarwal et al. 2012): subtract the
    (budget+1)-th largest count from everyone and drop the non-positive.
    Emits the surviving tokens — a guaranteed SUPERSET of the true heavy
    hitters, in ``budget`` counters of memory regardless of vocabulary
    size.  ``budget`` is closed over (not read from the module) so it
    ships to Python workers with the function."""

    def summarize(pdf_iter):
        import pandas as pd

        counts: dict = {}
        for pdf in pdf_iter:
            for tok, c in pdf["token"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > budget:
                cut = sorted(counts.values(), reverse=True)[budget]
                counts = {t: v - cut for t, v in counts.items() if v > cut}
        yield pd.DataFrame(
            {"token": list(counts), "cnt": list(counts.values())}
        )

    return summarize


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-frequent tokens (count > N/``HH_K``) without ever
    shuffling the full vocabulary — the two-pass Misra-Gries design:

    pass 1 ships each partition's ``HH_COUNTERS``-entry MG summary
    (:func:`_mg_candidates` — bounded memory, no per-key state), whose
    union is a guaranteed superset of every true heavy hitter; pass 2
    recounts ONLY the broadcast candidate set exactly.  The output is
    therefore exact and deterministic even though the candidate pool
    depends on partitioning — false candidates fall to the threshold.

    Why it matters at 100 TB: a plain groupBy-HAVING shuffles every
    distinct token (web-scale vocabularies are billions of keys); here
    the shuffle carries ≤ C×partitions candidate rows plus the
    candidate-filtered partial counts, and the token stream is read
    twice sequentially — the classic heavy-hitters trade.

    No counterpart in the reference (SURVEY §2.4 extension: text
    analysis family).

    The testdata vocabulary (31 words) never overflows the counter
    budget, so the MG prune path is exercised by synthetic large-
    vocabulary tests (test_heavy_hitters_* — planted heavies over a
    5000-word Zipf corpus with a starved counter budget).
    """
    return _heavy_hitters_over(fan_out(load_table(spark, sf_dir, "documents")))


def _heavy_hitters_over(
    docs: DataFrame, k: int = HH_K, counters: int = HH_COUNTERS
) -> DataFrame:
    """:func:`heavy_hitters` body over an explicit docs frame with
    explicit dials (separate so tests can drive a synthetic large-
    vocabulary corpus through the real MG prune with a starved
    budget)."""
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    cands = (
        toks.mapInPandas(_mg_candidates(counters), "token string, cnt long")
        .select("token")
        .distinct()
    )
    return _exact_recount(docs, cands, k)


def _exact_recount(docs: DataFrame, cands: DataFrame, k: int) -> DataFrame:
    """Pass 2, shared with the streaming twin: exact count of the
    (broadcast, counters-sized) candidate tokens over ``docs``, cut at
    count > N/k.  Exact and deterministic whatever superset ``cands``
    is — false candidates fall to the threshold."""
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    counted = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.col("n") / k)
        .select(
            "token",
            "cnt",
            rnd(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "token")
    )


ORACLES["heavy_hitters"] = f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents),
        tot AS (
            SELECT sum(len(string_split(text, ' ')))::DOUBLE AS n
            FROM documents),
        cnts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
        SELECT token, cnt, {rnd_sql('cnt / n', 6)} AS share
        FROM cnts, tot WHERE cnt > n / {HH_K}
        ORDER BY cnt DESC, token
    """

QUERIES = {
    "text_stats": text_stats,
    "quality_score": quality_score,
    "quality_filter_rules": quality_filter_rules,
    "quality_weighted_sample": quality_weighted_sample,
    "lang_id": lang_id,
    "token_count_bpe": token_count_bpe,
    "doc_fingerprint": doc_fingerprint,
    "ngram_topk": ngram_topk,
    "stratified_sample": stratified_sample,
    "bm25_topk": bm25_topk,
    "chunk_documents": chunk_documents,
    "pack_sequences": pack_sequences,
    "repetition_stats": repetition_stats,
    "contamination_check": contamination_check,
    "source_overlap_matrix": source_overlap_matrix,
    "tfidf_topterms": tfidf_topterms,
    "mixture_sample": mixture_sample,
    "perplexity_proxy": perplexity_proxy,
    "kn_perplexity": kn_perplexity,
    "kn_perplexity_heldout": kn_perplexity_heldout,
    "tokenizer_fertility": tokenizer_fertility,
    "dsir_sample": dsir_sample,
    "bpe_pair_stats": bpe_pair_stats,
    "bpe_train_merges": bpe_train_merges,
    "bpe_segment_docs": bpe_segment_docs,
    "training_manifest": training_manifest,
    "heavy_hitters": heavy_hitters,
}


# --------------------------------------------------------------------------
# Scalable exact global ranking (round-9 addition)
# --------------------------------------------------------------------------

#: value-bucket fan-out for the global rank: each bucket's rows are
#: ranked in ONE task, so B bounds the largest window partition at
#: roughly n/B under a non-degenerate score distribution.  32 matches
#: the test harness's parallelism; a 1000-executor corpus would raise
#: it (the driver-side offset table stays B+1 rows regardless).
RANK_BUCKETS = 32


def global_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global rank (dense total order, no ties possible:
    ``(quality, doc_id)``) of every document by composite quality —
    WITHOUT the single-task ``row_number() OVER (ORDER BY …)`` window
    that a naive global ranking plans (an un-partitioned window
    serializes the full corpus through one task; at 100 TB that is the
    canonical scale-killer this operator exists to avoid).

    Two-phase value-bucketed ranking, the distributed zipWithIndex:

    1. bucket every row by score value (``floor(quality·B)``, clamped),
       count rows per bucket — a B-row partial aggregate;
    2. collect the B counts (bounded by TOPOLOGY, not data — same
       driver-reduce class as k-means' K·P centroid rows), prefix-sum
       them into bucket offsets, broadcast-join the offsets back, and
       ``row_number()`` WITHIN each bucket ordered by (quality,
       doc_id); global rank = bucket offset + local row number.

    Exact because buckets partition the VALUE domain monotonically:
    every row in a lower bucket precedes every row in a higher one, and
    the in-bucket window settles the rest.  Skew honesty: a degenerate
    distribution (all docs one score) collapses to one bucket = one
    task; real quality scores spread, and B scales with the cluster.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    from ..cache import persist_tracked

    q = persist_tracked(
        _stopword_counts(docs).select(
            "doc_id", quality_expr().alias("quality")
        )
    )
    bucket = F.least(
        F.floor(F.col("quality") * RANK_BUCKETS).cast("int"),
        F.lit(RANK_BUCKETS - 1),
    )
    qb = q.withColumn("bucket", bucket)
    counts = {
        r["bucket"]: r["cnt"]
        for r in qb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = [], 0
    for b in range(RANK_BUCKETS):
        offsets.append((b, acc))
        acc += counts.get(b, 0)
    off_df = spark.createDataFrame(offsets, "bucket int, offset long")
    w = Window.partitionBy("bucket").orderBy("quality", "doc_id")
    return (
        qb.join(F.broadcast(off_df), "bucket")
        .select(
            "doc_id",
            "quality",
            (F.row_number().over(w) + F.col("offset")).alias("rank"),
            rnd(
                (F.row_number().over(w) + F.col("offset"))
                / F.lit(float(total)),
                4,
            ).alias("pctile"),
        )
        .orderBy("rank")
    )


ORACLES["global_rank_quality"] = f"""
    WITH q AS (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents),
    r AS (
        SELECT doc_id, quality,
               row_number() OVER (ORDER BY quality, doc_id) AS rank,
               count(*) OVER () AS total
        FROM q)
    SELECT doc_id, quality, rank,
           {rnd_sql("rank / CAST(total AS DOUBLE)", 4)} AS pctile
    FROM r ORDER BY rank
"""

QUERIES["global_rank_quality"] = global_rank_quality


# --------------------------------------------------------------------------
# Token-budget mixture planning (round-9 addition)
# --------------------------------------------------------------------------

#: training-run token budget as a fraction of corpus tokens (permille —
#: integer arithmetic until the final rates) and the per-language
#: mixture target: equal weight across the five languages, the
#: "uniform over domains" baseline mixture (cf. the Pile / ROOTS
#: mixture tables — fitting weights is a modeling choice; the PLAN
#: arithmetic below is what the pipeline must compute for ANY weights).
BUDGET_PERMILLE = 500


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning under a token budget: given the per-language
    token inventory and an equal-weight target mixture over a budget of
    ``BUDGET_PERMILLE``/1000 of the corpus, compute each language's
    target tokens, the sampling rate that realizes it, the shortfall
    where the inventory can't cover the target, and the number of
    epochs (repeat passes) needed to fill the target by oversampling —
    the actual planning table behind "how do we hit 20% zh when zh is
    4% of the crawl?".

    All planning arithmetic derives from ONE partial-agg rollup
    (per-language token sums — group-cardinality-sized at any corpus)
    plus a broadcast 1-row total; rates/deficits are fixed-form
    doubles over exact integer sums.  No second corpus pass: the plan
    is what downstream samplers (``mixture_sample``,
    ``quality_weighted_sample``) would be configured with.
    """
    docs = load_table(spark, sf_dir, "documents")
    inv = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("available_tokens"),
    )
    totals = inv.agg(
        F.sum("available_tokens").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    target = (
        F.col("corpus_tokens") * BUDGET_PERMILLE / 1000.0 / F.col("n_langs")
    )
    rate = target / F.col("available_tokens")
    return (
        inv.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "available_tokens",
            rnd(target, 2).alias("target_tokens"),
            rnd(F.least(rate, F.lit(1.0)), 6).alias("sample_rate"),
            rnd(
                F.greatest(target - F.col("available_tokens"), F.lit(0.0)), 2
            ).alias("token_deficit"),
            F.ceil(rate).cast("long").alias("epochs_needed"),
        )
        .orderBy("lang")
    )


ORACLES["token_budget_plan"] = f"""
    WITH inv AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS available_tokens
        FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(available_tokens) AS BIGINT) AS corpus_tokens,
                 count(*) AS n_langs
          FROM inv)
    SELECT lang, n_docs, available_tokens,
           {rnd_sql(
               f"corpus_tokens * {BUDGET_PERMILLE} / 1000.0 / n_langs", 2)}
               AS target_tokens,
           {rnd_sql(
               f"least(corpus_tokens * {BUDGET_PERMILLE} / 1000.0 / n_langs"
               " / available_tokens, 1.0)", 6)} AS sample_rate,
           {rnd_sql(
               f"greatest(corpus_tokens * {BUDGET_PERMILLE} / 1000.0"
               " / n_langs - available_tokens, 0.0)", 2)} AS token_deficit,
           CAST(ceil(corpus_tokens * {BUDGET_PERMILLE} / 1000.0 / n_langs
                     / available_tokens) AS BIGINT) AS epochs_needed
    FROM inv, t ORDER BY lang
"""

QUERIES["token_budget_plan"] = token_budget_plan

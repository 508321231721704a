"""Corpus-cleaning operators for training-data pipelines over ``documents``.

Standard pre-training cleanup passes the reference lacks entirely (its
only text operator is substring containment, Search.cpp:217-227); all are
mandated-extension material:

- :func:`dedup_passage` — passage-level (fixed token-window) corpus
  deduplication, the line/paragraph-dedup step of C4/Dolma-style pipelines
  adapted to newline-free text: a passage duplicated anywhere in the corpus
  survives only at its first occurrence ``(doc_id, pos)``; every document
  reports how much of it survived and its reconstructed kept text.
- :func:`blocklist_redact` — wordlist-based redaction (the C4 "bad words"
  filter shape): count and replace blocklisted terms, emitting per-document
  hit counts plus the redacted text.
- :func:`pii_redact` — the ROOTS/Dolma PII scrub (emails, phone numbers,
  IPv4), self-planting deterministic instances so the oracle row is a real
  behavioral check.
- :func:`encoding_repair` — ftfy-core mojibake repair (UTF-8 decoded as
  cp1252/Windows-1252 once — artifacts like â€™ need cp1252's 0x80–0x9F
  page, which Latin-1 maps to control chars), literal chained replaces
  from the generated full round-trip table.
- :func:`clean_corpus` — the composed capstone pipeline.

Scale posture (100 TB): ``dedup_passage`` is built entirely from
partial-aggregatable groupBys — no window over ``partitionBy(passage)``,
which would funnel every copy of a hot passage (the exact case passage
dedup exists for) into a single task with no map-side combine.  The
survivor of each passage is ``min(struct(doc_id, pos))``, which combines
map-side, so a passage duplicated a million times contributes one row per
input partition to the shuffle.  ``blocklist_redact`` is a pure narrow
codegen'd regex pass — scan-bound, no shuffle at all before the
presentation sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .dedup import fan_out

#: tokens per passage window.  Newline-free synthetic text has no natural
#: paragraph boundary, so the passage is a fixed 8-token window — the same
#: granularity class as Dolma's paragraph dedup on real corpora.
PASSAGE_TOKENS = 8

#: redaction wordlist — corpus-vocabulary terms so the operator is
#: non-vacuous on the synthetic tables (mixes a rare term and common ones).
BLOCKLIST = ("dup", "slow", "big")

#: word-boundary alternation, identical semantics in Java regex (Spark) and
#: RE2 (DuckDB) — both support ``\b`` and non-capturing alternation.
_BLOCK_RE = r"\b(?:" + "|".join(BLOCKLIST) + r")\b"

REDACTED = "[REDACTED]"


def _windows_expr():
    """Column expr: the document's array of fixed token-window passages.

    The outer ``transform(array(split(...)), toks -> ...)`` is the same
    let-binding trick as :func:`..operators.dedup.shingles`: evaluate the
    split ONCE per row instead of once per passage.
    """
    return F.expr(
        f"""element_at(transform(array(split(text, ' ')), toks ->
            transform(sequence(0, CAST(ceil(size(toks) / {PASSAGE_TOKENS}.0) AS INT) - 1),
                      i -> concat_ws(' ', slice(toks, i * {PASSAGE_TOKENS} + 1,
                                                {PASSAGE_TOKENS})))), 1)"""
    )


def _passages(docs: DataFrame) -> DataFrame:
    """Explode each document into (doc_id, pos, passage) fixed windows."""
    return docs.select(
        "doc_id", F.posexplode(_windows_expr()).alias("pos", "passage")
    )


def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level corpus dedup: keep each distinct passage only at its
    first occurrence, ordered by (doc_id, pos); report per-document
    survival and the reconstructed kept text.

    Three skew-tolerant steps, all map-side-combinable (no window over
    ``partitionBy(passage)`` — a hot passage would land whole in one task):

    1. per-passage survivor = ``min(struct(doc_id, pos))`` — partial agg,
       so N copies of a passage shuffle ≤ one row per input partition;
    2. survivors regrouped by their winning doc → n_kept + kept text
       (each distinct passage now exists exactly once — no skew possible);
    3. doc-level passage counts come straight off the pre-explode array
       (narrow), left-joined on doc_id (unique per side, never hot).

    A fully-duplicated document keeps nothing and reports NULL kept text
    (mirrors the oracle's empty ``string_agg``).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # cast: Spark size() is INT, the oracle's count(*) is BIGINT, and the
    # driver's value-hash is dtype-sensitive
    counts = docs.select(
        "doc_id", F.size(_windows_expr()).cast("long").alias("n_passages")
    )
    survivors = _passages(docs).groupBy("passage").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = (
        survivors.groupBy(F.col("first.doc_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_sort(
                F.collect_list(F.struct(F.col("first.pos").alias("pos"), "passage"))
            ).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["passage"]), " "
            ).alias("kept_text"),
        )
    )
    return (
        counts.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "kept_text",
        )
        .orderBy("doc_id")
    )


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning capstone: the C4/Dolma-shaped pipeline
    composed from the repo's standalone stages, one record per document.

    quality gate (Arrow stopword kernel → composite score) → language ID
    (same kernel pass — counted ONCE, both scores derived from it) →
    blocklist hit count → dedup keep/drop (exact ∪ MinHash-LSH →
    connected components) → deterministic mixture resample.  The final
    verdict keeps a document iff it survives dedup, is not quality-'low',
    and wins its source's mixture draw.

    Scale shape: the stage outputs are 1:1 per doc_id and join on it —
    never skewed, AQE-broadcastable; the only wide work is the stages'
    own (individually scale-audited) plans.
    """
    from .graph import keeplist_unsorted
    from .text import (
        MIXTURE_BASE_PERMILLE,
        MIXTURE_SPREAD,
        _stopword_counts,
        pred_lang_expr,
        quality_bucket_expr,
        quality_expr,
    )
    from .dedup import hash60

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # No branch overlap: with the CC sweep on the driver, overlapping
    # the quality/lang kernel with the keeplist lost an interleaved A/B
    # (sf0.1, 4 cores, 5 pairs: 4.56 s on vs 4.50 s off, medians)
    scored = _stopword_counts(docs).select(
        "doc_id",
        quality_expr().alias("quality"),
        pred_lang_expr().alias("pred_lang"),
    )
    permille = hash60(F.col("source")) % MIXTURE_SPREAD + MIXTURE_BASE_PERMILLE
    keep_key = F.concat_ws(":", F.col("source"), F.col("doc_id"))
    # cheap per row, yet the fanned-out regex count beat one serial pass
    # over the raw scan at sf0.1, even at one more job: see FAN_OUT_OK
    # in tests/test_plan_lint.py
    flags = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_BLOCK_RE)).cast("long").alias("n_hits"),
        (hash60(keep_key) % 1000 < permille).alias("kept_sample"),
    )
    dedup_verdict = keeplist_unsorted(spark, sf_dir).withColumnRenamed(
        "kept", "kept_dedup"
    )
    out = (
        scored.join(flags, "doc_id")
        .join(dedup_verdict, "doc_id")
        .withColumn("quality_bucket", quality_bucket_expr(F.col("quality")))
    )
    return out.select(
        "doc_id",
        "pred_lang",
        "quality",
        "quality_bucket",
        "n_hits",
        "cluster_id",
        "kept_dedup",
        "kept_sample",
        (
            F.col("kept_dedup")
            & (F.col("quality_bucket") != "low")
            & F.col("kept_sample")
        ).alias("kept_final"),
    ).orderBy("doc_id")


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the published pipeline shape
    (Wenzek et al. 2020): language-ID every document, score it under
    the Kneser–Ney LM, split each language's perplexity distribution
    into HEAD / MIDDLE / TAIL terciles (lower perplexity = more
    Wikipedia-like), and keep head+middle survivors of dedup.

    Composition of the repo's standalone stages: :func:`~.text.lang_id`
    prediction + :func:`~.text.kn_perplexity` scores +
    :func:`~.graph.keeplist_unsorted` dedup verdicts.  Documents too
    short to score (< 3 tokens) land in an explicit ``unscored`` bucket
    and are never kept.

    Tercile mechanics — VALUE-bucketed, not row-ranked: the corpus
    collapses to per-``(pred_lang, ppl)`` counts (ppl is 4-dp rounded,
    so this is a partial agg over a bounded value domain), the tercile
    cut is decided per VALUE GROUP by integer arithmetic on the
    cumulative count below it (``3·cum_before < n`` → head,
    ``< 2n`` → middle), and the verdict joins back on (lang, ppl).
    Every doc sharing a ppl value shares a bucket — deterministic in
    both engines with no float boundary and no doc-level tiebreak.

    Scale shape: the only window runs over the DISTINCT-(lang, ppl)
    value table — bounded by value cardinality, not corpus size — so
    the hot-language skew that a ``row_number() OVER (PARTITION BY
    lang)`` would funnel into one task never materializes (same design
    as :func:`~.text.global_rank_quality`); the corpus sees one
    partial-agg groupBy and one (lang, ppl)-keyed join back, which AQE
    broadcasts at real scale.  CCNet itself computes the cutoffs from a
    sample for the same reason.

    No counterpart in the reference (SURVEY §2.4 extension; the
    training-data-pipeline family).
    """
    from pyspark.sql.window import Window

    from ..cache import persist_tracked
    from ..parallel import co_materialize
    from .graph import keeplist_unsorted
    from .text import _kn_doc_scores, _stopword_counts, pred_lang_expr

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    langs = _stopword_counts(docs).select(
        "doc_id", pred_lang_expr().alias("pred_lang")
    )
    ppl = _kn_doc_scores(docs).select("doc_id", "ppl")
    # Round-15 (guide §2.6): the lang-ID + KN-scoring branch and the
    # dedup keeplist are independent until the final join, but the
    # keeplist's connected-components sweep schedules many small
    # sequential driver actions at construction time — run sequentially
    # the cluster idles through them.  Materialize the scoring branch
    # on a background driver thread so its corpus-scale stages
    # back-fill the cores the CC loop leaves free; the final join then
    # reads both branches from cache.  Same DAG, same results —
    # scheduling only.  Re-measured with the CC sweep on the driver: it
    # still won every pair of an interleaved A/B (sf0.1, 4 cores, 5
    # pairs: 9.52 s on vs 10.32 s off, medians).
    scored = persist_tracked(langs.join(ppl, "doc_id", "left"))
    with co_materialize(scored, "ccnet_buckets: lang+KN branch (overlapped)"):
        keep = keeplist_unsorted(spark, sf_dir).select(
            "doc_id", F.col("kept").alias("kept_dedup")
        )
    base = persist_tracked(scored.join(keep, "doc_id"))
    vals = (
        base.where(F.col("ppl").isNotNull())
        .groupBy("pred_lang", "ppl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.partitionBy("pred_lang").orderBy("ppl")
    wall = Window.partitionBy("pred_lang")
    vb = vals.select(
        "pred_lang",
        "ppl",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_before"),
        F.sum("c").over(wall).alias("n"),
    )
    buckets = vb.select(
        "pred_lang",
        "ppl",
        F.when(F.col("cum_before") * 3 < F.col("n"), "head")
        .when(F.col("cum_before") * 3 < 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    bcol = F.coalesce(F.col("bucket"), F.lit("unscored"))
    return (
        base.join(buckets, ["pred_lang", "ppl"], "left")
        .select(
            "doc_id",
            "pred_lang",
            "ppl",
            bcol.alias("bucket"),
            "kept_dedup",
            (F.col("kept_dedup") & bcol.isin("head", "middle")).alias(
                "kept_final"
            ),
        )
        .orderBy("doc_id")
    )


def blocklist_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist hit counting + redaction — narrow, codegen'd, scan-bound."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_BLOCK_RE)).cast("long").alias("n_hits"),
        F.regexp_replace(F.col("text"), _BLOCK_RE, REDACTED).alias("redacted_text"),
    ).orderBy("doc_id")


#: PII patterns — deliberately restricted to the Java-regex ∩ RE2 common
#: subset (no lookaround, ASCII ``\b``/``\d``, non-capturing groups) so
#: Spark and DuckDB match byte-for-byte.  The shapes are the standard
#: public pre-training scrub list (BigScience ROOTS / Dolma PII pass):
#: emails, NANP-style phone numbers, IPv4 addresses.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over ``documents`` — the scrubbing pass
    every public pre-training pipeline runs (ROOTS/Dolma shape): count
    and mask emails, phone numbers, and IPv4 literals.

    The synthetic corpus carries no organic PII, so the operator
    SELF-PLANTS a deterministic instance on a doc_id-keyed subset before
    scanning — pure string arithmetic both engines replay exactly, which
    turns the oracle comparison into a real behavioral check (non-zero
    hit counts, real rewrites) instead of an all-zeros tautology.  The
    planted rows double as the fixture for the redaction-order contract:
    emails are masked first, then phones, then IPs, so an email whose
    local part looks numeric can never be half-eaten by the IP pass.

    Scale: narrow codegen'd regex projection — scan-bound, zero
    shuffles before the presentation sort; at 100 TB this runs at
    whatever the parquet scan runs at.
    """
    docs = load_table(spark, sf_dir, "documents")
    return pii_redact_docs(_pii_plant(docs)).orderBy("doc_id")


def _pii_plant(docs: DataFrame) -> DataFrame:
    """Self-plant one deterministic PII instance per doc_id-keyed arm."""
    did = F.col("doc_id")
    return docs.withColumn(
        "pt",
        F.when(
            did % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            did % 5 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .when(
            did % 5 == 2,
            F.concat(
                F.col("text"),
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(F.col("text")),
    )


def pii_redact_docs(docs: DataFrame) -> DataFrame:
    """The PII detect+redact projection over any docs DataFrame with a
    ``pt`` column — shared by the batch query and the streaming twin
    (map-only: works identically under Structured Streaming)."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pt"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )

    # counts derive from the MASK LITERALS in the redacted text (length
    # arithmetic, no regex) instead of a second regexp pass per pattern:
    # 3 regex scans per doc instead of 6 — measured 1.6× on the
    # scan-bound profile (11.0→6.7 s sf1, 148→94 s sf10).  Exact
    # whenever the input does not already contain the mask tokens
    # themselves (true by construction here; an ARBITRARY corpus that
    # organically carries '<EMAIL>'-style tokens would inflate the
    # count, not corrupt the rewrite — if this operator is ever pointed
    # at real corpora, escape pre-existing mask tokens before the
    # redaction chain or fall back to the 6-regex counting plan).
    def mask_count(col, token):
        return (
            (F.length(col) - F.length(F.replace(col, F.lit(token))))
            / F.lit(len(token))
        ).cast("long")

    return docs.withColumn("rt", redacted).select(
        "doc_id",
        mask_count(F.col("rt"), "<EMAIL>").alias("n_emails"),
        mask_count(F.col("rt"), "<PHONE>").alias("n_phones"),
        mask_count(F.col("rt"), "<IP>").alias("n_ips"),
        F.col("rt").alias("redacted_text"),
    )


def _build_mojibake_table() -> tuple:
    """The FULL cp1252 (Windows-1252) mojibake round-trip table,
    generated — not hand-listed: for every byte 0x80–0xFF that cp1252
    defines, the artifact is what that character's UTF-8 bytes look
    like when mis-decoded as cp1252 once (``c.encode('utf-8')
    .decode('cp1252')``), and the fix is the character itself.  This is
    the exact artifact set a strict single-pass cp1252 mis-decode can
    produce — the core case of the public ftfy fixer.

    Skipped, provably-impossible entries: cp1252 leaves 5 bytes
    undefined (0x81 0x8D 0x8F 0x90 0x9D), so (a) those bytes have no
    character to repair to, and (b) the 6 characters whose UTF-8
    encoding CONTAINS one of those bytes (” Á Í Ï Ð Ý) can never
    round-trip through a strict cp1252 decode in the first place —
    text carrying their artifacts would have raised at decode time.
    117 entries survive.

    Ordering contract: longest artifact first (3-char UTF-8 trails
    before 2-char), fix-codepoint within a length — so no earlier
    entry's replace can consume the front of a later entry's match.
    Stronger, tested invariant: no artifact is a SUBSTRING of any
    other (3-char artifacts all lead with ``â`` = 0xE2's cp1252 char,
    which is never a continuation char; continuation chars are never
    lead chars).
    """
    entries = []
    for b in range(0x80, 0x100):
        try:
            c = bytes([b]).decode("cp1252")
        except UnicodeDecodeError:
            continue  # cp1252-undefined byte
        try:
            art = c.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            continue  # UTF-8 bytes hit a cp1252 hole — unreachable artifact
        entries.append((art, c))
    entries.sort(key=lambda e: (-len(e[0]), e[1]))
    return tuple(entries)


#: mojibake repair table — every UTF-8-read-as-cp1252 artifact (the
#: generated full round-trip page, see :func:`_build_mojibake_table`),
#: repaired by LITERAL chained replaces in table order.  Literal
#: replace, not regex: byte-identical semantics in Spark and DuckDB
#: with no dialect surface at all.
MOJIBAKE_TABLE = _build_mojibake_table()


def _moji_plant(docs: DataFrame) -> DataFrame:
    """Self-plant deterministic cp1252 artifacts on doc_id-keyed arms
    (the synthetic corpus is clean): é / ’ / ñ € ü — all real entries
    of the generated round-trip table."""
    did = F.col("doc_id")
    return docs.withColumn(
        "pt",
        F.when(
            did % 4 == 0, F.concat(F.col("text"), F.lit(" cafÃ© menu"))
        )
        .when(
            did % 4 == 1,
            F.concat(F.col("text"), F.lit(" donâ€™t stop")),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"),
                F.lit(" seÃ±or paid â‚¬5 for Ã¼ber"),
            ),
        )
        .otherwise(F.col("text")),
    )


def encoding_repair_docs(docs: DataFrame) -> DataFrame:
    """The mojibake detect+repair projection over any docs DataFrame
    with a ``pt`` column — shared by the batch query and the streaming
    twin (map-only: works identically under Structured Streaming).

    Repair = the chained literal replaces of :data:`MOJIBAKE_TABLE` in
    table order, staged (all 3-char artifacts, then all 2-char).
    Counting is length arithmetic on the STAGE CHECKPOINTS: a 3-char
    artifact repair drops exactly 2 chars and a 2-char repair drops 1,
    so

    ``n_mojibake = (len(pt) − len(t3)) / 2 + (len(t3) − len(rt))``

    counts the replace operations ACTUALLY PERFORMED at each stage —
    per the round-11 advice, counts can no longer diverge from the
    chained repair when one replacement abuts or synthesizes a later
    entry's match (the count moves with it, by construction).

    Execution (round-13 rewrite): the 117 chained replaces used to be
    117 nested Catalyst ``StringReplace`` expressions — 117 full string
    passes per row, too deep for one codegen method, and the measured
    top-quartile cost of a "scan-bound" pass (round-12 verdict).  The
    semantics are UNCHANGED but now run as ONE Arrow ``mapInPandas``
    kernel per batch: the batch's strings are joined on a ``\\x00``
    sentinel into a single Python string and each table entry runs as
    one C-speed ``str.replace`` guarded by an ``in`` pre-check, so the
    (typical) absent entries cost one fast substring reject over the
    batch instead of a per-row expression eval.  Joint-string chaining
    is exactly per-row chaining: no artifact or fix contains ``\\x00``,
    so no match can span or synthesize a row boundary (a text that
    itself contains ``\\x00`` falls back to per-row replaces).  Python
    ``str.replace`` and SQL ``replace`` agree bit-for-bit on literal
    patterns (leftmost, non-overlapping, all occurrences), and both
    ``len`` and ``F.length`` count codepoints, so the oracle is
    untouched.
    """
    t3_entries = [(a, f) for a, f in MOJIBAKE_TABLE if len(a) == 3]
    t2_entries = [(a, f) for a, f in MOJIBAKE_TABLE if len(a) == 2]

    def repair_batches(batches):
        import pandas as pd

        def chain(texts, entries):
            if any("\x00" in t for t in texts):  # sentinel collision
                out = []
                for t in texts:
                    for art, fix in entries:
                        if art in t:
                            t = t.replace(art, fix)
                    out.append(t)
                return out
            joint = "\x00".join(texts)
            for art, fix in entries:
                if art in joint:
                    joint = joint.replace(art, fix)
            return joint.split("\x00")

        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf["pt"].tolist()
            # NULL text propagates NULL through every output column —
            # exactly what the pre-rewrite Catalyst replace chain did
            # (replace/length over NULL are NULL); the joint-string
            # kernel runs on the non-null rows only
            nulls = [t is None for t in raw]
            texts = [t for t in raw if t is not None]
            n0 = [len(t) for t in texts]
            mid = chain(texts, t3_entries)
            n3 = [len(t) for t in mid]
            out = chain(mid, t2_entries)
            n2 = [len(t) for t in out]
            # each 3-char repair drops exactly 2 chars, each 2-char
            # repair drops 1 — (a−b) is even per row, so // is exact
            n_moji = [(a - b) // 2 + (b - c) for a, b, c in zip(n0, n3, n2)]
            it_m, it_o = iter(n_moji), iter(out)
            full_m = [None if nl else next(it_m) for nl in nulls]
            full_o = [None if nl else next(it_o) for nl in nulls]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_mojibake": pd.array(full_m, dtype="Int64"),
                    "repaired_text": full_o,
                    "was_clean": [
                        None if m is None else m == 0 for m in full_m
                    ],
                }
            )

    return docs.select("doc_id", "pt").mapInPandas(
        repair_batches,
        "doc_id long, n_mojibake long, repaired_text string,"
        " was_clean boolean",
    )


def encoding_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake detection + repair over ``documents`` — the
    encoding-fix pass of public corpus pipelines (ftfy's core case:
    UTF-8 text that was decoded as cp1252/Windows-1252 once, leaving
    artifacts like ``Ã©`` for ``é`` and ``â€™`` for ``’``), with the
    FULL generated 117-entry round-trip table
    (:func:`_build_mojibake_table`), not a hand-picked sample.

    Like :func:`pii_redact`, the synthetic corpus is clean, so the
    operator SELF-PLANTS deterministic artifacts on doc_id-keyed arms —
    both engines replay the plant exactly, making the oracle row a real
    repair check.  Repair is chained literal replaces and counting is
    per-stage length arithmetic (:func:`encoding_repair_docs`) — no
    regex anywhere, so there is no cross-engine dialect surface.

    Known limit (shared with ftfy itself): the table repairs ONE layer
    of mis-decoding per pass; doubly-encoded text needs a second pass,
    and on adversarial input a performed replace can expose or abut a
    later entry's match — the counts follow the replaces performed,
    which is the honest semantic.

    Scale: narrow codegen'd projection, scan-bound, zero shuffles
    before the presentation sort (same posture as the other redaction
    passes).
    """
    docs = load_table(spark, sf_dir, "documents")
    return encoding_repair_docs(_moji_plant(docs)).orderBy("doc_id")


# shared SQL fragments for the clean_corpus capstone oracle — single
# source of truth with each stage's own oracle
from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402
from .dedup import _hash60_sql  # noqa: E402
from ..functions import rnd_sql  # noqa: E402
from .text import (  # noqa: E402
    _KN_SELF_CTES,
    _LANG_SCORES,
    _PRED,
    MIXTURE_BASE_PERMILLE,
    MIXTURE_SPREAD,
    QUALITY_BUCKET_SQL,
    QUALITY_SQL,
)

_KEEP_KEY_SQL = "concat(d.source, ':', d.doc_id)"
_KEPT_SAMPLE_SQL = (
    f"({_hash60_sql(_KEEP_KEY_SQL)} % 1000"
    f" < ({_hash60_sql('d.source')} % {MIXTURE_SPREAD}"
    f" + {MIXTURE_BASE_PERMILLE}))"
)

# the dedup-keeplist label chain as a shared CTE block (clean_corpus
# and ccnet_buckets both compose it); callers must open WITH RECURSIVE
_KEEPLIST_CTES = f"""near AS ({_DEDUP_ORACLES["dedup_minhash_lsh"]}),
        exact AS (
            SELECT min(doc_id) OVER (PARTITION BY md5(text)) AS doc_a,
                   doc_id AS doc_b
            FROM documents),
        pairs AS (SELECT doc_a, doc_b FROM near
                  UNION ALL
                  SELECT doc_a, doc_b FROM exact WHERE doc_a <> doc_b),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, label) AS (
            SELECT doc_id, doc_id AS label FROM verts
            UNION
            SELECT e.dst AS doc_id, r.label
            FROM reach r JOIN edges e ON e.src = r.doc_id),
        labels AS (SELECT doc_id, min(label) AS cl FROM reach
                   GROUP BY doc_id)"""

ORACLES = {
    "clean_corpus": f"""
        WITH RECURSIVE
        {_KEEPLIST_CTES},
        q AS (SELECT doc_id, {QUALITY_SQL} AS quality FROM documents),
        s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM documents),
        base AS (
            SELECT d.doc_id,
                   {_PRED} AS pred_lang,
                   q.quality,
                   len(regexp_extract_all(d.text, '{_BLOCK_RE}')) AS n_hits,
                   coalesce(l.cl, d.doc_id) AS cluster_id,
                   (coalesce(l.cl, d.doc_id) = d.doc_id) AS kept_dedup,
                   {_KEPT_SAMPLE_SQL} AS kept_sample
            FROM documents d
            JOIN q ON q.doc_id = d.doc_id
            JOIN s ON s.doc_id = d.doc_id
            LEFT JOIN labels l ON l.doc_id = d.doc_id)
        SELECT doc_id, pred_lang, quality,
               {QUALITY_BUCKET_SQL} AS quality_bucket,
               n_hits, cluster_id, kept_dedup, kept_sample,
               (kept_dedup AND ({QUALITY_BUCKET_SQL}) <> 'low'
                AND kept_sample) AS kept_final
        FROM base ORDER BY doc_id
    """,
    "dedup_passage": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        chunks AS (
            SELECT doc_id, CAST(u.i AS INT) AS pos,
                   array_to_string(
                       t[u.i * {PASSAGE_TOKENS} + 1 : u.i * {PASSAGE_TOKENS} + {PASSAGE_TOKENS}],
                       ' ') AS passage
            FROM toks,
                 unnest(range(0, CAST(ceil(len(t) / {PASSAGE_TOKENS}.0) AS INT))) AS u(i)),
        flagged AS (
            SELECT doc_id, pos, passage,
                   row_number() OVER (PARTITION BY passage ORDER BY doc_id, pos) = 1
                       AS kept
            FROM chunks)
        SELECT doc_id,
               count(*) AS n_passages,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               string_agg(CASE WHEN kept THEN passage END, ' ' ORDER BY pos)
                   AS kept_text
        FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
    "blocklist_redact": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_BLOCK_RE}')) AS n_hits,
               regexp_replace(text, '{_BLOCK_RE}', '{REDACTED}', 'g')
                   AS redacted_text
        FROM documents ORDER BY doc_id
    """,
}

# generated from MOJIBAKE_TABLE — single source of truth with the
# engine: same two-stage chain (3-char entries, then 2-char), same
# checkpoint length arithmetic, each stage bound ONCE in its own CTE
def _moji_chain_sql(base: str, length: int) -> str:
    out = base
    for _a, _f in MOJIBAKE_TABLE:
        if len(_a) == length:
            _fq = _f.replace("'", "''")
            out = f"replace({out}, '{_a}', '{_fq}')"
    return out


_MOJI_COUNT_SQL = (
    "((length(pt) - length(t3)) // 2 + (length(t3) - length(rt)))"
)

ORACLES["encoding_repair"] = f"""
    WITH pl AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 4 = 0 THEN concat(text, ' cafÃ© menu')
                 WHEN doc_id % 4 = 1 THEN concat(text, ' donâ€™t stop')
                 WHEN doc_id % 4 = 2 THEN concat(text,
                                                 ' seÃ±or paid â‚¬5 for Ã¼ber')
                 ELSE text
               END AS pt
        FROM documents),
    s3 AS (SELECT doc_id, pt, {_moji_chain_sql("pt", 3)} AS t3 FROM pl),
    s2 AS (SELECT doc_id, pt, t3, {_moji_chain_sql("t3", 2)} AS rt FROM s3)
    SELECT doc_id,
           CAST({_MOJI_COUNT_SQL} AS BIGINT) AS n_mojibake,
           rt AS repaired_text,
           ({_MOJI_COUNT_SQL}) = 0 AS was_clean
    FROM s2
    ORDER BY doc_id
"""

ORACLES["ccnet_buckets"] = f"""
    WITH RECURSIVE
    {_KN_SELF_CTES},
    knppl AS (
        SELECT doc_id, {rnd_sql("pow(2.0, -avg(log2(p)))", 4)} AS ppl
        FROM knsc GROUP BY doc_id),
    {_KEEPLIST_CTES},
    s AS (SELECT doc_id, lang, {_LANG_SCORES} FROM documents),
    base AS (
        SELECT dd.doc_id, {_PRED} AS pred_lang, knppl.ppl,
               (coalesce(l.cl, dd.doc_id) = dd.doc_id) AS kept_dedup
        FROM documents dd
        JOIN s ON s.doc_id = dd.doc_id
        LEFT JOIN knppl ON knppl.doc_id = dd.doc_id
        LEFT JOIN labels l ON l.doc_id = dd.doc_id),
    vals AS (
        SELECT pred_lang, ppl, count(*) AS c FROM base
        WHERE ppl IS NOT NULL GROUP BY pred_lang, ppl),
    vb AS (
        SELECT pred_lang, ppl,
               sum(c) OVER (PARTITION BY pred_lang ORDER BY ppl) - c
                   AS cum_before,
               sum(c) OVER (PARTITION BY pred_lang) AS n
        FROM vals),
    bk AS (
        SELECT pred_lang, ppl,
               CASE WHEN cum_before * 3 < n THEN 'head'
                    WHEN cum_before * 3 < 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM vb)
    SELECT base.doc_id, base.pred_lang, base.ppl,
           COALESCE(bk.bucket, 'unscored') AS bucket,
           base.kept_dedup,
           (base.kept_dedup
            AND COALESCE(bk.bucket, 'unscored') IN ('head', 'middle'))
               AS kept_final
    FROM base LEFT JOIN bk
         ON bk.pred_lang = base.pred_lang AND bk.ppl = base.ppl
    ORDER BY doc_id
"""

ORACLES["pii_redact"] = f"""
    WITH pl AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 5 = 0 THEN concat(
                      text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com now')
                 WHEN doc_id % 5 = 1 THEN concat(
                      text, ' call 555-',
                      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                      ' today')
                 WHEN doc_id % 5 = 2 THEN concat(
                      text, ' from 10.', CAST(doc_id % 256 AS VARCHAR),
                      '.0.', CAST((doc_id * 7) % 256 AS VARCHAR),
                      ' logged')
                 ELSE text
               END AS pt
        FROM documents)
    , rd AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(pt, '{PII_EMAIL_RE}',
                                      '<EMAIL>', 'g'),
                       '{PII_PHONE_RE}', '<PHONE>', 'g'),
                   '{PII_IP_RE}', '<IP>', 'g') AS rt
        FROM pl)
    SELECT doc_id,
           CAST((length(rt) - length(replace(rt, '<EMAIL>', ''))) / 7
                AS BIGINT) AS n_emails,
           CAST((length(rt) - length(replace(rt, '<PHONE>', ''))) / 7
                AS BIGINT) AS n_phones,
           CAST((length(rt) - length(replace(rt, '<IP>', ''))) / 4
                AS BIGINT) AS n_ips,
           rt AS redacted_text
    FROM rd
    ORDER BY doc_id
"""

QUERIES = {
    "clean_corpus": clean_corpus,
    "ccnet_buckets": ccnet_buckets,
    "dedup_passage": dedup_passage,
    "blocklist_redact": blocklist_redact,
    "pii_redact": pii_redact,
    "encoding_repair": encoding_repair,
}

"""Deduplication operators for large-scale training-data pipelines.

Five dedup families over the ``documents`` / ``embeddings`` tables, each
with a DuckDB oracle.  The text families are pure DataFrame compositions
(no Python UDFs — everything stays in whole-stage codegen); the embedding
family uses an Arrow-batched block-local GEMM (see its docstring):

- exact (content-hash groupBy)
- n-gram Jaccard (shingle-share candidate join + exact verify)
- MinHash + LSH banding (signature → band buckets → candidate join →
  exact-Jaccard verify)
- SimHash (60-bit signature, chunk-blocked Hamming join)
- embedding cosine (label-blocked near-dup pairs, numpy GEMM per block)

Cross-engine determinism: the base hash everywhere is the first 15 hex
digits of md5 → non-negative 60-bit BIGINT, identical in Spark
(``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``), so every signature,
band, bucket, and output row is bit-identical between the engine and its
oracle.

Scale notes (100 TB): every candidate-generation step is an equi-join on
a derived key (shingle, band hash, simhash chunk, label) — shuffle-
partitionable, AQE-skew-splittable, never an O(n²) crossJoin.  The only
quadratic work is *within* a candidate bucket, which is the standard
LSH/blocking trade-off; band/chunk counts are module constants to retune
per corpus.  The reference has no dedup operators at all (SURVEY §2.4);
these are mandated extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import rnd, rnd_sql
from ..sources import load_table
from ..sources.tables import scan_partitions

# ---------------------------------------------------------------------------
# Cross-engine deterministic hashing + shingling
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31-1; all MinHash arithmetic is mod this, keeping
#: a*h+b < 2^62 (no BIGINT overflow in either engine).
MINHASH_PRIME = 2_147_483_647

#: (a, b) coefficients for the universal-hash family h_i(x) = (a*x + b) mod P.
#: Fixed arbitrary constants — single source of truth for engine AND oracle.
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (1_203_114_381, 222_200_771),
    (1_150_203_517, 1_716_320_041),
    (423_451_033, 905_064_337),
    (1_966_491_409, 1_333_902_953),
    (741_908_527, 54_321_971),
    (1_089_076_651, 1_987_654_321),
    (333_666_999, 123_456_791),
    (2_046_204_101, 765_432_109),
    (555_777_333, 1_444_888_221),
    (999_111_777, 87_654_323),
    (1_777_555_111, 1_234_567_891),
    (66_778_899, 1_999_999_973),
)

#: MinHash LSH: 12-hash signature split into 4 bands × 3 rows.
LSH_BANDS = 4
LSH_ROWS = 3

#: n-gram shingle width (words).
SHINGLE_N = 3

#: SimHash: 60-bit signatures (md5 15-hex prefix), blocked into 4 chunks
#: of 15 bits for the Hamming candidate join.  With max Hamming 3 < the
#: chunk count, the pigeonhole principle makes chunk-blocking LOSSLESS
#: (≤3 differing bits cannot touch all 4 chunks, so every qualifying pair
#: shares at least one exact chunk) — the operator is exact, not
#: approximate.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = 3

JACCARD_THRESHOLD = 0.8
COSINE_DUP_THRESHOLD = 0.35

#: dedup_embedding_cosine blocking: target vectors per sign-LSH bucket
#: and the admissible bit range.  ``adaptive_sign_bits`` picks the
#: smallest bit count whose 2^bits buckets hold ≤ this many vectors in
#: expectation, so block size stays CORPUS-BOUNDED (the round-6 weak
#: class was a constant number of blocks → O(n²) within-block work at
#: 100×; bits ∝ log₂(corpus) makes within-block work O(n · target ·
#: (1+bits)) — linear in the corpus up to the log factor).
EMB_BLOCK_TARGET = 64
#: low key bits dropped when GROUPING blocks into Python tasks: each
#: applyInPandas group packs ~2^6 fine sign-LSH blocks (~4k vectors),
#: amortizing the per-group Python invocation overhead that dominated
#: small-corpus wall time (round-13 fix; fine-block semantics unchanged
#: — block_pairs sub-groups on the full key inside the kernel)
EMB_COARSE_BITS = 6
#: per-chunk GEMM budget for hot-block scoring (doubles): 2^24 cells
#: ≈ 134 MB transient per task — 32 parallel Python workers stay well
#: inside host memory even against a degenerate single-block corpus
_GEMM_CHUNK_CELLS = 1 << 24
EMB_BITS_MIN = 3
EMB_BITS_MAX = 16


def adaptive_sign_bits(
    n: int,
    target: int = EMB_BLOCK_TARGET,
    lo: int = EMB_BITS_MIN,
    hi: int = EMB_BITS_MAX,
) -> int:
    """Smallest bit count ``b`` in [lo, hi] with ``2^b * target >= n``
    (integer arithmetic only — bit-for-bit reproducible in the DuckDB
    oracle as ``min(b) FROM range(lo, hi+1) WHERE (1 << b)*target >= n``)."""
    for b in range(lo, hi + 1):
        if (1 << b) * target >= n:
            return b
    return hi


#: dedup_embedding_cosine OR-amplification: number of independent sign-LSH
#: bands per band width r, sized offline from the closed form
#: ``R = ceil(ln(1/(1-DELTA)) / p*^r)`` with recall target DELTA = 0.95 at
#: DESIGN COSINE c* = 0.80 (p* = 1 - arccos(0.80)/pi = 0.79517 — the
#: standard random-hyperplane collision probability, Charikar 2002).  A
#: FIXED literal table, not a runtime float computation, so the DuckDB
#: oracle replays it as a CASE expression with zero float-parity risk.
#: Predicted recall at the design point stays >= 0.95 at every r (and
#: >= 0.998 at cosine 0.9); the measured curve is recorded in BASELINE.md,
#: "Round-8: embedding-dedup recall measured directly".  R grows like
#: (n/target)^0.33 — the classic LSH n^rho cost, total work ~ n^1.33:
#: sub-quadratic at any corpus, vs the round-7 single-code Hamming-1
#: scheme whose recall decayed EXPONENTIALLY in r (measured 0.09%
#: borderline recall at sf1 — the probe that forced this rewrite).
EMB_BANDS = {
    3: 6, 4: 8, 5: 10, 6: 12, 7: 15, 8: 19, 9: 24,
    10: 30, 11: 38, 12: 47, 13: 59, 14: 75, 15: 94, 16: 118,
}


def _emb_band_weights(r: int, nbands: int, dim: int = 64):
    """Deterministic Rademacher (+/-1) hyperplanes for the banded
    sign-LSH: weight[k][j] = +1 iff the shared 60-bit md5 hash of
    ``"emblsh:<k>:<j>"`` is even — the exact rule the DuckDB oracle
    replays with ``_hash60_sql``, so both engines bucket identically.
    k = band*r + bit indexes the hyperplane, j the vector coordinate.

    Residual parity risk (distinct from the R table's zero-risk CASE
    replay): the SIGN of each dot product comes from a numpy float64
    GEMM in the engine but a sequential ``sum()`` in DuckDB, and for a
    dot within an ulp of zero the two summation orders can disagree on
    ``>= 0``, desyncing that one vector's band key.  With ±1 weights
    over 64 float32 components a dot lands that close to zero only for
    adversarial inputs (never observed across all SFs / 149-query
    sweeps); if a mismatch ever surfaces, the fix is to quantize
    embeddings to integers before the ±1 weighted sum, making the dot
    exact in both engines."""
    import hashlib

    import numpy as np

    w = np.empty((nbands * r, dim), dtype=np.float64)
    for k in range(nbands * r):
        for j in range(dim):
            h = int(
                hashlib.md5(f"emblsh:{k}:{j}".encode()).hexdigest()[:15], 16
            )
            w[k, j] = 1.0 if h % 2 == 0 else -1.0
    return w

#: n-gram Jaccard document-frequency cap: grams occurring in MORE than
#: this many documents are dropped from the posting list before the
#: candidate self-join (and from the Jaccard vocabulary — mirrored in the
#: oracle).  A stopword-ish gram shared by f documents generates O(f²)
#: candidate pairs inside one join bucket; AQE skew-split divides the
#: *partition*, not the pair count, so without this cap a single
#: ubiquitous gram at 100 TB produces a quadratic blow-up no runtime
#: re-plan can fix.  Grams in >100 docs carry no near-dup signal (the
#: standard CCNet-style refinement).  The synthetic corpus tops out at
#: df=25 (sf0.1), so test-SF results are unchanged by the cap.
NGRAM_DF_CAP = 100


def hash60(col: Column) -> Column:
    """60-bit non-negative BIGINT from md5 — Spark side of the shared hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition to cluster parallelism iff the scan is under-parallel.

    The testdata tables are single small parquet files → 1-partition
    scans, which serializes CPU-heavy derivations (shingling, per-token
    md5) onto one core.  On a real cluster reading ~100 TB the scan has
    thousands of input splits and this is a no-op (the partition count
    already exceeds the default parallelism), so the round-robin shuffle
    is only ever paid when it unlocks idle cores.  ``df`` must be a
    narrow plan over a file scan (see :func:`scan_partitions`).

    The rule for callers: fan out only in front of heavy per-row work —
    a Python stage (mapInPandas, mapInArrow, applyInPandas, pandas
    UDFs), a Generate (explode) or a higher-order array function
    (``transform``/``aggregate``: shingling, cosine math).  The shuffle
    writes and reads every byte of the row once, so it costs at least
    one linear pass over the text, and at small scale one more Spark
    job; a consumer that only projects, hashes, filters, counts regex
    hits or partially aggregates is cheaper than that pass and reads
    the raw scan.  Hence the pattern ``scan = load_table(...)``,
    ``docs = fan_out(scan)``: heavy consumers take ``docs``, cheap ones
    ``scan``.  ``tests/test_plan_lint.py`` enforces it on every
    registered query's plan.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_partitions(df) < target:
        return df.repartition(target)
    return df


def fan_out_sized(
    df: DataFrame, n_rows: int, rows_per_task: int = 512
) -> DataFrame:
    """:func:`fan_out` with a KNOWN row count: cap the fan-out so each
    task holds at least ``rows_per_task`` rows.  A Python-exchange stage
    (mapInPandas/applyInPandas) pays a worker attach + Arrow stream
    round-trip PER TASK (~10–20 ms measured on local[32]); fanning 2k
    rows across 32 tasks buys no parallelism and 32× that overhead
    (the round-13 dedup_embedding_cosine audit: 0.61 → 0.38 s for the
    band stage alone at sf0.1).  At n ≥ rows_per_task·parallelism this
    is exactly :func:`fan_out`; an already-parallel big scan is never
    down-partitioned.  The same rule holds: size the fan-out in front
    of the Python stage it exists for, never in front of cheap work.
    """
    target = min(
        df.sparkSession.sparkContext.defaultParallelism,
        max(1, -(-n_rows // rows_per_task)),
    )
    if scan_partitions(df) < target:
        return df.repartition(target)
    return df


def _hash60_sql(expr: str) -> str:
    """DuckDB side of :func:`hash60` (verified identical output)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingles(text_col: str = "text", n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles of a space-tokenized text column.

    The outer ``transform(array(split(...)), toks -> ...)`` is a
    let-binding: it evaluates ``split`` ONCE per row and exposes it as the
    lambda variable ``toks`` — without it each shingle element re-splits
    the whole text (O(tokens²) per row).
    """
    return F.expr(
        f"""element_at(transform(array(split({text_col}, ' ')), toks ->
            CASE WHEN size(toks) >= {n}
            THEN array_distinct(transform(
                sequence(0, size(toks) - {n}),
                i -> concat_ws(' ', slice(toks, i + 1, {n}))))
            ELSE CAST(array() AS array<string>) END), 1)"""
    )


def _shingles_sql(text_expr: str = "text", n: int = SHINGLE_N) -> str:
    """DuckDB equivalent of :func:`shingles` (1-indexed lists)."""
    toks = f"string_split({text_expr}, ' ')"
    gram = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(1, n + 1))
    return (
        f"list_distinct(list_transform("
        f"range(greatest(len({toks}) - {n - 1}, 0)), i -> {gram}))"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct content,
    keeping the lowest doc_id (the canonical survivor).

    At 100 TB this is THE first-pass dedup: hash-partition on the digest,
    map-side partial agg, no text shuffled — only (hash, id) pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("content_hash")
    )


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on *normalized* content (lowercase, collapsed
    whitespace) — catches trivially re-formatted copies."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return (
        docs.select(norm.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("content_hash")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


def _py_shingles(txt: str) -> list[str]:
    """Python twin of :func:`shingles` (distinct word n-grams, first-
    occurrence order) — used inside Arrow-batched passes."""
    toks = txt.split(" ")
    if len(toks) < SHINGLE_N:
        return []
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(toks) - SHINGLE_N + 1):
        g = " ".join(toks[i : i + SHINGLE_N])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def _shingled_docs(
    docs: DataFrame, with_sig: bool = False, with_hashes: bool = False
) -> DataFrame:
    """(doc_id, sh[, sig][, gh]) via one Arrow-batched pass per batch.

    Shingling, the optional 12-hash MinHash signature (``sig``), and the
    optional raw 60-bit shingle hashes (``gh``) run in Python/numpy:
    hashlib.md5 is byte-identical to JVM/DuckDB ``md5``, so every value
    matches the SQL oracle bit-for-bit, while the per-shingle hash + 12
    affine-min transforms cost one vectorized numpy pass instead of 13
    interpreted higher-order-function evaluations per row (measured ~4×
    at sf0.1).  Docs with no shingles emit no row (mirrors the
    ``size(sh) > 0`` filter).
    """

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as pd

        coeff_a = np.array([a for a, _ in MINHASH_COEFFS], dtype=np.int64)
        coeff_b = np.array([b for _, b in MINHASH_COEFFS], dtype=np.int64)
        for pdf in it:
            ids, shs, sigs, ghs = [], [], [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(txt)
                if not sh:
                    continue
                ids.append(doc_id)
                shs.append(sh)
                if with_sig or with_hashes:
                    h60 = np.fromiter(
                        (
                            int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                            for g in sh
                        ),
                        dtype=np.int64,
                        count=len(sh),
                    )
                    if with_hashes:
                        ghs.append(h60)
                    if with_sig:
                        # hs = h60 mod P; sig_i = min (a_i*hs + b_i) mod P.
                        # max a * max hs < 2^62 — no int64 overflow.
                        hs = h60 % MINHASH_PRIME
                        sigs.append(
                            ((hs[:, None] * coeff_a + coeff_b) % MINHASH_PRIME).min(
                                axis=0
                            )
                        )
            cols = {"doc_id": ids, "sh": shs}
            if with_sig:
                cols["sig"] = sigs
            if with_hashes:
                cols["gh"] = ghs
            yield pd.DataFrame(cols)

    schema = "doc_id bigint, sh array<string>"
    if with_sig:
        schema += ", sig array<bigint>"
    if with_hashes:
        schema += ", gh array<bigint>"
    return docs.mapInPandas(batches, schema)


def _df_cap(posting: DataFrame) -> DataFrame:
    """Skew-safe document-frequency cap over a ``(doc_id, g)`` posting list.

    ``groupBy("g").count()`` runs with MAP-SIDE partial aggregation, so a
    stopword gram present in every input split shuffles one combiner row
    per split — never its full posting list into one task (the failure
    mode of the previous ``count().over(Window.partitionBy("g"))``
    formulation: the window colocates exactly the hot key the cap exists
    to delete, an unbounded fan-in at 100 TB).  The over-cap gram set is
    tiny by construction (each survivor of the HAVING needs > CAP
    postings, so there are at most |postings|/CAP of them) → broadcast
    anti-join deletes their postings with no shuffle of the posting list.
    """
    over_cap = (
        posting.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > NGRAM_DF_CAP)
        .select("g")
    )
    return posting.join(F.broadcast(over_cap), "g", "left_anti")


def _shingle_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-capped shingle posting list ``(doc_id, g)``.

    Keyed by the 60-bit shingle HASH, not the shingle string: the self-
    join shuffles 8-byte longs instead of ~25-char strings (same md5-60bit
    hash on the oracle side, so results stay bit-identical; a 60-bit
    collision would need ~2^30 distinct grams).

    Two persisted intermediates, each load-bearing:

    - the PRE-cap posting list (shingling — the dominant cost — must run
      once, not once for the df pass and again for the capped output);
    - the capped list, REPARTITIONED AND SORTED on ``g``.  The df cap
      itself must not colocate hot grams (see :func:`_df_cap`), but once
      it has run, NO key exceeds :data:`NGRAM_DF_CAP` postings — so this
      one bounded shuffle is skew-free by construction, and it bakes the
      hash-partitioning + ordering every downstream candidate equi-join
      on ``g`` needs (the self-join and the new×old joins read the cache
      with zero additional exchange, exactly like the window-based
      formulation did, without its unbounded fan-in).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    posting = _shingled_docs(docs, with_hashes=True).select(
        "doc_id", F.explode("gh").alias("g")
    )
    from ..cache import persist_tracked

    capped = _df_cap(persist_tracked(posting))
    return persist_tracked(
        capped.repartition("g").sortWithinPartitions("g")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.8 over the df-capped
    gram vocabulary.

    Candidate generation = self-equi-join on shared shingle hash.  The
    df cap (:data:`NGRAM_DF_CAP`) bounds any join bucket to ≤ cap²/2
    pairs, so the worst case is a constant per gram instead of O(f²) on
    stopword grams.  |A∩B| via pair count; set sizes join in afterwards
    from a per-doc aggregate (the pair table after aggregation is far
    smaller than the posting list, so the two size joins shuffle almost
    nothing).
    """
    e = _shingle_exploded(spark, sf_dir)
    # materialize the persisted posting list BEFORE the self-join: the
    # join's two scan stages otherwise run concurrently and EACH computes
    # the shingling (the cache isn't populated until one side finishes)
    e.count()
    # retained-gram set size per doc (Jaccard is over the capped
    # vocabulary, matching the oracle)
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("_ida"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("_idb"), F.col("n_sh").alias("n_b"))
    pairs = (
        pairs.join(sa, F.col("doc_a") == F.col("_ida"))
        .drop("_ida")
        .join(sb, F.col("doc_b") == F.col("_idb"))
        .drop("_idb")
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.withColumn("jaccard", rnd(jac, 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


#: dedup_containment: |A∩B| / |smaller set| threshold — higher than the
#: Jaccard bar because containment is an asymmetric, easier-to-hit score
CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: ``C = |A∩B| / |A|`` with A the
    SMALLER gram set — flags short documents embedded inside longer
    ones (boilerplate inclusion, quote chains, page wrappers), which
    resemblance Jaccard structurally misses: a 30-gram doc fully
    contained in a 300-gram doc scores C = 1.0 but Jaccard ≈ 0.1 (the
    union is dominated by the container).  The SlimPajama-style screen
    that complements :func:`dedup_ngram_jaccard`.

    Candidate generation, pair aggregation, and the df-capped posting
    list are the exact shapes (and the same persisted intermediate) as
    the Jaccard operator — only the score and the orientation differ,
    so every scale property argued there carries over unchanged.
    """
    e = _shingle_exploded(spark, sf_dir)
    e.count()  # same cache-race barrier as dedup_ngram_jaccard
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("_ida"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("_idb"), F.col("n_sh").alias("n_b"))
    pairs = (
        pairs.join(sa, F.col("doc_a") == F.col("_ida"))
        .drop("_ida")
        .join(sb, F.col("doc_b") == F.col("_idb"))
        .drop("_idb")
    )
    # contained = the smaller gram set (tiebreak: lower doc_id)
    a_small = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    cont = rnd(F.col("shared") / F.least("n_a", "n_b"), 4)
    return (
        pairs.select(
            F.when(a_small, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_id"),
            F.when(a_small, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("container_id"),
            cont.alias("containment"),
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .orderBy("contained_id", "container_id")
    )


#: dedup_incremental: docs whose md5-60bit hash of "batch:<doc_id>" is
#: ≡ 0 mod this form the "incoming batch" (~20%); the rest are the
#: already-indexed corpus.  Hash-keyed, not id-range-keyed, so the batch
#: spans every source/language stratum at every SF (a deterministic,
#: SF-independent stand-in for a new crawl snapshot).
INCR_BATCH_MOD = 5


def _incr_is_new() -> Column:
    return hash60(F.concat_ws(":", F.lit("batch"), F.col("doc_id")))         % INCR_BATCH_MOD == 0


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen an incoming batch against the indexed
    corpus — the shape every production ingestion run has (dedup the new
    crawl WITHOUT re-deduping the existing 100 TB against itself).

    Two screens, summarized per source over the batch:

    - exact: content md5 semi-join against the corpus hash set (only
      hashes shuffle, never text);
    - near: the same df-capped gram posting list and Jaccard ≥ 0.8 rule
      as :func:`dedup_ngram_jaccard`, but the candidate equi-join is
      new×old instead of a self-join — the posting list build is shared,
      and at scale the corpus side is the pre-materialized gram index a
      real pipeline keeps between runs.

    n_new = n_exact_dup + n_near_dup + n_kept (near counts exclude exact
    dups).  The synthetic corpus plants near-dups but no byte-identical
    copies, so n_exact_dup is a true 0 at every SF (FIXTURES.md).
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = _incr_is_new()
    new_docs = docs.where(is_new)
    old_hashes = (
        docs.where(~is_new).select(F.md5(F.col("text")).alias("h")).distinct()
    )
    exact = (
        new_docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .join(old_hashes, "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )
    e = _shingle_exploded(spark, sf_dir)
    e.count()  # same cache-race barrier as dedup_ngram_jaccard
    sizes = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ng = e.where(_incr_is_new()).select(F.col("doc_id").alias("new_id"), "g")
    og = e.where(~_incr_is_new()).select(F.col("doc_id").alias("old_id"), "g")
    pairs = (
        ng.join(og, "g")
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_id"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("old_id"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    near = (
        pairs.join(sa, "new_id")
        .join(sb, "old_id")
        .where(rnd(jac, 4) >= JACCARD_THRESHOLD)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    flagged = (
        new_docs.select("doc_id", "source")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
    )
    ex = F.coalesce("is_exact", F.lit(0))
    nr = F.coalesce("is_near", F.lit(0))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(ex).alias("n_exact_dup"),
            F.sum(F.when((ex == 0) & (nr == 1), 1).otherwise(0)).alias(
                "n_near_dup"
            ),
            F.sum(F.when((ex == 0) & (nr == 0), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .orderBy("source")
    )


GRAM_INDEX_TABLE = "gram_index_bkt"
GRAM_INDEX_BUCKETS = 8
#: over-cap gram "tombstones" written at base-index build time.  The df
#: cap DROPS a hot gram's postings from the base, so the index alone
#: cannot tell a delta-only gram (new to the corpus) from one whose old
#: postings were capped away — and compaction (:func:`dedup_index_compact`)
#: must drop the latter to stay byte-equal to a from-scratch rebuild
#: (df only grows, so a once-capped gram stays capped).  The set is tiny
#: by construction: each member needs > NGRAM_DF_CAP postings, so there
#: are at most |postings|/CAP of them.
GRAM_INDEX_OVERCAP_TABLE = "gram_index_overcap"


def _gram_index_name(sf_dir: str) -> str:
    """Per-corpus, content-fingerprinted table name (see
    :func:`..sources.bucketing.fingerprinted_table_name`)."""
    from ..sources.bucketing import fingerprinted_table_name

    return fingerprinted_table_name(GRAM_INDEX_TABLE, sf_dir, "documents")


def _gram_overcap_name(sf_dir: str) -> str:
    from ..sources.bucketing import fingerprinted_table_name

    return fingerprinted_table_name(GRAM_INDEX_OVERCAP_TABLE, sf_dir, "documents")


def gram_index_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the OLD-corpus df-capped gram posting list as a table
    BUCKETED (and sorted) on the gram hash — the between-runs index
    :func:`dedup_incremental`'s docstring promises at production scale.

    At 100 TB this is the point of the incremental shape: shingling the
    corpus happens once per index build, not once per screen, and
    bucketing on ``g`` persists the hash partitioning in the table
    layout so the screen's candidate equi-join runs with ZERO exchange
    on the index side (only the small new-batch side shuffles to the
    bucket count — proven by
    ``tests/test_plans.py::test_gram_index_join_shuffles_batch_side_only``).
    Built once per session; the df cap here is the OLD-corpus document
    frequency (all an index build can know).

    The build also persists the over-cap gram set as a side table
    (:data:`GRAM_INDEX_OVERCAP_TABLE` — the tombstones
    :func:`dedup_index_compact` needs for rebuild-equivalent re-capping;
    empty at the shipped SFs, populated from sf1 up where dfs cross the
    cap).  One extra tiny write on the cold build path only.
    """
    from ..sources.bucketing import write_bucketed

    table = _gram_index_name(sf_dir)
    tomb = _gram_overcap_name(sf_dir)
    if not (spark.catalog.tableExists(table) and spark.catalog.tableExists(tomb)):
        docs = fan_out(load_table(spark, sf_dir, "documents")).where(
            ~_incr_is_new()
        )
        posting = _shingled_docs(docs, with_hashes=True).select(
            "doc_id", F.explode("gh").alias("g")
        ).persist()
        try:
            # skew-safe cap (see _df_cap); the one-time persist keeps the
            # index build to a single shingling pass.  Tombstones land
            # first so the capped base is derived FROM the written set —
            # one df aggregation, and the two tables can never disagree.
            over_cap = (
                posting.groupBy("g")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > NGRAM_DF_CAP)
                .select("g")
            )
            write_bucketed(over_cap, tomb, "g", GRAM_INDEX_BUCKETS)
            capped = posting.join(
                F.broadcast(spark.table(tomb)), "g", "left_anti"
            )
            write_bucketed(capped, table, "g", GRAM_INDEX_BUCKETS)
        finally:
            posting.unpersist()
    return spark.table(table)


def _gram_near_screen(
    ng: DataFrame, sizes_new: DataFrame, index_df: DataFrame
) -> DataFrame:
    """Shared near-dup screen of a freshly-shingled batch posting list
    ``ng`` (new_id, g) against an index posting list (doc_id, g):
    candidate equi-join on the gram hash → exact-Jaccard ≥
    ``JACCARD_THRESHOLD`` verify → DISTINCT flagged batch doc ids.

    One formula, three consumers (:func:`dedup_incremental_indexed`,
    :func:`dedup_index_maintain`'s pre- and post-append screens) — a
    threshold or Jaccard change lands everywhere at once instead of
    silently diverging between the screen and its maintenance twin.
    """
    og = index_df.select(F.col("doc_id").alias("old_id"), "g")
    sizes_old = index_df.groupBy(F.col("doc_id").alias("old_id")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        ng.join(og, "g")
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(sizes_new, "new_id")
        .join(sizes_old, "old_id")
        .where(rnd(jac, 4) >= JACCARD_THRESHOLD)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )


def _maintain_summary(
    new_docs: DataFrame,
    kept: DataFrame,
    redetected: DataFrame,
    added: DataFrame,
    added_col: str,
) -> DataFrame:
    """Shared per-source summary for the index-maintenance operators:
    batch size, kept count, appended rows, and re-detected count."""
    added_per_source = (
        added.join(new_docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias(added_col))
    )
    return (
        new_docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_new"))
        .join(
            kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")),
            "source",
            "left",
        )
        .join(added_per_source, "source", "left")
        .join(
            redetected.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_redetected")
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "n_new",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(added_col, F.lit(0)).alias(added_col),
            F.coalesce("n_redetected", F.lit(0)).alias("n_redetected"),
        )
        .orderBy("source")
    )


def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_incremental` consuming the materialized bucketed gram
    index instead of re-deriving the corpus posting list — the shape a
    production screen actually runs between index builds.

    Cap semantics differ from the batch twin only in WHICH view the df
    cap sees (old corpus here, full corpus there); the two agree
    whenever no gram's df crosses ``NGRAM_DF_CAP`` between views — true
    at every test SF, pinned by
    ``tests/test_dedup.py::test_indexed_incremental_equals_derived``.
    """
    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    is_new = _incr_is_new()
    new_docs = scan.where(is_new)
    old_hashes = (
        scan.where(~is_new).select(F.md5(F.col("text")).alias("h")).distinct()
    )
    exact = (
        new_docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .join(old_hashes, "h", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )
    idx = gram_index_bucketed(spark, sf_dir)
    ng = _shingled_docs(docs.where(is_new), with_hashes=True).select(
        F.col("doc_id").alias("new_id"), F.explode("gh").alias("g")
    )
    sizes_new = ng.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_a"))
    near = _gram_near_screen(ng, sizes_new, idx).withColumn(
        "is_near", F.lit(1)
    )
    flagged = (
        new_docs.select("doc_id", "source")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
    )
    ex = F.coalesce("is_exact", F.lit(0))
    nr = F.coalesce("is_near", F.lit(0))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(ex).alias("n_exact_dup"),
            F.sum(F.when((ex == 0) & (nr == 1), 1).otherwise(0)).alias(
                "n_near_dup"
            ),
            F.sum(F.when((ex == 0) & (nr == 0), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .orderBy("source")
    )


#: winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprinter):
#: window of consecutive gram hashes per selection, and the minimum
#: number of shared selected fingerprints for a candidate pair.  Density
#: guarantee: ≥ 1 fingerprint selected per window → expected selected
#: fraction 2/(W+1) of all grams, and any shared run of ≥ W+SHINGLE_N-1
#: words between two documents is GUARANTEED to share a fingerprint —
#: the positional guarantee bottom-k sketches (doc_fingerprint) and
#: MinHash (probabilistic) cannot make.
WINNOW_W = 4
WINNOW_MIN_SHARED = 2

#: encode (hash, position) so a plain VARCHAR min() picks (min hash,
#: then RIGHTMOST position) — the standard winnowing tie rule — in both
#: engines: 19 digits fit the 60-bit hash, 7 digits the inverted
#: position
_WINNOW_POS_MAX = 9_999_999


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup candidates: document pairs sharing
    ≥ ``WINNOW_MIN_SHARED`` selected fingerprints.

    The MOSS selection rule (public: Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every positional word ``SHINGLE_N``-gram, slide a window
    of ``WINNOW_W`` consecutive hashes, and in each window select the
    minimal hash (rightmost on ties).  Selection is LOCAL — it depends
    only on a w-hash neighborhood — so any sufficiently long shared
    passage selects the same fingerprints in both documents regardless
    of surrounding text, giving a detection GUARANTEE (shared runs of
    ≥ W+SHINGLE_N-1 words always collide) at a guaranteed density
    (≤ grams, ~2/(W+1) expected) — the principled middle ground between
    dedup_exact_substring (exact, all windows) and dedup_minhash_lsh
    (probabilistic, fixed-size sketch).

    Spark shape, 100 TB-safe: positional gram hashing is one JVM
    ``transform`` per row; the sliding min is a window over
    ``(doc_id, i)`` — doc-bounded and high-cardinality like the span
    merge in :func:`dedup_exact_substring`, never a corpus-level key;
    selected fingerprints dedupe per doc (partial agg), pass the shared
    skew-safe :func:`_df_cap`, and pair via the posting self-join — all
    corpus-scale shuffles are on 8-byte/long keys.  Docs with fewer
    than W grams contribute their single whole-doc window (the final
    frame), so short docs still fingerprint.

    The (hash, position) pair is packed into a fixed-width string so a
    plain ``min()`` realizes the (min hash, rightmost position) rule
    identically in Spark and DuckDB.  60-bit hashes: collisions at
    corpus scale only ADD candidate pairs (this is a candidate
    generator, same exposure class as the banded MinHash join).

    No counterpart in the reference (SURVEY §2.4 extension).
    """
    from pyspark.sql import Window as W

    n = SHINGLE_N
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    pos = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""element_at(transform(array(split(text, ' ')), toks ->
                CASE WHEN size(toks) >= {n}
                THEN transform(sequence(0, size(toks) - {n}),
                     i -> named_struct(
                         'i', CAST(i AS BIGINT),
                         'n_grams', CAST(size(toks) - {n - 1} AS BIGINT),
                         'h', CAST(conv(substr(md5(
                                  concat_ws(' ', slice(toks, i + 1, {n}))),
                                  1, 15), 16, 10) AS BIGINT)))
                ELSE CAST(array() AS array<struct<
                         i: bigint, n_grams: bigint, h: bigint>>) END), 1)"""
            )
        ).alias("w"),
    ).select(
        "doc_id",
        F.col("w.i").alias("i"),
        F.col("w.n_grams").alias("n_grams"),
        F.col("w.h").alias("h"),
    )
    # fail-loud capacity guard: a position past the 7-digit field would
    # keep its '-' sign through lpad and break the rightmost-tie rule
    guarded_i = F.when(
        F.col("i") > _WINNOW_POS_MAX,
        F.raise_error(
            F.lit(
                f"gram position exceeds packed-key capacity "
                f"{_WINNOW_POS_MAX} — widen _WINNOW_POS_MAX"
            )
        ).cast("long"),
    ).otherwise(F.col("i"))
    key = F.concat(
        F.lpad(F.col("h").cast("string"), 19, "0"),
        F.lpad((F.lit(_WINNOW_POS_MAX) - guarded_i).cast("string"), 7, "0"),
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    selected = (
        pos.withColumn("sel", F.min(key).over(win))
        # full windows only — plus the final (short) frame of a doc with
        # fewer than W grams, so every document fingerprints
        .where(
            (F.col("i") >= WINNOW_W - 1) | (F.col("i") == F.col("n_grams") - 1)
        )
        .select(
            "doc_id",
            F.substring("sel", 1, 19).cast("bigint").alias("g"),
        )
        .distinct()
    )
    fps = _df_cap(selected)
    a = fps.select(F.col("doc_id").alias("doc_a"), "g")
    b = fps.select(F.col("doc_id").alias("doc_b"), "g")
    return (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


GRAM_INDEX_DELTA_TABLE = "gram_index_delta"


def dedup_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE — the step that closes the production ingestion
    loop the incremental family documents: screen the batch against the
    bucketed gram index, land the kept documents' postings as a DELTA
    side table under the same bucket spec, and prove the merge by
    re-screening the same batch against the post-append index — base ∪
    delta — (every kept doc must now self-hit).

    Production shape (LSM-style): the base index is IMMUTABLE between
    rebuilds; each ingest batch lands its survivors' postings as a
    batch-sized bucketed delta table with the SAME bucket spec, screens
    read base ∪ deltas, and periodic compaction folds deltas into the
    next base build (which also re-caps df).  Per-batch cost is
    therefore BATCH-sized — nothing corpus-linear is ever rewritten
    (at 100 TB a per-batch base rewrite would re-materialize 100 TB per
    ingest batch; round 7 did exactly that for rerun idempotence and
    paid 6.6 s/run at sf0.1, nearly all copy).  Rerun idempotence now
    comes free: the delta table is overwrite-mode and batch-sized.

    The union screen DECOMPOSES per table: base holds only old-corpus
    doc_ids and the delta only this batch's kept doc_ids, so every
    candidate pair's index doc lives wholly in one table and
    ``screen(base ∪ delta) = screen(base) ∪ screen(delta)`` exactly
    (per-doc posting counts and per-pair overlap counts never split
    across tables).  Each equi-join reads its index side through the
    bucket layout with ZERO exchange (plan-asserted in
    ``tests/test_plans.py``).  Further, ``kept`` is by construction
    disjoint from ``screen(base)`` (kept = batch ∖ exact ∖ near), so
    the kept-side redetection reduces to the delta screen alone — the
    base side contributes no kept hit by definition, and the DuckDB
    oracle still derives ``n_redetected`` independently from the full
    old ∪ appended posting union, so any divergence from that identity
    would surface as a hash mismatch.

    Output, per source: batch size, kept count, postings appended, and
    ``n_redetected`` — how many KEPT docs the post-merge near screen
    flags (each kept doc's own postings are now indexed, so
    Jaccard(self) = 1; a value below ``n_kept`` means the merge lost
    rows).

    No counterpart in the reference (SURVEY §2.4 extension) — the
    maintenance twin of :func:`dedup_incremental_indexed`.
    """
    from ..sources.bucketing import fingerprinted_table_name, write_bucketed

    scan = load_table(spark, sf_dir, "documents")
    docs = fan_out(scan)
    is_new = _incr_is_new()
    new_docs = scan.where(is_new)
    old_hashes = (
        scan.where(~is_new).select(F.md5(F.col("text")).alias("h")).distinct()
    )
    exact = (
        new_docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .join(old_hashes, "h", "left_semi")
        .select("doc_id")
    )
    idx = gram_index_bucketed(spark, sf_dir)
    # batch shingling is the dominant per-batch cost and feeds the
    # screen, the append, the re-screen, and the summary — sign once
    # (persist + count barrier, the band twin's protocol)
    from .. import cache as _cache

    ng = _cache.persist_tracked(
        _shingled_docs(docs.where(is_new), with_hashes=True).select(
            F.col("doc_id").alias("new_id"), F.explode("gh").alias("g")
        )
    )
    ng.count()
    sizes_new = ng.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_a"))
    near = _gram_near_screen(ng, sizes_new, idx)
    # kept is batch-sized (doc_id, source) but its lineage holds BOTH
    # corpus-side screens (exact hashes + the base near screen) —
    # persist it so the delta write and the summary don't re-run those
    # screens once per consuming branch
    kept = _cache.persist_tracked(
        new_docs.select("doc_id", "source")
        .join(exact, "doc_id", "left_anti")
        .join(near, "doc_id", "left_anti")
    )
    kept_grams = ng.join(
        kept.select(F.col("doc_id").alias("new_id")), "new_id", "left_semi"
    ).select(F.col("new_id").alias("doc_id"), "g")

    # batch-sized bucketed DELTA table (same spec as the base index);
    # overwrite-mode → rerun-idempotent without touching the base
    delta = fingerprinted_table_name(
        GRAM_INDEX_DELTA_TABLE, sf_dir, "documents"
    )
    write_bucketed(kept_grams, delta, "g", GRAM_INDEX_BUCKETS)
    delta_scan = spark.table(delta)

    # post-append re-screen: screen(base ∪ delta) decomposes per table
    # (disjoint index doc_ids), and kept ∩ screen(base) = ∅ by
    # construction, so redetection rides the delta screen alone — one
    # batch-vs-batch bucketed join, no corpus-side work
    near2 = _gram_near_screen(ng, sizes_new, delta_scan)
    redetected = kept.join(near2, "doc_id", "left_semi").select(
        "doc_id", "source"
    )
    return _maintain_summary(
        new_docs.select("doc_id", "source"),
        kept,
        redetected,
        # count the appended postings from the written delta itself —
        # free reuse instead of re-deriving kept_grams
        delta_scan,
        "grams_added",
    )


GRAM_INDEX_COMPACT_TABLE = "gram_index_compacted"
GRAM_INDEX_COMPACT_OVERCAP_TABLE = "gram_index_compacted_overcap"


def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COMPACTION — the periodic fold that completes the LSM story
    :func:`dedup_index_maintain` promises: base ∪ delta → the next base,
    with the df cap RE-APPLIED on the union's document frequencies, so
    the compacted index is byte-equal to rebuilding from scratch over
    old-corpus ∪ kept-batch documents — without re-shingling a byte of
    raw text (at 100 TB the rebuild re-tokenizes + re-hashes the corpus;
    compaction reads already-hashed 16-byte posting rows: IO-bound
    instead of CPU-bound, the classic LSM compaction/flush asymmetry).

    Exactness needs the base build's over-cap TOMBSTONES
    (:data:`GRAM_INDEX_OVERCAP_TABLE`): the cap deletes a hot gram's
    postings from the base, so the index alone cannot distinguish a
    delta-only gram that is new to the corpus (union df may be ≤ cap →
    keep) from one whose old postings were capped away (old df > cap,
    and df only grows → a rebuild would drop it).  With them the fold is
    exact in both directions: a tombstoned gram's rebuild-df exceeds the
    cap by monotonicity, and a non-tombstoned gram's base postings are
    complete, so the recount equals the rebuild's df.

    Plan (the 100 TB shape): the df recount is per-table partial counts
    on the bucket layout — ``groupBy(g)`` over each bucketed scan runs
    with NO exchange, and their vocabulary-scale full-outer merge reuses
    the same hash partitioning — the newly-over-cap set joins the tiny
    tombstones and broadcast-anti-joins the union, and the ONLY
    corpus-scale shuffle is the bucketed write of the next base, which
    is the compaction's purpose (amortized: runs once per N ingest
    batches, not per batch).  Every write is overwrite-mode with
    deterministic content → rerun-idempotent.

    Output, per source: documents with surviving postings, posting rows,
    and a modular gram checksum — the DuckDB oracle computes the same
    three from a genuine FROM-SCRATCH rebuild (shingle old ∪ kept docs,
    window-df cap), so a single kept-vs-dropped divergence anywhere in
    the fold breaks the hash match.

    No counterpart in the reference (SURVEY §2.4 extension).
    """
    from ..sources.bucketing import fingerprinted_table_name, write_bucketed

    base = gram_index_bucketed(spark, sf_dir)  # also ensures tombstones
    tomb = spark.table(_gram_overcap_name(sf_dir))
    delta_name = fingerprinted_table_name(
        GRAM_INDEX_DELTA_TABLE, sf_dir, "documents"
    )
    if not spark.catalog.tableExists(delta_name):
        # derive + land the kept-batch delta (eager side effect of the
        # maintenance op; its summary DataFrame is not evaluated)
        dedup_index_maintain(spark, sf_dir)
    delta = spark.table(delta_name)

    # exchange-free per-table df partials, vocabulary-scale merge
    df_base = base.groupBy("g").agg(F.count(F.lit(1)).alias("c0"))
    df_delta = delta.groupBy("g").agg(F.count(F.lit(1)).alias("c1"))
    over_now = (
        df_base.join(df_delta, "g", "full_outer")
        .where(
            F.coalesce("c0", F.lit(0)) + F.coalesce("c1", F.lit(0))
            > NGRAM_DF_CAP
        )
        .select("g")
    )
    drop = tomb.select("g").unionByName(over_now).distinct()

    next_tomb = fingerprinted_table_name(
        GRAM_INDEX_COMPACT_OVERCAP_TABLE, sf_dir, "documents"
    )
    write_bucketed(drop, next_tomb, "g", GRAM_INDEX_BUCKETS)
    next_base = base.unionByName(delta).join(
        F.broadcast(spark.table(next_tomb)), "g", "left_anti"
    )
    compacted_name = fingerprinted_table_name(
        GRAM_INDEX_COMPACT_TABLE, sf_dir, "documents"
    )
    write_bucketed(next_base, compacted_name, "g", GRAM_INDEX_BUCKETS)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        spark.table(compacted_name)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_postings"),
            F.sum(F.col("g") % F.lit(1_000_000_007)).alias("g_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Incremental exact screen behind a blocked Bloom filter
# ---------------------------------------------------------------------------

#: Bloom geometry for :func:`dedup_incremental_bloom`: ``m`` bits stored
#: as 64-bit blocks, ``k`` probe positions by double hashing.  Module
#: constants here (2^20 bits ≈ 10 bits/doc at the test SFs → fpp ≈ 1%);
#: production sizes ``m`` to the indexed corpus at index-build time and
#: keeps the same 10-bits/doc rule.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 4

#: Membership key for the Bloom screen: the first ``BLOOM_PREFIX_CHARS``
#: characters of the document — the cheap "head fingerprint" real
#: ingestion pipelines screen on first (boilerplate-headed rewrites
#: share a prefix long before they share full content).  The synthetic
#: corpus plants prefix-sharing rewrites at every SF, so the verify
#: path is exercised even at sf0.01 (full-content hashes only collide
#: from sf0.1 up — FIXTURES.md).
BLOOM_PREFIX_CHARS = 80


def _bloom_key() -> Column:
    return F.md5(F.substring(F.col("text"), 1, BLOOM_PREFIX_CHARS))


def _bloom_key_sql() -> str:
    return f"md5(substr(text, 1, {BLOOM_PREFIX_CHARS}))"


def _bloom_positions(key: Column) -> Column:
    """``BLOOM_K`` distinct bit positions in ``[0, m)`` for a key, by
    double hashing (Kirsch-Mitzenmacher): ``pos_i = (h1 + i*h2) mod m``
    with independent 60-bit md5 hashes h1, h2.  ``h2`` is forced odd so
    the stride never degenerates to a fixed point (m is a power of two,
    so any odd stride is a full cycle)."""
    m = BLOOM_M_BITS
    h1 = hash60(key) % m
    h2 = (hash60(F.concat_ws(":", F.lit("bloom2"), key)) % m) * 2 + 1
    return F.array_distinct(
        F.array(*[((h1 + F.lit(i) * h2) % m) for i in range(BLOOM_K)])
    )


def _bloom_blocks(keys: DataFrame) -> DataFrame:
    """Bloom BUILD: distinct keys → ``(block_id, bit_or(mask))`` — at
    most m/64 rows out, partial-aggregated map-side."""
    return (
        keys.select(F.explode(_bloom_positions(F.col("h"))).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("block_id"),
            F.expr("shiftleft(1L, CAST(pos & 63 AS INT))").alias("mask"),
        )
        .groupBy("block_id")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _bloom_maybe(new_docs: DataFrame, blocks: DataFrame) -> DataFrame:
    """Bloom PROBE: doc_ids whose k positions are ALL set (maybe-in-
    corpus); everything else is provably new and never joins again."""
    probes = new_docs.select(
        "doc_id", F.explode(_bloom_positions(F.col("h"))).alias("pos")
    ).select(
        "doc_id",
        F.shiftright(F.col("pos"), 6).alias("block_id"),
        F.expr("shiftleft(1L, CAST(pos & 63 AS INT))").alias("mask"),
    )
    return (
        probes.join(blocks, "block_id", "left")
        .select(
            "doc_id",
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
            ).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.bool_and("hit").alias("all_hit"))
        .where(F.col("all_hit"))
        .select("doc_id")
    )


def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental head-fingerprint screen with a Bloom-filter bypass:
    batch docs whose 80-char prefix hash is provably NOT in the indexed
    corpus skip the membership join entirely; only Bloom maybe-hits are
    verified with an exact semi-join, so the output is byte-identical to
    the plain exact screen (Bloom filters have no false negatives) and
    the DuckDB oracle is the plain ``IN`` subquery.

    Everything is built-in-Column work — no UDFs, no driver collect:

    - **build**: corpus keys → k bit positions → ``(block_id,
      bit_or(mask))`` aggregation.  ``bit_or`` partial-aggregates
      map-side, so only ≤ m/64 combiner rows ever shuffle no matter the
      corpus size (plan-gated by
      ``tests/test_plans.py::test_bloom_build_is_partial_agg``).
    - **probe**: the bitmap table is ≤ m/64 rows (16 K at 2^20 bits) —
      AQE broadcasts the probe join at any realistic ``m``; for an
      extreme corpus where m/64 outgrows the broadcast threshold the
      same plan degrades to a shuffle equi-join on ``block_id``, still
      k rows per probe doc.
    - **verify**: only maybe-hits join the corpus key set.  At
      production fpp ≈ 1%, the verify join's probe side shrinks to
      (dup-rate + 1%) of the batch — the Bloom's entire point at
      100 TB, where the corpus key set is disk-resident and every
      skipped probe is a skipped lookup.

    No counterpart in the reference (SURVEY §2.4 extension); the shape
    is the standard production pre-screen (e.g. CCNet's URL Bloom).
    """
    from .. import cache

    docs = load_table(spark, sf_dir, "documents")
    is_new = _incr_is_new()
    new_docs = docs.where(is_new).select("doc_id", "source", _bloom_key().alias("h"))
    # one corpus scan feeds BOTH the Bloom build and the verify join
    # (at production scale this is the materialized corpus key table a
    # pipeline keeps between runs, like gram_index_bucketed)
    old_keys = cache.persist_tracked(
        docs.where(~is_new).select(_bloom_key().alias("h")).distinct()
    )
    # materialization barrier (the dedup_incremental e.count() pattern):
    # both consumers read this cache only through BROADCAST builds,
    # which do not materialize a lazy persist — without the barrier each
    # broadcast silently re-derives the key set from the corpus scan
    old_keys.count()
    maybe = _bloom_maybe(new_docs, _bloom_blocks(old_keys))
    verified = (
        new_docs.join(maybe, "doc_id", "left_semi")
        .join(old_keys, "h", "left_semi")
        .select("doc_id")
        .withColumn("is_dup", F.lit(1))
    )
    dup = F.coalesce("is_dup", F.lit(0))
    return (
        new_docs.join(verified, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(dup).alias("n_head_dup"),
            F.sum(F.when(dup == 0, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: signature → 4 bands × 3 rows → bucket join →
    exact-Jaccard verify ≥ 0.8.

    The LSH join is an equi-join on (band_idx, band_key): at scale only
    same-bucket pairs shuffle, never the corpus cross-product.  Verify is
    exact, so output = (a subset of) true Jaccard pairs; band/row counts
    trade recall for cost.  Identical banding runs in the oracle, so
    results are exactly comparable.

    Candidate generation is SKINNY (round 10): the band self-join and
    the pair dropDuplicates move only (doc_id, doc_id) — the ~KB
    shingle arrays join back from the persisted signature table for
    the verify step, exactly the oracle's CTE shape.  The round-10
    sf100 probe measured why this matters: at 5M docs the band join
    yields ~15M candidate rows, and carrying both shingle arrays
    through the join + dedup shuffled ~2 KB per candidate (375 s);
    with skinny candidates the wide arrays cross the wire once per
    VERIFIED pair side, not once per candidate.
    """
    return minhash_lsh_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_minhash_lsh` without the presentation sort — for
    composition (e.g. the connected-components edge list), where the
    consumer discards the order but would still pay the sort's
    range-sampling job and exchange."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # persist + materialize the signature table: both band-join sides
    # consume it, and without the count() barrier the join's two scan
    # stages run concurrently and EACH recomputes the signatures before
    # the cache is populated.  Signature tables are materialized
    # artifacts in production dedup for the same reason.
    from ..cache import persist_tracked

    sigs = persist_tracked(_shingled_docs(docs, with_sig=True))
    sigs.count()
    # band key = 'i-s1-s2-s3' string per band (shared _band_key_array)
    banded = sigs.select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode(_band_key_array()).alias("band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        # LOSSLESS length-ratio prune BEFORE the pair-dedup exchange:
        # inter ≤ min(|A|,|B|) and union ≥ max ⇒ J ≤ min/max, and the
        # final test rnd4(J) ≥ 0.8 requires J ≥ 0.79995 — so any
        # surviving pair has min*20000 ≥ 15999*max (integer-exact, no
        # float boundary).  Sizes are functions of the ids, so every
        # duplicate of a pair carries identical n's — filtering first
        # is dedup-equivalent and shrinks the dedup shuffle itself.
        .where(
            F.least("n_a", "n_b") * 20000
            >= F.greatest("n_a", "n_b") * 15999
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = sigs.select("doc_id", "sh")
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", rnd(inter / union, 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def _band_key_array() -> Column:
    """The LSH_BANDS band keys of a 12-hash ``sig`` column, each the
    'i-s1-s2-s3' string of its band index and LSH_ROWS signature rows."""
    return F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(i),
                *[
                    F.element_at("sig", i * LSH_ROWS + r + 1)
                    for r in range(LSH_ROWS)
                ],
            )
            for i in range(LSH_BANDS)
        ]
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup screen via MinHash-LSH banding: the incoming
    batch's band keys equi-join the CORPUS band table — new×old, never
    the corpus against itself — then exact-Jaccard verify ≥ 0.8.

    Completes the incremental-screen matrix: exact membership (md5
    semi-join in :func:`dedup_incremental`), n-gram resemblance (the
    df-capped posting list / bucketed gram index), head-fingerprint
    bypass (:func:`dedup_incremental_bloom`), and now the banded
    near-dup screen — the shape a production ingestion run uses when
    full-resemblance posting lists are too expensive per batch.  At
    scale the corpus side is a persisted signature/band artifact
    rebuilt per index build (exactly like ``gram_index_bucketed``),
    keyed on the band key so the screen is a plain equi-join; here both
    sides derive from one shared signature pass (persist + count
    barrier, see :func:`dedup_minhash_lsh`).

    Output: (new_id, old_id, jaccard) verified pairs — the verdict feed
    a keeplist MERGE consumes.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    from ..cache import persist_tracked

    sigs = persist_tracked(_shingled_docs(docs, with_sig=True))
    sigs.count()
    # skinny candidates (round 10, same rule as dedup_minhash_lsh): the
    # band join and pair-dedup move ids + sizes only; the lossless
    # integer length-ratio prune (J ≥ 0.79995 ⇒ min·20000 ≥ max·15999)
    # runs before any shingle array crosses the wire, and the arrays
    # join back from the persisted signature table for the verify.
    # Measured at the sf100 probe: the array-carrying form cost 248 s
    # warm at 5M docs — MORE than the fixed full self-join.
    banded = sigs.select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode(_band_key_array()).alias("band_key"),
    )
    is_new = _incr_is_new()
    newb = banded.where(is_new).select(
        F.col("doc_id").alias("new_id"),
        F.col("n_sh").alias("n_a"),
        "band_key",
    )
    oldb = banded.where(~is_new).select(
        F.col("doc_id").alias("old_id"),
        F.col("n_sh").alias("n_b"),
        "band_key",
    )
    cand = (
        newb.join(oldb, "band_key")
        .select("new_id", "old_id", "n_a", "n_b")
        # prune BEFORE the dedup exchange — sizes are id-functions, so
        # filter-then-dedup ≡ dedup-then-filter (see dedup_minhash_lsh)
        .where(
            F.least("n_a", "n_b") * 20000
            >= F.greatest("n_a", "n_b") * 15999
        )
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    sh = sigs.select("doc_id", "sh")
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")),
        "new_id",
    ).join(
        sh.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b")),
        "old_id",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", rnd(inter / union, 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id", "old_id", "jaccard")
        .orderBy("new_id", "old_id")
    )


#: renamed from band_index_bkt in round 10: the layout changed (skinny
#: rows), and a fresh name sidesteps any stale wide-schema table left
#: in a long-lived warehouse by earlier builds
BAND_INDEX_TABLE = "band_index_skinny"
BAND_INDEX_BUCKETS = 8
#: doc-keyed shingle store beside the skinny band index (round 10):
#: verify-time arrays live ONCE per document, bucketed on doc_id
BAND_SIG_TABLE = "band_sig_store"


def _band_index_name(sf_dir: str) -> str:
    from ..sources.bucketing import fingerprinted_table_name

    return fingerprinted_table_name(BAND_INDEX_TABLE, sf_dir, "documents")


def _band_sig_name(sf_dir: str) -> str:
    from ..sources.bucketing import fingerprinted_table_name

    return fingerprinted_table_name(BAND_SIG_TABLE, sf_dir, "documents")


def band_index_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the OLD-corpus MinHash band index as TWO tables (the
    signature-axis twin of :func:`gram_index_bucketed`, re-laid-out in
    round 10 by the sf100 probe's skinny-candidate rule):

    * the SKINNY band table — ``(doc_id, n_sh, band_key)``, bucketed
      (and sorted) on the band key — what the screen's candidate
      equi-join reads with ZERO index-side exchange (plan-asserted);
    * the doc-keyed SHINGLE STORE — ``(doc_id, sh)``, bucketed on
      doc_id (:func:`band_sig_store`) — what the verify joins arrays
      back from, store-side exchange-free.

    Before the split the band table carried each document's ~KB
    shingle array on every one of its LSH_BANDS rows: 4× the corpus's
    array bytes ON DISK, and — the measured defect — every candidate
    row dragged two arrays through the join and pair-dedup shuffles.
    Signing the corpus happens once per index build, not once per
    screen.  Content-fingerprinted per-corpus names; built once per
    session."""
    from ..sources.bucketing import write_bucketed

    table = _band_index_name(sf_dir)
    sig_table = _band_sig_name(sf_dir)
    if not (
        spark.catalog.tableExists(table)
        and spark.catalog.tableExists(sig_table)
    ):
        docs = fan_out(load_table(spark, sf_dir, "documents")).where(
            ~_incr_is_new()
        )
        sigs = _shingled_docs(docs, with_sig=True).persist()
        try:
            banded = sigs.select(
                "doc_id",
                F.size("sh").alias("n_sh"),
                F.explode(_band_key_array()).alias("band_key"),
            )
            write_bucketed(banded, table, "band_key", BAND_INDEX_BUCKETS)
            write_bucketed(
                sigs.select("doc_id", "sh"),
                sig_table,
                "doc_id",
                BAND_INDEX_BUCKETS,
            )
        finally:
            sigs.unpersist()
    return spark.table(table)


def band_sig_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-keyed shingle store built alongside
    :func:`band_index_bucketed` (one row per indexed document)."""
    band_index_bucketed(spark, sf_dir)
    return spark.table(_band_sig_name(sf_dir))


#: split_leakage_check: hash-derived train/val/test assignment —
#: 80/10/10 on md5-60bit of "split:<doc_id>" mod 10 (buckets 0-7 /
#: 8 / 9), the standard deterministic split every experiment pipeline
#: derives rather than stores
#: recall-audit sample rate FLOOR, in permille — applies to small
#: corpora so the testdata audit row stays non-vacuous (400‰ of a
#: 500-doc table).  Large corpora are governed by the TARGET below.
RECALL_SAMPLE_PERMILLE = 400
#: recall-audit sample size TARGET: the expected sample is
#: ``min(400‰·n, ~RECALL_SAMPLE_TARGET)`` docs.  A recall estimate's
#: confidence depends on the number of true pairs in the SAMPLE, not
#: on the corpus, so a production audit uses a BOUNDED sample — and the
#: round-12 sf10 probe measured why proportional sampling cannot work:
#: a 200k-doc Zipf sample has "rarest" shingles at df ≈ 80-300, so even
#: the prefix+positional-filtered exact join carries 40M candidate
#: pairs (the first, unfiltered cut put 311M and filled the probe
#: box's disk with verify-side array shuffle).  The bound is applied as
#: an integer per-million hash threshold both engines derive
#: identically from count(documents).
RECALL_SAMPLE_TARGET = 1_000

#: dedup_recall_audit PPJoin predicates — module-level so the overflow
#: regression test evaluates the EXACT production strings.  BIGINT casts
#: are load-bearing: int32 `n_sh * 20005` wraps past ~107k shingles and
#: `79995 * (n_a + n_b)` past ~26.8k combined (non-ANSI Spark wraps
#: silently), which would SHORTEN prefixes / corrupt the overlap bound
#: and silently drop true pairs (round-13 advice, medium).
PPJOIN_PREFIX_PRED = (
    "r <= ((cast(n_sh as bigint) * 20005) div 100000) + 1"
)
PPJOIN_POSITIONAL_PRED = (
    "1 + least(a.n_sh - a.r, b.n_sh - b.r)"
    " >= (79995 * (cast(a.n_sh as bigint) + b.n_sh) + 179994)"
    "    div 179995"
)


def dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED LSH recall — the governance audit every production
    near-dup pipeline runs (and the repo's own "measure, don't guess"
    rule turned into an operator): on a hash-derived document sample,
    compute the EXACT near-dup pair ground truth and report how many of
    those pairs the banded MinHash screen actually caught.

    Why it is non-trivial: :func:`dedup_minhash_lsh` verifies exactly,
    so its output is a SUBSET of the truth (precision 1 by
    construction) — what banding trades away is RECALL: a true pair
    that never collides in any of the 4 bands is silently missed
    (theory at J = 0.8: 1 − (1 − 0.8³)⁴ ≈ 0.943).  This operator
    measures that loss on live data instead of trusting the formula.

    Sample-locality: band collision depends only on the two documents'
    signatures, so restricting BOTH endpoints to the sample loses
    nothing — the audited recall is exactly the production screen's
    recall on those pairs.

    Ground truth is an EXACT set-similarity self-join via the
    positional PREFIX FILTER (the AllPairs/PPJoin family, Xiao et al.
    2008 — public): order every document's shingles by global rarity
    (ascending sample df, gram tie-break) and explode only the first
    ``⌊(1−t′)·n⌋+1`` of them, where t′ = 0.79995 is the exact bound the
    rnd4 ≥ 0.8 verify implies; two sets with J ≥ t′ MUST share a token
    inside both prefixes (pigeonhole on the union), so the prefix
    equi-join is a LOSSLESS candidate generator and the exact
    array-intersect verify decides.  The first cut of this operator
    used the plain uncapped posting self-join — the round-12 sf10 probe
    OOM'd it on Zipf-hot grams (df² candidate rows on a 200k-doc
    sample); rarest-first prefixes keep hot grams OUT of the join key
    by construction, which is the published fix, not a cap (a df cap
    would bias the ground truth the audit exists to provide).

    Scale: the sample permille bounds the exact pass; the per-doc
    rarity ranking windows over ``doc_id`` (high-cardinality, doc-
    bounded); the screen side reuses the (already-run, in production
    materialized) LSH pair list filtered to the sample.  Output is ONE
    summary row: ``worst_missed_jaccard`` names the most dangerous
    miss.

    No counterpart in the reference (SURVEY §2.4 extension; the
    training-data-pipeline governance family).
    """
    from pyspark.sql.window import Window

    from ..cache import persist_tracked

    scan = load_table(spark, sf_dir, "documents")
    # bounded sample: per-million hash threshold = the 400‰ floor for
    # small corpora, capped so the EXPECTED sample is the fixed target
    # (integer arithmetic; the oracle derives the identical threshold
    # from count(documents))
    n_total = scan.count()
    thr = min(
        RECALL_SAMPLE_PERMILLE * 1000,
        (RECALL_SAMPLE_TARGET * 1_000_000) // max(n_total, 1),
    )
    in_sample = (
        hash60(F.concat_ws(":", F.lit("recall"), F.col("doc_id")))
        % 1_000_000
        < thr
    )
    sampled = scan.where(in_sample)
    sh = persist_tracked(
        _shingled_docs(fan_out(scan).where(in_sample), with_hashes=True).select(
            "doc_id", "gh"
        )
    )
    sh.count()  # cache-race barrier (see dedup_ngram_jaccard)
    posting = sh.select(
        "doc_id", F.size("gh").alias("n_sh"), F.explode("gh").alias("g")
    )
    dfc = posting.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "g")
    # prefix length ⌊n·(1−t′)⌋+1 with (1−t′) = 0.20005 in INTEGER
    # arithmetic: r ≤ n·20005 div 100000 + 1 — no float boundary.
    # n_sh is cast to BIGINT first: int32 `n_sh * 20005` wraps silently
    # (non-ANSI Spark) past ~107k shingles — unreachable on the shipped
    # synthetic docs but real for production-length documents, and an
    # overflow here silently SHORTENS the prefix, dropping true pairs
    # and voiding the lossless-generator guarantee (round-13 advice).
    prefix = (
        posting.join(dfc, "g")
        .withColumn("r", F.row_number().over(w_doc))
        .where(F.expr(PPJOIN_PREFIX_PRED))
        .select("doc_id", "n_sh", "r", "g")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin POSITIONAL filter (lossless): J ≥ t′ needs overlap
    # O ≥ α = ⌈t′·(n_a+n_b)/(1+t′)⌉, and for the pair's FIRST common
    # token (in the global rarity order — guaranteed inside both
    # prefixes) every earlier token of either doc is non-common, so
    # O ≤ 1 + min(n_a−r_a, n_b−r_b).  Rows violating that cannot be
    # the first common token of a qualifying pair; the qualifying
    # pair's first-common-token row always survives, so the pair set
    # after dropDuplicates is complete.  Integer arithmetic throughout
    # (α = (79995·(n_a+n_b) + 179994) div 179995) — no float boundary.
    # Measured: the prefix join alone left 311M candidate rows on the
    # sf10 Zipf sample (the wide-array verify join-back then filled the
    # probe box's disk); the positional filter restricts candidates to
    # the first ~⌈(1−t′)/(1+t′)·2n⌉ rarest tokens per doc.
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.expr(PPJOIN_POSITIONAL_PRED))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("gh").alias("gh_a")),
        "doc_a",
    ).join(
        sh.select(F.col("doc_id").alias("doc_b"), F.col("gh").alias("gh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("gh_a", "gh_b"))
    union = F.size("gh_a") + F.size("gh_b") - inter
    true_pairs = (
        pairs.withColumn("jaccard", rnd(inter / union, 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    caught = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b", F.lit(True).alias("hit"))
        .join(sampled.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi")
        .join(sampled.select(F.col("doc_id").alias("doc_b")), "doc_b", "semi")
    )
    audited = true_pairs.join(caught, ["doc_a", "doc_b"], "left")
    n_docs = sampled.select(F.count(F.lit(1)).alias("n_sample_docs"))
    agg = audited.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum(F.coalesce("hit", F.lit(False)).cast("long")).alias("n_caught"),
        F.max(F.when(F.col("hit").isNull(), F.col("jaccard"))).alias(
            "worst_missed_jaccard"
        ),
    )
    return n_docs.crossJoin(agg).select(
        "n_sample_docs",
        "n_true_pairs",
        "n_caught",
        (F.col("n_true_pairs") - F.col("n_caught")).alias("n_missed"),
        F.when(
            F.col("n_true_pairs") > 0,
            rnd(
                F.col("n_caught").cast("double")
                / F.col("n_true_pairs").cast("double"),
                4,
            ),
        ).alias("recall"),
        "worst_missed_jaccard",
    )


SPLIT_MOD = 10


def _split_col(id_col: str) -> Column:
    s = hash60(F.concat_ws(":", F.lit("split"), F.col(id_col))) % SPLIT_MOD
    return (
        F.when(s <= 7, F.lit("train"))
        .when(s == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split-leakage audit: count verified near-dup pairs
    per (split, split) combination — a pair STRADDLING two splits is
    evaluation contamination (the val/test document is a near-copy of a
    training document), the leakage a random document-level split
    cannot prevent by construction and every serious pipeline audits
    (the reason production splits are cluster-level, not doc-level).

    Composes two existing scale paths declaratively: the banded
    MinHash-LSH verified pair list (:func:`dedup_minhash_lsh` — the
    only corpus-scale work) and a pure hash function of each pair
    endpoint for the split label, so the audit costs one pair-list
    scan on top of the dedup pass it would piggyback in production.
    Pair splits are canonicalized (lexicographic least/greatest) so
    (train, val) and (val, train) are one row; ``is_leakage`` marks
    cross-split rows.

    No counterpart in the reference (SURVEY §2.4 extension); the audit
    complements :func:`~.text.contamination_check` (external-benchmark
    contamination) with INTERNAL split contamination.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    labelled = pairs.select(
        _split_col("doc_a").alias("sa"), _split_col("doc_b").alias("sb")
    )
    return (
        labelled.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .withColumn("is_leakage", F.col("split_a") != F.col("split_b"))
        .orderBy("split_a", "split_b")
    )


BAND_INDEX_DELTA_TABLE = "band_index_skinny_delta"
BAND_SIG_DELTA_TABLE = "band_sig_delta"


def band_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-index MAINTENANCE — the signature-axis member of the
    round-7 maintenance matrix (:func:`dedup_index_maintain` for gram
    postings, :func:`~.similarity.ann_index_maintain` for IVF cells):
    screen the incoming batch through the banded MinHash index, APPEND
    the kept documents' skinny (doc_id, n_sh, band_key) rows into the
    band index and their (doc_id, sh) rows into the shingle store
    (round-10 split — see :func:`band_index_bucketed`), and prove the
    merge by re-screening the same batch — every kept doc's own bands
    are now indexed, so it must self-hit (Jaccard(self) = 1).

    Same mechanics as the other two (see :func:`dedup_index_maintain`
    for the full LSM-style rationale): the base index stays IMMUTABLE,
    the kept rows land as a batch-sized bucketed DELTA table under the
    same band-key spec (overwrite-mode → rerun-idempotent), and the
    post-append screen decomposes per table — base holds only old-corpus
    doc_ids and the delta only this batch's kept doc_ids, so
    ``screen(base ∪ delta) = screen(base) ∪ screen(delta)`` exactly,
    and ``kept ∩ screen(base) = ∅`` by construction reduces the
    kept-side redetection to the delta screen alone.  Per-batch cost is
    batch-sized; nothing corpus-linear is rewritten.  The oracle still
    derives ``n_redetected`` independently from the old ∪ appended band
    union.  Batch signing happens once (persist + count barrier) and
    feeds the screen, the delta write, and the re-screen.
    """
    from .. import cache
    from ..sources.bucketing import fingerprinted_table_name, write_bucketed

    idx = band_index_bucketed(spark, sf_dir)
    scan = load_table(spark, sf_dir, "documents")
    new_docs = scan.where(_incr_is_new())
    new_sigs = cache.persist_tracked(
        _shingled_docs(fan_out(scan).where(_incr_is_new()), with_sig=True)
    )
    new_sigs.count()
    # skinny batch bands (round 10 — see dedup_incremental_minhash_indexed)
    newb = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        F.size("sh").alias("n_a"),
        F.explode(_band_key_array()).alias("band_key"),
    )
    new_sh = new_sigs.select(
        F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter

    def screen(band_df: DataFrame, store_df: DataFrame) -> DataFrame:
        cand = (
            newb.join(
                band_df.select(
                    F.col("doc_id").alias("old_id"),
                    F.col("n_sh").alias("n_b"),
                    "band_key",
                ),
                "band_key",
            )
            .select("new_id", "old_id", "n_a", "n_b")
            .where(
                F.least("n_a", "n_b") * 20000
                >= F.greatest("n_a", "n_b") * 15999
            )
            .select("new_id", "old_id")
            .dropDuplicates(["new_id", "old_id"])
        )
        pairs = cand.join(new_sh, "new_id").join(
            store_df.select(
                F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b")
            ),
            "old_id",
        )
        return (
            pairs.withColumn("j", rnd(inter / union, 4))
            .where(F.col("j") >= JACCARD_THRESHOLD)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )

    near = screen(idx, band_sig_store(spark, sf_dir))
    # batch-sized, but its lineage holds the corpus-side base screen —
    # persist so the delta write and the summary run that screen once
    kept = cache.persist_tracked(
        new_docs.select("doc_id", "source").join(near, "doc_id", "left_anti")
    )
    kept_ids = kept.select(F.col("doc_id").alias("new_id"))
    kept_bands = newb.join(kept_ids, "new_id", "left_semi").select(
        F.col("new_id").alias("doc_id"),
        F.col("n_a").alias("n_sh"),
        "band_key",
    )
    kept_store = new_sh.join(kept_ids, "new_id", "left_semi").select(
        F.col("new_id").alias("doc_id"), F.col("sh_a").alias("sh")
    )
    delta = fingerprinted_table_name(
        BAND_INDEX_DELTA_TABLE, sf_dir, "documents"
    )
    sig_delta = fingerprinted_table_name(
        BAND_SIG_DELTA_TABLE, sf_dir, "documents"
    )
    write_bucketed(kept_bands, delta, "band_key", BAND_INDEX_BUCKETS)
    write_bucketed(kept_store, sig_delta, "doc_id", BAND_INDEX_BUCKETS)
    delta_scan = spark.table(delta)
    # kept ∩ screen(base) = ∅, so post-append redetection rides the
    # delta screen alone (batch-vs-batch bucketed join)
    redetected = kept.join(
        screen(delta_scan, spark.table(sig_delta)), "doc_id", "left_semi"
    )
    return _maintain_summary(
        new_docs.select("doc_id", "source"),
        kept,
        redetected,
        # count appended rows from the written delta itself
        delta_scan,
        "bands_added",
    )


BAND_INDEX_COMPACT_TABLE = "band_index_skinny_compacted"
BAND_SIG_COMPACT_TABLE = "band_sig_compacted"


def band_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COMPACTION for the MinHash band index — the signature-axis
    twin of :func:`dedup_index_compact`, completing the compaction
    matrix the way round 7 completed the maintenance matrix (gram
    postings / band signatures / IVF cells).

    Simpler than the gram fold: band rows carry no document-frequency
    cap, so the next base is the PLAIN union of the immutable base and
    the batch-sized delta — no tombstones, trivially byte-equal to
    re-signing old ∪ kept from scratch (signatures are deterministic
    per document).  What the fold buys at 100 TB: the screen goes back
    to reading ONE bucketed table instead of base ∪ N deltas (each
    extra delta is one more bucketed scan per screen join), and the
    rewrite reads skinny band rows (and folds the doc-keyed shingle
    store the same way) instead of re-shingling and re-signing raw
    text.  The only shuffle is the bucketed write itself — amortized
    over the batches between folds.

    Output, per source: documents indexed, band rows, total MinHash
    values, and a modular band-key checksum — the DuckDB oracle
    computes all four from a genuine from-scratch re-sign of old ∪
    kept, so any row lost or duplicated by the fold breaks the match.

    No counterpart in the reference (SURVEY §2.4 extension).
    """
    from ..sources.bucketing import fingerprinted_table_name, write_bucketed

    base = band_index_bucketed(spark, sf_dir)
    delta_name = fingerprinted_table_name(
        BAND_INDEX_DELTA_TABLE, sf_dir, "documents"
    )
    if not spark.catalog.tableExists(delta_name):
        # derive + land the kept-batch delta (eager side effect of the
        # maintenance op; its summary DataFrame is not evaluated)
        band_index_maintain(spark, sf_dir)
    delta = spark.table(delta_name)

    compacted_name = fingerprinted_table_name(
        BAND_INDEX_COMPACT_TABLE, sf_dir, "documents"
    )
    write_bucketed(
        base.unionByName(delta), compacted_name, "band_key", BAND_INDEX_BUCKETS
    )
    # fold the doc-keyed shingle store the same way (round 10 split):
    # base store ∪ delta store → the next store
    sig_compacted = fingerprinted_table_name(
        BAND_SIG_COMPACT_TABLE, sf_dir, "documents"
    )
    write_bucketed(
        band_sig_store(spark, sf_dir).unionByName(
            spark.table(
                fingerprinted_table_name(
                    BAND_SIG_DELTA_TABLE, sf_dir, "documents"
                )
            )
        ),
        sig_compacted,
        "doc_id",
        BAND_INDEX_BUCKETS,
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        spark.table(compacted_name)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_rows"),
            # n_sh rides every skinny band row, so the per-source
            # MinHash total needs no store join
            F.sum("n_sh").alias("n_minhash"),
            # band keys are strings ("i-s1-s2-s3"); checksum their
            # shared 60-bit hash mod a prime (engine-portable)
            F.sum(hash60(F.col("band_key")) % F.lit(1_000_000_007)).alias(
                "key_checksum"
            ),
        )
        .orderBy("source")
    )


def dedup_incremental_minhash_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`dedup_incremental_minhash` consuming the materialized
    bucketed band index instead of re-signing the corpus — the
    between-index-builds production screen.  Only the (small) incoming
    batch is shingled and signed per run; the candidate equi-join reads
    the index through its bucket layout with no index-side exchange.
    Output-identical to the derived twin (pinned by
    ``tests/test_dedup.py::test_indexed_minhash_equals_derived``).

    Round 10 (skinny-candidate rule): the candidate join reads the
    skinny band index (ids + sizes), the length-ratio prune runs
    before the pair-dedup, and verify arrays join back — the batch
    side from its one persisted signature pass, the index side from
    the doc-bucketed shingle store (store-side exchange-free)."""
    from ..cache import persist_tracked

    idx = band_index_bucketed(spark, sf_dir)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    new_sigs = persist_tracked(
        _shingled_docs(docs.where(_incr_is_new()), with_sig=True)
    )
    new_sigs.count()
    newb = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        F.size("sh").alias("n_a"),
        F.explode(_band_key_array()).alias("band_key"),
    )
    oldb = idx.select(
        F.col("doc_id").alias("old_id"),
        F.col("n_sh").alias("n_b"),
        "band_key",
    )
    cand = (
        newb.join(oldb, "band_key")
        .select("new_id", "old_id", "n_a", "n_b")
        .where(
            F.least("n_a", "n_b") * 20000
            >= F.greatest("n_a", "n_b") * 15999
        )
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    pairs = cand.join(
        new_sigs.select(
            F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a")
        ),
        "new_id",
    ).join(
        band_sig_store(spark, sf_dir).select(
            F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b")
        ),
        "old_id",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", rnd(inter / union, 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_id", "old_id", "jaccard")
        .orderBy("new_id", "old_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signature over distinct tokens, candidate
    pairs blocked on equal 15-bit signature chunks, Hamming ≤ 3 output.

    With max Hamming 3 < 4 chunks, chunk blocking is LOSSLESS by the
    pigeonhole principle — this finds exactly the Hamming ≤ 3 pairs, no
    approximation; the oracle replicates the same blocking so outputs are
    exactly comparable.
    """
    return simhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_simhash` without the presentation sort — for
    composition (e.g. the connected-components edge list)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))

    # Signature computation is one Arrow-batched pass per document:
    # hashlib.md5 produces byte-identical digests to JVM/DuckDB md5, and
    # numpy does the 60 bit-votes per token batch.  (A prior all-Catalyst
    # version — explode distinct tokens → md5+conv per token → groupBy
    # with 60 conditional-sum aggregates — spent 6.5 s at sf0.1 on the
    # same work this does in <1 s: 60 agg buffers per row plus string
    # base-conversion lose to one vectorized bit-matrix sum.)
    def simhash_batches(it):
        import hashlib

        import numpy as np
        import pandas as pd

        bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in it:
            ids, sigs = [], []
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = set(txt.split(" ")) - {""}
                if not toks:
                    continue
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                votes = (2 * ((hs[:, None] >> bit_idx) & 1) - 1).sum(axis=0)
                sigs.append(int(((votes > 0).astype(np.int64) << bit_idx).sum()))
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    # tiny (doc_id, simhash) table consumed by both join sides — persist +
    # materialize so the signature pass runs once
    from ..cache import persist_tracked

    sims = persist_tracked(
        docs.mapInPandas(simhash_batches, "doc_id bigint, simhash bigint")
    )
    sims.count()
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(c),
                        F.shiftright(F.col("simhash"), c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_CHUNK_BITS) - 1))
                        .cast("string"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_key"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    # Hamming predicate INSIDE the join: on a chunk-degenerate corpus the
    # bucket join emits ~10× more candidate rows than qualifying pairs —
    # filtering before dropDuplicates keeps the distinct's shuffle input
    # proportional to the answer, not to bucket-collision volume.
    return (
        a.join(
            b,
            (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= SIMHASH_MAX_HAMMING),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def dot_col(a: str, b: str) -> Column:
    """Double-precision dot product of two array<float> columns
    (zip_with + aggregate — JVM-side, left-to-right summation, which is
    exactly DuckDB's list arithmetic order, so oracles compare exactly)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_col(a: str) -> Column:
    """Euclidean norm of an array<float> column in double precision."""
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE),"
            f" (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        )
    )


def unit_vector_col(a: str) -> Column:
    """L2-normalized double vector; cosine of two unit vectors = dot.

    The outer transform-over-singleton is the let-binding trick (see
    :func:`shingles`): the norm is computed once per row, not once per
    element.  Oracle side: ``list_transform(v, x -> x / sqrt(list_sum(
    list_transform(v, y -> y*y))))`` + ``list_dot_product`` (verified
    value-exact vs this expression).
    """
    return F.expr(
        f"""element_at(transform(
            array(sqrt(aggregate({a}, 0.0D,
                (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
            nrm -> transform({a}, x -> CAST(x AS DOUBLE) / nrm)), 1)"""
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED sign-LSH embedding near-dup pairs (cosine ≥ 0.35): a pair
    is reported iff the two vectors share a bucket in AT LEAST ONE of
    ``EMB_BANDS[r]`` independent r-bit sign-LSH bands AND their rounded
    exact cosine clears the threshold.

    **Recall contract** (explicit per the round-8 verdict): R is sized
    for ≥ 0.95 recall at the DESIGN COSINE 0.80 — i.e. ≥ 0.95 of true
    near-duplicates (cos ≥ 0.8) are guaranteed found at every corpus
    size, ≥ 0.998 at cos ≥ 0.9.  The REPORTING threshold is lower
    (0.35): pairs below the design point are returned best-effort —
    any that collide are exact-verified and never false-positive, but
    collision probability decays below 0.8 (measured at sf1:
    0.9997 in [0.8, 1], 0.39 in [0.35, 0.5) — BASELINE.md, "Round-8:
    embedding-dedup recall measured directly").
    That asymmetry is the intended dedup contract: true duplicates are
    high-cosine, and sizing R for ≥ 0.95 at 0.35 (p* = 0.614) would
    cost ~50× more bands at r = 8.  A different design point is a
    one-line re-tabulation of ``EMB_BANDS`` from the closed form in
    its comment (``R = ceil(ln(1/(1-DELTA)) / p*^r)``); the oracle's
    CASE table regenerates from the same dict, so both sides move
    together.

    **Banding, not multiprobe** (the round-8 fix): round 7 blocked on a
    single ``adaptive_sign_bits(n)``-bit code with Hamming-1 ghost
    probing.  Direct measurement (same BASELINE.md section) showed
    that scheme's recall COLLAPSES as the corpus grows — P(pair
    lands within Hamming 1) decays exponentially in the bit count, so
    the corpus-bounded-blocks property was bought with recall → 0
    (measured 0.09% in the borderline band at sf1, 36% overall at
    sf0.1).  The standard fix is OR-amplification (Charikar 2002
    random-hyperplane LSH + the banding construction of
    Leskovec/Rajaraman/Ullman ch.3): ``R = EMB_BANDS[r]`` independent
    bands of ``r = adaptive_sign_bits(n)`` deterministic Rademacher
    hyperplanes each (:func:`_emb_band_weights` — md5-parity ±1
    weights, bit-reproducible in the oracle).  A pair collides if any
    band agrees on all r bits: recall ``1-(1-p^r)^R`` ≥ 0.95 at the
    design cosine 0.80 at EVERY corpus size (R is tabulated for
    exactly that invariant), ≥ 0.998 at 0.9-cosine true dups, with the
    honest, documented decay below the design point (~0.76 at cosine
    0.5 for r=5 — borderline candidates that do collide are still
    exact-verified, never false-positive).

    **Scale law**: per-band expected occupancy stays ≤
    ``EMB_BLOCK_TARGET`` (r grows with log₂ n), replication is R rows
    per vector with R ~ (n/target)^0.33 — the classic LSH n^ρ bound, so
    total candidate work grows ~ n^1.33: sub-quadratic at any corpus
    and, unlike the round-7 scheme, at CONSTANT design-point recall.
    Within-block scoring is a block-local GEMM in an Arrow-batched
    ``applyInPandas`` (one BLAS call per block); band keys for all R
    bands are computed in ONE ``mapInPandas`` GEMM against the
    (R·r, 64) hyperplane matrix.  A pair may collide in several bands —
    the per-pair ``groupBy(id_a, id_b).min(cosine)`` canonicalizes.
    ``min`` rather than ``dropDuplicates`` because per-band cosines are
    NOT guaranteed bit-identical: each band's block holds a different
    row subset, so BLAS may accumulate the same pair's dot in a
    different order, and a sim at a 1e-4 rounding boundary could round
    differently across bands — an arbitrary-survivor dropDuplicates
    would make the reported cosine nondeterministic, while min is a
    deterministic function of the collision set (same shuffle shape:
    partial-agg min replaces partial-agg first).

    The DuckDB oracle replays the identical semantics end-to-end: same
    integer r rule, same literal R table, same md5-parity hyperplanes,
    same rounding — the approximation is pinned, not drifting.
    """
    from ..sources.tables import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    # memoized per content fingerprint — no extra job per invocation
    n = table_row_count(spark, sf_dir, "embeddings")
    r = adaptive_sign_bits(n)
    nbands = EMB_BANDS[r]
    w = _emb_band_weights(r, nbands)

    def band_keys(batches):
        import numpy as np
        import pandas as pd

        pows = (1 << np.arange(r)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            signs = (m @ w.T >= 0).astype(np.int64)  # (rows, nbands*r)
            for b in range(nbands):
                key = signs[:, b * r : (b + 1) * r] @ pows
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "embedding": pdf["embedding"],
                        "band": b,
                        "key": key,
                    }
                )

    exploded = fan_out_sized(emb.select("vec_id", "embedding"), n).mapInPandas(
        band_keys, "vec_id bigint, embedding array<float>, band int, key bigint"
    )

    # bind into the closure cell so the worker-side function sees the
    # driver-side value (incl. test monkeypatching) rather than
    # re-importing the module default
    gemm_cells = _GEMM_CHUNK_CELLS

    def _score_block(ids, m, outs):
        import numpy as np
        import pandas as pd

        m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
        # chunked GEMM (round-10 hardening, found by the sf100 probe):
        # the full B×B sims matrix of a HOT block — e.g. a boilerplate
        # cluster whose members share every sign bit — is B²·8 bytes
        # and OOMs the task before a single pair is emitted (measured:
        # lost task at a ~200k-member block, 2M clustered vectors).
        # Scoring chunk-vs-suffix bounds transient memory at
        # ~_GEMM_CHUNK_CELLS doubles per task while every pair's
        # cosine is still the same 64-term BLAS dot (bit-identical to
        # the full-GEMM result, so the oracle match is untouched);
        # kept pairs are filtered BEFORE any index array materializes,
        # so per-chunk footprint is output-bound, not B-bound.  FLOPs
        # and output size are unchanged — a corpus whose true pair set
        # is quadratic is still output-bound (that regime's production
        # operator is the dedup_semantic_scalable drop list); this
        # bounds MEMORY, not work.
        B = len(ids)
        chunk = max(4, gemm_cells // max(B, 1))
        for s in range(0, B, chunk):
            e = min(s + chunk, B)
            sims = m[s:e] @ m[s:].T  # columns are j >= s only
            # same portable rounding formula as functions.rnd / rnd_sql
            cos = np.floor(sims * 1e4 + 0.5) / 1e4
            keep = (cos >= COSINE_DUP_THRESHOLD) & (
                np.arange(B - s)[None, :] > np.arange(e - s)[:, None]
            )
            li, lj = np.nonzero(keep)
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": ids[s + li],
                        "id_b": ids[s + lj],
                        "cosine": cos[li, lj],
                    }
                )
            )

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        outs = []
        # one Spark→Python group holds MANY fine (band, key) blocks
        # (coarse grouping below); iterate the fine blocks here —
        # pandas groupby is C-level, ~free next to a per-block Python
        # task invocation
        pdf = pdf.sort_values(["key", "vec_id"])
        for _k, sub in pdf.groupby("key", sort=False):
            ids = sub["vec_id"].to_numpy()
            m = np.stack(sub["embedding"].to_numpy()).astype(np.float64)
            _score_block(ids, m, outs)
        if not outs:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        return pd.concat(outs, ignore_index=True)

    # COARSE grouping (round-13 perf fix): grouping applyInPandas on the
    # fine (band, key) spawned one Python invocation per ~64-vector
    # block — ~1,900 invocations at sf0.1, and that per-group overhead,
    # not the GEMM, was the measured cost (1.6 s warm).  Dropping the low
    # EMB_COARSE_BITS of the key packs ~2^6 fine blocks (~4k vectors,
    # ~2 MB) into each Python group and block_pairs sub-groups them back
    # — the fine-block pair sets, GEMM order, and output are IDENTICAL
    # (partition refinement), so the oracle and the recall contract are
    # untouched.  Parallelism at scale is preserved: group count is
    # nbands · 2^(r−6), still ≫ cores for any corpus past ~4k vectors
    # per band.
    return (
        exploded.withColumn(
            "coarse", F.expr(f"key >> {EMB_COARSE_BITS}").cast("bigint")
        )
        .groupBy("band", "coarse")
        .applyInPandas(block_pairs, "id_a bigint, id_b bigint, cosine double")
        .groupBy("id_a", "id_b")
        .agg(F.min("cosine").alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (duplicated-span detection)
# ---------------------------------------------------------------------------

#: exact-substring dedup: duplicated-window width in WORDS.  Lee et al.
#: ("Deduplicating Training Data Makes Language Models Better", 2022)
#: flag 50-token substrings that recur anywhere in the corpus; the
#: word-window analogue here uses 10 words (the synthetic docs average
#: ~54 words).  A window is "duplicated" when the exact word sequence
#: occurs more than once corpus-wide — including twice in the SAME
#: document (self-repetition is duplication too, per the paper).
SUBSTR_WINDOW = 10


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity exact dedup: maximal duplicated spans per doc.

    The suffix-array pass of Lee et al. re-expressed as a distributed
    sliding-window join — the standard scale-out approximation (window
    stride 1, so any duplicated substring of >= ``SUBSTR_WINDOW`` words
    is detected, with span boundaries resolved to the word):

    1. every document emits one FULL-WIDTH 128-bit md5 digest per
       ``SUBSTR_WINDOW``-word window, with its word position (JVM-side
       ``transform`` over the token array — one ``split`` per row via
       the let-binding trick).  Width matters: the engine's shared
       60-bit gram hash has real birthday collisions at corpus scale
       (~2³⁰ distinct windows), which would mark unique windows as
       duplicated; at the full 128 bits a collision needs ~2⁶⁴ windows
       (union bound ≈ 10⁻¹⁵ at 10¹² windows) — the same trust level as
       :func:`dedup_exact`'s md5 content key, and the standard
       content-digest practice.  An earlier round-7 variant verified
       candidates against actual window text (Lee et al.'s
       belt-and-braces); it was exact but paid a second corpus-scale
       text shuffle exactly when duplication saturates — the 16-byte
       digest keeps the single-pass plan at ~5% over the 60-bit key
       (warm A/B at sf1: 9.6 vs 9.1 s) while the ORACLE still decides
       duplication on raw window text, so the collision semantics stay
       independently checked, not a shared blind spot;
    2. ``groupBy(g).count()`` (map-side partial agg) finds windows
       whose digest recurs corpus-wide; positions join that set on the
       fixed-width digest key;
    3. per document, overlapping/touching duplicated windows coalesce
       into maximal spans: window ends ``i + W`` are monotone in ``i``,
       so a single ``lag`` detects run breaks — the merge window is
       partitioned by ``doc_id`` (doc-bounded, high-cardinality: safe at
       100 TB, unlike a corpus-level window).

    Output: one row per document that contains at least one duplicated
    span — span count, longest span, total duplicated words (spans are
    disjoint after the merge, so the sum IS the union size), and the
    duplicated-word fraction.

    Scale notes: step 2's hot keys (boilerplate windows recurring
    millions of times) do NOT explode — unlike the pairwise Jaccard
    join, the posting list joins a one-row-per-gram key set, so output
    stays linear in the postings and AQE skew-split handles the bucket;
    no df cap is needed.  The span merge never sees more rows per task
    than one document's windows.
    """
    from pyspark.sql import Window as W

    width = SUBSTR_WINDOW
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    pos = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.explode(
            F.expr(
                f"""element_at(transform(array(split(text, ' ')), toks ->
                CASE WHEN size(toks) >= {width}
                THEN transform(sequence(0, size(toks) - {width}),
                     i -> named_struct(
                         'i', CAST(i AS BIGINT),
                         'g', md5(concat_ws(' ',
                                  slice(toks, i + 1, {width})))))
                ELSE CAST(array() AS
                          array<struct<i: bigint, g: string>>) END), 1)"""
            )
        ).alias("w"),
    ).select("doc_id", "n_words", F.col("w.i").alias("i"), F.col("w.g").alias("g"))

    dup_grams = pos.groupBy("g").count().where(F.col("count") > 1).select("g")
    dup_pos = pos.join(dup_grams, "g")

    merge_w = W.partitionBy("doc_id").orderBy("i")
    runs = (
        dup_pos.withColumn("prev_i", F.lag("i").over(merge_w))
        # window ends i+W are monotone in i, so the previous window's end
        # IS the running max end: a gap opens iff i > prev_i + W
        .withColumn(
            "new_run",
            F.when(
                F.col("prev_i").isNull()
                | (F.col("i") > F.col("prev_i") + width),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(
                merge_w.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "n_words", "run_id")
        .agg(
            F.min("i").alias("start"),
            (F.max("i") + width).alias("end"),
        )
    )
    return (
        runs.groupBy("doc_id", "n_words")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.max(F.col("end") - F.col("start")).alias("longest_span_words"),
            F.sum(F.col("end") - F.col("start")).alias("dup_words"),
        )
        .select(
            "doc_id",
            "n_dup_spans",
            "longest_span_words",
            "dup_words",
            rnd(F.col("dup_words") / F.col("n_words"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


#: minimum duplicated-span length (words) for the suffix-ranking pass —
#: deliberately BELOW dedup_exact_substring's SUBSTR_WINDOW so the two
#: operators' coverage differs where it matters: spans in [6, 10) words
#: are invisible to the 10-word gram pass and found here.
SUFFIX_SPAN_MIN_WORDS = 6

#: position id packing for suffix-class representatives:
#: pid = doc_id·2^24 + off (documents bounded at 16M words; doc_id at
#: 2^39 — both far past any corpus shard's bounds)
_SUFFIX_POS_BITS = 24


def dedup_suffix_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated spans ≥ :data:`SUFFIX_SPAN_MIN_WORDS` words via
    distributed PREFIX DOUBLING (Manber–Myers 1990) — the suffix-array
    mechanism of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", §4.1) re-expressed as iterated
    equi-join + group-by rounds, with NO hashing anywhere:

    1. every word position gets an exact EQUIVALENCE-CLASS id for the
       window starting there, length doubling per round — class_{k+1}
       of position p is the class of the PAIR (class_k(p),
       class_k(p+2^k)), materialized as the minimum packed position id
       in the pair's group (collision-free representative: a groupBy +
       join-back, never a hash);
    2. after ⌈log₂ 2^a⌉ rounds (2^a = largest power of two ≤ L) the
       sparse-table trick keys length-L windows exactly: two OVERLAPPING
       length-2^a classes, at p and p+L−2^a, are equal for two
       positions iff their length-L windows are equal word-for-word;
    3. positions whose key recurs corpus-wide (count ≥ 2 over the key —
       self-repetition included, per the paper) coalesce per document
       into maximal spans (stride-1 gaps-and-islands, doc-bounded
       window).

    vs :func:`dedup_exact_substring` (the stride-1 gram pass): the gram
    digest bakes the width into the hash, so spans SHORTER than
    SUBSTR_WINDOW are invisible by construction; prefix-doubling
    classes compose, so the threshold is a query-time choice — this
    operator runs at 6 words and finds the [6, 10)-word duplicated
    spans the gram pass misses (pinned by the planted-span pytest) —
    and class equality is exact string equality, not a 128-bit-digest
    trust level.

    Scale: O(log L) rounds — NOT O(log n): ranking stops at the span
    threshold length, the published early-exit for fixed-length
    queries — each round one (doc_id, off) self-equi-join plus one
    (cls, cls2) groupBy + join-back, all linear in corpus tokens with
    no skew amplification (hot classes group to ONE representative row
    before joining back).  The final duplicate test is a per-key
    window count (high-cardinality key, map-side partial), and the
    island merge never sees more rows per task than one document's
    flagged positions.

    Output: one row per maximal duplicated span — (doc_id, span_start,
    span_end, span_words, n_windows), word offsets, end exclusive.
    """
    from pyspark.sql import Window as W

    from .. import cache

    L = SUFFIX_SPAN_MIN_WORDS
    docs, keyed = _suffix_window_keys(spark, sf_dir)
    # keyed feeds two branches (the class-stats agg and the join-back);
    # persist it so the O(log L) doubling rounds run ONCE, not per branch
    keyed = cache.persist_tracked(keyed)
    # duplicated-class membership via groupBy + semi-join, NOT a window
    # over partitionBy(cls, cls2): the agg partial-aggregates map-side
    # (a span duplicated a million times contributes one row per input
    # partition), where the window would sort EVERY position and funnel
    # each hot class into a single task — the skew rule SCALING.md
    # records for first-occurrence selection applies to duplicate
    # FLAGGING too
    dup_classes = (
        keyed.groupBy("cls", "cls2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("cls", "cls2")
    )
    flagged = keyed.join(dup_classes, ["cls", "cls2"], "left_semi").select(
        "doc_id", "off"
    )
    merge_w = W.partitionBy("doc_id").orderBy("off")
    runs = (
        flagged.withColumn("prev", F.lag("off").over(merge_w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("off") > F.col("prev") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(merge_w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        runs.groupBy("doc_id", "island")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + L).alias("span_end"),
            (F.max("off") + L - F.min("off")).alias("span_words"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_words", "n_windows"
        )
        .orderBy("doc_id", "span_start")
    )


def _suffix_window_keys(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared prefix-doubling core of the suffix-span family.

    Returns ``(docs, keyed)`` where ``docs`` is the (doc_id, text) scan
    and ``keyed`` holds one row per full ``SUFFIX_SPAN_MIN_WORDS``-word
    window occurrence — (doc_id, off, cls, cls2) — with two positions
    sharing (cls, cls2) iff their windows are equal word-for-word
    (exact equivalence classes, no hashing; see
    :func:`dedup_suffix_spans` for the algorithm citations).
    """
    L = SUFFIX_SPAN_MIN_WORDS
    a_len = 1 << (L.bit_length() - 1)  # largest power of two <= L
    rounds = a_len.bit_length() - 1  # log2(a_len) doubling rounds

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Round-14 shuffle slimming (guide §2.3 narrower types): the
    # doubling rounds below are the engine's most exchange-heavy family
    # (4-5 position-table shuffles per round), and (doc_id, off) is a
    # bijection of the packed pid the rows already carry — so the
    # rounds move ONLY (pid, cls): two longs per row instead of four
    # columns, and every equi-join compares one long instead of a
    # two-column key.  Shifting by `step` in pid space is exact: within
    # a document pid - step ≡ (doc_id, off - step); when off < step the
    # arithmetic lands at off' ≥ 2^POS_BITS - step in the PREVIOUS
    # document's range, and no real position has off' > its document's
    # word count (≪ 2^POS_BITS — the same packing invariant pid itself
    # relies on), so the join misses exactly where the old
    # (doc_id, off - step) key missed.  doc_id/off unpack at the end.
    toks = fan_out(docs).select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("off", "w"),
    ).select(
        "w",
        (
            F.col("doc_id") * F.lit(1 << _SUFFIX_POS_BITS)
            + F.col("off").cast("long")
        ).alias("pid"),
    )
    # class_0: one representative per distinct WORD (length-1 windows)
    reps0 = toks.groupBy("w").agg(F.min("pid").alias("cls"))
    cur = toks.join(reps0, "w").select("pid", "cls")
    step = 1
    for _ in range(rounds):
        shifted = cur.select(
            (F.col("pid") - step).alias("pid"),
            F.col("cls").alias("cls2"),
        )
        # left join: positions whose window overruns the doc keep a
        # sentinel class — their (short) windows stay distinguishable
        # from every full window and are filtered before keying below
        paired = cur.join(shifted, ["pid"], "left").withColumn(
            "cls2", F.coalesce("cls2", F.lit(-1))
        )
        reps = paired.groupBy("cls", "cls2").agg(F.min("pid").alias("ncls"))
        cur = paired.join(reps, ["cls", "cls2"]).select(
            "pid", F.col("ncls").alias("cls")
        )
        step *= 2
    # sparse-table keying: (class_a(off), class_a(off + L - 2^a)) for
    # offsets with a full L-word window.  n_words deliberately does NOT
    # ride the doubling-round shuffles above (8 bytes × every position
    # × every round at 100 TB) — the per-doc length joins back here,
    # doc-count-sized.
    n_words = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    tail = cur.select(
        (F.col("pid") - (L - a_len)).alias("pid"),
        F.col("cls").alias("cls2"),
    )
    keyed = (
        cur.join(tail, ["pid"])
        .select(
            F.shiftright("pid", _SUFFIX_POS_BITS).alias("doc_id"),
            F.col("pid")
            .bitwiseAND(F.lit((1 << _SUFFIX_POS_BITS) - 1))
            .alias("off"),
            "cls",
            "cls2",
        )
        .join(n_words, "doc_id")
        .where(F.col("off") <= F.col("n_words") - L)
        .select("doc_id", "off", "cls", "cls2")
    )
    return docs, keyed


def dedup_span_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus REWRITE removing duplicated spans — the deliverable of
    Lee et al. 2022 §4.1 (ExactSubstr deduplication: detect repeated
    spans, then *edit the text*), composing with the prefix-doubling
    pass behind :func:`dedup_suffix_spans`.

    Semantics (exact, both engines replay it identically):

    1. every length-L window occurrence whose window text recurs
       corpus-wide (count ≥ 2) is duplicated; its CANONICAL occurrence
       is the one with the minimum packed position id (doc_id, off) —
       first document, then first offset, a total order;
    2. all NON-canonical duplicated occurrences are *foreign*; per
       document, foreign windows union into maximal clipped intervals
       (two windows merge iff they overlap or touch: off' ≤ off + L);
    3. the rewritten document drops exactly the words inside clipped
       intervals.  The canonical occurrence of each duplicated window
       survives *unless* an overlapping foreign interval from a
       different duplicated span covers it — the same boundary behavior
       as the published span-removal tool.

    Output: one row per document — (doc_id, n_words, n_clipped,
    clipped_text); untouched documents pass their ORIGINAL text through
    (no tokenize→rejoin round trip and no rebuild cost for the clean
    majority of the corpus, which at 100 TB is almost all of it — the
    explode + per-doc rebuild below runs only over affected docs).
    """
    from pyspark.sql import Window as W

    from .. import cache

    L = SUFFIX_SPAN_MIN_WORDS
    docs, keyed = _suffix_window_keys(spark, sf_dir)
    # keyed feeds the stats agg AND the join-back: persist once
    keyed = cache.persist_tracked(keyed)
    # canonical selection partial-aggregates (count + min pid combine
    # map-side) and joins back — same skew posture as dedup_passage's
    # survivor selection, never a window over partitionBy(cls, cls2)
    pid = F.col("doc_id") * F.lit(1 << _SUFFIX_POS_BITS) + F.col("off")
    stats = (
        keyed.groupBy("cls", "cls2")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(pid).alias("min_pid"),
        )
        .where(F.col("n_occ") >= 2)
        .select("cls", "cls2", "min_pid")
    )
    foreign = (
        keyed.join(stats, ["cls", "cls2"])
        .where(pid != F.col("min_pid"))
        .select("doc_id", "off")
    )
    # interval union: windows [off, off+L) merge while off' <= off + L
    merge_w = W.partitionBy("doc_id").orderBy("off")
    isl = (
        foreign.withColumn("prev", F.lag("off").over(merge_w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("off") > F.col("prev") + L),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(merge_w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("off").alias("s"), (F.max("off") + L).alias("e"))
    )
    # per-doc INTERVAL LISTS, not exploded covered positions: the first
    # cut of this rebuild (explode islands → anti-join a re-exploded
    # token table → collect_list reassembly) moved THREE corpus-scale
    # tables through the shuffle and overran the probe box's disk at
    # the 5M-doc decade on a worst-case corpus where by-chance 6-word
    # repeats make nearly every doc affected.  Clipped intervals are
    # doc-bounded (≤ words/2 per doc, same per-doc bound as every text
    # op here), so the rewrite is ONE doc-count-sized join plus a
    # zero-shuffle higher-order filter on the split array — no explode,
    # no anti-join, no collect of word structs
    # the join column is bound to a DISTINCT intermediate name so the
    # final projection cannot confuse it with the coalesced output
    # column it aliases to "n_clipped" (round-11 advice: resolving the
    # F.when against the pre-coalesce join column by the SAME name was
    # correct but fragile under refactor)
    iv = isl.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("iv"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("clip_total"),
    )
    return (
        docs.join(iv, "doc_id", "left")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_words"),
            F.coalesce("clip_total", F.lit(0)).cast("long").alias("n_clipped"),
            F.when(F.col("clip_total").isNull(), F.col("text"))
            # drop words whose position falls in any clipped interval;
            # a fully-clipped doc filters to [] → empty rewrite
            .otherwise(
                F.expr(
                    "array_join(filter(split(text, ' '), (w, p) ->"
                    " NOT exists(iv, x -> p >= x.s AND p < x.e)), ' ')"
                )
            )
            .alias("clipped_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Oracles (DuckDB) — same constants, same hashing, same blocking
# ---------------------------------------------------------------------------

_SH = _shingles_sql("text")
_H60_TOK = _hash60_sql("tok")

_MINHASH_MINS = ", ".join(
    f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_PRIME}))"
    for a, b in MINHASH_COEFFS
)

_BAND_KEYS = ", ".join(
    "concat_ws('-', "
    + f"{i}, "
    + ", ".join(f"sig[{i * LSH_ROWS + r + 1}]" for r in range(LSH_ROWS))
    + ")"
    for i in range(LSH_BANDS)
)

_SIMHASH_BIT_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_CHUNK_KEYS = ", ".join(
    f"concat_ws(':', {c}, CAST((simhash >> {c * SIMHASH_CHUNK_BITS}) "
    f"& {(1 << SIMHASH_CHUNK_BITS) - 1} AS VARCHAR))"
    for c in range(SIMHASH_CHUNKS)
)

#: SQL CASE arm list for the EMB_BANDS table — generated from the SAME
#: dict the engine reads, so the two can never drift
_EMB_BANDS_CASE = " ".join(
    f"WHEN {r} THEN {nb}" for r, nb in sorted(EMB_BANDS.items())
)

ORACLES = {
    # independent mechanism on purpose: the oracle MATERIALIZES every
    # length-L window string and compares raw text, so the engine's
    # prefix-doubling equivalence classes are checked against ground
    # truth, not replayed
    "dedup_suffix_spans": f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        p AS (SELECT doc_id, toks,
                     unnest(range(0, greatest(len(toks)
                         - {SUFFIX_SPAN_MIN_WORDS} + 1, 0)))::BIGINT AS off
              FROM d),
        w AS (SELECT doc_id, off,
                     array_to_string(
                         toks[off + 1 : off + {SUFFIX_SPAN_MIN_WORDS}],
                         ' ') AS win
              FROM p),
        f AS (SELECT doc_id, off FROM (
                  SELECT *, count(*) OVER (PARTITION BY win) AS n_occ
                  FROM w) q
              WHERE n_occ >= 2),
        m AS (SELECT *, CASE WHEN lag(off) OVER (PARTITION BY doc_id
                                                 ORDER BY off) IS NULL
                             OR off > lag(off) OVER (PARTITION BY doc_id
                                                     ORDER BY off) + 1
                        THEN 1 ELSE 0 END AS brk
              FROM f),
        i AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY doc_id
                                            ORDER BY off) AS BIGINT)
                        AS island
              FROM m)
        SELECT doc_id,
               min(off) AS span_start,
               max(off) + {SUFFIX_SPAN_MIN_WORDS} AS span_end,
               max(off) + {SUFFIX_SPAN_MIN_WORDS} - min(off) AS span_words,
               count(*) AS n_windows
        FROM i GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
    # same independence as the spans oracle: windows and canonical
    # occurrences are materialized from raw text, the rewrite replayed
    # with list ops — the engine's equivalence classes are checked
    # against ground truth, not re-run
    "dedup_span_clip": f"""
        WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                   FROM documents),
        p AS (SELECT doc_id, toks,
                     unnest(range(0, greatest(len(toks)
                         - {SUFFIX_SPAN_MIN_WORDS} + 1, 0)))::BIGINT AS off
              FROM d),
        w AS (SELECT doc_id, off,
                     array_to_string(
                         toks[off + 1 : off + {SUFFIX_SPAN_MIN_WORDS}],
                         ' ') AS win
              FROM p),
        g AS (SELECT win,
                     min(doc_id * {1 << _SUFFIX_POS_BITS} + off) AS min_pid
              FROM w GROUP BY win HAVING count(*) >= 2),
        f AS (SELECT doc_id, off FROM w JOIN g USING (win)
              WHERE doc_id * {1 << _SUFFIX_POS_BITS} + off <> min_pid),
        m AS (SELECT doc_id, off,
                     CASE WHEN lag(off) OVER dw IS NULL
                            OR off > lag(off) OVER dw
                                     + {SUFFIX_SPAN_MIN_WORDS}
                          THEN 1 ELSE 0 END AS brk
              FROM f WINDOW dw AS (PARTITION BY doc_id ORDER BY off)),
        i AS (SELECT doc_id, off,
                     CAST(sum(brk) OVER (PARTITION BY doc_id
                                         ORDER BY off) AS BIGINT) AS island
              FROM m),
        isl AS (SELECT doc_id, min(off) AS s,
                       max(off) + {SUFFIX_SPAN_MIN_WORDS} AS e
                FROM i GROUP BY doc_id, island),
        st AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_clipped
               FROM isl GROUP BY doc_id),
        cov AS (SELECT doc_id, unnest(range(s, e))::BIGINT AS pos FROM isl),
        wd AS (SELECT doc_id, pos, toks[pos + 1] AS w
               FROM (SELECT doc_id, toks,
                            unnest(range(len(toks)))::BIGINT AS pos
                     FROM d JOIN st USING (doc_id)) q),
        kept AS (SELECT wd.doc_id, wd.pos, wd.w
                 FROM wd LEFT JOIN cov
                   ON wd.doc_id = cov.doc_id AND wd.pos = cov.pos
                 WHERE cov.pos IS NULL),
        rb AS (SELECT doc_id,
                      string_agg(w, ' ' ORDER BY pos) AS rebuilt_text
               FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(d.toks) AS BIGINT) AS n_words,
               COALESCE(st.n_clipped, 0) AS n_clipped,
               CASE WHEN st.doc_id IS NULL THEN d.text
                    ELSE COALESCE(rb.rebuilt_text, '') END AS clipped_text
        FROM d
        LEFT JOIN st USING (doc_id)
        LEFT JOIN rb USING (doc_id)
        ORDER BY doc_id
    """,
    "dedup_exact_substring": f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        pos AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(i AS BIGINT) AS i,
                       list_aggr(toks[i + 1:i + {SUBSTR_WINDOW}],
                                 'string_agg', ' ') AS wt
                FROM t, LATERAL (SELECT unnest(range(
                    greatest(len(toks) - {SUBSTR_WINDOW - 1}, 0))) AS i) s),
        -- duplication decided on the ACTUAL window text: the engine's
        -- 60-bit hash is a pure optimization behind its verify pass,
        -- so the oracle being hash-free makes the collision guard an
        -- independently-checked semantic, not a shared blind spot
        dupg AS (SELECT wt FROM pos GROUP BY wt HAVING count(*) > 1),
        dp AS (SELECT doc_id, n_words, i FROM pos JOIN dupg USING (wt)),
        r AS (SELECT doc_id, n_words, i,
                     CASE WHEN lag(i) OVER w IS NULL
                            OR i > lag(i) OVER w + {SUBSTR_WINDOW}
                          THEN 1 ELSE 0 END AS new_run
              FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        rr AS (SELECT doc_id, n_words, i,
                      sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS run_id
               FROM r),
        runs AS (SELECT doc_id, n_words, run_id,
                        min(i) AS run_start,
                        max(i) + {SUBSTR_WINDOW} AS run_end
                 FROM rr GROUP BY 1, 2, 3),
        agg AS (SELECT doc_id, n_words,
                       count(*) AS n_dup_spans,
                       CAST(max(run_end - run_start) AS BIGINT)
                           AS longest_span_words,
                       CAST(sum(run_end - run_start) AS BIGINT) AS dup_words
                FROM runs GROUP BY 1, 2)
        SELECT doc_id, n_dup_spans, longest_span_words, dup_words,
               {rnd_sql('dup_words / n_words', 6)} AS dup_frac
        FROM agg ORDER BY doc_id
    """,
    "dedup_exact": """
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY content_hash
    """,
    "dedup_exact_normalized": r"""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                   AS content_hash,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY content_hash
    """,
    "dedup_ngram_jaccard": f"""
        WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
        e0 AS (SELECT doc_id,
                      unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
               FROM s),
        e AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         count(*) OVER (PARTITION BY g) AS df FROM e0)
              WHERE df <= {NGRAM_DF_CAP}),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS shared
              FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        j AS (SELECT doc_a, doc_b,
                     {rnd_sql('(shared / (sa.n_sh + sb.n_sh - shared))', 4)} AS jaccard
              FROM p JOIN sz sa ON sa.doc_id = p.doc_a
                     JOIN sz sb ON sb.doc_id = p.doc_b)
        SELECT doc_a, doc_b, jaccard FROM j
        WHERE jaccard >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "dedup_containment": f"""
        WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
        e0 AS (SELECT doc_id,
                      unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
               FROM s),
        e AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         count(*) OVER (PARTITION BY g) AS df FROM e0)
              WHERE df <= {NGRAM_DF_CAP}),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS shared
              FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        c AS (SELECT
                  CASE WHEN sa.n_sh < sb.n_sh
                         OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
                       THEN doc_a ELSE doc_b END AS contained_id,
                  CASE WHEN sa.n_sh < sb.n_sh
                         OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
                       THEN doc_b ELSE doc_a END AS container_id,
                  {rnd_sql("shared / least(sa.n_sh, sb.n_sh)", 4)}
                      AS containment
              FROM p JOIN sz sa ON sa.doc_id = p.doc_a
                     JOIN sz sb ON sb.doc_id = p.doc_b)
        SELECT contained_id, container_id, containment FROM c
        WHERE containment >= {CONTAINMENT_THRESHOLD}
        ORDER BY contained_id, container_id
    """,
    # indexed variant: the df cap sees only the OLD corpus (what an index
    # build can know) and new-doc sizes are their full distinct-gram
    # counts — exactly mirroring gram_index_bucketed + the fresh batch
    # shingling in dedup_incremental_indexed
    "dedup_incremental_indexed": f"""
        WITH oldd AS (SELECT doc_id, text FROM documents
                      WHERE {_hash60_sql("concat('batch:', doc_id)")}
                            % {INCR_BATCH_MOD} <> 0),
        newd AS (SELECT doc_id, source, text, md5(text) AS h FROM documents
                 WHERE {_hash60_sql("concat('batch:', doc_id)")}
                       % {INCR_BATCH_MOD} = 0),
        so AS (SELECT doc_id, {_SH} AS sh FROM oldd),
        eo0 AS (SELECT doc_id,
                       unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
                FROM so),
        e_old AS (SELECT doc_id, g FROM (
                      SELECT doc_id, g,
                             count(*) OVER (PARTITION BY g) AS df FROM eo0)
                  WHERE df <= {NGRAM_DF_CAP}),
        sz_old AS (SELECT doc_id, count(*) AS n_b FROM e_old
                   GROUP BY doc_id),
        sn AS (SELECT doc_id, {_SH} AS sh FROM newd),
        e_new AS (SELECT doc_id,
                         unnest(list_transform(sh, t -> {_hash60_sql('t')}))
                             AS g
                  FROM sn),
        sz_new AS (SELECT doc_id, count(*) AS n_a FROM e_new
                   GROUP BY doc_id),
        oldh AS (SELECT DISTINCT md5(text) AS h FROM oldd),
        exact AS (SELECT doc_id FROM newd
                  WHERE h IN (SELECT h FROM oldh)),
        p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id,
                     count(*) AS shared
              FROM e_new n JOIN e_old o ON n.g = o.g
              GROUP BY 1, 2),
        near AS (SELECT DISTINCT new_id AS doc_id
                 FROM p JOIN sz_new sa ON sa.doc_id = p.new_id
                        JOIN sz_old sb ON sb.doc_id = p.old_id
                 WHERE {rnd_sql('(shared / (sa.n_a + sb.n_b - shared))', 4)}
                       >= {JACCARD_THRESHOLD}),
        v AS (SELECT n.source,
                     CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END
                         AS is_exact,
                     CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END
                         AS is_near
              FROM newd n
              LEFT JOIN exact ex ON ex.doc_id = n.doc_id
              LEFT JOIN near nr ON nr.doc_id = n.doc_id)
        SELECT source, count(*) AS n_new,
               CAST(sum(is_exact) AS BIGINT) AS n_exact_dup,
               CAST(sum(CASE WHEN is_exact = 0 AND is_near = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
               CAST(sum(CASE WHEN is_exact = 0 AND is_near = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM v GROUP BY source ORDER BY source
    """,
    "dedup_incremental": f"""
        WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
        e0 AS (SELECT doc_id,
                      unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
               FROM s),
        e AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         count(*) OVER (PARTITION BY g) AS df FROM e0)
              WHERE df <= {NGRAM_DF_CAP}),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
        newd AS (SELECT doc_id, source, md5(text) AS h FROM documents
                 WHERE {_hash60_sql("concat('batch:', doc_id)")} % {INCR_BATCH_MOD} = 0),
        oldh AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE {_hash60_sql("concat('batch:', doc_id)")} % {INCR_BATCH_MOD} <> 0),
        exact AS (SELECT doc_id FROM newd
                  WHERE h IN (SELECT h FROM oldh)),
        p AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
                     count(*) AS shared
              FROM e a JOIN e b ON a.g = b.g
              WHERE {_hash60_sql("concat('batch:', a.doc_id)")}
                        % {INCR_BATCH_MOD} = 0
                AND {_hash60_sql("concat('batch:', b.doc_id)")}
                        % {INCR_BATCH_MOD} <> 0
              GROUP BY 1, 2),
        near AS (SELECT DISTINCT new_id AS doc_id
                 FROM p JOIN sz sa ON sa.doc_id = p.new_id
                        JOIN sz sb ON sb.doc_id = p.old_id
                 WHERE {rnd_sql('(shared / (sa.n_sh + sb.n_sh - shared))', 4)}
                       >= {JACCARD_THRESHOLD}),
        v AS (SELECT n.source,
                     CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END
                         AS is_exact,
                     CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END
                         AS is_near
              FROM newd n
              LEFT JOIN exact ex ON ex.doc_id = n.doc_id
              LEFT JOIN near nr ON nr.doc_id = n.doc_id)
        SELECT source, count(*) AS n_new,
               CAST(sum(is_exact) AS BIGINT) AS n_exact_dup,
               CAST(sum(CASE WHEN is_exact = 0 AND is_near = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
               CAST(sum(CASE WHEN is_exact = 0 AND is_near = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM v GROUP BY source ORDER BY source
    """,
    # Bloom is invisible to semantics (no false negatives + exact verify
    # of maybe-hits) — the oracle is the plain membership screen.
    "dedup_incremental_bloom": f"""
        WITH newd AS (SELECT doc_id, source, {_bloom_key_sql()} AS h
                      FROM documents
                      WHERE {_hash60_sql("concat('batch:', doc_id)")}
                            % {INCR_BATCH_MOD} = 0),
        oldh AS (SELECT DISTINCT {_bloom_key_sql()} AS h FROM documents
                 WHERE {_hash60_sql("concat('batch:', doc_id)")}
                       % {INCR_BATCH_MOD} <> 0)
        SELECT source, count(*) AS n_new,
               CAST(sum(CASE WHEN h IN (SELECT h FROM oldh)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_head_dup,
               CAST(sum(CASE WHEN h IN (SELECT h FROM oldh)
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        FROM newd GROUP BY source ORDER BY source
    """,
    "dedup_incremental_minhash": f"""
        WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
        sigh AS (SELECT doc_id, sh,
                        list_transform(sh, t ->
                            {_hash60_sql('t')} % {MINHASH_PRIME}) AS hs
                 FROM s WHERE len(sh) > 0),
        sig AS (SELECT doc_id, sh, [{_MINHASH_MINS}] AS sig FROM sigh),
        banded AS (SELECT doc_id, sh, unnest([{_BAND_KEYS}]) AS band_key
                   FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
                 FROM banded a JOIN banded b
                 ON a.band_key = b.band_key
                 WHERE {_hash60_sql("concat('batch:', a.doc_id)")}
                           % {INCR_BATCH_MOD} = 0
                   AND {_hash60_sql("concat('batch:', b.doc_id)")}
                           % {INCR_BATCH_MOD} <> 0),
        verified AS (
            SELECT c.new_id, c.old_id,
                   len(list_intersect(sa.sh, sb.sh)) AS inter,
                   len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh)) AS un
            FROM cand c
            JOIN s sa ON sa.doc_id = c.new_id
            JOIN s sb ON sb.doc_id = c.old_id)
        SELECT new_id, old_id,
               {rnd_sql('(inter / un)', 4)} AS jaccard
        FROM verified WHERE {rnd_sql('(inter / un)', 4)} >= {JACCARD_THRESHOLD}
        ORDER BY new_id, old_id
    """,
    "dedup_minhash_lsh": f"""
        WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
        sigh AS (SELECT doc_id, sh,
                        list_transform(sh, t ->
                            {_hash60_sql('t')} % {MINHASH_PRIME}) AS hs
                 FROM s WHERE len(sh) > 0),
        sig AS (SELECT doc_id, sh, [{_MINHASH_MINS}] AS sig FROM sigh),
        banded AS (SELECT doc_id, sh, unnest([{_BAND_KEYS}]) AS band_key
                   FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM banded a JOIN banded b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b,
                   len(list_intersect(sa.sh, sb.sh)) AS inter,
                   len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh)) AS un
            FROM cand c
            JOIN s sa ON sa.doc_id = c.doc_a
            JOIN s sb ON sb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, (floor((inter / un) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE) AS jaccard
        FROM verified WHERE (floor((inter / un) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents),
        hashed AS (SELECT doc_id, {_H60_TOK} AS h FROM toks WHERE tok <> ''),
        sums AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM hashed GROUP BY doc_id),
        sims AS (SELECT doc_id, {_SIMHASH_VALUE} AS simhash FROM sums),
        chunks AS (SELECT doc_id, simhash,
                          unnest([{_SIMHASH_CHUNK_KEYS}]) AS chunk_key
                   FROM sims),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sim_a, b.simhash AS sim_b
                 FROM chunks a JOIN chunks b
                 ON a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(sim_a, sim_b)) AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """,
    # banded sign-LSH (round 8): same integer r rule, same literal R
    # table (EMB_BANDS), same md5-parity Rademacher hyperplanes, same
    # rounding as the engine — see dedup_embedding_cosine's docstring
    "dedup_embedding_cosine": f"""
        WITH params AS (
            SELECT r, CASE r {_EMB_BANDS_CASE} ELSE {EMB_BANDS[EMB_BITS_MAX]}
                       END AS nb
            FROM (SELECT coalesce(min(b), {EMB_BITS_MAX}) AS r
                  FROM range({EMB_BITS_MIN}, {EMB_BITS_MAX + 1}) t(b),
                       (SELECT count(*) AS n FROM embeddings) c
                  WHERE (1::BIGINT << b) * {EMB_BLOCK_TARGET} >= c.n)),
        e AS (SELECT vec_id,
                embedding::DOUBLE[] AS raw,
                list_transform(embedding::DOUBLE[], x ->
                    x / sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                     y -> y*y)))) AS v
            FROM embeddings),
        w AS (SELECT k, j,
                CASE WHEN ({_hash60_sql("concat('emblsh:', k, ':', j)")})
                          % 2 = 0
                     THEN 1.0 ELSE -1.0 END AS wt
              FROM params p,
                   LATERAL (SELECT unnest(range(0, p.nb * p.r)) AS k) tk,
                   LATERAL (SELECT unnest(range(0, 64)) AS j) tj),
        dots AS (SELECT e.vec_id, w.k,
                        sum(w.wt * e.raw[CAST(w.j AS INT) + 1]) AS d
                 FROM e, w GROUP BY e.vec_id, w.k),
        keys AS (SELECT vec_id,
                        CAST(floor(k / p.r) AS INT) AS band,
                        CAST(sum(CASE WHEN d >= 0
                                 THEN (1::BIGINT << CAST(k % p.r AS INT))
                                 ELSE 0 END) AS BIGINT) AS key
                 FROM dots, params p GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM keys a JOIN keys b
                   ON a.band = b.band AND a.key = b.key
                      AND a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b,
               (floor((list_dot_product(ea.v, eb.v)) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
        WHERE (floor((list_dot_product(ea.v, eb.v)) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE)
              >= {COSINE_DUP_THRESHOLD}
        ORDER BY id_a, id_b
    """,
}

# the materialized band index is invisible to semantics (same banding,
# same verify) — the indexed screen shares the derived twin's oracle
ORACLES["dedup_incremental_minhash_indexed"] = ORACLES[
    "dedup_incremental_minhash"
]

# winnowing: the same positional gram hashes, the same packed-string
# sliding min (DuckDB window), the same df cap and posting self-join
_WINNOW_GRAM = " || ' ' || ".join(
    f"toks[i + {j}]" for j in range(1, SHINGLE_N + 1)
)
ORACLES["dedup_winnowing"] = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                 CAST(len(toks) - {SHINGLE_N - 1} AS BIGINT) AS n_grams,
                 {_hash60_sql(_WINNOW_GRAM)} AS h
          FROM t, LATERAL (SELECT unnest(range(
              greatest(len(toks) - {SHINGLE_N - 1}, 0))) AS i) s),
    k AS (SELECT doc_id, i, n_grams,
                 lpad(CAST(h AS VARCHAR), 19, '0')
                   || lpad(CAST({_WINNOW_POS_MAX} - i AS VARCHAR), 7, '0')
                   AS key
          FROM g),
    m AS (SELECT doc_id, i, n_grams,
                 min(key) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                     AS sel
          FROM k),
    s AS (SELECT DISTINCT doc_id, CAST(substr(sel, 1, 19) AS BIGINT) AS g
          FROM m WHERE i >= {WINNOW_W - 1} OR i = n_grams - 1),
    sc AS (SELECT doc_id, g FROM (
              SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM s)
           WHERE df <= {NGRAM_DF_CAP}),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS shared_fps
          FROM sc a JOIN sc b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, shared_fps FROM p
    WHERE shared_fps >= {WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
"""

# split-leakage audit: the LSH pair chain + hash-derived split labels
_H_SPLIT_A = _hash60_sql("concat('split:', doc_a)")
_SPLIT_SQL_A = (
    f"CASE WHEN {_H_SPLIT_A} % {SPLIT_MOD} <= 7"
    f" THEN 'train' WHEN {_H_SPLIT_A}"
    f" % {SPLIT_MOD} = 8 THEN 'val' ELSE 'test' END"
)
_SPLIT_SQL_B = _SPLIT_SQL_A.replace("doc_a", "doc_b")
ORACLES["split_leakage_check"] = f"""
    WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
    sigh AS (SELECT doc_id, sh,
                    list_transform(sh, t ->
                        {_hash60_sql('t')} % {MINHASH_PRIME}) AS hs
             FROM s WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh, [{_MINHASH_MINS}] AS sig FROM sigh),
    banded AS (SELECT doc_id, sh, unnest([{_BAND_KEYS}]) AS band_key
               FROM sig),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM banded a JOIN banded b
             ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
    verified AS (
        SELECT c.doc_a, c.doc_b FROM cand c
        JOIN s sa ON sa.doc_id = c.doc_a
        JOIN s sb ON sb.doc_id = c.doc_b
        WHERE {rnd_sql(
            "(len(list_intersect(sa.sh, sb.sh)) / "
            "(len(sa.sh) + len(sb.sh)"
            " - len(list_intersect(sa.sh, sb.sh))))", 4)}
              >= {JACCARD_THRESHOLD}),
    lab AS (SELECT {_SPLIT_SQL_A} AS sa, {_SPLIT_SQL_B} AS sb
            FROM verified)
    SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
           count(*) AS n_dup_pairs,
           (least(sa, sb) <> greatest(sa, sb)) AS is_leakage
    FROM lab GROUP BY 1, 2 ORDER BY split_a, split_b
"""

# band-index maintenance: the banded screen's CTE chain extended with
# the kept set, the appended band rows, and the re-screen against the
# old ∪ appended band union (self-pairs included)
ORACLES["band_index_maintain"] = f"""
    WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
    sigh AS (SELECT doc_id, sh,
                    list_transform(sh, t ->
                        {_hash60_sql('t')} % {MINHASH_PRIME}) AS hs
             FROM s WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh, [{_MINHASH_MINS}] AS sig FROM sigh),
    banded AS (SELECT doc_id, sh, unnest([{_BAND_KEYS}]) AS band_key
               FROM sig),
    newb AS (SELECT doc_id, sh, band_key FROM banded
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    oldb AS (SELECT doc_id, sh, band_key FROM banded
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} <> 0),
    newd AS (SELECT doc_id, source FROM documents
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
             FROM newb a JOIN oldb b ON a.band_key = b.band_key),
    near AS (SELECT DISTINCT c.new_id AS doc_id FROM cand c
             JOIN s sa ON sa.doc_id = c.new_id
             JOIN s sb ON sb.doc_id = c.old_id
             WHERE {rnd_sql(
                 "(len(list_intersect(sa.sh, sb.sh)) / "
                 "(len(sa.sh) + len(sb.sh)"
                 " - len(list_intersect(sa.sh, sb.sh))))", 4)}
                   >= {JACCARD_THRESHOLD}),
    kept AS (SELECT doc_id, source FROM newd
             WHERE doc_id NOT IN (SELECT doc_id FROM near)),
    added AS (SELECT doc_id, sh, band_key FROM newb
              WHERE doc_id IN (SELECT doc_id FROM kept)),
    post AS (SELECT doc_id, sh, band_key FROM oldb
             UNION ALL SELECT doc_id, sh, band_key FROM added),
    cand2 AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
              FROM newb a JOIN post b ON a.band_key = b.band_key),
    near2 AS (SELECT DISTINCT c.new_id AS doc_id FROM cand2 c
              JOIN s sa ON sa.doc_id = c.new_id
              JOIN s sb ON sb.doc_id = c.old_id
              WHERE {rnd_sql(
                  "(len(list_intersect(sa.sh, sb.sh)) / "
                  "(len(sa.sh) + len(sb.sh)"
                  " - len(list_intersect(sa.sh, sb.sh))))", 4)}
                    >= {JACCARD_THRESHOLD}),
    red AS (SELECT doc_id, source FROM kept
            WHERE doc_id IN (SELECT doc_id FROM near2)),
    base AS (SELECT source, count(*) AS n_new FROM newd GROUP BY source),
    kc AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source),
    ac AS (SELECT n.source, count(*) AS bands_added
           FROM added a JOIN newd n ON n.doc_id = a.doc_id
           GROUP BY n.source),
    rc AS (SELECT source, count(*) AS n_redetected FROM red GROUP BY source)
    SELECT b.source, b.n_new,
           coalesce(kc.n_kept, 0) AS n_kept,
           coalesce(ac.bands_added, 0) AS bands_added,
           coalesce(rc.n_redetected, 0) AS n_redetected
    FROM base b
    LEFT JOIN kc USING (source)
    LEFT JOIN ac USING (source)
    LEFT JOIN rc USING (source)
    ORDER BY b.source
"""

# index maintenance: the indexed screen's CTE chain extended with the
# kept set, the appended postings, and the re-screen against the
# old ∪ appended union — the oracle derives n_redetected independently
ORACLES["dedup_index_maintain"] = f"""
    WITH oldd AS (SELECT doc_id, text FROM documents
                  WHERE {_hash60_sql("concat('batch:', doc_id)")}
                        % {INCR_BATCH_MOD} <> 0),
    newd AS (SELECT doc_id, source, text, md5(text) AS h FROM documents
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    so AS (SELECT doc_id, {_SH} AS sh FROM oldd),
    eo0 AS (SELECT doc_id,
                   unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
            FROM so),
    e_old AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         count(*) OVER (PARTITION BY g) AS df FROM eo0)
              WHERE df <= {NGRAM_DF_CAP}),
    sz_old AS (SELECT doc_id, count(*) AS n_b FROM e_old GROUP BY doc_id),
    sn AS (SELECT doc_id, {_SH} AS sh FROM newd),
    e_new AS (SELECT doc_id,
                     unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
              FROM sn),
    sz_new AS (SELECT doc_id, count(*) AS n_a FROM e_new GROUP BY doc_id),
    oldh AS (SELECT DISTINCT md5(text) AS h FROM oldd),
    exact AS (SELECT doc_id FROM newd WHERE h IN (SELECT h FROM oldh)),
    p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS shared
          FROM e_new n JOIN e_old o ON n.g = o.g GROUP BY 1, 2),
    near AS (SELECT DISTINCT new_id AS doc_id
             FROM p JOIN sz_new sa ON sa.doc_id = p.new_id
                    JOIN sz_old sb ON sb.doc_id = p.old_id
             WHERE {rnd_sql('(shared / (sa.n_a + sb.n_b - shared))', 4)}
                   >= {JACCARD_THRESHOLD}),
    kept AS (SELECT doc_id, source FROM newd
             WHERE doc_id NOT IN (SELECT doc_id FROM exact)
               AND doc_id NOT IN (SELECT doc_id FROM near)),
    added AS (SELECT doc_id, g FROM e_new
              WHERE doc_id IN (SELECT doc_id FROM kept)),
    post AS (SELECT doc_id, g FROM e_old
             UNION ALL SELECT doc_id, g FROM added),
    sz_post AS (SELECT doc_id, count(*) AS n_b FROM post GROUP BY doc_id),
    p2 AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS shared
           FROM e_new n JOIN post o ON n.g = o.g GROUP BY 1, 2),
    near2 AS (SELECT DISTINCT new_id AS doc_id
              FROM p2 JOIN sz_new sa ON sa.doc_id = p2.new_id
                     JOIN sz_post sb ON sb.doc_id = p2.old_id
              WHERE {rnd_sql('(shared / (sa.n_a + sb.n_b - shared))', 4)}
                    >= {JACCARD_THRESHOLD}),
    red AS (SELECT doc_id, source FROM kept
            WHERE doc_id IN (SELECT doc_id FROM near2)),
    base AS (SELECT source, count(*) AS n_new FROM newd GROUP BY source),
    kc AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY source),
    ac AS (SELECT n.source, count(*) AS grams_added
           FROM added a JOIN newd n ON n.doc_id = a.doc_id
           GROUP BY n.source),
    rc AS (SELECT source, count(*) AS n_redetected FROM red GROUP BY source)
    SELECT b.source, b.n_new,
           coalesce(kc.n_kept, 0) AS n_kept,
           coalesce(ac.grams_added, 0) AS grams_added,
           coalesce(rc.n_redetected, 0) AS n_redetected
    FROM base b
    LEFT JOIN kc USING (source)
    LEFT JOIN ac USING (source)
    LEFT JOIN rc USING (source)
    ORDER BY b.source
"""

# band_index_compact: a genuine from-scratch re-sign of old ∪ kept —
# same kept derivation as the band maintenance oracle, then the rebuilt
# band table (oldb ∪ added) summarized per source.
ORACLES["band_index_compact"] = f"""
    WITH s AS (SELECT doc_id, {_SH} AS sh FROM documents),
    sigh AS (SELECT doc_id, sh,
                    list_transform(sh, t ->
                        {_hash60_sql('t')} % {MINHASH_PRIME}) AS hs
             FROM s WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh, [{_MINHASH_MINS}] AS sig FROM sigh),
    banded AS (SELECT doc_id, sh, unnest([{_BAND_KEYS}]) AS band_key
               FROM sig),
    newb AS (SELECT doc_id, sh, band_key FROM banded
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    oldb AS (SELECT doc_id, sh, band_key FROM banded
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} <> 0),
    newd AS (SELECT doc_id, source FROM documents
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
             FROM newb a JOIN oldb b ON a.band_key = b.band_key),
    near AS (SELECT DISTINCT c.new_id AS doc_id FROM cand c
             JOIN s sa ON sa.doc_id = c.new_id
             JOIN s sb ON sb.doc_id = c.old_id
             WHERE {rnd_sql(
                 "(len(list_intersect(sa.sh, sb.sh)) / "
                 "(len(sa.sh) + len(sb.sh)"
                 " - len(list_intersect(sa.sh, sb.sh))))", 4)}
                   >= {JACCARD_THRESHOLD}),
    kept AS (SELECT doc_id FROM newd
             WHERE doc_id NOT IN (SELECT doc_id FROM near)),
    rebuilt AS (SELECT doc_id, sh, band_key FROM oldb
                UNION ALL
                SELECT doc_id, sh, band_key FROM newb
                WHERE doc_id IN (SELECT doc_id FROM kept)),
    srcs AS (SELECT doc_id, source FROM documents)
    SELECT s2.source,
           count(DISTINCT r.doc_id) AS n_docs,
           count(*) AS n_rows,
           CAST(sum(len(r.sh)) AS BIGINT) AS n_minhash,
           CAST(sum({_hash60_sql('r.band_key')} % 1000000007)
                AS BIGINT) AS key_checksum
    FROM rebuilt r JOIN srcs s2 USING (doc_id)
    GROUP BY s2.source
    ORDER BY s2.source
"""

# dedup_index_compact: a genuine FROM-SCRATCH rebuild — shingle the
# old-corpus ∪ kept-batch documents, apply the df cap on the UNION's
# document frequencies — against which the engine's fold of base ∪ delta
# (tombstones + recount, never re-shingling) must be byte-equal.  The
# kept derivation replays dedup_index_maintain's screens.
ORACLES["dedup_index_compact"] = f"""
    WITH oldd AS (SELECT doc_id, source, text FROM documents
                  WHERE {_hash60_sql("concat('batch:', doc_id)")}
                        % {INCR_BATCH_MOD} <> 0),
    newd AS (SELECT doc_id, source, text, md5(text) AS h FROM documents
             WHERE {_hash60_sql("concat('batch:', doc_id)")}
                   % {INCR_BATCH_MOD} = 0),
    so AS (SELECT doc_id, {_SH} AS sh FROM oldd),
    eo0 AS (SELECT doc_id,
                   unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
            FROM so),
    e_old AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         count(*) OVER (PARTITION BY g) AS df FROM eo0)
              WHERE df <= {NGRAM_DF_CAP}),
    sz_old AS (SELECT doc_id, count(*) AS n_b FROM e_old GROUP BY doc_id),
    sn AS (SELECT doc_id, {_SH} AS sh FROM newd),
    e_new AS (SELECT doc_id,
                     unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
              FROM sn),
    sz_new AS (SELECT doc_id, count(*) AS n_a FROM e_new GROUP BY doc_id),
    oldh AS (SELECT DISTINCT md5(text) AS h FROM oldd),
    exact AS (SELECT doc_id FROM newd WHERE h IN (SELECT h FROM oldh)),
    p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS shared
          FROM e_new n JOIN e_old o ON n.g = o.g GROUP BY 1, 2),
    near AS (SELECT DISTINCT new_id AS doc_id
             FROM p JOIN sz_new sa ON sa.doc_id = p.new_id
                    JOIN sz_old sb ON sb.doc_id = p.old_id
             WHERE {rnd_sql('(shared / (sa.n_a + sb.n_b - shared))', 4)}
                   >= {JACCARD_THRESHOLD}),
    kept AS (SELECT doc_id FROM newd
             WHERE doc_id NOT IN (SELECT doc_id FROM exact)
               AND doc_id NOT IN (SELECT doc_id FROM near)),
    raw AS (SELECT doc_id, g FROM eo0
            UNION ALL
            SELECT doc_id, g FROM e_new
            WHERE doc_id IN (SELECT doc_id FROM kept)),
    rebuilt AS (SELECT doc_id, g FROM (
                    SELECT doc_id, g,
                           count(*) OVER (PARTITION BY g) AS df FROM raw)
                WHERE df <= {NGRAM_DF_CAP}),
    srcs AS (SELECT doc_id, source FROM oldd
             UNION ALL SELECT doc_id, source FROM newd)
    SELECT s.source,
           count(DISTINCT r.doc_id) AS n_docs,
           count(*) AS n_postings,
           CAST(sum(r.g % 1000000007) AS BIGINT) AS g_checksum
    FROM rebuilt r JOIN srcs s USING (doc_id)
    GROUP BY s.source
    ORDER BY s.source
"""

# ---------------------------------------------------------------------------
# Fuzzy edit-distance pair join (Ed-Join prefix filter)
# ---------------------------------------------------------------------------

#: fuzzy_edit_pairs dials: title = first FUZZY_TITLE_LEN chars,
#: edit-distance threshold FUZZY_MAX_ED, PassJoin segmentation into
#: FUZZY_NSEG = d+1 even segments.
FUZZY_TITLE_LEN = 40
FUZZY_MAX_ED = 2
FUZZY_NSEG = FUZZY_MAX_ED + 1


def _seg_len_expr(i: str, L: str) -> str:
    """Length of even-split segment ``i`` of a string of length ``L``
    (first ``L % nseg`` segments get the extra char)."""
    n = FUZZY_NSEG
    return f"(({L}) div {n} + (CASE WHEN ({i}) < ({L}) % {n} THEN 1 ELSE 0 END))"


def _seg_start_expr(i: str, L: str) -> str:
    """1-based start of even-split segment ``i``."""
    n = FUZZY_NSEG
    return f"(1 + ({i}) * (({L}) div {n}) + least(({i}), ({L}) % {n}))"


def fuzzy_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance pair join over document title prefixes — the
    entity-resolution primitive (typo'd titles, OCR'd names, URL
    slugs): every pair of titles within Levenshtein distance
    ``FUZZY_MAX_ED``, found WITHOUT the n² compare.

    Blocking is the PassJoin segment scheme (Li, Deng & Feng, ICDE
    2011): each title splits into ``d+1`` even segments; if
    ed(a, b) ≤ d then ≤ d segments of ``a`` are touched by edits, so at
    least one appears in ``b`` EXACTLY, at a start position shifted by
    at most d — pigeonhole, LOSSLESS with no length precondition.
    Candidates are therefore the equi-join of the segment table
    (d+1 rows/title) against the probe-substring table ((2d+1)(d+1)
    rows/title: every segment-shaped substring within ±d of the
    segment's home position, for each target length within ±d); every
    candidate is verified with the exact built-in ``levenshtein``, so
    the output EQUALS the brute-force join — the oracle computes
    exactly that, length-banded n² in DuckDB, so a pair lost by the
    blocking breaks the match.

    Chosen over the Ed-Join prefix filter after measurement: on this
    corpus's 31-word vocabulary, 5-gram signatures saturate (the sf1
    probe measured 66.4M prefix candidates = quadratic gram heat),
    while the 13-14-char PassJoin segments stay diverse — 618k
    candidates at sf1, a 107× cut, all true pairs found (BASELINE.md
    round-9 section).  A corpus whose titles are intrinsically dense
    keeps a quadratic floor — the TRUE pair count itself grows
    superlinearly there; no exact join beats its own output size.

    At 100 TB: both sides are linear explodes (≤ 15 rows/title);
    the join key (segment index, target length, segment content) is a
    high-entropy string key; the verify touches candidates, never the
    cross product.

    No counterpart in the reference (SURVEY §2.4 extension: text
    analysis / entity resolution).
    """
    d = FUZZY_MAX_ED
    scan = load_table(spark, sf_dir, "documents")
    title = F.lower(F.substring("text", 1, FUZZY_TITLE_LEN))
    titles = fan_out(scan).select("doc_id", title.alias("t"))
    segs = titles.select(
        F.col("doc_id").alias("id_a"),
        F.col("t").alias("t_a"),
        F.explode(F.sequence(F.lit(0), F.lit(d))).alias("i"),
    ).select(
        "id_a",
        "t_a",
        "i",
        F.length("t_a").alias("la"),
        F.expr(
            f"substring(t_a, {_seg_start_expr('i', 'length(t_a)')},"
            f" {_seg_len_expr('i', 'length(t_a)')})"
        ).alias("c"),
    )
    lens = scan.select(F.length(title).alias("ltgt")).distinct()
    probes = (
        titles.join(
            F.broadcast(lens),
            F.abs(F.length("t") - F.col("ltgt")) <= d,
        )
        .select(
            F.col("doc_id").alias("id_b"),
            F.col("t").alias("t_b"),
            "ltgt",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(0, {d}), i ->"
                    f" transform(sequence(-{d}, {d}), sh ->"
                    f" struct(i AS i, sh AS sh))))"
                )
            ).alias("isx"),
        )
        .select(
            "id_b",
            "t_b",
            "ltgt",
            F.col("isx.i").alias("i"),
            (
                F.expr(_seg_start_expr("isx.i", "ltgt")) + F.col("isx.sh")
            ).alias("s"),
            F.expr(_seg_len_expr("isx.i", "ltgt")).alias("sl"),
        )
        .where(
            (F.col("s") >= 1)
            & (F.col("s") + F.col("sl") - 1 <= F.length("t_b"))
        )
        .select(
            "id_b",
            "t_b",
            "ltgt",
            "i",
            F.expr("substring(t_b, s, sl)").alias("c"),
        )
    )
    cand = (
        segs.join(
            probes,
            (segs["i"] == probes["i"])
            & (segs["c"] == probes["c"])
            & (segs["la"] == probes["ltgt"])
            & (segs["id_a"] != probes["id_b"]),
        )
        .select(
            F.least("id_a", "id_b").alias("ia"),
            F.greatest("id_a", "id_b").alias("ib"),
            "t_a",
            "t_b",
        )
        .dropDuplicates(["ia", "ib"])
    )
    return (
        cand.withColumn("dist", F.levenshtein("t_a", "t_b"))
        .where(F.col("dist") <= d)
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


ORACLES_FUZZY_SQL = f"""
    WITH t AS (
        SELECT doc_id, lower(substring(text, 1, {FUZZY_TITLE_LEN})) AS t
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.t, b.t)::INT AS dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
         AND abs(length(a.t) - length(b.t)) <= {FUZZY_MAX_ED}
    WHERE levenshtein(a.t, b.t) <= {FUZZY_MAX_ED}
    ORDER BY id_a, id_b
"""

ORACLES["dedup_recall_audit"] = f"""
    WITH samp AS (
        SELECT doc_id, text FROM documents
        WHERE {_hash60_sql("concat('recall', ':', doc_id)")} % 1000000
              < least({RECALL_SAMPLE_PERMILLE * 1000},
                      ({RECALL_SAMPLE_TARGET} * 1000000)
                          // greatest((SELECT count(*) FROM documents),
                                      1))),
    s AS (SELECT doc_id, {_SH} AS sh FROM samp),
    e AS (SELECT doc_id,
                 unnest(list_transform(sh, t -> {_hash60_sql('t')})) AS g
          FROM s),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY doc_id),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
          FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    tj AS (SELECT doc_a, doc_b,
                  {rnd_sql('(shared / (sa.n_sh + sb.n_sh - shared))', 4)}
                      AS jaccard
           FROM p JOIN sz sa ON sa.doc_id = p.doc_a
                  JOIN sz sb ON sb.doc_id = p.doc_b),
    truep AS (SELECT * FROM tj WHERE jaccard >= {JACCARD_THRESHOLD}),
    mh AS ({{MH}}),
    caught AS (
        SELECT mh.doc_a, mh.doc_b FROM mh
        JOIN samp a ON a.doc_id = mh.doc_a
        JOIN samp b ON b.doc_id = mh.doc_b),
    aud AS (
        SELECT t.jaccard, (c.doc_a IS NOT NULL) AS hit
        FROM truep t LEFT JOIN caught c
             ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
    nd AS (SELECT count(*) AS n_sample_docs FROM samp),
    ag AS (SELECT count(*) AS n_true_pairs,
                  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_caught,
                  max(CASE WHEN NOT hit THEN jaccard END)
                      AS worst_missed_jaccard
           FROM aud)
    SELECT n_sample_docs, n_true_pairs, n_caught,
           n_true_pairs - n_caught AS n_missed,
           CASE WHEN n_true_pairs > 0 THEN
               {rnd_sql('CAST(n_caught AS DOUBLE) / CAST(n_true_pairs AS DOUBLE)', 4)}
           END AS recall,
           worst_missed_jaccard
    FROM nd CROSS JOIN ag
"""
# the screen side is the REAL minhash oracle verbatim (same reuse
# pattern as the keeplist/graph oracles)
ORACLES["dedup_recall_audit"] = ORACLES["dedup_recall_audit"].replace(
    "{MH}", ORACLES["dedup_minhash_lsh"]
)

QUERIES = {
    "dedup_recall_audit": dedup_recall_audit,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_suffix_spans": dedup_suffix_spans,
    "dedup_span_clip": dedup_span_clip,
    "dedup_exact": dedup_exact,
    "dedup_exact_normalized": dedup_exact_normalized,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_incremental_indexed": dedup_incremental_indexed,
    "dedup_index_maintain": dedup_index_maintain,
    "dedup_index_compact": dedup_index_compact,
    "band_index_maintain": band_index_maintain,
    "band_index_compact": band_index_compact,
    "dedup_winnowing": dedup_winnowing,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_bloom": dedup_incremental_bloom,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_incremental_minhash_indexed": dedup_incremental_minhash_indexed,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "split_leakage_check": split_leakage_check,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "fuzzy_edit_pairs": fuzzy_edit_pairs,
}

ORACLES["fuzzy_edit_pairs"] = ORACLES_FUZZY_SQL


# ---------------------------------------------------------------------------
# Record-linkage scoring over the fuzzy pair join (round-9 addition)
# ---------------------------------------------------------------------------

#: Fellegi–Sunter-style agreement weights (Fellegi & Sunter 1969, "A
#: Theory for Record Linkage", JASA 64).  Half-unit literals keep every
#: sum an exact IEEE double on both engines.  Title weight decays with
#: edit distance (exact / 1 edit / 2 edits agreement levels).
LINK_W_TITLE = (4.0, 2.5, 1.0)  # dist 0 / 1 / 2
LINK_W_LANG = (2.0, -1.0)  # agree / disagree
LINK_W_SOURCE = (1.0, -0.5)
LINK_W_LEN = (0.5, -0.25)  #: |Δn_chars| ≤ 10% of max(n_chars)
LINK_MATCH_T = 6.0
LINK_POSSIBLE_T = 3.5


def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution MATCH SCORING on top of the exact fuzzy pair
    join: the Fellegi–Sunter decision shape — per-field agreement
    weights summed into a match score, thresholded into
    match / possible / non_match — over title-edit-distance candidate
    pairs and the records' structured fields (lang, source, n_chars).

    This is the step after blocking in every production linkage
    pipeline (dedupe of crawl records, canonical entity tables): the
    blocking (:func:`fuzzy_edit_pairs`, PassJoin — lossless for
    ed ≤ d) proposes, the field weights decide.  Weights here are
    fixed half-unit literals (a trained linkage fits them with EM;
    fitting is out of scope — the DECISION plumbing is the operator).

    Scale: pair list is the already-probed PassJoin output; the two
    attribute joins are equi-joins on doc_id against a projected
    4-column side.  Pure Column arithmetic, no new shuffle class.
    """
    pairs = fuzzy_edit_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("n_chars").alias("nc_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("n_chars").alias("nc_b"),
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    w_title = (
        F.when(F.col("dist") == 0, LINK_W_TITLE[0])
        .when(F.col("dist") == 1, LINK_W_TITLE[1])
        .otherwise(LINK_W_TITLE[2])
    )
    w_lang = F.when(
        F.col("lang_a") == F.col("lang_b"), LINK_W_LANG[0]
    ).otherwise(LINK_W_LANG[1])
    w_src = F.when(
        F.col("src_a") == F.col("src_b"), LINK_W_SOURCE[0]
    ).otherwise(LINK_W_SOURCE[1])
    len_close = (
        F.abs(F.col("nc_a") - F.col("nc_b")) * 10
        <= F.greatest("nc_a", "nc_b")
    )
    w_len = F.when(len_close, LINK_W_LEN[0]).otherwise(LINK_W_LEN[1])
    score = w_title + w_lang + w_src + w_len
    verdict = (
        F.when(score >= LINK_MATCH_T, "match")
        .when(score >= LINK_POSSIBLE_T, "possible")
        .otherwise("non_match")
    )
    return j.select(
        "id_a",
        "id_b",
        "dist",
        (F.col("lang_a") == F.col("lang_b")).alias("lang_agree"),
        (F.col("src_a") == F.col("src_b")).alias("source_agree"),
        len_close.alias("len_agree"),
        score.alias("score"),
        verdict.alias("verdict"),
    ).orderBy("id_a", "id_b")


ORACLES["record_linkage_scores"] = f"""
    WITH pairs AS ({ORACLES_FUZZY_SQL}),
    d AS (SELECT doc_id, lang, source, n_chars FROM documents),
    j AS (
        SELECT p.id_a, p.id_b, p.dist,
               (a.lang = b.lang) AS lang_agree,
               (a.source = b.source) AS source_agree,
               (abs(a.n_chars - b.n_chars) * 10
                <= greatest(a.n_chars, b.n_chars)) AS len_agree
        FROM pairs p JOIN d a ON a.doc_id = p.id_a
                     JOIN d b ON b.doc_id = p.id_b),
    s AS (
        SELECT *,
               -- ::DOUBLE on the first arm makes every CASE (and the
               -- whole sum) DOUBLE arithmetic like Spark's, not DuckDB
               -- DECIMAL; all weights are exact binary fractions
               -- (multiples of 0.25) so values are unchanged.
               (CASE WHEN dist = 0 THEN {LINK_W_TITLE[0]}::DOUBLE
                     WHEN dist = 1 THEN {LINK_W_TITLE[1]}
                     ELSE {LINK_W_TITLE[2]} END
                + CASE WHEN lang_agree THEN {LINK_W_LANG[0]}
                       ELSE {LINK_W_LANG[1]} END
                + CASE WHEN source_agree THEN {LINK_W_SOURCE[0]}
                       ELSE {LINK_W_SOURCE[1]} END
                + CASE WHEN len_agree THEN {LINK_W_LEN[0]}
                       ELSE {LINK_W_LEN[1]} END) AS score
        FROM j)
    SELECT id_a, id_b, dist, lang_agree, source_agree, len_agree, score,
           CASE WHEN score >= {LINK_MATCH_T} THEN 'match'
                WHEN score >= {LINK_POSSIBLE_T} THEN 'possible'
                ELSE 'non_match' END AS verdict
    FROM s ORDER BY id_a, id_b
"""

QUERIES["record_linkage_scores"] = record_linkage_scores


# ---------------------------------------------------------------------------
# URL canonicalization dedup (round-14 addition)
# ---------------------------------------------------------------------------

#: variant arms per planted URL group (see :func:`_url_plant`)
URL_ARMS = 5
#: host shards — keeps the canonical table realistically many-per-host
URL_HOSTS = 40


def _url_plant(docs: DataFrame) -> DataFrame:
    """Self-plant a deterministic ``url`` column on ``documents`` — the
    crawl-metadata column the synthetic corpus lacks (same convention as
    ``_moji_plant`` / ``_pii_plant``: both engines replay the plant
    exactly, so the oracle row is a real canonicalization check).

    Five doc_id-keyed arms; arms 0–2 of each group ``g = doc_id div 5``
    are three spellings of the SAME logical page (a planted variant
    group), arms 3–4 are unique pages that still need work:

    - arm 0: the canonical spelling itself
    - arm 1: upper-cased scheme+host, ``www.`` prefix, explicit default
      port ``:443``, swapped query-param order, ``#fragment``
    - arm 2: trailing slash + interleaved ``utm_*`` tracking params
    - arm 3: unique page, ``HTTP`` + mixed-case host + ``:80``
    - arm 4: unique page, trailing slash, no query string

    Every plant guarantee the canonicalizer relies on holds by
    construction: a scheme, a host, and a ``/``-initial path are always
    present.
    """
    g = F.expr("doc_id div 5")
    h = g % URL_HOSTS
    url = (
        F.when(
            F.col("doc_id") % URL_ARMS == 0,
            F.concat(
                F.lit("https://example"), h, F.lit(".com/a/"), g,
                F.lit("?id="), g, F.lit("&ref=home"),
            ),
        )
        .when(
            F.col("doc_id") % URL_ARMS == 1,
            F.concat(
                F.lit("HTTPS://WWW.EXAMPLE"), h, F.lit(".COM:443/a/"), g,
                F.lit("?ref=home&id="), g, F.lit("#section-2"),
            ),
        )
        .when(
            F.col("doc_id") % URL_ARMS == 2,
            F.concat(
                F.lit("https://example"), h, F.lit(".com/a/"), g,
                F.lit("/?utm_source=feed&id="), g,
                F.lit("&utm_medium=rss&ref=home"),
            ),
        )
        .when(
            F.col("doc_id") % URL_ARMS == 3,
            F.concat(
                F.lit("HTTP://News.Example"),
                F.col("doc_id") % URL_HOSTS,
                F.lit(".ORG:80/b/"), F.col("doc_id"),
                F.lit("?id="), F.col("doc_id"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"),
                F.col("doc_id") % URL_HOSTS,
                F.lit(".com/c/"), F.col("doc_id"), F.lit("/"),
            ),
        )
    )
    return docs.select("doc_id", url.alias("url"))


def canonical_url(url: Column) -> Column:
    """C4/CCNet-style URL canonicalization as a pure Catalyst Column —
    the normalize-before-hash step of crawl dedup (C4 dedupes pages on
    URL before content; CCNet keys its shards the same way):

    - scheme and host lower-cased
    - ``#fragment`` stripped
    - leading ``www.`` folded
    - explicit DEFAULT port stripped (``:443`` for https, ``:80`` for
      http — a non-default port is kept: it names a different origin)
    - trailing ``/`` folded (``/a/7/`` == ``/a/7``)
    - ``utm_*`` tracking params dropped, residual params sorted so
      param order can't split a group

    Pure string/array Catalyst expressions — one codegen'd projection,
    no UDF, no shuffle; the DuckDB oracle mirrors it with list
    functions (string_split / list_filter / list_sort /
    array_to_string).
    """
    nofrag = F.split(url, "#", 2).getItem(0)
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.split(rest, "/", 2).getItem(0))
    nowww = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(
        scheme == "https", F.regexp_replace(nowww, ":443$", "")
    ).otherwise(
        F.when(scheme == "http", F.regexp_replace(nowww, ":80$", ""))
        .otherwise(nowww)
    )
    # path+query = rest minus the hostport prefix
    pathq = F.substring(rest, F.length(hostport) + F.lit(1), F.lit(1 << 30))
    path = F.split(pathq, r"\?", 2).getItem(0)
    query = F.when(
        F.instr(pathq, "?") > 0,
        F.substring(pathq, F.instr(pathq, "?") + F.lit(1), F.lit(1 << 30)),
    ).otherwise(F.lit(""))
    path = F.regexp_replace(path, "/+$", "")
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.substring(p, 1, 4) != "utm_") & (p != ""),
        )
    )
    qjoined = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qjoined == "", F.lit("")).otherwise(F.concat(F.lit("?"), qjoined)),
    )


def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup over the planted crawl-metadata
    column — the stage C4/CCNet run BEFORE content dedup: group pages
    by canonical URL, keep the lowest doc_id, count the spellings.

    Scale: one codegen'd canonicalization projection, then the exact
    :func:`dedup_exact` shape — hash-partition on the canonical string,
    map-side partial agg; only (canon, id) pairs shuffle, never page
    content.  At 100 TB this is the cheapest dedup pass in the pipeline
    and runs first precisely because it needs no text at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        _url_plant(docs)
        .select(canonical_url(F.col("url")).alias("canon_url"), "doc_id")
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .orderBy("canon_url")
    )


#: DuckDB twin of :func:`_url_plant` — replayed from doc_id
_URL_PLANT_SQL = f"""
    SELECT doc_id,
           CASE doc_id % {URL_ARMS}
             WHEN 0 THEN concat('https://example', (doc_id // 5) % {URL_HOSTS},
                                '.com/a/', doc_id // 5,
                                '?id=', doc_id // 5, '&ref=home')
             WHEN 1 THEN concat('HTTPS://WWW.EXAMPLE', (doc_id // 5) % {URL_HOSTS},
                                '.COM:443/a/', doc_id // 5,
                                '?ref=home&id=', doc_id // 5, '#section-2')
             WHEN 2 THEN concat('https://example', (doc_id // 5) % {URL_HOSTS},
                                '.com/a/', doc_id // 5,
                                '/?utm_source=feed&id=', doc_id // 5,
                                '&utm_medium=rss&ref=home')
             WHEN 3 THEN concat('HTTP://News.Example', doc_id % {URL_HOSTS},
                                '.ORG:80/b/', doc_id, '?id=', doc_id)
             ELSE concat('https://example', doc_id % {URL_HOSTS},
                         '.com/c/', doc_id, '/')
           END AS url
    FROM documents
"""

ORACLES["dedup_url"] = f"""
    WITH planted AS ({_URL_PLANT_SQL}),
    parts AS (
        SELECT doc_id,
               string_split(url, '#')[1] AS nofrag
        FROM planted),
    split1 AS (
        SELECT doc_id,
               lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                   AS scheme,
               regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
                   AS rest
        FROM parts),
    split2 AS (
        SELECT *,
               lower(string_split(rest, '/')[1]) AS hostport,
               substring(rest, length(string_split(rest, '/')[1]) + 1)
                   AS pathq
        FROM split1),
    hostfix AS (
        SELECT *,
               CASE
                 WHEN scheme = 'https'
                   THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                       ':443$', '')
                 WHEN scheme = 'http'
                   THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''),
                                       ':80$', '')
                 ELSE regexp_replace(hostport, '^www\\.', '')
               END AS host
        FROM split2),
    pq AS (
        SELECT *,
               regexp_replace(string_split(pathq, '?')[1], '/+$', '') AS path,
               CASE WHEN position('?' IN pathq) > 0
                    THEN substring(pathq, position('?' IN pathq) + 1)
                    ELSE '' END AS query
        FROM hostfix),
    canon AS (
        SELECT doc_id,
               concat(scheme, '://', host, path,
                      CASE WHEN q = '' THEN '' ELSE concat('?', q) END)
                   AS canon_url
        FROM (SELECT *,
                     -- coalesce: DuckDB array_to_string([]) is NULL
                     coalesce(array_to_string(
                         list_sort(list_filter(string_split(query, '&'),
                                   p -> substring(p, 1, 4) <> 'utm_'
                                        AND p <> '')),
                         '&'), '') AS q
              FROM pq))
    SELECT canon_url,
           min(doc_id) AS keep_id,
           count(*) AS n_variants
    FROM canon
    GROUP BY canon_url
    ORDER BY canon_url
"""

QUERIES["dedup_url"] = dedup_url

"""Graph operators: connected components for dedup-cluster resolution.

Near-dup pair generation (dedup.py) emits EDGES; a training-data pipeline
then needs the transitive closure — "docs A,B and B,C are near-dups ⇒
A,B,C are one cluster, keep one canonical doc".  That closure is weakly
connected components with min-id labels.

Small graphs run on the driver.  The iterative operators here (connected
components, the k-core peel, triangle counts) pay a fixed price in Spark
jobs per sweep, whatever the graph's size: under AQE one CC sweep is 7
jobs at its lazy checkpoint plus 2 for the convergence scalar.  So each
one first collects its edge list up to :data:`LOCAL_MAX_EDGES` + 1 rows
(:func:`_collect_if_small`).  At or under the cap it computes with numpy
on the driver and returns the result through ``createDataFrame``'s Arrow
path — the "local execution" of Tenzing (PAPERS.md), where an input
under a size threshold runs in the client instead of launching jobs.
Above the cap it runs the distributed code below, and the probe's jobs
are wasted (they compute the edge list once more).  The cap is set from
the local-vs-distributed crossover recorded in SCALING.md; the choice
depends only on the edge count.

The distributed CC is min-label propagation:

    label(v) ← min(label(v), min over neighbors' label)   until fixpoint

Each iteration is one join + one groupBy (two shuffles) over the edge
list — the Pregel-style large-graph CC formulation (GraphX/GraphFrames
use the same algorithm); iterations = graph diameter, which for near-dup
clusters is tiny (they are dense blobs, not paths).  Convergence is
detected by the monotone invariant Σlabels: labels only ever decrease, so
an unchanged sum ⇒ fixpoint — one scalar action per iteration instead of
a changed-row join.  That action also returns Σid, which is Σlabels
before the first sweep, so no action runs before the loop.

The reference has no graph/iterative operators at all (SURVEY §2.4); this
is part of the mandated LLM-pipeline extension surface.  The oracle is a
recursive CTE over the same (deterministic) simhash edges, so even this
iterative operator is exactly DuckDB-checkable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import rnd, rnd_sql
from . import dedup

#: safety bound; near-dup cluster diameter is far smaller in practice
MAX_CC_ITERATIONS = 25

#: edge lists of at most this many edges are computed on the driver.
#: Set from the local-vs-distributed crossover in SCALING.md; sf1's
#: 19.3M simhash pairs stay distributed.
LOCAL_MAX_EDGES = 4_000_000


def _collect_if_small(edges: DataFrame) -> pa.Table | None:
    """``edges`` as an Arrow table when it has at most
    :data:`LOCAL_MAX_EDGES` rows, else None (run distributed)."""
    t = edges.limit(LOCAL_MAX_EDGES + 1).toArrow()
    return None if t.num_rows > LOCAL_MAX_EDGES else t


def _vertex_type(edges: DataFrame):
    """Spark type of the vertex ids: the two endpoint columns widened
    the way the distributed paths' symmetric union widens them (plan
    analysis only, no job)."""
    a, b = edges.columns
    return edges.union(edges.select(b, a)).schema[0].dataType


def _dense(t: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(ids, u, v)``: the sorted distinct non-null endpoint ids and each
    edge's endpoints as indexes into them.  A null endpoint maps to
    ``len(ids)``: like the distributed paths' equi-joins, it is a vertex
    that no edge reaches."""
    cols = [t.column(0), t.column(1)]
    ids = np.unique(np.concatenate([c.drop_null().to_numpy() for c in cols]))
    out = []
    for c in cols:
        idx = np.full(len(c), len(ids), dtype=np.int64)
        valid = c.is_valid().to_numpy()
        idx[valid] = np.searchsorted(ids, c.drop_null().to_numpy())
        out.append(idx)
    return ids, out[0], out[1]


def _local_result(
    pairs: DataFrame,
    t: pa.Table,
    ids: dict[str, np.ndarray],
    counts: dict[str, np.ndarray],
) -> DataFrame:
    """A driver-side result as a Spark frame, built through Arrow: one
    row per vertex, plus the null vertex's row when ``t`` has a null
    endpoint.  ``ids`` columns (one entry per vertex of :func:`_dense`)
    take the vertex type and are null in the null vertex's row;
    ``counts`` columns (index ``len(ids)`` = the null vertex) are
    non-null bigints, or booleans for a bool array."""
    with_null = t.column(0).null_count + t.column(1).null_count > 0
    typ = _vertex_type(pairs)
    n = len(next(iter(ids.values())))
    cols, fields = {}, []
    for name, arr in ids.items():
        col = pa.array(arr)
        if with_null:
            col = pa.concat_arrays([col, pa.nulls(1, col.type)])
        cols[name] = col
        fields.append(T.StructField(name, typ))
    for name, arr in counts.items():
        cols[name] = arr[: n + with_null]
        kind = T.BooleanType() if arr.dtype == bool else T.LongType()
        fields.append(T.StructField(name, kind, False))
    return pairs.sparkSession.createDataFrame(pa.table(cols), T.StructType(fields))


def _min_labels(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Component label of vertices ``0..n-1`` (= the smallest vertex in
    the component) over edges ``u[i]—v[i]``: roots hook onto the smaller
    root across every edge, then pointer jumping flattens the forest,
    until no root moves.  Exact, whatever the number of rounds."""
    lab = np.arange(n)
    while True:
        ru, rv = lab[u], lab[v]
        lo = np.minimum(ru, rv)
        new = lab.copy()
        np.minimum.at(new, ru, lo)
        np.minimum.at(new, rv, lo)
        while not np.array_equal(new[new], new):
            new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Weakly connected components of an undirected edge list.

    Returns ``(id, label)`` where label = min vertex id in the component.
    Only vertices with at least one edge appear (isolated docs need no
    cluster resolution).  A null endpoint is its own ``(null, null)``
    row and joins nothing.  At most :data:`LOCAL_MAX_EDGES` edges:
    computed on the driver (:func:`_min_labels`); above it:
    :func:`_connected_components_distributed`.
    """
    pairs = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    t = _collect_if_small(pairs)
    if t is None:
        return _connected_components_distributed(edges, src, dst)
    ids, u, v = _dense(t)
    keep = (u < len(ids)) & (v < len(ids))
    labels = ids[_min_labels(len(ids), u[keep], v[keep])]
    return _local_result(pairs, t, {"id": ids, "label": labels}, {})


def _connected_components_distributed(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """:func:`connected_components` as label propagation in Spark.

    The edge list is persisted once; each sweep shuffles (id, label)
    pairs only — at 100 TB scale the per-iteration payload is two longs
    per edge, and AQE handles the skew of giant components.
    """
    # localCheckpoint both materializes the iteration inputs and
    # TRUNCATES LINEAGE — without it each round's plan embeds all prior
    # rounds and Catalyst re-analysis dominates wall time.  Every
    # checkpoint here is LAZY, but under AQE defining one still runs
    # each of its plan's shuffle stages as a job (AQE materializes the
    # query stages to plan the final one), and the checkpointed blocks
    # themselves are written by the convergence-sum collect that follows.
    # Measured at local[2]: a sweep is 7 jobs at its checkpoint plus 2
    # for the scalar collect; the initial labels cost 1 (the distinct).
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None

    for _ in range(MAX_CC_ITERATIONS):
        # (1) edge relax: min label among neighbors
        nbr_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(sym.dst.alias("nid"))
            .agg(F.min("label").alias("nbr_label"))
        )
        relaxed = labels.join(nbr_min, labels.id == nbr_min.nid, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # (2) pointer doubling: follow label -> label(label), halving path
        # lengths — O(log diameter) rounds instead of O(diameter), which
        # matters for chain-shaped near-dup clusters
        lab2 = relaxed.select(
            F.col("id").alias("lid"), F.col("label").alias("llabel")
        )
        labels = (
            relaxed.join(lab2, relaxed.label == lab2.lid, "left")
            .select(
                "id",
                F.coalesce("llabel", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # every sweep keeps each id exactly once, so Σid = initial Σlabels
        new_sum, sum_ids = labels.agg(F.sum("label"), F.sum("id")).collect()[0]
        if new_sum == (sum_ids if prev_sum is None else prev_sum):
            break
        prev_sum = new_sum
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve simhash near-dup pairs into clusters: every clustered doc
    with its cluster id (= lowest doc_id in the cluster) and a canonical
    flag — the "which copy do we keep" answer of the dedup pipeline."""
    pairs = dedup.simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    return (
        labels.select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def dedup_pipeline_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline: the query a training-data team actually
    runs — every document with its final cluster id and keep/drop flag.

    Edges = exact duplicates (same md5 of text → star edges to the
    group's min doc_id) ∪ MinHash-LSH verified near-dup pairs; transitive
    closure via :func:`connected_components`; survivor = lowest doc_id
    per cluster; unclustered docs keep themselves.  At 100 TB each stage
    is the scale path already used by its standalone operator (hash-
    partition groupBy, banded LSH equi-join, label propagation); this
    composition adds one left join of the corpus against the (much
    smaller) clustered-vertex labels.
    """
    return keeplist_unsorted(spark, sf_dir).orderBy("doc_id")


def exact_dup_edges(docs: DataFrame) -> DataFrame:
    """Exact-duplicate star edges ``(doc_a = root, doc_b)``: every
    document whose text's md5 equals an earlier one links to the
    group's lowest doc_id.

    Partial-agg roots + equi-join, NOT ``min().over(partitionBy(h))``:
    a boilerplate page duplicated millions of times is a hot content
    hash, and a window partition cannot be AQE-split — the join can,
    and only combiner rows shuffle for the roots side (same skew-safe
    shape as the gram-df cap).  Pass the raw scan: an md5 per row is
    cheaper than the round-robin shuffle :func:`~.dedup.fan_out` would
    put in front of it."""
    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    roots = hashed.groupBy("h").agg(F.min("doc_id").alias("root"))
    return (
        hashed.join(roots, "h")
        .where(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )


def keeplist_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_pipeline_keeplist` without the presentation sort —
    for composition (e.g. ``clean_corpus``) where a downstream join
    would destroy the order anyway."""
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    near_edges = dedup.minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(
        exact_dup_edges(docs).union(near_edges), "doc_a", "doc_b"
    ).select(F.col("id").alias("doc_id"), F.col("label").alias("cl"))
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cl", "doc_id").alias("cluster_id"),
            (F.coalesce("cl", "doc_id") == F.col("doc_id")).alias("kept"),
        )
    )


#: dedup_keeplist_quality: pack (quality, doc_id) into a fixed-width
#: string so a plain max() realizes (max quality, then MIN doc_id) —
#: the same engine-portable argmax trick as the winnowing selection.
#: round(quality·10⁴) recovers the exact 4-dp integer (the stored
#: double is within ~1e-12 of it), and the inverted id occupies 8
#: digits.
_KQ_ID_MAX = 99_999_999


def dedup_keeplist_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-cluster survivor selection: same clusters
    as :func:`dedup_pipeline_keeplist` (exact ∪ LSH edges → connected
    components), but the kept copy is the HIGHEST-QUALITY member
    (4-dp composite :func:`~.text.quality_expr`; doc_id tie-break) —
    what a curation pipeline actually wants: when a document exists as
    a clean original and a boilerplate-wrapped rewrite, keep the clean
    one, not whichever crawled first.

    The survivor argmax is a partial-agg ``groupBy(cluster).max(packed
    key)`` — skew-safe for the same reason as the exact-dup star roots
    (a million-member boilerplate cluster contributes one combiner row
    per split, and no window partition pins it to one task).  Scale
    cost over the id-rule keeplist: one quality column (the shared
    Arrow stopword kernel) + one join of the corpus against the
    (cluster, survivor) table.

    No counterpart in the reference (SURVEY §2.4 extension).
    """
    from ..sources import load_table
    from .text import _stopword_counts, quality_expr

    from ..cache import persist_tracked

    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: both the survivor argmax and the final join read it.
    # No branch overlap with the keeplist: with the CC sweep on the
    # driver it lost an interleaved A/B (sf0.1, 4 cores, 5 pairs:
    # 3.33 s on vs 3.26 s off, medians)
    q = persist_tracked(
        _stopword_counts(docs).select(
            "doc_id", quality_expr().alias("quality")
        )
    )
    clusters = keeplist_unsorted(spark, sf_dir).select("doc_id", "cluster_id")
    m = clusters.join(q, "doc_id")
    # fail-loud capacity guard: an id past the 8-digit field would keep
    # its '-' sign through lpad and silently corrupt the string argmax
    guarded_id = F.when(
        F.col("doc_id") > _KQ_ID_MAX,
        F.raise_error(
            F.concat(
                F.lit(
                    f"doc_id exceeds packed-key capacity {_KQ_ID_MAX} — "
                    "widen _KQ_ID_MAX: "
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("doc_id"))
    key = F.concat(
        F.lpad(
            F.round(F.col("quality") * 10000).cast("int").cast("string"),
            5,
            "0",
        ),
        F.lpad((F.lit(_KQ_ID_MAX) - guarded_id).cast("string"), 8, "0"),
    )
    best = (
        m.groupBy("cluster_id")
        .agg(F.max(key).alias("bk"))
        .select(
            "cluster_id",
            (F.lit(_KQ_ID_MAX) - F.substring("bk", 6, 8).cast("long")).alias(
                "survivor_id"
            ),
        )
    )
    return (
        m.join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.col("doc_id") == F.col("survivor_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


#: PageRank: damping factor and fixed iteration count (deterministic, so
#: the oracle can unroll the trajectory like the k-means oracle does)
PR_DAMPING = 0.85
PR_ITERATIONS = 3


def pagerank_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the MinHash near-dup graph: which documents are
    duplication *hubs* (connected to many other near-dups) — the signal
    a curation pipeline uses to spot template/boilerplate families, as
    opposed to :func:`dedup_clusters`' membership answer.

    Pregel-style: each iteration is one join (ranks → edge
    contributions) + one groupBy (sum per destination) — two shuffles
    over the edge list, same per-round payload as
    :func:`connected_components` (two longs + a double per edge), with
    per-round ``localCheckpoint`` lineage truncation.  Fixed
    ``PR_ITERATIONS`` and float64 arithmetic keep the trajectory
    deterministic, so the DuckDB oracle replays it exactly with one CTE
    block per iteration (4-dp-rounded output absorbs summation-order
    drift)."""
    pairs = dedup.minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("src").alias("node"), "deg"
    ).localCheckpoint()
    pr = deg.select("node", F.lit(1.0).alias("pr"))
    for _ in range(PR_ITERATIONS):
        contrib = (
            edges.join(
                pr.join(deg, "node").select(
                    F.col("node").alias("src"),
                    (F.col("pr") / F.col("deg")).alias("share"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        pr = (
            deg.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1 - PR_DAMPING)
                    + PR_DAMPING * F.coalesce("inflow", F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return (
        pr.join(deg, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").alias("degree"),
            rnd(F.col("pr"), 4).alias("pagerank"),
        )
        .orderBy("doc_id")
    )


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    SimHash near-dup graph — the structural signal that separates
    template/boilerplate FAMILIES (dense, high-clustering neighborhoods)
    from chains of pairwise-coincidental matches (triangle-free).

    Edge-iterator triangle enumeration on DEGREE-ordered edges: each
    edge is oriented from its lower-degree endpoint to its higher-degree
    endpoint (tiebreak: lower doc_id), giving an acyclic total order, so
    two self-equi-joins find each triangle exactly once.  Degree
    ordering (vs plain id ordering) bounds every node's FORWARD degree
    by O(sqrt(m)) — the classic hub-killing refinement (Schank &
    Wagner's forward algorithm / Latapy 2008): a boilerplate hub with
    degree d contributes d-choose-2 join candidates under id ordering
    but only ~m candidates total under degree ordering, which is what
    keeps the self-join fan-in bounded on template-heavy corpora at
    100 TB.  Membership explodes 3 rows per triangle into a
    partial-aggregated count per node; clustering = 2T / deg(deg-1).

    At most :data:`LOCAL_MAX_EDGES` pairs, the same forward-adjacency
    intersection runs on the driver (:func:`_triangle_counts`) and only
    ``clustering`` is computed in Spark, by the same expression.
    """
    pairs = dedup.simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return triangle_stats_from_pairs(pairs)


#: wedges probed per vectorized step of :func:`_triangle_counts` (bounds
#: its scratch arrays to a few tens of MB)
_WEDGE_CHUNK = 1 << 21


def _triangle_counts(
    n: int, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(degree, n_triangles)`` of vertices ``0..n`` over the distinct
    edges ``u[i]—v[i]``, index ``n`` being the null endpoint (a degree,
    no triangles).  Edges are oriented as in :func:`graph_triangle_stats`,
    and each forward edge ``a→b`` intersects ``fwd(b)`` with ``fwd(a)``
    by probing every ``c ∈ fwd(b)`` for the edge ``a→c``: each triangle
    is found once, at its lowest-ranked vertex, and counted for all
    three.  The probes run as numpy arrays, ``_WEDGE_CHUNK`` at a time."""
    deg = np.bincount(np.concatenate([u, v]), minlength=n + 1)
    tri = np.zeros(n + 1, dtype=np.int64)
    keep = (u < n) & (v < n)
    u, v = u[keep], v[keep]
    fwd = deg[u] <= deg[v]
    key = np.sort(np.where(fwd, u, v) * n + np.where(fwd, v, u))
    a, b = key // n, key % n
    start = np.searchsorted(a, np.arange(n + 1))
    probes = start[b + 1] - start[b]  # |fwd(b)| per edge a→b
    ends = np.cumsum(probes)
    i = 0
    while i < len(key):
        j = max(i + 1, int(np.searchsorted(ends, ends[i] - probes[i] + _WEDGE_CHUNK)))
        cnt = probes[i:j]
        edge = np.repeat(np.arange(i, j), cnt)
        pos = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        c = b[start[b[edge]] + pos]
        closing = a[edge] * n + c
        hit = np.minimum(np.searchsorted(key, closing), len(key) - 1)
        closed = key[hit] == closing
        for x in (a[edge][closed], b[edge][closed], c[closed]):
            tri += np.bincount(x, minlength=n + 1)
        i = j
    return deg, tri


def _triangle_result(counts: DataFrame) -> DataFrame:
    """The query's output over ``(doc_id, degree, n_triangles)``, a null
    ``n_triangles`` meaning none."""
    return counts.select(
        "doc_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        rnd(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("clustering"),
    ).orderBy("doc_id")


def triangle_stats_from_pairs(pairs: DataFrame) -> DataFrame:
    """:func:`graph_triangle_stats` over any distinct, canonical
    (doc_a < doc_b) pair list — exposed for hand-built-graph tests."""
    t = _collect_if_small(pairs)
    if t is None:
        return _triangle_stats_distributed(pairs)
    ids, u, v = _dense(t)
    deg, tri = _triangle_counts(len(ids), u, v)
    return _triangle_result(
        _local_result(pairs, t, {"doc_id": ids}, {"degree": deg, "n_triangles": tri})
    )


def _triangle_stats_distributed(pairs: DataFrame) -> DataFrame:
    """:func:`triangle_stats_from_pairs` as joins in Spark."""
    from ..cache import persist_tracked

    p = persist_tracked(pairs)
    p.count()  # materialize once; degree + orientation branches consume it
    deg = persist_tracked(
        p.select(F.col("doc_a").alias("doc_id"))
        .union(p.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    deg.count()  # reused: orientation (twice) + final output join
    # simhash pairs are already canonical doc_a < doc_b, so the
    # (degree, id) orientation reduces to: forward edge keeps (a, b)
    # when deg(a) <= deg(b), else flips to (b, a).
    da = deg.select(F.col("doc_id").alias("doc_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("doc_id").alias("doc_b"), F.col("degree").alias("deg_b"))
    fwd = F.col("deg_a") <= F.col("deg_b")
    oriented = persist_tracked(
        p.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        )
    )
    oriented.count()  # adjacency + two join branches consume it
    # Round-14 rewrite (guide §1.2 step 1 / §3.3): the former
    # two-self-join path enumeration materialized every a→b→c wedge
    # (46.5M rows at sf0.1) plus a 3-rows-per-triangle explode (90M
    # rows) to count 30M triangles — ~140 s of JVM CPU through join
    # probes and aggregate hashing.  The edge-iterator form computes
    # the same triangles as ADJACENCY-LIST INTERSECTIONS: each oriented
    # edge (u, v) joins the forward lists of u and v once, and
    # |fwd(u) ∩ fwd(v)| closes every triangle whose DAG shape is
    # u→v, u→c, v→c — exactly once, at its unique base edge.  Rows
    # materialized: |E| array rows + one |triangles|-row explode (for
    # the apex attribution) instead of wedges + 3·triangles — measured
    # 6.1 → 2.4 s at sf0.1 with identical output.  Forward lists stay
    # O(sqrt m) by the degree orientation above, so the per-edge
    # intersection cost bound at 100 TB is unchanged from the
    # enumeration bound.
    # adj is deliberately NOT persisted: both consumers are broadcast
    # builds (which do not populate a lazy cache anyway — the
    # dedup_incremental_bloom barrier note), and each build's groupBy
    # reads the already-cached `oriented`, so a persist+count barrier
    # would cost two scheduled jobs to save one cheap re-aggregation.
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    # Round-15 (verdict item 8): persist(adj)+count was A/B'd
    # interleaved at sf0.1 — min wall 4.834 s (current) vs 4.765 s
    # (persisted), i.e. flat within noise, while the persist variant
    # schedules 2 MORE jobs (30 → 32).  The round-14 reasoning above
    # stands, now with the measurement.
    # triangle (u, v, c) found at edge (u, v): +|cs| to u, +|cs| to v,
    # +1 to each apex c — emitted as WEIGHTED membership structs in one
    # explode ((2 + |cs|) rows per edge ≈ triangles + 2·edges, vs
    # 3·triangles before), straight into a map-side partial aggregate.
    # Nothing is persisted: the intersection runs once, the heavy rows
    # exist only inside this one codegen pipeline.
    member = (
        oriented.join(
            adj.select(F.col("src").alias("u_key"), F.col("nbrs").alias("nbrs_u")),
            F.col("src") == F.col("u_key"),
        )
        .join(
            adj.select(F.col("src").alias("v_key"), F.col("nbrs").alias("nbrs_v")),
            F.col("dst") == F.col("v_key"),
            "left",
        )
        .select(
            "src",
            "dst",
            F.array_intersect(
                "nbrs_u",
                F.coalesce("nbrs_v", F.expr("CAST(array() AS array<bigint>)")),
            ).alias("cs"),
        )
        .where(F.size("cs") > 0)
        .select(
            F.explode(
                F.expr(
                    """concat(
                           array(struct(src AS doc_id, bigint(size(cs)) AS w),
                                 struct(dst AS doc_id, bigint(size(cs)) AS w)),
                           transform(cs, c -> struct(c AS doc_id, 1L AS w)))"""
                )
            ).alias("m")
        )
    )
    tri_per_node = member.groupBy(F.col("m.doc_id").alias("doc_id")).agg(
        F.sum("m.w").alias("n_triangles")
    )
    return _triangle_result(deg.join(tri_per_node, "doc_id", "left"))


def _pagerank_oracle() -> str:
    blocks = [
        f"""
        WITH mh AS ({dedup.ORACLES["dedup_minhash_lsh"]}),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM mh),
        deg AS (SELECT src AS node, count(*) AS deg FROM edges
                GROUP BY src),
        p0 AS (SELECT node, 1.0::DOUBLE AS pr FROM deg)"""
    ]
    for i in range(PR_ITERATIONS):
        blocks.append(
            f"""
        c{i} AS (SELECT e.dst AS node, sum(p.pr / d.deg) AS inflow
                 FROM edges e
                 JOIN p{i} p ON p.node = e.src
                 JOIN deg d ON d.node = e.src
                 GROUP BY e.dst),
        p{i + 1} AS (SELECT d.node,
                       {1 - PR_DAMPING} + {PR_DAMPING}
                           * coalesce(c{i}.inflow, 0.0) AS pr
                     FROM deg d LEFT JOIN c{i} ON c{i}.node = d.node)"""
        )
    blocks.append(
        f"""
        SELECT p.node AS doc_id, deg.deg AS degree,
               {rnd_sql("p.pr", 4)} AS pagerank
        FROM p{PR_ITERATIONS} p JOIN deg ON deg.node = p.node
        ORDER BY doc_id"""
    )
    return ",".join(blocks[:-1]) + blocks[-1]


ORACLES = {
    "pagerank_dup_graph": _pagerank_oracle(),
    "dedup_pipeline_keeplist": f"""
        WITH RECURSIVE
        near AS ({dedup.ORACLES["dedup_minhash_lsh"]}),
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
                   GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(l.cl, d.doc_id) AS cluster_id,
               (coalesce(l.cl, d.doc_id) = d.doc_id) AS kept
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
        ORDER BY d.doc_id
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE
        pairs AS ({dedup.ORACLES["dedup_simhash"]}),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        verts AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(doc_id, label) AS (
            SELECT doc_id, doc_id AS label FROM verts
            UNION
            SELECT e.dst AS doc_id, r.label
            FROM reach r JOIN edges e ON e.src = r.doc_id)
        SELECT doc_id, min(label) AS cluster_id,
               (doc_id = min(label)) AS is_canonical
        FROM reach GROUP BY doc_id ORDER BY doc_id
    """,
    "graph_triangle_stats": f"""
        WITH p AS (SELECT doc_a, doc_b
                   FROM ({dedup.ORACLES["dedup_simhash"]})),
        deg AS (
            SELECT doc_id, count(*) AS degree FROM (
                SELECT doc_a AS doc_id FROM p
                UNION ALL SELECT doc_b FROM p)
            GROUP BY doc_id),
        o AS (
            SELECT CASE WHEN da.degree <= db.degree
                        THEN p.doc_a ELSE p.doc_b END AS src,
                   CASE WHEN da.degree <= db.degree
                        THEN p.doc_b ELSE p.doc_a END AS dst
            FROM p
            JOIN deg da ON da.doc_id = p.doc_a
            JOIN deg db ON db.doc_id = p.doc_b),
        tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM o e1
            JOIN o e2 ON e1.dst = e2.src
            JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        member AS (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri),
        tpn AS (SELECT doc_id, count(*) AS n_triangles FROM member
                GROUP BY doc_id)
        SELECT deg.doc_id, deg.degree,
               coalesce(tpn.n_triangles, 0) AS n_triangles,
               {rnd_sql("CASE WHEN deg.degree >= 2 THEN"
                        " 2.0 * coalesce(tpn.n_triangles, 0)"
                        " / (deg.degree * (deg.degree - 1))"
                        " ELSE 0.0 END", 4)} AS clustering
        FROM deg LEFT JOIN tpn ON tpn.doc_id = deg.doc_id
        ORDER BY deg.doc_id
    """,
}

from .text import QUALITY_SQL as _QUALITY_SQL  # noqa: E402

ORACLES["dedup_keeplist_quality"] = f"""
    WITH RECURSIVE
    near AS ({dedup.ORACLES["dedup_minhash_lsh"]}),
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
    labels AS (SELECT doc_id, min(label) AS cl FROM reach GROUP BY doc_id),
    q AS (SELECT doc_id, {{QUALITY_SQL}} AS quality FROM documents),
    m AS (SELECT d.doc_id, coalesce(l.cl, d.doc_id) AS cluster_id,
                 q.quality
          FROM documents d
          LEFT JOIN labels l ON l.doc_id = d.doc_id
          JOIN q ON q.doc_id = d.doc_id),
    best AS (SELECT cluster_id,
                    {_KQ_ID_MAX} - CAST(substr(max(
                        lpad(CAST(CAST(round(quality * 10000) AS INTEGER)
                                  AS VARCHAR), 5, '0')
                        || lpad(CAST({_KQ_ID_MAX} - doc_id AS VARCHAR),
                                8, '0')), 6, 8) AS BIGINT) AS survivor_id
             FROM m GROUP BY cluster_id)
    SELECT m.doc_id, m.cluster_id, m.quality,
           (m.doc_id = b.survivor_id) AS kept
    FROM m JOIN best b ON b.cluster_id = m.cluster_id
    ORDER BY m.doc_id
""".replace("{QUALITY_SQL}", _QUALITY_SQL)

QUERIES = {
    "dedup_clusters": dedup_clusters,
    "dedup_pipeline_keeplist": dedup_pipeline_keeplist,
    "dedup_keeplist_quality": dedup_keeplist_quality,
    "pagerank_dup_graph": pagerank_dup_graph,
    "graph_triangle_stats": graph_triangle_stats,
}


# --------------------------------------------------------------------------
# Leakage-safe split assignment (round-9 addition)
# --------------------------------------------------------------------------

#: split fractions in hash-permille-of-100 space: [0,90) train,
#: [90,95) valid, [95,100) test.
SPLIT_TRAIN_LT = 90
SPLIT_VALID_LT = 95


def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid/test assignment that CANNOT leak near-duplicates
    across splits: the unit of assignment is the duplicate CLUSTER, not
    the document.  Every doc carries its cluster id (exact ∪ MinHash-LSH
    edges → connected components, the same labels as
    :func:`dedup_pipeline_keeplist`); the split is a deterministic
    md5-derived hash of the cluster id, so all members of a cluster —
    including ones ingested in a later batch that LSH ties to an old
    cluster — land in the same split on any cluster, any run.

    This is the constructor dual of ``split_leakage_check`` (which
    audits a given split against the pair list): assignments produced
    here pass that audit by construction.

    Scale: the labels side is the already-scale-audited CC pipeline;
    this adds one row-local hash + a broadcast-threshold-free LEFT JOIN
    of corpus against labels (cluster labels ≪ corpus).  90/5/5 is the
    conventional pre-training split; fractions are permille-exact under
    the same hash60 both engines replay.
    """
    kl = keeplist_unsorted(spark, sf_dir)
    bucket = dedup.hash60(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
    ) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VALID_LT, "valid")
        .otherwise("test")
    )
    return kl.select(
        "doc_id", "cluster_id", split.alias("split")
    ).orderBy("doc_id")


_SPLIT_BUCKET_SQL = (
    dedup._hash60_sql("concat('split:', CAST(cluster_id AS VARCHAR))")
    + " % 100"
)

ORACLES["leakage_safe_splits"] = f"""
    WITH RECURSIVE
    near AS ({dedup.ORACLES["dedup_minhash_lsh"]}),
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
               GROUP BY doc_id),
    assigned AS (
        SELECT d.doc_id,
               coalesce(l.cl, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
    SELECT doc_id, cluster_id,
           CASE WHEN ({_SPLIT_BUCKET_SQL}) < {SPLIT_TRAIN_LT} THEN 'train'
                WHEN ({_SPLIT_BUCKET_SQL}) < {SPLIT_VALID_LT} THEN 'valid'
                ELSE 'test' END AS split
    FROM assigned ORDER BY doc_id
"""

QUERIES["leakage_safe_splits"] = leakage_safe_splits


# --------------------------------------------------------------------------
# k-core decomposition (round-9 addition)
# --------------------------------------------------------------------------

#: core order (minimum within-subgraph degree to stay)
KCORE_K = 2
#: fixed peel rounds — the oracle unrolls exactly this many, and the
#: pytest asserts the LAST round removed nothing (fixpoint reached), so
#: the bounded-round output IS the true k-core at every tested SF.
#: Peeling converges in ≤ diameter-ish rounds on near-dup graphs (the
#: sparse star/chain shapes LSH emits); production raises ROUNDS, and
#: the fixpoint check is one count per round either way.
KCORE_ROUNDS = 4


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the simhash near-dup graph: iteratively
    peel nodes of degree < k until stable; emit every edged node with
    its initial degree, its degree inside the surviving core, and the
    in_core verdict.

    The k-core separates DENSE duplication communities (template farms,
    mirror clusters — nodes that stay when weak attachments peel away)
    from incidental pairings; it is the standard graph-densification
    screen a curation pipeline runs between pair generation and cluster
    resolution (a 2-core member's duplication is corroborated by ≥2
    independent neighbors that themselves survive).

    Engine: FRONTIER DEGREE-SUBTRACTION peel, not subgraph rewriting.
    The textbook formulation (recompute degrees over a filtered edge
    list each round, re-materialize the edges) was built first and
    measured: at sf1 the simhash graph has 19.3M pairs and near-dup
    cliques mean almost nothing peels, so each round re-checkpointed
    38.7M edges for a frontier of a few hundred nodes — round wall
    time GREW 5.8 → 16.6 → 29 s.  The rewrite keeps the edge list
    IMMUTABLE (checkpointed once) and iterates on NODE-sized state
    only: each round takes the frontier (alive nodes with current
    degree < k), joins it against the edge list to count each
    survivor's lost edges (partial-agg; AQE broadcasts the frontier
    when small), and subtracts — mathematically the same recursion
    (a survivor's running degree always equals its degree in the
    current survivor subgraph), with per-round cost = one edge-list
    scan + node-sized joins, constant across rounds.  An empty
    frontier ends the loop early (remaining rounds are no-ops, so the
    result still equals the R-round answer).  The bounded-round
    contract (vs run-to-fixpoint) is what makes the operator
    oracle-checkable — the oracle unrolls the identical R rounds in
    SQL (the subgraph formulation, fine at oracle SF);
    ``test_kcore_fixpoint_reached`` proves no live node sits below k
    after round R at the tested SFs, so the answer equals the true
    k-core, not a truncation of it.

    All of the above is the distributed path, taken above
    :data:`LOCAL_MAX_EDGES` pairs (sf1's 19.3M).  At or under it the
    same frontier subtraction runs on the driver as numpy bincounts,
    for exactly ``KCORE_ROUNDS`` rounds with no per-round check: an
    empty frontier subtracts nothing.

    No counterpart in the reference (SURVEY §2.4 extension: graph
    family alongside CC / PageRank / triangles).
    """
    pairs = dedup.simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return kcore_from_pairs(pairs)


def kcore_from_pairs(pairs: DataFrame) -> DataFrame:
    """The peel core of :func:`kcore_membership` over any
    (doc_a, doc_b) pair list — exposed for hand-built-graph tests.
    Frontier degree-subtraction; see :func:`kcore_membership` for the
    measured rationale vs subgraph rewriting.  A null endpoint is a
    vertex that no round peels or reaches, reported outside the core."""
    pairs = pairs.select("doc_a", "doc_b")
    t = _collect_if_small(pairs)
    if t is None:
        return _kcore_distributed(pairs)
    ids, u, v = _dense(t)
    n = len(ids)
    src, dst = np.concatenate([u, v]), np.concatenate([v, u])
    deg0 = np.bincount(src, minlength=n + 1)
    d = deg0.copy()
    alive = np.ones(n + 1, dtype=bool)
    for _ in range(KCORE_ROUNDS):
        frontier = alive & (d < KCORE_K)
        frontier[n] = False
        d -= np.bincount(src[frontier[dst]], minlength=n + 1)
        alive &= ~frontier
    core = np.where(alive, d, 0)
    core[n] = 0
    return _local_result(
        pairs,
        t,
        {"doc_id": ids},
        {"degree_initial": deg0, "degree_core": core, "in_core": core >= KCORE_K},
    ).orderBy("doc_id")


def _kcore_distributed(pairs: DataFrame) -> DataFrame:
    """:func:`kcore_from_pairs` as joins in Spark."""
    # pairs materialize ONCE; sym is two projections of the checkpoint
    # (the union must not recompute the pair generation per scan).
    # Round-14: all loop checkpoints are LAZY — each is materialized by
    # the NEXT driver action (the frontier count, or the final job), so
    # a peel round normally schedules one job instead of two; the
    # persist backing of localCheckpoint keeps the union's two legs
    # from recomputing the pair generation within that job.  (Round-14
    # advice caveat: limit(1).count() can satisfy itself from a subset
    # of partitions, leaving the remainder to a catch-up job — the
    # measured round-14 job counts already include any such catch-up,
    # so the claim is "fewer jobs, measured", not "exactly one".)
    pairs = pairs.localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg0 = (
        sym.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("degree_initial"))
        .localCheckpoint(eager=False)
    )
    # alive: (doc_id, d) — d is always the node's degree within the
    # CURRENT survivor subgraph; node-sized, checkpointed per round
    alive = deg0.select("doc_id", F.col("degree_initial").alias("d"))
    for _ in range(KCORE_ROUNDS):
        frontier = alive.where(F.col("d") < KCORE_K).select("doc_id")
        # node-sized driver check; an empty frontier makes every
        # remaining round a no-op (same answer as running all R)
        if frontier.limit(1).count() == 0:
            break
        loss = (
            sym.join(
                frontier.withColumnRenamed("doc_id", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        alive = (
            alive.join(frontier, "doc_id", "anti")
            .join(loss, "doc_id", "left")
            .select(
                "doc_id",
                (F.col("d") - F.coalesce("lost", F.lit(0))).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        deg0.join(
            alive.select("doc_id", F.col("d").alias("dcore")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "degree_initial",
            F.coalesce("dcore", F.lit(0)).cast("long").alias("degree_core"),
            (F.coalesce("dcore", F.lit(0)) >= KCORE_K).alias("in_core"),
        )
        .orderBy("doc_id")
    )


def _kcore_oracle() -> str:
    """Unrolled R-round peel over the simhash pair CTE (the BPE-oracle
    unrolling style: each round is a deg/keep/live CTE triple)."""
    rounds = []
    prev = "sym"
    for r in range(KCORE_ROUNDS):
        rounds.append(
            f"""deg{r} AS (SELECT src AS n, count(*) AS d FROM {prev}
                   GROUP BY src),
        keep{r} AS (SELECT n FROM deg{r} WHERE d >= {KCORE_K}),
        live{r} AS (SELECT e.src, e.dst FROM {prev} e
                    JOIN keep{r} a ON a.n = e.src
                    JOIN keep{r} b ON b.n = e.dst)"""
        )
        prev = f"live{r}"
    rounds_sql = ",\n        ".join(rounds)
    return f"""
        WITH pairs AS ({dedup.ORACLES["dedup_simhash"]}),
        sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b AS src, doc_a AS dst FROM pairs),
        deg_init AS (SELECT src AS doc_id, count(*) AS degree_initial
                     FROM sym GROUP BY src),
        {rounds_sql},
        core AS (SELECT src AS doc_id, count(*) AS dcore FROM {prev}
                 GROUP BY src)
        SELECT d.doc_id, d.degree_initial,
               CAST(coalesce(c.dcore, 0) AS BIGINT) AS degree_core,
               (coalesce(c.dcore, 0) >= {KCORE_K}) AS in_core
        FROM deg_init d LEFT JOIN core c ON c.doc_id = d.doc_id
        ORDER BY d.doc_id
    """


ORACLES["kcore_membership"] = _kcore_oracle()
QUERIES["kcore_membership"] = kcore_membership


# --------------------------------------------------------------------------
# Golden-record assembly (round-9 addition)
# --------------------------------------------------------------------------

#: longest-text argmax pack widths: n_chars < 10^6 per doc (the corpus
#: generator tops out at ~600), doc_id ≤ _KQ_ID_MAX (same guard class
#: as the quality keeplist pack)
_GR_NCHARS_PAD = 6


def golden_record_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record assembly — the step AFTER clustering
    and linkage in an MDM / entity-resolution pipeline: for every
    duplicate cluster, assemble ONE canonical record by per-field
    survivorship rules instead of keeping a whole member row:

    - ``canonical_id``  — lowest member doc_id (stable join key);
    - ``best_text_id``  — the LONGEST member text (ties → lowest id):
      length ≠ id — the richest copy is often not the first-crawled one;
    - ``n_members`` / ``sources`` / ``langs`` — provenance: member
      count plus the DISTINCT sources and languages merged into the
      record (sorted, comma-joined — deterministic);
    - ``total_chars`` — summed payload the merge collapses.

    Every rule is a partial-aggregatable expression over cluster
    members: min, sum, packed-string argmax (the
    :func:`dedup_keeplist_quality` trick — ``max(lpad(n_chars) ||
    lpad(INV − id))`` realizes (max length, then min id) in ONE
    combiner-friendly aggregate), and sort_array(collect_set(...)) for
    the provenance lists (set size bounded by source/lang cardinality,
    not cluster size).  No window over the cluster key — a
    million-member boilerplate cluster contributes one row per
    partition to the shuffle, the same skew posture as the keeplist.

    Clusters are the standard exact ∪ LSH components
    (:func:`keeplist_unsorted`); singletons are excluded (a golden
    record of one member is the member).  Oracle: recursive-CTE
    clusters + the same packed argmax and string_agg rules in SQL.
    """
    from ..sources import load_table

    kl = keeplist_unsorted(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    m = kl.join(docs, "doc_id")
    guarded_id = F.when(
        (F.col("doc_id") > _KQ_ID_MAX)
        | (F.col("n_chars") >= 10**_GR_NCHARS_PAD),
        F.raise_error(F.lit("golden-record pack capacity exceeded")),
    ).otherwise(F.col("doc_id"))
    packed = F.concat(
        F.lpad(F.col("n_chars").cast("string"), _GR_NCHARS_PAD, "0"),
        F.lpad((F.lit(_KQ_ID_MAX) - guarded_id).cast("string"), 8, "0"),
    )
    return (
        m.groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max(packed).alias("bk"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.concat_ws(
                ",", F.sort_array(F.collect_set("source"))
            ).alias("sources"),
            F.concat_ws(",", F.sort_array(F.collect_set("lang"))).alias(
                "langs"
            ),
        )
        .where(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "canonical_id",
            "n_members",
            (
                F.lit(_KQ_ID_MAX)
                - F.substring("bk", _GR_NCHARS_PAD + 1, 8).cast("long")
            ).alias("best_text_id"),
            "total_chars",
            "sources",
            "langs",
        )
        .orderBy("cluster_id")
    )


ORACLES["golden_record_assembly"] = f"""
    WITH RECURSIVE
    near AS ({dedup.ORACLES["dedup_minhash_lsh"]}),
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
               GROUP BY doc_id),
    members AS (
        SELECT d.doc_id, coalesce(l.cl, d.doc_id) AS cluster_id,
               d.source, d.lang, d.n_chars
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    agg AS (
        SELECT cluster_id,
               min(doc_id) AS canonical_id,
               count(*) AS n_members,
               max(lpad(CAST(n_chars AS VARCHAR), {_GR_NCHARS_PAD}, '0')
                   || lpad(CAST({_KQ_ID_MAX} - doc_id AS VARCHAR), 8, '0'))
                   AS bk,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
        FROM members GROUP BY cluster_id)
    SELECT cluster_id, canonical_id, n_members,
           {_KQ_ID_MAX} - CAST(substr(bk, {_GR_NCHARS_PAD + 1}, 8) AS BIGINT)
               AS best_text_id,
           total_chars, sources, langs
    FROM agg WHERE n_members >= 2
    ORDER BY cluster_id
"""

QUERIES["golden_record_assembly"] = golden_record_assembly

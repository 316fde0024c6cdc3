"""Similarity search over embedding columns (north-star set).

Brute-force cosine top-k as the correctness baseline and a sign-LSH
(random-hyperplane-style) bucketed variant as the scale path. Dot products
are sequential left-to-right double folds (F.aggregate over zip_with) so the
DuckDB oracle — a list comprehension with the same order — computes the
bit-identical value.

At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned corpus scan — embarrassingly parallel, no shuffle
until the final per-query top-k; the LSH path prunes the corpus to matching
buckets first.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sql_ident
from .aggregates import decimal_avg
from .windows import topk_per_group
from .materialize import lineage_cut


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (cosine is
    undefined there — without the guard, ANSI mode turns a single zero
    vector anywhere in the corpus into a job-killing DIVIDE_BY_ZERO; the
    hash-feature path filters nrm2 = 0 for the same reason)."""
    den = norm(a) * norm(b)
    return F.when(den > 0, dot(a, b) / den)




def drop_null_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Filter NULL vectors at operator entry: cosine is undefined on them
    (the zero-norm guard's sibling) and a None row inside an Arrow batch
    or a collected seed/query set crashes the numpy kernels with a
    (0,)-dim axis error. Found by the all-NULL-column sweep."""
    return df.filter(F.col(vec_col).isNotNull())


def _cos_sim() -> Column:
    """The score of the float twins: cosine(qv, cv) rounded to 6 dp."""
    return F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim")


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE ranking tail of every top-k operator. ``scored`` is
    (query_id, neighbor_id, score, *reported): self pairs drop, each
    query keeps its k best neighbors by ``score`` DESC with ties to the
    lowest neighbor id (deterministic), and the output is ``scored``'s
    columns plus ``rank``."""
    score = scored.columns[2]
    return topk_per_group(
        scored.filter(F.col("query_id") != F.col("neighbor_id")),
        ["query_id"],
        [F.col(score).desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    ).select(*scored.columns, "rank")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, score every
    (query, corpus) pair, per-query top-k via row_number. Excludes
    self-matches. Deterministic ties: (cos DESC, neighbor id ASC)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _rank_topk(q.crossJoin(c).select("query_id", "neighbor_id", _cos_sim()), k)


def sign_lsh_bucket(vec: Column, n_bits: int = 8) -> Column:
    """Axis-aligned sign bucket: the sign pattern of the first n_bits
    components. Kept as the degenerate baseline — on real embeddings the
    leading dimensions are correlated, so these buckets skew (see
    tests/test_operators.py bucket-balance test); production bucketing is
    ``random_hyperplane_bucket`` below."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def seeded_hyperplanes(n_bits: int = 8, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes: component (i, j)
    is ±1.0 from the parity of md5(seed:i:j) — reproducible across engines
    and sessions with no RNG state, and ±1.0 products are exact in IEEE
    doubles, so bucket bits are bit-stable (the repo's md5-derived-constant
    discipline, cf. operators/dedup.py affine hashes)."""
    import hashlib  # noqa: PLC0415

    return [
        [
            1.0
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def random_hyperplane_bucket(
    vec: Column, planes: list[list[float]] | None = None
) -> Column:
    """Signed-random-projection LSH bucket: bit i = sign(<vec, plane_i>),
    planes from ``seeded_hyperplanes``. Unlike the axis-aligned pattern this
    mixes ALL dimensions into every bit, so correlated leading dims can't
    skew bucket occupancy. The projection is a left-to-right fold of exact
    ±component terms — bit-identical in any engine evaluating IEEE doubles
    left-associatively (the DuckDB twin is ``hyperplane_bucket_sql``)."""
    if planes is None:
        planes = seeded_hyperplanes()
    bits = []
    for plane in planes:
        # zip_with + aggregate (the same sequential fold as the dot/cosine
        # kernels): a compact higher-order expression, NOT an unrolled
        # 64-term Add tree — unrolling blows up Catalyst planning time and
        # falls out of codegen entirely (measured 10-50s/query at sf0.1).
        weights = F.array(*[F.lit(w) for w in plane])
        prods = F.zip_with(vec, weights, lambda x, w: x.cast("double") * w)
        proj = F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _seq_cosine_matrix(V, C):
    """(n,d) × (m,d) cosine matrix with SEQUENTIAL per-dimension
    accumulation: acc_j+1 = acc_j + v_j*c_j, vectorized over pairs but
    folded left-to-right over dims — the same IEEE op order as the
    F.aggregate/zip_with column kernel and DuckDB's list_sum
    comprehension, so scores are bit-identical to both while running at
    numpy speed (one fused mul+add per dim instead of one interpreted
    lambda per element)."""
    import numpy as np  # noqa: PLC0415

    n, d = V.shape
    m = C.shape[0]
    dot = np.zeros((n, m))
    nv = np.zeros(n)
    nc = np.zeros(m)
    for j in range(d):
        dot += V[:, j : j + 1] * C[:, j]
        nv += V[:, j] * V[:, j]
        nc += C[:, j] * C[:, j]
    return dot / (np.sqrt(nv)[:, None] * np.sqrt(nc)[None, :])


def with_hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]] | None = None,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Arrow fast path for ``random_hyperplane_bucket``: per-batch numpy
    projection with j-sequential accumulation (bit-identical to the column
    expression and the SQL twin), ~50× the throughput of the interpreted
    higher-order fold — the variant a 100 TB corpus scan uses. Appends
    ``out_col`` to ``df`` unchanged."""
    df = drop_null_vectors(df, vec_col)
    import numpy as np  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    if planes is None:
        planes = seeded_hyperplanes()
    P = np.array(planes, dtype=np.float64)  # (m, d)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            acc = np.zeros((len(pdf), P.shape[0]))
            for j in range(P.shape[1]):
                acc += V[:, j : j + 1] * P[:, j]
            bits = np.where(acc >= 0, "1", "0")
            out = pdf.copy()
            out[out_col] = ["".join(r) for r in bits]
            yield out

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    )
    return df.mapInPandas(fn, schema=schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: only corpus vectors in the query's LSH bucket are
    scored. Recall < 1 by design; the bucket join replaces the cross join so
    cost scales with bucket occupancy (corpus/2^bits per query). Buckets are
    seeded random hyperplanes (signed random projections), not axis-aligned
    sign patterns — balanced occupancy on correlated embedding dims. Corpus
    buckets go through the Arrow kernel (with_hyperplane_buckets); the tiny
    query side uses the equivalent column expression."""
    planes = seeded_hyperplanes(n_bits=n_bits)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        random_hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    c = with_hyperplane_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        planes,
        vec_col="cv",
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id", "neighbor_id", _cos_sim()
    )
    return _rank_topk(scored, k)


def probe_buckets(bucket: Column, n_bits: int = 8) -> Column:
    """Multi-probe set for a bucket key: the bucket itself plus every
    single-bit flip (Hamming radius 1) — 1 + n_bits probes. Near neighbors
    that land one hyperplane-sign away from the query become reachable,
    the standard recall fix for sign-LSH without growing bucket size."""
    variants = [bucket]
    for i in range(n_bits):
        flipped = F.when(
            F.substring(bucket, i + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        variants.append(
            F.concat(
                F.substring(bucket, 1, i),
                flipped,
                F.substring(bucket, i + 2, n_bits - i - 1),
            )
        )
    return F.array(*variants)


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe bucketed ANN: each query scores the corpus of its own
    bucket AND the n_bits single-flip neighbor buckets (9 probes at 8
    bits). Cost ≈ (1+n_bits) × single-probe — still bucket-local, never a
    cross join — for recall close to brute force on near-threshold pairs.
    Probes are distinct buckets and a corpus vector lives in exactly one,
    so no pair dedup is needed."""
    planes = seeded_hyperplanes(n_bits=n_bits)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            probe_buckets(random_hyperplane_bucket(F.col(vec_col), planes), n_bits)
        ).alias("bucket"),
    )
    c = with_hyperplane_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        planes,
        vec_col="cv",
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id", "neighbor_id", _cos_sim()
    )
    return _rank_topk(scored, k)


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k via an Arrow-batched numpy kernel — the
    high-throughput variant of cosine_topk for wide embeddings: one BLAS
    matmul per (batch × query set) instead of per-element column algebra.

    The query set is shipped to executors inside the closure (it is small
    by contract — the corpus never is); scoring is partition-local and the
    only shuffle is the final per-query top-k.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        # empty query set: an (0, ?) matrix axis-errors in numpy — the
        # report is simply empty (found by the empty-corpus sweep)
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # zero-norm guard (the numpy twin of the column-side try_divide): a
    # zero vector's row normalizes to all-zeros instead of NaN, so its
    # cosines are 0 and it can never rank into anyone's top-k with NaN
    # ordering artifacts
    qd = np.linalg.norm(q_mat, axis=1, keepdims=True)
    # dividing by where(norm>0, norm, 1) zeroes the zero rows (0/1 = 0)
    # at the cost of one pass over the NORM VECTOR — the masked
    # np.divide(out=zeros, where=...) form costs a full-matrix
    # allocation + mask application per batch
    q_norm = q_mat / np.where(qd > 0, qd, 1.0)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_unit = c_mat / np.where(c_norm > 0, c_norm, 1.0)
            sims = c_unit @ q_norm.T  # (batch, n_queries)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                    "cos_sim": np.round(sims.T.ravel(), 6),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    return _rank_topk(scored, k)


# Optimized-logical-plan node names that imply an exchange (or an
# already-wide layout) somewhere in the frame: on such a frame the
# `.rdd` probe below is NOT job-free — under AQE, producing the final
# RDD materializes upstream shuffle stages at call time — and the
# post-shuffle layout is already spark.sql.shuffle.partitions wide, so
# widening has nothing to fix. Matched EXACTLY against each plan line's
# node name (its first identifier) — a substring test would trip on
# column names such as ``Joined`` or ``SortKey`` — on the optimized
# plan (driver-side analysis only, never executes a stage).
_WIDEN_BARRIER_NODES = frozenset({
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Deduplicate",
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "Exchange",
    "GlobalLimit",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
})
_PLAN_NODE_NAME = re.compile(r"[A-Za-z_]\w*")


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input plan has fewer
    partitions than the cluster's parallelism — the corpus-side guard of
    the byte-blind-AQE rule (ARCHITECTURE §12): an Arrow kernel amplifies
    compute per byte (k-centroid cosine per row), so a narrow source (one
    small parquet split) runs the whole pass on one core while 31 idle. At
    scale a real scan already has >= cores partitions and this is a no-op.

    PRECONDITION (enforced): the frame must be scan-rooted — scans,
    projections, filters, generators only. On a shuffle-rooted frame the
    ``.rdd`` partition probe is not job-free (AQE materializes the plan's
    shuffle stages to produce the final RDD), so any barrier node in the
    optimized plan makes this a no-op instead (r13 verdict item 3: the
    helper was a footgun if applied after a shuffle; now it refuses)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # noqa: BLE001 — planning hiccup: keep the plan as-is
        return df
    nodes = {
        m.group(0)
        for line in plan.splitlines()
        if (m := _PLAN_NODE_NAME.search(line))
    }
    if nodes & _WIDEN_BARRIER_NODES:
        return df
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:  # noqa: BLE001 — planning hiccup: keep the plan as-is
        return df
    return df.repartition(target)


def ivf_assign_arrow(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cell",
    n_best: int = 1,
    widen: bool = False,
) -> DataFrame:
    """Assign each vector its ``n_best`` nearest centroid cells by cosine.
    Centroids arrive as a collected (cell_id, vector) list — small BY
    CONTRACT (the index's cell count, not corpus data) — and each corpus
    batch scores against the centroid matrix with the j-sequential cosine
    kernel, emitting the ``n_best`` cells per row (score DESC, ties to the
    lowest cell — a stable argsort over the cell-sorted matrix). The
    corpus scan stays partition-local; nothing shuffles until the caller
    uses the cells."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    cents = sorted(centroids)  # cell ASC → stable-sort tie-break on ties
    cell_ids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)
    if widen:  # corpus-side callers only — query batches stay narrow
        vectors = _widen_if_narrow(vectors)

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            S = _seq_cosine_matrix(V, C)
            order = np.argsort(-S, axis=1, kind="stable")[:, :n_best]
            for b in range(order.shape[1]):
                out = pdf.copy()
                out[out_col] = cell_ids[order[:, b]]
                yield out

    schema = T.StructType(
        list(vectors.schema.fields) + [T.StructField(out_col, T.LongType())]
    )
    return vectors.mapInPandas(fn, schema=schema)


def _centroid_mean(
    assigned: DataFrame, keys: tuple[str, ...], vec_col: str
) -> DataFrame:
    """THE centroid-mean rule of every Lloyd round — IVF/k-means cells,
    the distributed large-k path and the PQ subspace codebooks: (*keys,
    cv), the element-wise mean of each group's member vectors. Each
    component averages under the decimal-sum discipline
    (aggregates.decimal_avg), so centroids are bit-identical across
    partitionings AND in the DuckDB twins' unrolled Lloyd CTEs. A group
    with no members has no row (empty cells drop out, as in the
    oracles)."""
    means = (
        assigned.select(*keys, F.posexplode(F.col(vec_col)).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(decimal_avg(F.col("val").cast("double")).alias("m"))
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda x: x["m"],
        ).alias("cv")
    )


def lloyd_refine_rows(
    corpus: DataFrame,
    seed_rows: list[tuple[int, list[float]]],
    n_iters: int = 2,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd iterations over collected centroid rows:
    assign every corpus vector to its nearest centroid (cosine),
    recompute each cell's centroid (:func:`_centroid_mean`), repeat.
    Returns sorted (cell, vector) rows, cells keeping their seed ids.
    Each round is one Arrow centroid-assign pass (partition-local, no
    shuffle) plus one (n_cells x dim)-group aggregate; the tiny centroid
    set is collected between rounds (index metadata, not corpus data),
    so round i+1 never re-executes round i."""
    cent_rows = sorted(seed_rows)
    for _ in range(n_iters):
        assigned = ivf_assign_arrow(
            corpus.select(vec_col), cent_rows, vec_col=vec_col, widen=True
        )
        cent_df = _centroid_mean(assigned, ("cell",), vec_col)
        cent_rows = sorted(
            (r["cell"], [float(x) for x in r["cv"]]) for r in cent_df.collect()
        )
    return cent_rows


def _seed_centroids(
    corpus: DataFrame,
    n_centroids: int,
    lloyd_iters: int,
    id_col: str,
    vec_col: str,
    refuse: str | None = None,
) -> list[tuple[int, list[float]]]:
    """THE centroid-training rule of every IVF and k-means path (the
    in-memory twins, k-means, the index build, retrain and frontier):
    seeds are the ``n_centroids`` lowest-id non-NULL vectors (one
    collect of ``orderBy(id).limit(n)``, so a corpus whose ids do not
    start at 0 still seeds), refined by ``lloyd_iters`` rounds of
    :func:`lloyd_refine_rows` — RNG-free, so a rebuilt index never
    silently disagrees with the one it replaces and the DuckDB twins
    reproduce it exactly. Returns sorted (cell, vector) rows. A corpus
    with no non-NULL vector returns no centroids, or raises
    ``ValueError(refuse)`` when the caller passes a refusal message (a
    build over nothing would write an empty tree and return an empty
    artifact with no error anywhere)."""
    seeds = (
        drop_null_vectors(corpus, vec_col)
        .filter(F.col(id_col).isNotNull())
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
    )
    seed_rows = [(r[0], [float(x) for x in r[1]]) for r in seeds.collect()]
    if not seed_rows and refuse:
        raise ValueError(refuse)
    return lloyd_refine_rows(corpus, seed_rows, n_iters=lloyd_iters, vec_col=vec_col)


def _query_probes(
    queries: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """THE query-side probe assignment of every IVF path: (query_id, qv,
    cell), one row per query and each of its ``n_probe`` nearest
    cells."""
    return ivf_assign_arrow(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        sorted(cent_rows),
        vec_col="qv",
        n_best=n_probe,
    )


def _probe_scored(probes: DataFrame, indexed: DataFrame, *scores: Column) -> DataFrame:
    """Score each query against the index rows of its probed cells —
    the broadcast probe join of every IVF path: (query_id, neighbor_id,
    *scores), one row per pair (a pair can surface via several probed
    cells)."""
    return (
        F.broadcast(probes)
        .join(indexed, "cell")
        .select("query_id", "neighbor_id", *scores)
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: corpus vectors are inverted-file-indexed by nearest centroid;
    each query scores only the corpus cells of its ``n_probe`` nearest
    centroids. Deterministic seeding — the ``n_centroids`` lowest-id
    vectors refined by ``lloyd_iters`` Lloyd rounds (decimal-mean,
    RNG-free, :func:`_seed_centroids`) — so the index and the DuckDB
    oracle are exactly reproducible. Cost: corpus×centroids (broadcast,
    linear) + per-query work ~ n_probe/n_centroids of the corpus instead
    of all of it.

    At scale the assignment step is materialized once
    (:func:`build_ivf_index` writes it partitioned BY cell) and amortized
    across query batches (:func:`query_ivf_index`).
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    cent_rows = _seed_centroids(corpus, n_centroids, lloyd_iters, id_col, vec_col)
    indexed = ivf_assign_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent_rows,
        vec_col="cv",
        widen=True,
    )
    probes = _query_probes(queries, cent_rows, n_probe, id_col, vec_col)
    return _rank_topk(_probe_scored(probes, indexed, _cos_sim()), k)


# --- oracle SQL twins --------------------------------------------------------

def _cos_sql(av: str, bv: str) -> str:
    """Cosine with the same sequential double fold and the same zero-norm
    NULL guard as the Spark side."""
    d = f"list_sum([CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE) for i in range(1, len({av}) + 1)])"
    na = f"sqrt(list_sum([CAST({av}[i] AS DOUBLE) * CAST({av}[i] AS DOUBLE) for i in range(1, len({av}) + 1)]))"
    nb = f"sqrt(list_sum([CAST({bv}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE) for i in range(1, len({bv}) + 1)]))"
    return f"(CASE WHEN ({na} * {nb}) > 0 THEN {d} / ({na} * {nb}) END)"


def _seed_sql(table: str, id_col: str, n: int | str) -> str:
    """DuckDB twin of :func:`_seed_centroids`' seed rule: the ``n``
    lowest-id non-NULL vectors as (cell, cv)."""
    return (
        f"SELECT {id_col} AS cell, embedding AS cv FROM {table} "
        f"WHERE {id_col} IS NOT NULL AND embedding IS NOT NULL "
        f"ORDER BY {id_col} LIMIT {n}"
    )


def cosine_topk_oracle_sql(
    k: int = 5, n_queries: int = 5, table: str = "embeddings"
) -> str:
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {table}
               WHERE vec_id < {n_queries}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def hyperplane_bucket_sql(
    vec: str, planes: list[list[float]] | None = None
) -> str:
    """DuckDB twin of ``random_hyperplane_bucket``: the same ±1.0 literals
    in the same left-associative term order, so the projection doubles are
    bit-identical to Spark's."""
    if planes is None:
        planes = seeded_hyperplanes()
    bits = []
    for plane in planes:
        lits = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]"
        dim = len(plane)
        proj = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({lits})[i] "
            f"for i in range(1, {dim + 1})])"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return "(" + " || ".join(bits) + ")"


def cosine_topk_ivf_oracle_sql(
    k: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of cosine_topk_ivf, Lloyd iterations unrolled as CTEs.
    The per-component centroid mean uses the identical decimal-sum/double-
    division as the Spark side, so refined centroids are bit-equal."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    cos_score = _cos_sql("p.qv", "ix.cv")
    ctes = [f"cent0 AS ({_seed_sql(table, 'vec_id', n_centroids)})"]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS (
        SELECT cell, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS m
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS (
        SELECT v.vec_id AS neighbor_id, v.emb AS cv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    ctes.append("ix AS (SELECT neighbor_id, cv, cell FROM corpus_assign WHERE r = 1)")
    ctes.append(f"""query_assign AS (
        SELECT v.vec_id AS query_id, v.emb AS qv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}
              WHERE vec_id < {n_queries}) v CROSS JOIN {final} cent)""")
    ctes.append(
        f"p AS (SELECT query_id, qv, cell FROM query_assign WHERE r <= {n_probe})"
    )
    ctes.append(f"""scored AS (
        SELECT DISTINCT p.query_id, ix.neighbor_id,
               ROUND({cos_score}, 6) AS cos_sim
        FROM p JOIN ix ON p.cell = ix.cell
        WHERE p.query_id <> ix.neighbor_id)""")
    ctes.append("""ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def cosine_topk_lsh_multiprobe_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    """DuckDB twin of cosine_topk_lsh_multiprobe: same bucket expression,
    probe list unrolled as [bucket, flip_0, …, flip_n-1] and unnested."""
    cos = _cos_sql("q.qv", "c.cv")
    bucket = hyperplane_bucket_sql("embedding", seeded_hyperplanes(n_bits=n_bits))
    flips = ["bucket"]
    for i in range(n_bits):
        flips.append(
            f"substr(bucket, 1, {i}) || "
            f"(CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr(bucket, {i + 2}, {n_bits - i - 1})"
        )
    probe_list = "[" + ", ".join(flips) + "]"
    return f"""
    WITH qb AS (SELECT vec_id AS query_id, embedding AS qv,
                       {bucket} AS bucket
                FROM {table} WHERE vec_id < {n_queries}),
         q AS (SELECT query_id, qv, unnest({probe_list}) AS bucket FROM qb),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {bucket} AS bucket
               FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q JOIN c ON q.bucket = c.bucket
            WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


def cosine_topk_lsh_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    cos = _cos_sql("q.qv", "c.cv")
    bucket = hyperplane_bucket_sql("embedding", seeded_hyperplanes(n_bits=n_bits))
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {bucket} AS bucket
               FROM {table} WHERE vec_id < {n_queries}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                      {bucket} AS bucket
               FROM {table}),
         scored AS (
            SELECT q.query_id, c.neighbor_id, ROUND({cos}, 6) AS cos_sim
            FROM q JOIN c ON q.bucket = c.bucket
            WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


# --- Persisted IVF index -----------------------------------------------------

PQ_M = 4
PQ_K = 16


def _pq_geometry(codebooks: list[tuple[int, int, list[float]]]) -> tuple[int, int]:
    """(m, dsub) derived from the frozen codebook artifact itself — the
    artifact is the only truth about the PQ geometry; every consumer
    derives from it instead of trusting caller-passed parameters that
    can silently disagree."""
    m = 1 + max(j for j, _, _ in codebooks)
    dsub = len(codebooks[0][2])
    return m, dsub


def _pq_encode(
    vectors: DataFrame,
    cent: DataFrame,
    m: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _vkey, codes): each vector's m one-byte PQ codes under a
    FROZEN codebook table (j, cell, cv) — the encode half of the PQ
    codec. Assignment is argmin squared-L2 per (row, subspace) against
    the broadcast m*k codebook (ties: lowest cell), codes ordered by
    subspace. Rows are keyed by (id, vector-as-string), NOT id alone: a
    batch carrying the same id twice with different vectors must encode
    each vector's own codes — an id-keyed argmin would mix subspaces
    across the duplicates into a chimera code vector equal to neither
    input. Callers join the result back on BOTH keys and drop ``_vkey``."""
    src = vectors.select(
        id_col, vec_col, F.col(vec_col).cast("string").alias("_vkey")
    )
    sub = _pq_subvecs(
        src, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col, carry=("_vkey",)
    )
    return _pq_code_arrays(sub, cent, keys=(id_col, "_vkey"))


def _pq_decode_expr(codebooks: list[tuple[int, int, list[float]]]):
    """THE PQ reconstruction rule (the PQ codec's decode — compaction,
    retrain, drift and the query path all score the vector it yields):
    returns a Column fn mapping an m-element code array to its flattened
    reconstruction via LITERAL per-subspace lookup arrays — element_at
    on an m*k-entry constant, row-local, NO shuffle (the explode +
    codebook-join + regroup alternative pays an exchange of m× the
    probed rows on the serving hot path). A code that is NULL,
    negative, out of range, or pointing at a cell absent from the
    codebook yields a NULL reconstruction for the WHOLE row (flatten
    propagates the NULL part): queries score it as NULL cosine (never
    outranks a real row), compaction and retrain refuse it loudly —
    corruption surfaces, consistently, instead of being laundered
    through a fabricated substitute cell."""
    cb: dict[int, dict[int, list[float]]] = {}
    for j, c, cv in codebooks:
        cb.setdefault(j, {})[c] = cv
    m = 1 + max(cb)

    def decode(codes: Column) -> Column:
        parts = []
        for j in range(m):
            cells = cb.get(j, {})
            kmax = max(cells)
            lut = F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in cells[c]])
                    if c in cells
                    else F.lit(None).cast("array<double>")
                    for c in range(kmax + 1)
                ]
            )
            code = F.element_at(codes, j + 1)
            parts.append(
                F.when(
                    (code >= 0) & (code <= kmax),
                    F.element_at(lut, code + F.lit(1)),
                )
            )
        return F.flatten(F.array(*parts))

    return decode


def _pq_codebook_df(spark, codebooks: list[tuple[int, int, list[float]]]):
    """The frozen codebook artifact ((j, cell, cv) rows, m*k total) as a
    broadcast-ready DataFrame."""
    return spark.createDataFrame(
        [(j, c, [float(x) for x in cv]) for j, c, cv in sorted(codebooks)],
        "j int, cell int, cv array<double>",
    )


_PAYLOAD = {"sq8": "codes", "pq": "pq_codes"}
_LABEL = {"float": "a float", "sq8": "an SQ8", "pq": "a PQ"}


@dataclass(frozen=True)
class Codec:
    """The payload codec of a persisted IVF index, as a VALUE: every
    lifecycle operator (build, upsert, compact, query, drift report,
    retrain, and the streaming ingest/serving jobs) takes one and runs
    the same path for all three codecs. It holds the frozen artifact —
    nothing for ``float`` (the module's ``FLOAT``), per-dimension
    ``bounds`` (mn, mx) for ``sq8``, the m*k ``codebooks`` rows for
    ``pq`` — and from it derives the stored payload column, the encode
    step, the decode (float view) expression and the tree schema check.
    The artifact shares the centroids' lifetime discipline: a retrain
    mints a new codec, and mixing artifacts across builds corrupts
    silently, so the caller persists it next to the centroids.

    Build one from a frozen artifact with :meth:`sq8` / :meth:`pq`, or
    learn it from a corpus with :meth:`learn_sq8` / :meth:`learn_pq`."""

    kind: str = "float"
    bounds: tuple[list[float], list[float]] | None = None
    codebooks: list[tuple[int, int, list[float]]] | None = None

    @classmethod
    def sq8(cls, bounds: tuple[list[float], list[float]]) -> Codec:
        """Scalar quantization under frozen per-dimension (mn, mx) bounds:
        rows store int8-range CODES (array<int>, 0..255 — parquet
        bit-packs them to ~1 byte/dim vs 4 for float32). Values outside
        the bounds clamp to 0/255 — the saturation trade; a drifted value
        range is one more signal the retrain refreshes."""
        return cls("sq8", bounds=bounds)

    @classmethod
    def pq(cls, codebooks: list[tuple[int, int, list[float]]]) -> Codec:
        """Product quantization under frozen (j, cell, cv) codebooks: rows
        store m one-byte codes (m=4 on 64-dim vectors = 16x fewer values
        than float32). The geometry (m, dsub) is derived from the
        codebooks alone (:func:`_pq_geometry`), never passed alongside."""
        return cls("pq", codebooks=codebooks)

    @classmethod
    def learn_sq8(cls, corpus: DataFrame, vec_col: str = "embedding") -> Codec:
        """Learn SQ8 bounds: per-dimension min/max over the non-NULL
        corpus vectors (one aggregate, :func:`sq8_bounds`)."""
        corpus = drop_null_vectors(corpus, vec_col)
        dim_row = corpus.select(F.size(vec_col)).first()
        dim = int(dim_row[0]) if dim_row else 0
        if dim == 0:
            raise ValueError(
                "Codec.learn_sq8: corpus has no non-NULL vectors to learn "
                "quantization bounds from — nothing to index"
            )
        b = sq8_bounds(corpus, vec_col=vec_col, dim=dim).first()
        return cls.sq8(([float(x) for x in b["mn"]], [float(x) for x in b["mx"]]))

    @classmethod
    def learn_pq(
        cls,
        corpus: DataFrame,
        m: int = PQ_M,
        dsub: int = 16,
        k: int = PQ_K,
        lloyd_iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed_ids: list | None = None,
    ) -> Codec:
        """Learn PQ codebooks (:func:`pq_codebooks`: seeds are the k
        lowest-id vectors, or ``seed_ids`` when the corpus is an index's
        survivor set) over the non-NULL corpus vectors."""
        cb_df = pq_codebooks(
            drop_null_vectors(corpus, vec_col),
            m=m,
            dsub=dsub,
            k=k,
            lloyd_iters=lloyd_iters,
            id_col=id_col,
            vec_col=vec_col,
            seed_ids=seed_ids,
        )
        codebooks = _collect_codebooks(cb_df)
        if not codebooks:
            raise ValueError(
                "Codec.learn_pq: corpus has no non-NULL vectors to learn "
                "codebooks from — nothing to index"
            )
        return cls.pq(codebooks)

    @property
    def quantized(self) -> bool:
        return self.kind != "float"

    @property
    def dim(self) -> int:
        """Vector dimension a quantized payload reconstructs to."""
        if self.kind == "sq8":
            return len(self.bounds[0])
        m, dsub = _pq_geometry(self.codebooks)
        return m * dsub

    def payload(self, vec_col: str) -> str:
        """The stored column: the vector itself for float, else the codes
        — also the keep-last rule's same-wave tiebreak column."""
        return _PAYLOAD.get(self.kind, vec_col)

    def _sq8_lits(self) -> tuple[Column, Column]:
        return tuple(F.array(*[F.lit(v) for v in b]) for b in self.bounds)

    def view(self, vec_col: str, name: str, compaction: bool = False) -> Column:
        """The float vector a tree row means, named ``name``: the stored
        vector for float, the reconstruction (asymmetric scoring — the
        query never quantizes) for a quantized tree. Compaction's SQ8
        view casts each element to float, the cell-reassignment input
        that path has always used; every other view keeps the doubles."""
        if self.kind == "sq8":
            v = sq8_decode(F.col("codes"), *self._sq8_lits())
            if compaction:
                v = F.transform(v, lambda x: x.cast("float"))
        elif self.kind == "pq":
            v = _pq_decode_expr(self.codebooks)(F.col("pq_codes"))
        else:
            v = F.col(vec_col)
            if name == vec_col:
                return v
        return v.alias(name)

    def encode(
        self,
        vectors: DataFrame,
        cent_rows: list[tuple[int, list[float]]],
        id_col: str,
        vec_col: str,
    ) -> DataFrame:
        """(id, payload, cell) for incoming vectors. Cells are assigned
        from the FULL-PRECISION vectors (quantization error must cost
        recall at the re-ranking margin, not move vectors across cells);
        only the stored payload is compressed. The PQ encode joins back
        on (id, vector-string), so duplicate ids in one batch keep their
        OWN codes and cells (see :func:`_pq_encode`)."""
        assigned = ivf_assign_arrow(
            vectors.select(id_col, vec_col), cent_rows, vec_col=vec_col
        )
        if self.kind == "sq8":
            codes = sq8_codes(F.col(vec_col), *self._sq8_lits())
            return assigned.select(id_col, codes.alias("codes"), "cell")
        if self.kind == "pq":
            m, dsub = _pq_geometry(self.codebooks)
            encoded = _pq_encode(
                vectors,
                _pq_codebook_df(vectors.sparkSession, self.codebooks),
                m=m, dsub=dsub, id_col=id_col, vec_col=vec_col,
            )
            return (
                assigned.select(
                    id_col, F.col(vec_col).cast("string").alias("_vkey"), "cell"
                )
                .join(encoded, [id_col, "_vkey"])
                .drop("_vkey")
            )
        return assigned

    def check(
        self, columns: list[str], path: str, op: str, waves: bool = False
    ) -> None:
        """THE tree schema check, run before any read plan or write: the
        tree's codec (``codes`` = SQ8, ``pq_codes`` = PQ, else float)
        must be this codec — every mismatch fails fast with the missing
        artifact named, instead of a quantized tree served through the
        wrong decode or a wave of one codec landing in another's tree
        (NULL payloads no later read surfaces). ``waves`` additionally
        rejects a legacy cell-only tree: writing (cell, wave) partitions
        into it would create a mixed layout no reader can open."""
        tree = next((c for c, p in _PAYLOAD.items() if p in columns), "float")
        passed = f"{_LABEL[self.kind]} codec was passed"
        if tree != self.kind:
            raise ValueError(f"{op}: " + {
                "sq8": f"{path} is an SQ8 index (codes column) but {passed}"
                " — pass its frozen quantization bounds as Codec.sq8(bounds)",
                "pq": f"{path} is a PQ index (pq_codes column) but {passed}"
                " — pass its frozen codebooks as Codec.pq(codebooks)",
                "float": f"index at {path} is not {_LABEL[self.kind]} wave "
                "index: it is a FLOAT tree but a quantization codec was "
                "passed — wrong index path, or the tree was rebuilt under "
                "a different codec",
            }[tree])
        if waves and "wave" not in columns:
            raise ValueError(
                f"{op}: index at {path} has no wave partition level "
                "(pre-round-11 layout); rebuild it with build_ivf_index "
                "before wave upserts — mixing partition layouts in one "
                "path is unreadable"
            )

    def relearn(
        self, survivors: DataFrame, lloyd_iters: int, id_col: str, vec_col: str
    ) -> Codec:
        """A fresh artifact of the same kind learned from an index's
        survivor set (the retrain step): new bounds for SQ8; new
        codebooks of the SAME (m, dsub, k) geometry for PQ, seeded from
        the k lowest SURVIVING ids (the id < k rule of a fresh corpus
        does not hold for survivors)."""
        if self.kind == "sq8":
            return Codec.learn_sq8(survivors, vec_col=vec_col)
        if self.kind == "pq":
            m, dsub = _pq_geometry(self.codebooks)
            k = 1 + max(c for _, c, _ in self.codebooks)
            seeds = survivors.select(id_col).orderBy(id_col).limit(k).collect()
            return Codec.learn_pq(
                survivors, m=m, dsub=dsub, k=k, lloyd_iters=lloyd_iters,
                id_col=id_col, vec_col=vec_col, seed_ids=[r[0] for r in seeds],
            )
        return self


FLOAT = Codec()

_NO_SEEDS = (
    "{op}: no seed vectors — the corpus has no non-NULL vector after the "
    "NULL-vector admission rule; nothing to index"
)


def _write_tree(indexed: DataFrame, path: str) -> None:
    """Write a whole (cell, wave)-partitioned tree. Static overwrite
    pinned: a rebuild or compaction REPLACES the tree, so every old
    (cell, wave) partition must go, not just the ones present in the new
    data (the session default is dynamic, for the upsert paths)."""
    (
        indexed.write.partitionBy("cell", "wave")
        .mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .parquet(path)
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codec: Codec = FLOAT,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF inverted file: corpus payloads (``codec``)
    written as parquet PARTITIONED BY their nearest-centroid cell,
    returning the (tiny) centroid rows the caller persists alongside as
    index metadata, next to the codec's artifact.

    This is the production shape `cosine_topk_ivf` amortizes to: the
    centroid assign runs ONCE over the corpus, and every later query batch
    reads only its probed cells — Spark prunes the non-probed partitions at
    the file listing, so query cost is n_probe/n_centroids of the index
    BY I/O, not just by compute (`query_ivf_index` asserts PartitionFilters
    in its plan test). Same deterministic seeding + Lloyd refinement as
    `cosine_topk_ivf`, so a fresh index over the same corpus is
    reproducible bit-for-bit; passed ``centroids`` rebuild under the
    FROZEN artifact instead (cell assignment is a pure function of
    (vector, centroids)).

    NULL vectors are never ingested (the index admission rule the
    lifecycle gate's oracle mirrors): dropped here at entry, because a
    None row reaching the Arrow assign kernel crashes it with an
    opaque (0,)-dim numpy error."""
    corpus = drop_null_vectors(corpus, vec_col)
    if centroids is not None:
        cent_rows = sorted(centroids)
    else:
        cent_rows = _seed_centroids(
            corpus, n_centroids, lloyd_iters, id_col, vec_col,
            refuse=_NO_SEEDS.format(op="build_ivf_index"),
        )
    indexed = codec.encode(corpus, cent_rows, id_col, vec_col)
    _write_tree(indexed.withColumn("wave", F.lit(0)), path)
    return cent_rows


def upsert_ivf_index(
    new_vectors: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    wave: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_layout: bool = True,
    codec: Codec = FLOAT,
) -> None:
    """Incremental wave append to a persisted IVF index under FROZEN
    centroids and codec artifact — the serving-side reality a one-shot
    build ignores: new vectors arrive for months while the artifacts
    stay fixed (retraining centroids would move every existing cell
    assignment).

    Each wave lands in its (cell, wave) partitions via dynamic
    partition overwrite, so a crashed-and-replayed ingest REPLACES its
    partitions instead of doubling rows (the upsert_partitions
    idempotency contract), and partition pruning on ``cell`` — the
    outer partition level — is untouched: queries still list only
    probed cells.

    Re-ingested ids (same ``id_col``, new embedding): the query path
    keeps the newest wave per id within the cells it probes, so a
    same-cell update is visible immediately; an update that MOVES a
    vector across cells leaves the stale copy in the old cell until
    :func:`compact_ivf_index` reconciles (documented staleness — the
    standard LSM/lakehouse trade: cheap upserts, periodic compaction).

    The tree is checked before the write (:meth:`Codec.check`): a tree
    of another codec, or a pre-round-11 index written without the wave
    partition level, is rejected loudly and left untouched. A missing
    path is fine: the first wave creates the index and wave 0 stays an
    empty build namespace. The check reads the index schema (one file
    listing + footer); a caller that has already verified the layout
    for the index's lifetime — the streaming wrapper checks once at
    wave-base pin time, then writes a wave per micro-batch — passes
    ``check_layout=False`` to skip the per-call listing.
    """
    if wave < 1:
        raise ValueError(
            f"upsert_ivf_index: wave must be >= 1 (wave 0 is the build), "
            f"got {wave}"
        )
    # the admission rule, enforced at EVERY write path: NULL vectors are
    # never ingested (a None row crashes the Arrow assign kernel, and a
    # NULL landing in the index would poison every downstream cosine)
    new_vectors = drop_null_vectors(new_vectors, vec_col)
    if check_layout:
        from pyspark.errors import AnalysisException  # noqa: PLC0415

        try:
            existing_cols = new_vectors.sparkSession.read.parquet(path).columns
        except AnalysisException:
            existing_cols = None  # no index yet — this wave creates it
        if existing_cols is not None:
            codec.check(existing_cols, path, "upsert_ivf_index", waves=True)
    from .upsert import upsert_partitions  # noqa: PLC0415

    assigned = codec.encode(new_vectors, sorted(centroids), id_col, vec_col)
    upsert_partitions(
        assigned.withColumn("wave", F.lit(wave)), path, ["cell", "wave"]
    )


def _refuse_corrupt_codes(view: DataFrame, codec: Codec, path: str, op: str) -> None:
    """A quantized survivor whose codes fail to reconstruct to the
    codec's dimension (corrupt/foreign codes, e.g. a wave replayed under
    a retrained artifact) ABORTS the rewrite loudly before any write —
    the query path scores such a row as NULL cosine (it never ranks),
    but compaction would launder it under a fabricated cell into a
    valid-looking wave 0, and a retrain's rebuild would silently drop
    it (permanent data loss). One extra pass over the survivors'
    ``_rv`` view; both rewrites are offline ops."""
    n_bad = view.filter(
        F.col("_rv").isNull() | (F.size("_rv") != codec.dim)
    ).count()
    if n_bad:
        raise ValueError(
            f"{op}: {n_bad} row(s) at {path} failed to reconstruct to "
            f"{codec.dim} dims — corrupt or foreign codes (written under a "
            "different bounds/codebook artifact?); refusing to rewrite "
            "the index over them"
        )


def compact_ivf_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: Codec = FLOAT,
) -> None:
    """Compaction: collapse all waves to keep-last per id, REASSIGN every
    survivor's cell from its (possibly updated) vector — for a quantized
    tree its RECONSTRUCTION, the vector the query path scores, so
    post-compact probe behavior is self-consistent — and rewrite the
    index as a fresh wave 0. After this, cross-cell staleness is gone
    and a float index equals a clean :func:`build_ivf_index` of the
    survivor set under the same frozen centroids (pinned by test).
    Quantized payloads are carried through UNCHANGED (no decode →
    re-encode round trip to accumulate quantization error), and corrupt
    codes abort before any write (:func:`_refuse_corrupt_codes`).
    Keep-last is (wave DESC, then payload bytes for a deterministic
    same-wave tiebreak); run it offline like the build — the rewrite is
    a plain overwrite, not a snapshot-isolated publish. A legacy index
    written before the wave partition level (cell-only layout) defaults
    to wave 0 — it is by definition all build rows, and compacting it
    migrates it to the current layout.

    COMPACTION MUST QUIESCE THE INGEST, including its replay window: a
    streaming wave REPLAYED after a compaction re-lands its original
    wave k > 0, which outranks the compacted wave-0 rows — if a LATER
    wave had updated one of its ids and compaction kept that newer
    vector, the replay resurrects the stale one as the keep-last winner
    (characterized in tests/test_round12_ops.py). The safe protocol:
    stop the stream, compact, then restart with a FRESH checkpoint —
    the wave-base sidecar re-pins from the compacted index (max wave 0
    → new waves start at 1) and nothing older can replay. Resuming the
    OLD checkpoint after a compaction is the one sequence that corrupts
    silently."""
    op = "compact_ivf_index"
    raw = _read_index(spark, path, op)
    codec.check(raw.columns, path, op)
    payload = codec.payload(vec_col)
    latest = (
        _keep_latest_per_id(raw, id_col, payload)
        .select(id_col, payload)
        # the source partitions are rewritten below — cut the lineage so
        # the write doesn't read the files it is replacing
        .transform(lineage_cut)
    )
    assign_col = vec_col
    if codec.quantized:
        assign_col = "_rv"
        latest = latest.select(
            id_col, payload, codec.view(vec_col, "_rv", compaction=True)
        )
        _refuse_corrupt_codes(latest, codec, path, op)
    indexed = ivf_assign_arrow(latest, sorted(centroids), vec_col=assign_col)
    _write_tree(
        indexed.select(id_col, payload, "cell").withColumn("wave", F.lit(0)),
        path,
    )


def ivf_index_report(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Index-health report per cell: (cell, n_rows, n_ids, n_waves,
    latest_wave, dup_ids) — ``dup_ids`` (ids present in >1 row within
    the cell) is the compaction debt a serving operator watches, and a
    max/mean skew over ``n_rows`` across cells is the
    rebuild-the-centroids signal (a drifting distribution concentrates
    new vectors in few cells). One aggregate over the index; never
    corpus-wide state on the driver. A legacy cell-only index reports as
    all wave 0 (the build namespace) instead of failing on an
    unresolved column."""
    raw = spark.read.parquet(path)
    if "wave" not in raw.columns:  # pre-round-11 layout: all build rows
        raw = raw.withColumn("wave", F.lit(0))
    per_id = raw.groupBy("cell", id_col).agg(
        F.count(F.lit(1)).alias("_n"), F.max("wave").alias("_w")
    )
    return (
        per_id.groupBy("cell")
        .agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_ids"),
            F.count_distinct("_w").alias("n_waves"),
            F.max("_w").alias("latest_wave"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_ids"),
        )
        .orderBy("cell")
    )


def _read_index(spark, path: str, op: str) -> DataFrame:
    """Read a persisted IVF index for a lifecycle operator, translating
    the raw AnalysisException (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
    on an empty dir) into the same actionable error the serving stream
    raises — the operator's next step is always the same: build the
    index first."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        raise ValueError(
            f"{op}: no readable IVF index at {path}; build it "
            "(similarity.build_ivf_index) first"
        ) from exc


def _pin_scoring_parallelism(latest: DataFrame) -> DataFrame:
    """AQE sizes post-shuffle parallelism by SHUFFLE BYTES, and
    quantized codes are 16-64x smaller than the vectors they decode to:
    the keep-last exchange over a PQ tree coalesces to ~1 partition,
    and that one task then pays the decode plus the per-pair cosine for
    the WHOLE probed set (measured: a 20k-row probed set fanning to
    320k scored pairs ran as a 7.7s single-task stage inside an 11s
    query that takes 3.5s once parallelism is restored — the compute
    amplification of decode + pair fan-out is invisible to byte-based
    sizing). An explicit round-robin exchange of
    the still-COMPRESSED rows pins the scoring stage's width (AQE
    respects explicit numPartitions); the extra shuffle moves codes,
    never decoded vectors."""
    n = latest.sparkSession.sparkContext.defaultParallelism
    return latest.repartition(n)


def _keep_latest_per_id(
    raw: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """THE keep-last rule, in one place: newest wave per id, same-wave
    ties broken by payload bytes (deterministic). Compaction, the
    drift report, the retrain and the query path must agree on which
    row survives —
    this is a correctness contract, not a convenience (a tiebreak change
    replicated by hand across call sites would let the lifecycle
    functions silently disagree about survivors). A legacy cell-only
    index (no wave column) defaults to wave 0 — all build rows. Returns
    every input column plus the defaulted ``wave``; callers project."""
    if "wave" not in raw.columns:  # pre-round-11 layout: all build rows
        raw = raw.withColumn("wave", F.lit(0))
    w = Window.partitionBy(id_col).orderBy(
        F.col("wave").desc(), F.col(vec_col).cast("string")
    )
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ivf_drift_report(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: Codec = FLOAT,
) -> DataFrame:
    """One-row centroid-drift report for a persisted IVF index — the
    input to :func:`should_rebuild_centroids`, closing the last
    un-automated step of the index lifecycle (ivf_index_report surfaces
    compaction debt; this measures how far the DATA has drifted from the
    FROZEN centroid artifact):

    - ``occupancy_skew``: max latest-vector count across cells over the
      BALANCED expectation n/k (k = the artifact's centroid count, not
      the occupied-cell count — with the occupied-only denominator the
      worst drift case, everything collapsed into one cell, reads a
      perfect 1.0). A drifting distribution concentrates new vectors in
      few cells, eroding partition pruning (one fat cell = scanning
      most of the index per probe); total collapse reads k.
    - ``mean_distortion`` / ``max_distortion``: 1 - cosine(vector, its
      cell's frozen centroid) over the latest vector per id. Growth vs
      the build-time reading means vectors sit far from every centroid —
      true neighbors scatter across cell boundaries and recall@k decays
      at fixed n_probe (measured in tests/test_round13_ops.py).
    - ``upsert_frac``: fraction of surviving ids whose kept wave > 0 —
      how much of the index arrived under frozen centroids since the
      last build/compact.

    One linear pass over the index + a broadcast join against the
    k-row centroid table; the output is a single row, never corpus-sized
    driver state. Baseline discipline: collect this right after
    build/retrain and persist it next to the centroid artifact; the
    decision compares current vs baseline.

    A quantized tree reports distortion over the RECONSTRUCTED vectors
    (:meth:`Codec.view`) — the same view the query path scores, so the
    drift reading describes what serving actually sees."""
    op = "ivf_drift_report"
    raw = _read_index(spark, path, op)
    codec.check(raw.columns, path, op)
    latest = _keep_latest_per_id(raw, id_col, codec.payload(vec_col)).select(
        "cell", "wave", codec.view(vec_col, vec_col)
    )
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(c, [float(x) for x in v]) for c, v in sorted(centroids)],
            "cell int, _centroid array<double>",
        )
    )
    per_vec = latest.join(cent_df, "cell").select(
        "cell",
        "wave",
        (1.0 - cosine(F.col(vec_col), F.col("_centroid"))).alias("_dist"),
    )
    per_cell = per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dist").alias("_d"),
        F.max("_dist").alias("_dmax"),
        F.sum(F.when(F.col("wave") > 0, 1).otherwise(0)).alias("_up"),
    )
    n_centroids = max(1, len(centroids))
    return per_cell.agg(
        F.sum("_n").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_occupied_cells"),
        F.round(
            F.max("_n").cast("double")
            / (F.sum("_n").cast("double") / F.lit(float(n_centroids))),
            6,
        ).alias("occupancy_skew"),
        F.round(F.sum("_d") / F.sum("_n"), 6).alias("mean_distortion"),
        F.round(F.max("_dmax"), 6).alias("max_distortion"),
        F.round(F.sum("_up").cast("double") / F.sum("_n"), 6).alias(
            "upsert_frac"
        ),
    )


def should_rebuild_centroids(
    report: dict,
    baseline: dict | None = None,
    skew_limit: float = 4.0,
    distortion_growth: float = 1.5,
    upsert_frac_limit: float = 0.5,
    distortion_floor: float = 0.05,
) -> dict:
    """The rebuild decision, as a pure function over one-row
    :func:`ivf_drift_report` readings (current, and optionally the
    build-time baseline): rebuild when occupancy skew blows past
    ``skew_limit`` (pruning eroded), when mean distortion grew past
    ``max(distortion_growth x baseline, distortion_floor)`` (recall
    decay — the absolute reading is corpus-dependent, growth is not;
    the floor keeps the check satisfiable when the baseline is a
    perfectly-quantized 0.0, and a NULL baseline reading — empty index
    at baseline time — skips the growth check instead of crashing), or
    when more than
    ``upsert_frac_limit`` of the index arrived under frozen centroids
    (the artifact no longer describes the data that elected it).
    Returns ``{"rebuild": bool, "reasons": [...]}`` — driver-side over
    two 1-row dicts, never data-sized. Wire it into the quiesce
    protocol: stop ingest -> if rebuild: retrain_ivf_centroids ->
    restart with a FRESH checkpoint and the NEW centroid artifact."""
    if not report.get("n_vectors"):
        # empty index: the report row is all NULLs (aggregates over zero
        # rows) — there is nothing to retrain FROM, so never trigger
        return {"rebuild": False, "reasons": []}
    reasons = []
    if report["occupancy_skew"] > skew_limit:
        reasons.append(
            f"occupancy_skew {report['occupancy_skew']} > {skew_limit}"
        )
    base_dist = (baseline or {}).get("mean_distortion")
    if base_dist is not None:
        # a perfectly-quantized baseline (0.0 — vectors coincide with
        # their centroids) would make a multiplicative growth check
        # unsatisfiable forever; the floor gives growth a denominator:
        # fire when distortion exceeds max(growth x baseline, floor)
        threshold = max(distortion_growth * base_dist, distortion_floor)
        if (report["mean_distortion"] or 0.0) > threshold:
            reasons.append(
                f"mean_distortion {report['mean_distortion']} > "
                f"max({distortion_growth}x baseline {base_dist}, "
                f"floor {distortion_floor})"
            )
    if report["upsert_frac"] > upsert_frac_limit:
        reasons.append(
            f"upsert_frac {report['upsert_frac']} > {upsert_frac_limit}"
        )
    return {"rebuild": bool(reasons), "reasons": reasons}


def retrain_ivf_centroids(
    spark,
    path: str,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: Codec = FLOAT,
) -> tuple[list[tuple[int, list[float]]], Codec]:
    """The rebuild-the-centroids action :func:`should_rebuild_centroids`
    gates — compact-and-retrain in one pass: collapse the index to its
    keep-last survivors (RECONSTRUCTED under the old artifact for a
    quantized tree), re-seed (the ``n_centroids`` lowest surviving ids —
    same deterministic rule as the build) and re-run Lloyd over the
    CURRENT survivor set, learn a fresh codec artifact of the same kind
    from the survivors (:meth:`Codec.relearn`), then rewrite the index
    under the NEW artifacts as a fresh wave 0. Returns ``(centroids,
    codec)``; the caller persists both in place of the old ones — every
    subsequent upsert/query/serve call must use them (cells are
    renumbered). An empty tree, or (quantized) a survivor whose codes
    fail to reconstruct, refuses before any write.

    Quantization error COMPOUNDS once per retrain of a quantized tree
    (the tree only holds codes, so the rebuild re-encodes
    reconstructions — standard LSM-on-codes trade); an operator that
    retains the original float vectors should rebuild from source
    instead. HARD LIMIT: information the old artifact never stored
    cannot come back — an SQ8 dimension whose ingested values saturated
    the frozen bounds (clamped to the 0/255 endpoints) reconstructs to
    the bound, so the retrained tree is a faithful index of the CODES,
    not of the original vectors (measured in tests: a drift signature
    living in bound-saturated dims is unrecoverable). The drift trigger
    firing early is the defense; rebuilding from source is the cure.

    QUIESCE REQUIRED, exactly as for compaction: stop the ingest
    stream, retrain, restart with a FRESH checkpoint (the wave-base
    sidecar re-pins from the rewritten index) and the new artifacts.
    Resuming an old checkpoint replays waves assigned under the OLD
    centroids into the new layout — same corruption class as
    compact-under-live-ingest."""
    op = "retrain_ivf_centroids"
    raw = _read_index(spark, path, op)
    codec.check(raw.columns, path, op)
    work = "_rv" if codec.quantized else vec_col
    latest = (
        _keep_latest_per_id(raw, id_col, codec.payload(vec_col))
        .select(id_col, codec.view(vec_col, work))
        # survivor set feeds seeding, Lloyd, artifact learning, and the
        # rewrite of the very files it came from: cut the lineage once
        # (id+vector rows — the compressed-intermediate doctrine,
        # ARCHITECTURE §3)
        .transform(lineage_cut)
    )
    if codec.quantized:
        _refuse_corrupt_codes(latest, codec, path, op)
    new_cents = _seed_centroids(
        latest, n_centroids, lloyd_iters, id_col, work,
        refuse=f"{op}: index at {path} has no surviving vectors to retrain "
        "from (empty tree?) — there is nothing to re-seed Lloyd with",
    )
    new_codec = codec.relearn(latest, lloyd_iters, id_col, work)
    build_ivf_index(
        latest, path, centroids=new_cents, id_col=id_col, vec_col=work,
        codec=new_codec,
    )
    return new_cents, new_codec


def ivf_probe_sweep(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    probes: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The n_probe tuning curve for a persisted IVF index — the IVF
    analog of ``lsh_band_sweep``: (n_probe, mean_recall, min_recall,
    n_queries, cells_scanned), one row per candidate setting, recall
    graded against ONE brute-force truth pass shared by every setting
    (the truth table is the expensive side — it is cut once and reused;
    each approximate side reads only its probed cells, so the sweep's
    marginal cost per setting is the setting's own query cost).
    ``cells_scanned`` is the distinct probe-cell count that setting
    touched — the I/O knob the operator trades recall against: pick the
    smallest n_probe whose recall clears the serving floor."""
    truth = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).transform(lineage_cut)
    rows = []
    for n_probe in probes:
        probed = _query_probes(queries, centroids, n_probe, id_col, vec_col)
        n_cells = probed.select("cell").distinct().count()
        graded = _grade_recall(
            truth,
            query_ivf_index(
                spark,
                path,
                centroids,
                queries,
                k=k,
                n_probe=n_probe,
                id_col=id_col,
                vec_col=vec_col,
            ),
        )
        agg = graded.agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.round(F.min("recall"), 6).alias("min_recall"),
            F.count(F.lit(1)).alias("n_queries"),
        ).first()
        rows.append(
            (
                n_probe,
                float(agg["mean_recall"]) if agg["mean_recall"] is not None else None,
                float(agg["min_recall"]) if agg["min_recall"] is not None else None,
                int(agg["n_queries"]),
                n_cells,
            )
        )
    return spark.createDataFrame(
        rows,
        "n_probe int, mean_recall double, min_recall double, "
        "n_queries long, cells_scanned long",
    )


def index_codec_frontier(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    base_dir: str,
    k: int = 5,
    n_probe: int = 2,
    n_centroids: int = 8,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The recall-for-bytes frontier across the serving family's three
    codecs — the report an operator reads to PICK the tier: learns an
    SQ8 and a PQ codec (``m``/``dsub``/``pq_k`` geometry) from the
    corpus and builds a float, an SQ8, and a PQ index through the one
    build path under ONE shared centroid artifact (training once
    isolates codec error from cell assignment — every tree probes
    identically), grades each against ONE shared brute-force truth pass
    at the same (k, n_probe), and measures each tree's actual parquet
    bytes. One row per codec: (codec, n_rows, bytes_on_disk,
    bytes_per_vector, mean_recall, min_recall, n_queries).

    The corpus is cut once (it feeds seeding, Lloyd, codec learning,
    three builds, and the truth pass — six-plus traversals of the same
    id+vector rows); every per-codec side reads only its own tree.
    Bytes are measured by a local directory walk — the trees this report
    builds are throwaway comparison artifacts under ``base_dir``, not
    the serving index, so the report is local-path-only by design (a
    remote-scheme base_dir is refused loudly)."""
    import os  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    parsed = urlparse(base_dir)
    if parsed.scheme not in ("", "file"):
        raise ValueError(
            f"index_codec_frontier: base_dir {base_dir!r} is not a local "
            "filesystem location; the comparison trees and their byte "
            "measurement are local-only by design"
        )
    root = parsed.path if parsed.scheme else base_dir
    corpus = drop_null_vectors(corpus, vec_col).select(id_col, vec_col)
    corpus = corpus.transform(lineage_cut)
    # queries feed the truth cross-join plus one probe-assign (with its
    # distinct-collect action) and one broadcast per codec — ~7
    # traversals; cut them for the same reason as the corpus
    queries = queries.select(id_col, vec_col).transform(lineage_cut)
    cents = _seed_centroids(
        corpus, n_centroids, lloyd_iters, id_col, vec_col,
        refuse=_NO_SEEDS.format(op="index_codec_frontier"),
    )
    truth = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    ).transform(lineage_cut)

    codecs = (
        ("float", FLOAT),
        ("sq8", Codec.learn_sq8(corpus, vec_col=vec_col)),
        ("pq", Codec.learn_pq(
            corpus, m=m, dsub=dsub, k=pq_k, lloyd_iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col,
        )),
    )
    for name, codec in codecs:
        path = os.path.join(root, name)
        build_ivf_index(
            corpus, path, centroids=cents, id_col=id_col, vec_col=vec_col,
            codec=codec,
        )
        # a schemeless base_dir resolves against fs.defaultFS, which need
        # not be the driver's local filesystem — if the tree did not land
        # where tree_bytes() will walk, the bytes column would be silently
        # zero, the exact wrong-report mode the loud guard above exists for
        if not os.path.isdir(path):
            raise ValueError(
                f"index_codec_frontier: {path} was not created on the "
                "driver-local filesystem (non-local fs.defaultFS?); the "
                "byte measurement is local-only — pass an explicit file: URI"
            )

    def tree_bytes(p: str) -> int:
        total = 0
        for dirpath, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    n_rows = corpus.count()
    out = []
    for name, codec in codecs:
        path = os.path.join(root, name)
        approx = query_ivf_index(
            spark, path, cents, queries, k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, codec=codec,
        )
        agg = _grade_recall(truth, approx).agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.round(F.min("recall"), 6).alias("min_recall"),
            F.count(F.lit(1)).alias("n_queries"),
        ).first()
        b = tree_bytes(path)
        out.append(
            (
                name,
                n_rows,
                b,
                round(b / max(1, n_rows), 2),
                float(agg["mean_recall"]) if agg["mean_recall"] is not None else None,
                float(agg["min_recall"]) if agg["min_recall"] is not None else None,
                int(agg["n_queries"]),
            )
        )
    return spark.createDataFrame(
        out,
        "codec string, n_rows long, bytes_on_disk long, "
        "bytes_per_vector double, mean_recall double, min_recall double, "
        "n_queries long",
    )


def query_ivf_index(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: Codec = FLOAT,
) -> DataFrame:
    """ANN over a persisted IVF index: assign each query its n_probe cells,
    scan ONLY those cell partitions (partition pruning via the isin filter
    — the scan's PartitionFilters, not a post-read filter), score
    bucket-locally, rank per query: (query_id, neighbor_id, cos_sim,
    rank). Matches `cosine_topk_ivf` output for the same corpus/seeding.

    A quantized tree scores ASYMMETRICALLY — the float query against
    each neighbor's reconstruction (:meth:`Codec.view`; standard SQ/PQ
    practice: keeping the query at full precision costs nothing and
    beats symmetric reconstruction on recall). A corrupt/foreign code
    row reconstructs NULL → NULL cos_sim → never outranks a real row.
    Only quantized trees pin the scoring parallelism
    (:func:`_pin_scoring_parallelism`); the float plan gains no
    exchange."""
    raw = _read_index(spark, path, "query_ivf_index")
    codec.check(raw.columns, path, "query_ivf_index")
    probes = _query_probes(queries, centroids, n_probe, id_col, vec_col)
    probe_cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    index = raw.filter(F.col("cell").isin(probe_cells))
    if "wave" in index.columns:
        # incremental index (build + upsert waves): keep the NEWEST wave
        # per id within the probed cells — a re-ingested vector
        # supersedes its older same-cell copies; the shared keep-last
        # rule runs over the probed subset only, so its cost is
        # cell-bounded (see upsert_ivf_index for the cross-cell
        # staleness contract). A legacy index skips the window entirely:
        # one copy per id by construction, no wave column to rank on.
        index = _keep_latest_per_id(index, id_col, codec.payload(vec_col))
    if codec.quantized:
        index = _pin_scoring_parallelism(index)
    indexed = index.select(
        F.col(id_col).alias("neighbor_id"), codec.view(vec_col, "cv"), "cell"
    )
    return _rank_topk(_probe_scored(probes, indexed, _cos_sim()), k)


def cosine_topk_seq_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k through the j-sequential Arrow kernel:
    same output contract as `cosine_topk`, bit-identical scores to the
    F.aggregate fold AND the DuckDB list-comprehension oracle (see
    `_seq_cosine_matrix`), at numpy throughput. Use this variant when the
    result feeds a downstream decision (e.g. kNN voting) where a one-ulp
    rank flip at the k boundary would change the answer."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = _seq_cosine_matrix(q_mat, c_mat)  # (n_queries, batch)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                    "cos_sim": np.round(sims.ravel(), 6),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_sim double"
    )
    return _rank_topk(scored, k)


def knn_label_predict(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification by majority vote over exact cosine top-k: for
    each query vector, take its k nearest corpus neighbors (self
    excluded), vote on their labels, break vote ties by smallest label.
    Returns (query_id, true_label, pred_label, votes, correct).

    The scoring pass is the `cosine_topk_seq_arrow` corpus scan (query
    set broadcast in the closure, corpus never collected); voting is two
    narrow aggregations on the tiny (queries × k) result. This is the
    standard embedding-quality / label-propagation health check a
    training-data pipeline runs after computing embeddings."""
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    top = cosine_topk_seq_arrow(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    neighbor_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    votes = (
        top.join(neighbor_labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = topk_per_group(
        votes,
        ["query_id"],
        [F.col("votes").desc(), F.col("n_label").asc()],
        k=1,
        rank_col="_pr",
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            "votes",
            (F.col("n_label") == F.col("true_label")).cast("bigint").alias("correct"),
        )
    )


def knn_label_oracle_sql(k: int = 10, mod: int = 100, table: str = "embeddings") -> str:
    """DuckDB twin of `knn_label_predict` over every `mod`-th vector."""
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM {table} WHERE vec_id % {mod} = 0),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS n_label
               FROM {table}),
         scored AS (
            SELECT q.query_id, q.true_label, c.neighbor_id, c.n_label,
                   ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rk
            FROM scored),
         votes AS (
            SELECT query_id, true_label, n_label,
                   CAST(COUNT(*) AS BIGINT) AS votes
            FROM ranked WHERE rk <= {k} GROUP BY 1, 2, 3),
         pred AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY votes DESC, n_label) AS pr
            FROM votes)
    SELECT query_id, true_label, n_label AS pred_label, votes,
           CAST(n_label = true_label AS BIGINT) AS correct
    FROM pred WHERE pr = 1
    """


#: Production default for derived k: k = ceil(N / target). 1024 vectors per
#: cell keeps the within-cluster pair stage at O(N * target) total work —
#: linear in the corpus — instead of the O((N/k)^2 * k) blow-up a FIXED k
#: becomes at 100 TB (an all-pairs join in disguise). SemDeDup (Abbas et al.
#: 2023) runs k ≈ 10^5 on web-scale corpora for exactly this reason.
TARGET_CLUSTER_SIZE = 1024


def derived_n_clusters(n_rows: int, target_cluster_size: int) -> int:
    """k = ceil(N / target): average cell size is bounded by the target at
    ANY corpus size, so the quadratic within-cell stage stays linear overall."""
    import math

    return max(1, math.ceil(n_rows / target_cluster_size))


def _n_clusters_sql(
    n_clusters: int | None, target_cluster_size: int, table: str
) -> str:
    """SQL form of the k choice: a literal when pinned, a scalar subquery
    computing the same ceil(N/target) when derived — bit-identical to the
    Spark side's count()-based derivation."""
    if n_clusters is not None:
        return str(n_clusters)
    return (
        f"(SELECT CAST(GREATEST(1, CEIL(COUNT(*) / {target_cluster_size}.0))"
        f" AS BIGINT) FROM {table})"
    )


def kmeans_clusters(
    corpus: DataFrame,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Deterministic k-means cluster assignment over an embedding column —
    the corpus-partitioning step of semantic dedup / topic bucketing in a
    training-data pipeline.

    ``n_clusters=None`` (the default) derives k = ceil(N / target_cluster_
    size), so cell population — and with it the cost of any downstream
    within-cell work — is bounded regardless of corpus size; a pinned k
    is accepted for experiments but does not survive a 100x scale-up.

    Seeding and refinement are identical to cosine_topk_ivf (lowest-id
    seeds + decimal-mean Lloyd rounds, RNG-free), so the result is exactly
    reproducible in the SQL oracle. The corpus-side cost is one broadcast
    centroid-assign scan per Lloyd round plus one final assign — linear,
    partition-local, no corpus shuffle at any step.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    assigned = kmeans_assign(
        corpus.select(F.col(id_col), F.col(vec_col)),
        n_clusters=n_clusters, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
        target_cluster_size=target_cluster_size,
    )
    return assigned.select(F.col(id_col), "cluster")


# Above this many clusters the driver stops collecting the centroid table:
# at k = ceil(N/1024), 50k centroids ≈ 5 GB corpus-equivalent of index rows —
# past that (10⁹+ vectors) the driver materializing and re-broadcasting k
# rows per Lloyd round becomes the bottleneck, so the assign step switches
# to the two-level distributed path (assign_nearest_distributed).
DISTRIBUTED_K_THRESHOLD = 50_000


def assign_nearest_distributed(
    vectors: DataFrame,
    centroids: DataFrame,
    coarse_rows: list[tuple[int, list[float]]],
    coarse_probe: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment with the centroid set kept as a
    DATAFRAME — the large-k path where collecting k centroids to the
    driver is no longer tenable. Two-level scheme (the FAISS-IVF coarse
    quantizer applied to the centroid table itself):

    1. a tiny COARSE centroid set (``coarse_rows``, ~sqrt(k) rows — index
       metadata, the only thing that ever reaches the driver) buckets the
       k centroids: one distributed Arrow scan of the centroid table;
    2. every vector probes its ``coarse_probe`` nearest coarse buckets
       (one Arrow scan of the corpus);
    3. probes cogroup with the bucketed centroids per coarse cell — the
       same j-sequential cosine kernel scores each vector against just
       that bucket's centroids (Arrow, no row explosion through the
       shuffle: corpus×probe rows + the centroid table once);
    4. a per-vector max_by picks the winner across probed buckets with
       the collected path's exact tie-break (score DESC, cell ASC).

    ``coarse_probe=None`` probes ALL coarse buckets — EXACT nearest
    centroid (bit-identical to the collected kernel, since per-pair scores
    are independent of batching) at corpus×n_coarse shuffle cost. The
    default 8 is the standard approximate trade at extreme k: a vector can
    only miss its true centroid if that centroid's coarse bucket ranks
    below the probe budget. Returns (id_col, out_col)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    n_coarse = len(coarse_rows)
    probe = n_coarse if coarse_probe is None else min(coarse_probe, n_coarse)
    cent_bucketed = ivf_assign_arrow(
        centroids.select("cell", "cv"), coarse_rows, vec_col="cv",
        out_col="coarse",
    )
    probes = ivf_assign_arrow(
        vectors.select(F.col(id_col), F.col(vec_col)), coarse_rows,
        vec_col=vec_col, out_col="coarse", n_best=probe, widen=True,
    )

    def local_best(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {id_col: pd.Series(dtype="int64"),
             "cell": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64")}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        r = right.sort_values("cell", kind="stable").reset_index(drop=True)
        V = np.array(list(left[vec_col]), dtype=np.float64)
        C = np.array(list(r["cv"]), dtype=np.float64)
        S = _seq_cosine_matrix(V, C)
        j = np.argsort(-S, axis=1, kind="stable")[:, 0]  # ties → lowest cell
        return pd.DataFrame(
            {id_col: left[id_col].to_numpy(),
             "cell": r["cell"].to_numpy()[j],
             "score": S[np.arange(len(left)), j]}
        )

    cand = (
        probes.groupby("coarse")
        .cogroup(cent_bucketed.groupby("coarse"))
        .applyInPandas(local_best, schema=f"{id_col} long, cell long, score double")
    )
    # lexicographic struct max: highest score, then lowest cell — the same
    # tie-break as the collected kernel's stable argsort
    return cand.groupBy(id_col).agg(
        F.max_by("cell", F.struct(F.col("score"), -F.col("cell"))).alias(out_col)
    )


def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
    distributed_threshold: int = DISTRIBUTED_K_THRESHOLD,
    coarse_probe: int | None = 8,
) -> DataFrame:
    """kmeans_clusters keeping EVERY input column (the Arrow assign kernel
    passes rows through untouched and appends the cell id) — callers that
    need the vector next to its cluster (e.g. semantic dedup's pair stage)
    use this form and skip a corpus self-join on the id.

    Below ``distributed_threshold`` clusters the centroid table is
    collected and broadcast (one Arrow scan per Lloyd round — the right
    plan through the SemDeDup regime, k ≲ 10⁵). Above it, centroids stay
    a DataFrame end-to-end and assignment goes through the two-level
    cogroup path (assign_nearest_distributed): only the ~sqrt(k) coarse
    quantizer ever reaches the driver. See ARCHITECTURE.md §11 for the
    crossover analysis."""
    if n_clusters is None:
        n_clusters = derived_n_clusters(corpus.count(), target_cluster_size)
    if n_clusters <= distributed_threshold:
        cent_rows = _seed_centroids(corpus, n_clusters, lloyd_iters, id_col, vec_col)
        return ivf_assign_arrow(
            corpus, cent_rows, vec_col=vec_col, out_col=out_col, widen=True
        )

    # --- large-k path: centroids never materialize on the driver ---
    import math  # noqa: PLC0415

    # seeds stay the in-plan id < k rule here: collecting (or globally
    # sorting) the k lowest ids is exactly the driver/single-task
    # materialization this path exists to avoid
    seeds_df = corpus.filter(F.col(id_col) < n_clusters).select(
        F.col(id_col).alias("cell"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    n_coarse = math.isqrt(max(n_clusters - 1, 0)) + 1  # ceil(sqrt(k))
    # the ONLY driver materialization: sqrt(k) coarse quantizer rows
    coarse_rows = [
        (r[0], [float(x) for x in r[1]])
        for r in seeds_df.filter(F.col("cell") < n_coarse).collect()
    ]
    cent_df = seeds_df
    for _ in range(lloyd_iters):
        assigned = assign_nearest_distributed(
            corpus, cent_df, coarse_rows, coarse_probe=coarse_probe,
            id_col=id_col, vec_col=vec_col,
        )
        merged = assigned.join(corpus.select(id_col, vec_col), id_col)
        cent_df = _centroid_mean(merged, ("cell",), vec_col)
        # truncate lineage between rounds (k rows, distributed — the
        # collected path's between-round collect, without the driver)
        cent_df = cent_df.transform(lineage_cut)
    final = assign_nearest_distributed(
        corpus, cent_df, coarse_rows, coarse_probe=coarse_probe,
        id_col=id_col, vec_col=vec_col, out_col=out_col,
    )
    return corpus.join(final, id_col)


def kmeans_clusters_oracle_sql(
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> str:
    """DuckDB twin of kmeans_clusters: the same Lloyd CTE unrolling as
    cosine_topk_ivf_oracle_sql, ending at the final corpus assignment.
    ``n_clusters=None`` derives k = ceil(N/target) as a scalar subquery —
    the same arithmetic the engine runs, so the twins stay in lockstep."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    k_expr = _n_clusters_sql(n_clusters, target_cluster_size, table)
    ctes = [f"cent0 AS ({_seed_sql(table, id_col, k_expr)})"]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT {id_col} AS vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS (
        SELECT cell, list(m ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS m
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS (
        SELECT v.vec_id, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT {id_col} AS vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT vec_id AS {id_col}, cell AS cluster FROM corpus_assign WHERE r = 1
    """


# --- Semantic dedup (SemDeDup) ----------------------------------------------
# Abbas et al. 2023 (arXiv:2303.09540): k-means the embedding space, then
# look for near-duplicate pairs ONLY within each cluster — the cluster
# assignment replaces the all-pairs comparison the same way LSH bands do for
# MinHash. At 100 TB, k grows with the corpus (k ≈ N / target cell size), so
# the per-cluster candidate set stays bounded while the clustering itself
# remains one broadcast-assign scan per Lloyd round.


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> DataFrame:
    """Within-cluster embedding pairs with cosine >= threshold — the
    SemDeDup candidate structure. The only corpus-wide shuffle is the
    cluster-keyed self-join; cosine is the same sequential-fold JVM
    expression the DuckDB oracle reproduces bit-for-bit.

    ``n_clusters=None`` derives k = ceil(N/target_cluster_size): the
    within-cluster stage is quadratic PER CELL, so bounding the cell
    population is what keeps total pair work at O(N * target) — linear in
    the corpus — at every scale. A fixed k is an all-pairs join in
    disguise once N outgrows k * target."""
    corpus = drop_null_vectors(corpus, vec_col)
    # Precompute each vector's norm ONCE before the pair join: cosine per
    # pair is then a single O(dim) dot product instead of three aggregates
    # (3x less array work on the quadratic within-cluster stage). sqrt of
    # the same sequential sum-of-squares → bit-identical to inline cosine.
    # kmeans_assign keeps the vector next to its cluster, so no id join-back.
    v = kmeans_assign(
        corpus.select(F.col(id_col), F.col(vec_col)),
        n_clusters=n_clusters, lloyd_iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col,
        target_cluster_size=target_cluster_size,
    ).withColumn("_n", norm(F.col(vec_col)))
    # Materialize (vector, cluster, norm) once: the pair stage self-joins
    # this frame, and without a lineage cut the Arrow assign kernel runs
    # twice. This is the cluster-assignment table a production SemDeDup
    # would persist between the clustering and pruning passes anyway.
    v = v.transform(lineage_cut)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("ea"),
        F.col("_n").alias("na"), "cluster",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("eb"),
        F.col("_n").alias("nb"), "cluster",
    )
    # try_divide across the cosine family: a ZERO vector has norm 0 and
    # ANSI division throws where the SQL twins' CASE WHEN den > 0 guard
    # yields NULL — NULL cosines then fail every downstream threshold/
    # rank comparison, which is the correct "undefined similarity"
    # semantics (found by the round-11 degenerate-payload sweep)
    cos = F.try_divide(
        dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("cluster", "id_a", "id_b",
                F.round("cos_sim", 6).alias("cos_sim"))
    )


def semantic_dedup_oracle_sql(
    threshold: float = 0.3,
    n_clusters: int | None = None,
    lloyd_iters: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    target_cluster_size: int = TARGET_CLUSTER_SIZE,
) -> str:
    """DuckDB twin of semantic_dedup_pairs: the kmeans_clusters oracle as a
    CTE, then the same within-cluster join + cosine threshold."""
    kmeans = kmeans_clusters_oracle_sql(
        n_clusters=n_clusters, lloyd_iters=lloyd_iters, table=table,
        id_col=id_col, target_cluster_size=target_cluster_size,
    )
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""
    WITH ka AS ({kmeans})
    SELECT ka_a.cluster AS cluster, a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND({cos}, 6) AS cos_sim
    FROM {table} a
    JOIN ka ka_a ON a.{id_col} = ka_a.{id_col}
    JOIN ka ka_b ON ka_a.cluster = ka_b.cluster AND ka_b.{id_col} > ka_a.{id_col}
    JOIN {table} b ON b.{id_col} = ka_b.{id_col}
    WHERE {cos} >= {threshold}
    """


# --- Johnson-Lindenstrauss random projection ---------------------------------
# Achlioptas 2003: +-1 projections preserve pairwise angles to O(1/sqrt(k)).
# The planes are the seeded md5-parity hyperplanes already used by sign-LSH,
# so the projection is RNG-free and bit-identical on both engines; the
# distortion measurement (projected cosine vs original cosine on a linear
# chain of pairs) makes the quality claim a gated number instead of a cite.


def _attribute_sql(col: Column) -> str:
    """Quoted SQL name of a bare attribute Column such as
    ``F.col("my text")``; raises ValueError for any other expression."""
    node = col._jc.node()
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        raise ValueError(
            f"expected a bare column reference, got {col._jc.toString()!r}; "
            "pass the column name instead"
        )
    parts = node.nameParts()
    return ".".join(sql_ident(parts.apply(i)) for i in range(parts.size()))


def jl_project(vec: Column | str, planes: list[list[float]]) -> Column:
    """k-dim signed-random projection of a vector column: one sequential
    +-1 fold per output dim (same IEEE order as the bucket kernel).

    Parsed from ONE SQL string (r14): the Column form built out_dim ×
    in_dim literal Columns plus two lambda conversions per plane —
    ~1,100 py4j round trips, ~2 s of driver wall per call. The weights
    are exactly ±1.0 (seeded_hyperplanes), so the `1.0D` / `-1.0D` SQL
    literals are the same IEEE doubles F.lit produced; the lambda fold
    order is unchanged. Accepts the column NAME (preferred) or a Column
    that is a bare attribute reference (``F.col(...)``); any other Column
    raises ValueError, since its rendering is not parseable SQL."""
    vec_expr = sql_ident(vec) if isinstance(vec, str) else _attribute_sql(vec)
    projs = []
    for plane in planes:
        arr = ", ".join(f"{w!r}D" for w in plane)
        projs.append(
            f"aggregate(zip_with({vec_expr}, array({arr}),"
            " (x, w) -> CAST(x AS DOUBLE) * w),"
            " 0.0D, (acc, v) -> acc + v)"
        )
    return F.expr(f"array({', '.join(projs)})")


def jl_distortion_pairs(
    corpus: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine in the original space vs the JL-projected space for the
    deterministic chain pairs (id, id+1): id_a, id_b, cos_orig, cos_proj,
    abs_err. The chain gives corpus-size-many pairs with ONE equi-join
    (no sampling RNG, no quadratic stage); projection is a row-local map,
    so the whole measurement is one linear pass + one join at any scale."""
    planes = seeded_hyperplanes(n_bits=out_dim, dim=in_dim, seed=seed)
    v = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v"),
        jl_project(vec_col, planes).alias("p"),
    )
    a = v.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("p").alias("pa")
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("p").alias("pb")
    )
    co = cosine(F.col("va"), F.col("vb"))
    cp = cosine(F.col("pa"), F.col("pb"))
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(co, 6).alias("cos_orig"),
            F.round(cp, 6).alias("cos_proj"),
            F.round(F.abs(co - cp), 6).alias("abs_err"),
        )
    )


SQ8_LEVELS = 255


def sq8_bounds(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Per-dimension [min, max] over the corpus as ONE 1-row DataFrame with
    two array<double> columns (mn, mx). 2*dim scalar aggregates in a single
    pass — map-side partial min/max, a few KB shuffled total, no explode of
    the vector column (a posexplode+groupBy(dim) would shuffle n_rows*dim
    rows for the same answer)."""
    aggs = []
    for j in range(dim):
        e = F.element_at(F.col(vec_col), j + 1).cast("double")
        aggs.append(F.min(e).alias(f"_mn{j}"))
        aggs.append(F.max(e).alias(f"_mx{j}"))
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_mn{j}") for j in range(dim)]).alias("mn"),
        F.array(*[F.col(f"_mx{j}") for j in range(dim)]).alias("mx"),
    )


def _sq8_code(x: Column, lo: Column, hi: Column) -> Column:
    """Quantization code in [0, 255] as a double (the exact value both
    engines feed the reconstruction): round(((x-lo)*255)/(hi-lo)) clamped.
    Constant dimensions (hi == lo) code to 0."""
    scaled = ((x.cast("double") - lo) * F.lit(255.0)) / (hi - lo)
    return F.when(
        hi > lo,
        F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.round(scaled, 0))),
    ).otherwise(F.lit(0.0))


def sq8_codes(vec: Column, mn: Column, mx: Column) -> Column:
    """int8-range scalar-quantization codes (array<int>, values 0..255) —
    the stored artifact: 1 byte/dim vs 4 for float32, a 4x cut in ANN
    index memory and shuffle width."""

    def code(x, i):
        return _sq8_code(x, F.element_at(mn, i + 1), F.element_at(mx, i + 1)).cast(
            "int"
        )

    return F.transform(vec, code)


def sq8_decode(codes: Column, mn: Column, mx: Column) -> Column:
    """Dequantize STORED codes (array<int>, 0..255): lo + code*(hi-lo)/255
    per dimension — the read half of :func:`sq8_codes`, arithmetic
    identical to :func:`sq8_reconstruct`'s (which quantizes and
    dequantizes a float vector in one expression), so a vector round-
    tripped through the persisted code artifact reconstructs to the same
    IEEE doubles as the in-plan reconstruction."""

    def dec(c, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return lo + (c.cast("double") * (hi - lo)) / F.lit(255.0)

    return F.transform(codes, dec)


def sq8_reconstruct(vec: Column, mn: Column, mx: Column) -> Column:
    """Dequantized vector: lo + (code * (hi - lo)) / 255 per dimension.
    Every step is the same IEEE double expression DuckDB's twin evaluates,
    so reconstructed values (and cosines over them) are bit-identical."""

    def recon(x, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return lo + (_sq8_code(x, lo, hi) * (hi - lo)) / F.lit(255.0)

    return F.transform(vec, recon)


def cosine_topk_sq8(
    corpus: DataFrame,
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k over int8 scalar-quantized vectors, with the quantization
    error made visible: for each of the first ``n_queries`` vectors, rank
    neighbors by cosine over RECONSTRUCTED (quantize->dequantize) vectors
    and report the exact-float cosine and |error| alongside.

    Distributed shape: bounds are one tiny 1-row aggregate broadcast onto
    the scan (corpus never shuffles for quantization — it's a row-local
    map); scoring reuses the brute-force broadcast-queries pattern. At
    100 TB the payoff is upstream of this query: the codes array is 1/4
    the bytes of float32, so an IVF/LSH index built over codes shuffles
    and caches 4x less; this operator pins the recall/error contract of
    that compression.
    """
    b = F.broadcast(sq8_bounds(corpus, vec_col=vec_col, dim=dim))
    v = corpus.crossJoin(b).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        sq8_reconstruct(F.col(vec_col), F.col("mn"), F.col("mx")).alias("rv"),
    )
    return _error_ranked(v, "sq8", k, n_queries, id_col, symmetric=True)


def _error_ranked(
    v: DataFrame,
    name: str,
    k: int,
    n_queries: int,
    id_col: str,
    symmetric: bool = False,
) -> DataFrame:
    """THE error-reporting scorer and ranking of the compressed twins.
    ``v`` is (id, v, rv): each vector and its reconstruction. The first
    ``n_queries`` ids (broadcast) score every row of ``v``: ``cos_<name>``
    ranks — the query (its reconstruction too when ``symmetric``, else
    exact: asymmetric ADC) against the candidate's reconstruction — and
    the exact cosine and |error| ride along: (query_id, neighbor_id,
    cos_<name>, cos_exact, abs_err, rank). Per-row norms are
    precomputed before the pair join (the semantic_dedup trick): norm(x)
    is pair-independent, and the same sequential fold + sqrt is
    bit-identical to inline cosine."""
    v = v.withColumn("vn", norm(F.col("v"))).withColumn("rn", norm(F.col("rv")))
    # the query side's last two columns are the ones that score crv
    q_cols = ("v", "vn", "rv", "rn") if symmetric else ("v", "vn")
    q = F.broadcast(
        v.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"),
            *[F.col(c).alias("q" + c) for c in q_cols],
        )
    )
    c = v.select(
        F.col(id_col).alias("neighbor_id"),
        *[F.col(c).alias("c" + c) for c in ("v", "rv", "vn", "rn")],
    )
    scored = q.crossJoin(c).select(
        "query_id", "neighbor_id", *_error_scores(name, *q_cols[-2:])
    )
    return _rank_topk(scored, k)


def _no_error_rows(spark, name: str) -> DataFrame:
    """The empty :func:`_error_ranked` report of a twin with nothing to
    rank (no vector to learn its codebooks from)."""
    return spark.createDataFrame(
        [], f"query_id long, neighbor_id long, cos_{name} double, "
        "cos_exact double, abs_err double, rank int",
    )


def _error_scores(name: str, q: str = "v", qn: str = "vn") -> list[Column]:
    """(cos_<name>, cos_exact, abs_err), each rounded to 6 dp, over a
    pair row carrying the query (``qv``, norm ``qvn``; ``q<q>``/``q<qn>``
    is the side that scores the reconstruction) and the candidate
    (exact ``cv``/``cvn``, reconstruction ``crv``/``crn``)."""
    def cos(a: str, an: str, b: str, bn: str) -> Column:
        return F.try_divide(dot(F.col(a), F.col(b)), F.col(an) * F.col(bn))

    approx = cos("q" + q, "q" + qn, "crv", "crn")
    exact = cos("qv", "qvn", "cv", "cvn")
    return [
        F.round(approx, 6).alias(f"cos_{name}"),
        F.round(exact, 6).alias("cos_exact"),
        F.round(F.abs(approx - exact), 6).alias("abs_err"),
    ]


def _sq8_recon_sql(vec: str, dim: int = 64) -> str:
    """DuckDB reconstruction list: same clamp/round/affine ops in the same
    order as sq8_reconstruct (mn/mx come from the bounds CTE row)."""
    x = f"CAST({vec}[i] AS DOUBLE)"
    code = (
        f"least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
        f"round((({x} - mn[i]) * CAST(255 AS DOUBLE)) / (mx[i] - mn[i]))))"
    )
    recon = (
        f"CASE WHEN mx[i] > mn[i] "
        f"THEN mn[i] + ({code} * (mx[i] - mn[i])) / CAST(255 AS DOUBLE) "
        f"ELSE mn[i] + (CAST(0 AS DOUBLE) * (mx[i] - mn[i])) / CAST(255 AS DOUBLE) END"
    )
    return f"[{recon} for i in range(1, {dim + 1})]"


def sq8_topk_oracle_sql(
    k: int = 5, n_queries: int = 5, table: str = "embeddings", dim: int = 64
) -> str:
    """DuckDB twin of cosine_topk_sq8: per-dim bounds via
    generate_subscripts, identical quantize->dequantize arithmetic,
    identical cosine folds and tie-break."""
    cos_q = _cos_sql("q.qrv", "c.crv")
    cos_x = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH dims AS (
        SELECT ord, MIN(CAST(val AS DOUBLE)) AS lo, MAX(CAST(val AS DOUBLE)) AS hi
        FROM (SELECT unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS ord FROM {table})
        GROUP BY ord),
    bounds AS (
        SELECT list(lo ORDER BY ord) AS mn, list(hi ORDER BY ord) AS mx
        FROM dims),
    recon AS (
        SELECT vec_id, embedding AS v,
               {_sq8_recon_sql("embedding", dim)} AS rv
        FROM {table}, bounds),
    q AS (SELECT vec_id AS query_id, v AS qv, rv AS qrv FROM recon
          WHERE vec_id < {n_queries}),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, rv AS crv FROM recon),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND({cos_q}, 6) AS cos_sq8,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_q} - {cos_x}), 6) AS abs_err
        FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sq8 DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cos_sq8, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k}
    """


def jl_distortion_oracle_sql(
    out_dim: int = 16,
    in_dim: int = 64,
    seed: int = 11,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of jl_distortion_pairs: identical +-1 literals in the
    identical fold order, chain pairs, same cosine expressions."""
    planes = seeded_hyperplanes(n_bits=out_dim, dim=in_dim, seed=seed)
    proj_terms = []
    for plane in planes:
        lits = "[" + ", ".join(f"{w:.1f}" for w in plane) + "]"
        proj_terms.append(
            f"list_sum([CAST(embedding[i] AS DOUBLE) * ({lits})[i] "
            f"for i in range(1, {in_dim + 1})])"
        )
    proj_list = "[" + ", ".join(proj_terms) + "]"
    co = _cos_sql("a.v", "b.v")
    cp = _cos_sql("a.p", "b.p")
    return f"""
    WITH proj AS (
        SELECT {id_col}, embedding AS v, {proj_list} AS p FROM {table}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           ROUND({co}, 6) AS cos_orig,
           ROUND({cp}, 6) AS cos_proj,
           ROUND(ABS({co} - {cp}), 6) AS abs_err
    FROM proj a JOIN proj b ON a.{id_col} + 1 = b.{id_col}
    """


# --- Product quantization (PQ) ANN -------------------------------------------
# Jégou et al. 2011 ("Product Quantization for Nearest Neighbor Search"):
# split each vector into m subvectors, k-means each subspace independently,
# store each vector as m one-byte codes. With m=4 k=16 over 64 dims that is
# 4 bytes per vector vs 256 for float32 — a 64x index compression — and
# queries score via ADC (asymmetric distance computation: the QUERY stays
# exact, only the corpus side is reconstructed from codebooks).



def _l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as the same sequential double fold as the
    cosine kernels (bit-identical to the DuckDB comprehension twin)."""
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def _pq_subvecs(
    corpus: DataFrame,
    m: int = PQ_M,
    dsub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, j, sv): the corpus exploded into its m subspace views — a
    row-local map, no shuffle. Any extra columns named in ``carry`` ride
    along unchanged.

    The vector dimension is guarded IN THE PLAN (row-local when, no
    extra job): a NON-NULL vector whose size is not exactly m*dsub dies
    loudly at execution. Without the guard F.slice silently returns
    short/empty subvectors, the codebook join then yields NULL
    distances, and every downstream cosine over the truncated
    reconstruction is NULL — an index full of garbage with no error
    anywhere. NULL vectors pass through untouched (size(NULL) is NULL,
    never a mismatch): the admission rule / null-cosine semantics
    downstream own them, exactly as before the guard existed — the
    all-NULL corpus sweep caught a first version that raised on them."""
    checked = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) == m * dsub),
        F.col(vec_col),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"PQ geometry mismatch: vector dim must be m*dsub = {m * dsub}, got "
                ),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" (id_col={id_col})"),
            )
        )
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(checked, j * dsub + 1, dsub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return corpus.select(
        F.col(id_col), *carry, F.explode(subs).alias("_s")
    ).select(
        id_col, *carry, F.col("_s.j").alias("j"), F.col("_s.sv").alias("sv")
    )


def _contains_map(dt) -> bool:
    """True when a dataType contains a MapType anywhere — the one Spark
    type family that struct ordering (and thus the min-struct argmin)
    cannot compare."""
    from pyspark.sql.types import ArrayType, MapType, StructType  # noqa: PLC0415

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _pq_assign_codes(
    sub: DataFrame, cent: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """THE PQ code-assignment rule, in one place: argmin squared-L2 per
    (row, subspace) against the broadcast (j, cell, cv) codebook, ties
    broken by lowest cell. The codebook trainer, the in-plan ADC
    operator, and the persisted-index encode must agree on this rule —
    a tiebreak tweak replicated by hand would let the index and its
    oracle silently disagree. Returns the winning joined row per
    (*keys, j) with ``_d`` dropped; callers project.

    The argmin is a hash aggregate over min(struct(_d, cell, ...)) —
    struct ordering compares _d first, then cell, so the winner and the
    tie-break are EXACTLY the old row_number window's (_d asc, cell asc),
    but the aggregate partial-aggregates map-side: the shuffle carries one
    candidate per (row, subspace) instead of the full k-way candidate
    fan-out, and there is no sort (k-fold fewer shuffled rows at any
    scale). The trailing struct fields ride along for free: cell is
    unique per (row, j) group, so fields after it never affect ordering."""
    joined = sub.join(F.broadcast(cent), "j").withColumn(
        "_d", _l2_sq(F.col("sv"), F.col("cv"))
    )
    extra = [
        c for c in joined.columns if c not in (*keys, "j", "_d", "cell")
    ]
    # Orderability guard (ADVICE r13): every carried column rides inside
    # min(struct(...)), which requires an orderable type — a map-typed
    # carry would fail at analysis with an opaque error. The fields must
    # come from the WINNING row (first() would detach them from the
    # argmin), so the honest contract is a loud, early refusal.
    unorderable = [c for c in extra if _contains_map(joined.schema[c].dataType)]
    if unorderable:
        raise TypeError(
            f"_pq_assign_codes: carried column(s) {unorderable} contain a "
            "MapType, which cannot ride inside the min(struct(...)) argmin "
            "(struct ordering requires orderable fields). Project them out "
            f"and re-join on ({', '.join(keys)}, j, cell) after assignment."
        )
    win = joined.groupBy(*keys, "j").agg(
        F.min(F.struct("_d", "cell", *extra)).alias("_w")
    )
    return win.select(
        *keys,
        "j",
        F.col("_w.cell").alias("cell"),
        *[F.col(f"_w.{c}").alias(c) for c in extra],
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: list | None = None,
) -> DataFrame:
    """Per-subspace codebooks (j, cell, cv) learned by deterministic
    k-means: seeds are the k lowest-id vectors' subvectors, assignment is
    argmin squared-L2 (ties: lowest cell), refinement is the repo's
    order-independent decimal mean. All m subspaces train in ONE plan —
    the subspace id is just another grouping key.

    Scale: assignment joins the (N*m)-row subvector stream against a
    BROADCAST m*k-row codebook; means shuffle (m*k*dsub) cells. Production
    PQ trains on a sample — the full-corpus pass here is the exactness the
    oracle gate needs, and it is still linear in N. Lineage is cut between
    rounds, not after the last one: every caller collects the m*k rows
    (:func:`_collect_codebooks`), so a final cut would be one more job."""
    sub = _pq_subvecs(corpus, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col)
    if seed_ids is None:
        cent = (
            sub.filter(F.col(id_col) < k)
            .select("j", F.col(id_col).alias("cell"), F.col("sv").alias("cv"))
        )
    else:
        # retrain path: the default seed rule (id < k) assumes a corpus
        # whose lowest ids are 0..k-1, which an index's SURVIVOR set need
        # not satisfy — explicit seed ids map to dense cells 0..k-1 by
        # rank (a k-entry when-chain; k is codebook metadata, never data)
        sids = sorted(seed_ids)[:k]
        if not sids:
            raise ValueError(
                "pq_codebooks: seed_ids is empty — no surviving vectors "
                "to seed the codebooks from (empty index/corpus?)"
            )
        cell_of = F.when(F.col(id_col) == sids[0], F.lit(0))
        for i, sid in enumerate(sids[1:], start=1):
            cell_of = cell_of.when(F.col(id_col) == sid, F.lit(i))
        cent = (
            sub.filter(F.col(id_col).isin(sids))
            .select("j", cell_of.alias("cell"), F.col("sv").alias("cv"))
        )
    for i in range(lloyd_iters):
        if i:  # cut between rounds; the caller collects the last one
            cent = cent.transform(lineage_cut)
        assigned = _pq_assign_codes(sub, cent, keys=(id_col,))
        cent = _centroid_mean(assigned, ("j", "cell"), "sv")
    return cent


def _collect_codebooks(cb_df: DataFrame) -> list[tuple[int, int, list[float]]]:
    """The (j, cell, cv) codebook rows of :func:`pq_codebooks`, collected
    and sorted — m*k rows, an artifact, never corpus data. A NULL
    centroid (only a NULL seed vector with no Lloyd round can make one)
    is no codebook entry."""
    return sorted(
        (r["j"], r["cell"], [float(x) for x in r["cv"]])
        for r in cb_df.collect()
        if r["cv"] is not None
    )


def _pq_code_arrays(
    sub: DataFrame, cent: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """(*keys, pq_codes): each row's m codes (:func:`_pq_assign_codes`
    over its :func:`_pq_subvecs` rows) regrouped into one array ordered
    by subspace — the PQ payload every decode reads."""
    return (
        _pq_assign_codes(sub, cent, keys=keys)
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "cell"))),
                lambda x: x["cell"],
            ).alias("pq_codes")
        )
    )


def cosine_topk_pq(
    corpus: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 5,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC ANN top-k with the compression error made visible: corpus
    vectors are reconstructed from their m one-byte codes (64x smaller
    than float32), queries stay exact, and each hit reports the ADC cosine
    next to the exact cosine and |error|.

    Plan shape: the codebooks (trained on the raw corpus by
    :func:`pq_codebooks`, m*k rows) are collected into a frozen
    :class:`Codec`; code assignment is a broadcast join over the
    row-local subvector stream, the only corpus-keyed shuffle is the
    per-id regroup of m codes, and reconstruction is the codec's
    row-local decode (:meth:`Codec.view`) — the persisted index's rule.
    Scoring reuses the broadcast-queries brute-force pattern."""
    codebooks = _collect_codebooks(
        pq_codebooks(
            corpus, m=m, dsub=dsub, k=k, lloyd_iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col,
        )
    )
    if not codebooks:  # no vector to train on: nothing to rank
        return _no_error_rows(corpus.sparkSession, "pq")
    codes = _pq_code_arrays(
        _pq_subvecs(corpus, m=m, dsub=dsub, id_col=id_col, vec_col=vec_col),
        _pq_codebook_df(corpus.sparkSession, codebooks),
        keys=(id_col,),
    )
    # materialize (vector, reconstruction) once: both the query and
    # corpus branches read it, and without a lineage cut the whole
    # code-assign subtree runs twice (the semantic_dedup fix)
    v = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("v"))
        .join(codes, id_col)
        .select(id_col, "v", Codec.pq(codebooks).view(vec_col, "rv"))
        .transform(lineage_cut)
    )
    return _error_ranked(v, "pq", k_neighbors, n_queries, id_col)


def _l2_sql(av: str, bv: str, dim: int) -> str:
    return (
        f"list_sum([(CAST({av}[i] AS DOUBLE) - CAST({bv}[i] AS DOUBLE)) * "
        f"(CAST({av}[i] AS DOUBLE) - CAST({bv}[i] AS DOUBLE)) "
        f"for i in range(1, {dim + 1})])"
    )


def pq_topk_oracle_sql(
    k_neighbors: int = 5,
    n_queries: int = 5,
    m: int = PQ_M,
    dsub: int = 16,
    k: int = PQ_K,
    lloyd_iters: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of cosine_topk_pq: same seeds, same argmin-L2 fold,
    same decimal means, same ADC cosine and tie-breaks. CTEs are
    MATERIALIZED — the chained rounds re-expand exponentially otherwise."""
    l2 = _l2_sql("s.sv", "cent.cv", dsub)
    ctes = [
        f"""sub AS MATERIALIZED (
        SELECT {id_col} AS vid, j,
               list_slice(embedding, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
        FROM (SELECT {id_col}, embedding,
                     unnest(range(0, {m})) AS j FROM {table}))""",
        f"""cent0 AS MATERIALIZED (
        SELECT j, vid AS cell, sv AS cv FROM sub WHERE vid < {k})""",
    ]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, s.sv, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.cell) AS r
            FROM sub s JOIN cent{i - 1} cent ON s.j = cent.j) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS MATERIALIZED (
        SELECT j, cell, list(mm ORDER BY pos) AS cv FROM (
            SELECT j, cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT j, cell, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos FROM la{i})
            GROUP BY j, cell, pos)
        GROUP BY j, cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.cell) AS r
            FROM sub s JOIN {final} cent ON s.j = cent.j) WHERE r = 1)""")
    ctes.append(f"""recon AS MATERIALIZED (
        SELECT vid, flatten(list(cv ORDER BY j)) AS rv
        FROM codes JOIN {final} cent USING (j, cell)
        GROUP BY vid)""")
    ctes.append(f"""vv AS MATERIALIZED (
        SELECT t.{id_col} AS vid, t.embedding AS v, recon.rv
        FROM {table} t JOIN recon ON t.{id_col} = recon.vid)""")
    cos_pq = _cos_sql("q.qv", "c.crv")
    cos_x = _cos_sql("q.qv", "c.cv")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    q AS (SELECT vid AS query_id, v AS qv FROM vv WHERE vid < {n_queries}),
    c AS (SELECT vid AS neighbor_id, v AS cv, rv AS crv FROM vv),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND({cos_pq}, 6) AS cos_pq,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_pq} - {cos_x}), 6) AS abs_err
        FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_pq DESC, neighbor_id) AS rank
        FROM scored)
    SELECT query_id, neighbor_id, cos_pq, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k_neighbors}
    """


# --- IVF-PQ composite ANN ----------------------------------------------------
# The FAISS production configuration (Jégou et al. 2011 §IV): coarse IVF
# cells prune the search to n_probe cells, and within cells the vectors are
# stored as PQ codes of their RESIDUAL (x - coarse_centroid) — residuals
# concentrate near zero, so the same codebook budget quantizes them far
# better than raw vectors. Index bytes per vector: m codes + a cell id.


def cosine_topk_ivfpq(
    corpus: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN top-k: coarse cells exactly as cosine_topk_ivf
    (deterministic lowest-id seeds + decimal-mean Lloyd), then PQ
    codebooks trained on cell RESIDUALS; queries stay exact, probe their
    ``n_probe`` nearest cells, and score against coarse_centroid +
    PQ-reconstructed residual. Reports the exact cosine and |error| per
    hit, like the flat SQ8/PQ queries.

    Scale shape: everything the flat PQ path broadcasts still broadcasts;
    the probe join reads ~n_probe/n_centroids of the reconstructed corpus
    per query instead of all of it — IVF's pruning and PQ's 64x
    compression compose multiplicatively on the index bytes a query
    touches."""
    corpus = drop_null_vectors(corpus, vec_col)
    spark = corpus.sparkSession
    cent_rows = _seed_centroids(corpus, n_centroids, lloyd_iters, id_col, vec_col)
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(c, v) for c, v in cent_rows], "cell bigint, ccv array<double>"
        )
    )
    indexed = ivf_assign_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        cent_rows,
        vec_col="cv",
        widen=True,
    )
    resid = (
        indexed.join(cent_df, "cell")
        .withColumn(
            "rv", F.zip_with("cv", "ccv", lambda x, c: x.cast("double") - c)
        )
        .transform(lineage_cut)
    )
    rv = resid.select("neighbor_id", "rv")
    codebooks = _collect_codebooks(
        pq_codebooks(
            rv, m=m, dsub=dsub, k=pq_k, lloyd_iters=pq_iters,
            id_col="neighbor_id", vec_col="rv",
        )
    )
    if not codebooks:  # no vector to index: nothing to rank
        return _no_error_rows(spark, "ivfpq")
    codes = _pq_code_arrays(
        _pq_subvecs(rv, m=m, dsub=dsub, id_col="neighbor_id", vec_col="rv"),
        _pq_codebook_df(spark, codebooks),
        keys=("neighbor_id",),
    )
    # no cut: xhat has exactly ONE consumer (the probe join below) — a
    # materialization here was a full extra pass that bought nothing
    # (the cuts that stay, resid and the codebook rounds, each feed 2+
    # consumers)
    xhat = (
        resid.select("neighbor_id", "cell", "cv", "ccv")
        .join(codes, "neighbor_id")
        .withColumn("rr", Codec.pq(codebooks).view("rv", "rr"))
        .withColumn("crv", F.zip_with("ccv", "rr", lambda c, r: c + r))
        .withColumn("crn", norm(F.col("crv")))
        .withColumn("cvn", norm(F.col("cv")))
    )
    probes = _query_probes(
        corpus.filter(F.col(id_col) < n_queries), cent_rows, n_probe, id_col, vec_col
    ).withColumn("qvn", norm(F.col("qv")))
    return _rank_topk(_probe_scored(probes, xhat, *_error_scores("ivfpq")), k_neighbors)


def ivfpq_topk_oracle_sql(
    k_neighbors: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    lloyd_iters: int = 2,
    m: int = PQ_M,
    dsub: int = 16,
    pq_k: int = PQ_K,
    pq_iters: int = 1,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """DuckDB twin of cosine_topk_ivfpq: the IVF oracle's coarse CTEs,
    residual construction, the PQ oracle's per-subspace Lloyd CTEs over
    residuals, reconstruction as coarse + residual, probe-pruned ADC
    scoring. All CTEs MATERIALIZED (chained scalar refs re-expand
    exponentially otherwise)."""
    cos_assign = _cos_sql("v.emb", "cent.cv")
    l2 = _l2_sql("s.sv", "cent.pcv", dsub)
    ctes = [f"cent0 AS MATERIALIZED ({_seed_sql(table, 'vec_id', n_centroids)})"]
    for i in range(1, lloyd_iters + 1):
        ctes.append(f"""la{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT v.vec_id, v.emb, cent.cell,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos_assign} DESC, cent.cell) AS r
            FROM (SELECT vec_id, embedding AS emb FROM {table}) v
            CROSS JOIN cent{i - 1} cent) WHERE r = 1)""")
        ctes.append(f"""cent{i} AS MATERIALIZED (
        SELECT cell, list(mm ORDER BY pos) AS cv FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT cell, unnest(emb) AS val,
                         generate_subscripts(emb, 1) AS pos FROM la{i})
            GROUP BY cell, pos)
        GROUP BY cell)""")
    final = f"cent{lloyd_iters}"
    ctes.append(f"""corpus_assign AS MATERIALIZED (
        SELECT v.vec_id AS neighbor_id, v.emb AS cv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}) v
        CROSS JOIN {final} cent)""")
    ctes.append(
        "ix AS MATERIALIZED (SELECT neighbor_id, cv, cell "
        "FROM corpus_assign WHERE r = 1)"
    )
    ctes.append(f"""resid AS MATERIALIZED (
        SELECT ix.neighbor_id, ix.cv, ix.cell, cent.cv AS ccv,
               [CAST(ix.cv[i] AS DOUBLE) - cent.cv[i]
                for i in range(1, {dim + 1})] AS rv
        FROM ix JOIN {final} cent USING (cell))""")
    ctes.append(f"""rsub AS MATERIALIZED (
        SELECT neighbor_id AS vid, j,
               list_slice(rv, j * {dsub} + 1, j * {dsub} + {dsub}) AS sv
        FROM (SELECT neighbor_id, rv, unnest(range(0, {m})) AS j FROM resid))""")
    ctes.append(f"""pcent0 AS MATERIALIZED (
        SELECT j, vid AS code, sv AS pcv FROM rsub WHERE vid < {pq_k})""")
    for i in range(1, pq_iters + 1):
        ctes.append(f"""pla{i} AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, s.sv, cent.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.code) AS r
            FROM rsub s JOIN pcent{i - 1} cent ON s.j = cent.j) WHERE r = 1)""")
        ctes.append(f"""pcent{i} AS MATERIALIZED (
        SELECT j, code, list(mm ORDER BY pos) AS pcv FROM (
            SELECT j, code, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,12)))
                        AS DOUBLE) / COUNT(val) AS mm
            FROM (SELECT j, code, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos FROM pla{i})
            GROUP BY j, code, pos)
        GROUP BY j, code)""")
    pfinal = f"pcent{pq_iters}"
    ctes.append(f"""pcodes AS MATERIALIZED (
        SELECT * FROM (
            SELECT s.vid, s.j, cent.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vid, s.j
                       ORDER BY {l2} ASC, cent.code) AS r
            FROM rsub s JOIN {pfinal} cent ON s.j = cent.j) WHERE r = 1)""")
    ctes.append(f"""rrec AS MATERIALIZED (
        SELECT vid, flatten(list(pcv ORDER BY j)) AS rr
        FROM pcodes JOIN {pfinal} cent USING (j, code)
        GROUP BY vid)""")
    ctes.append(f"""xhat AS MATERIALIZED (
        SELECT r.neighbor_id, r.cell, r.cv,
               [r.ccv[i] + rrec.rr[i] for i in range(1, {dim + 1})] AS xh
        FROM resid r JOIN rrec ON r.neighbor_id = rrec.vid)""")
    ctes.append(f"""query_assign AS MATERIALIZED (
        SELECT v.vec_id AS query_id, v.emb AS qv, cent.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY {cos_assign} DESC, cent.cell) AS r
        FROM (SELECT vec_id, embedding AS emb FROM {table}
              WHERE vec_id < {n_queries}) v CROSS JOIN {final} cent)""")
    ctes.append(
        f"p AS MATERIALIZED (SELECT query_id, qv, cell "
        f"FROM query_assign WHERE r <= {n_probe})"
    )
    cos_a = _cos_sql("p.qv", "x.xh")
    cos_x = _cos_sql("p.qv", "x.cv")
    ctes.append(f"""scored AS MATERIALIZED (
        SELECT DISTINCT p.query_id, x.neighbor_id,
               ROUND({cos_a}, 6) AS cos_ivfpq,
               ROUND({cos_x}, 6) AS cos_exact,
               ROUND(ABS({cos_a} - {cos_x}), 6) AS abs_err
        FROM p JOIN xhat x USING (cell)
        WHERE p.query_id <> x.neighbor_id)""")
    ctes.append("""ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_ivfpq DESC, neighbor_id) AS rank
        FROM scored)""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT query_id, neighbor_id, cos_ivfpq, cos_exact, abs_err, rank
    FROM ranked WHERE rank <= {k_neighbors}
    """


# --- Hard-negative triplet mining --------------------------------------------
# Contrastive-training data prep (the metric-learning classic): for each
# anchor, the most-similar SAME-label vector (the positive) and the
# most-similar DIFFERENT-label vector (the hard negative) — pairs whose
# margin is small or negative are exactly the triplets a contrastive loss
# learns most from. Anchors are a bounded broadcast set (the repo's ANN
# query-set contract); at 100 TB the corpus side streams, anchors batch.


def hard_negative_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(anchor_id, label, pos_id, pos_cos, neg_id, neg_cos, margin) per
    anchor: top-1 same-label and top-1 different-label cosine neighbor
    (ties: cos DESC, id ASC) and the positive-negative margin. Anchors
    with no same-label or no cross-label counterpart drop (inner joins).

    Plan: broadcast anchors × ONE corpus scan; both branches resolve in a
    single per-anchor aggregate — max over struct(cos, -cand_id) is the
    deterministic (cos DESC, id ASC) argmax without a window, so the
    corpus is never scanned twice and nothing but the per-anchor partial
    maxima shuffles."""
    q = F.broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("qv"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("cv"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "label",
            "cand_id",
            (F.col("_cl") == F.col("label")).alias("_same"),
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("_cos"),
        )
    )
    pick = F.struct(F.col("_cos"), (-F.col("cand_id")).alias("_nid"))
    agg = scored.groupBy("anchor_id", "label").agg(
        F.max(F.when(F.col("_same"), pick)).alias("_p"),
        F.max(F.when(~F.col("_same"), pick)).alias("_n"),
    )
    return (
        agg.filter(F.col("_p").isNotNull() & F.col("_n").isNotNull())
        .select(
            "anchor_id",
            "label",
            (-F.col("_p._nid")).alias("pos_id"),
            F.col("_p._cos").alias("pos_cos"),
            (-F.col("_n._nid")).alias("neg_id"),
            F.col("_n._cos").alias("neg_cos"),
            F.round(F.col("_p._cos") - F.col("_n._cos"), 6).alias("margin"),
        )
    )


def hard_negative_oracle_sql(
    n_anchors: int = 10, table: str = "embeddings"
) -> str:
    """DuckDB twin of hard_negative_pairs (same rounded cosine, same
    tie order, same inner-join drop semantics)."""
    cos = _cos_sql("q.qv", "c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS anchor_id, label, embedding AS qv
               FROM {table} WHERE vec_id < {n_anchors}),
         c AS (SELECT vec_id AS cand_id, label AS cl, embedding AS cv
               FROM {table}),
         scored AS (
            SELECT q.anchor_id, q.label, c.cand_id,
                   (c.cl = q.label) AS same,
                   ROUND({cos}, 6) AS cos_sim
            FROM q CROSS JOIN c WHERE q.anchor_id <> c.cand_id),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, same
                       ORDER BY cos_sim DESC, cand_id) AS r
            FROM scored),
         pos AS (SELECT anchor_id, label, cand_id AS pos_id,
                        cos_sim AS pos_cos
                 FROM ranked WHERE r = 1 AND same),
         neg AS (SELECT anchor_id, cand_id AS neg_id, cos_sim AS neg_cos
                 FROM ranked WHERE r = 1 AND NOT same)
    SELECT pos.anchor_id, label, pos_id, pos_cos, neg_id, neg_cos,
           ROUND(pos_cos - neg_cos, 6) AS margin
    FROM pos JOIN neg USING (anchor_id)
    """


# --- ANN recall evaluation ----------------------------------------------------
# The eval every approximate index needs before production: per-query
# recall@k of the LSH path against the brute-force ground truth, computed
# in ONE plan (both sides already exist as operators; this composes and
# grades them). Integer hit counts, one rounded division — hash-gates.


def _grade_recall(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_true, n_hits, recall): per query, how many of the
    brute-force top-k the approximate top-k recovered. Both inputs carry
    (query_id, neighbor_id); n_true < k happens when the corpus is
    small; recall divides by the true count."""
    hits = truth.join(
        approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )


def ann_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH path against brute-force ground truth (see
    :func:`_grade_recall` for the output contract)."""
    truth = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = cosine_topk_lsh(
        corpus, queries, k=k, n_bits=n_bits, id_col=id_col, vec_col=vec_col
    )
    return _grade_recall(truth, approx)


def ivf_recall_report(
    spark,
    path: str,
    centroids: list[tuple[int, list[float]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codec: Codec = FLOAT,
) -> DataFrame:
    """Recall@k of a PERSISTED IVF index — the lifecycle-aware twin of
    :func:`ann_recall_report`, which measures the LSH path only (the
    round-12 verdict's open quality question): the approximate side is
    :func:`query_ivf_index` over the index AS IT IS ON DISK (build +
    upsert waves, pre- or post-compaction, under whatever centroid
    staleness it has accrued), the truth side is brute force over
    ``corpus`` — the CURRENT live vector set the index is supposed to
    represent. Run it after upsert waves to measure what centroid
    staleness actually costs at fixed n_probe; the drift trigger
    (:func:`should_rebuild_centroids`) decides when that cost warrants
    a retrain. On a quantized tree (its ``codec`` passed) the reading
    INCLUDES the quantization error — the number an operator actually
    serves at; the truth side stays brute force over the float corpus."""
    truth = cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = query_ivf_index(
        spark, path, centroids, queries,
        k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col, codec=codec,
    )
    return _grade_recall(truth, approx)


def ann_recall_oracle_sql(
    k: int = 5, n_queries: int = 5, n_bits: int = 8, table: str = "embeddings"
) -> str:
    """DuckDB twin of ann_recall_report: both existing oracle chains as
    derived tables, joined and graded."""
    brute = cosine_topk_oracle_sql(k=k, n_queries=n_queries, table=table)
    lsh = cosine_topk_lsh_oracle_sql(
        k=k, n_queries=n_queries, n_bits=n_bits, table=table
    )
    return f"""
    SELECT t.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL
                                   THEN 1 END), 0)::DOUBLE
                 / COUNT(*), 6) AS recall
    FROM ({brute}) t
    LEFT JOIN ({lsh}) l
      ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
    GROUP BY t.query_id
    """

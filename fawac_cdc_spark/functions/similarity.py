"""Similarity search over ``embeddings`` (north_star LLM-data surface).

- brute-force cosine top-k (the correctness baseline): one pass over all
  vectors with JVM-side higher-order array math — no Python in the loop.
- random-projection LSH bucketing (the 100 TB scale path): 4 fixed
  hyperplanes → 16 buckets; candidate generation becomes an equi-join on
  bucket id, then brute-force cosine only within the candidate bucket.
  (An IVF variant is the same shape with learned centroids.)

Hyperplanes are fixed literals derived from numpy RandomState(42), so
Spark and the DuckDB oracle score identical projections.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import fan_out, materialize
from ..registry import register

EMB_DIM = 64
N_PLANES = 4
_RNG = np.random.RandomState(42)
HYPERPLANES: list[list[float]] = _RNG.standard_normal((N_PLANES, EMB_DIM)).round(4).tolist()


def _dot_expr_spark(vec_col: str, plane: list[float]) -> str:
    arr = ", ".join(f"{x}D" for x in plane)
    return (
        f"aggregate(zip_with({vec_col}, array({arr}), "
        f"(x, y) -> double(x) * y), 0D, (acc, v) -> acc + v)"
    )


def _dot_sql_duck(vec_col: str, plane: list[float]) -> str:
    arr = ", ".join(str(x) for x in plane)
    return (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> CAST({vec_col}[i] AS DOUBLE) * ([{arr}])[i]))"
    )


def _bucket_expr_spark(vec_col: str = "embedding", n_planes: int = N_PLANES) -> str:
    terms = [
        f"(case when ({_dot_expr_spark(vec_col, p)}) > 0 then {1 << h} else 0 end)"
        for h, p in enumerate(HYPERPLANES[:n_planes])
    ]
    return "cast(" + " + ".join(terms) + " as int)"


def _bucket_sql_duck(vec_col: str = "embedding", n_planes: int = N_PLANES) -> str:
    terms = [
        f"(CASE WHEN ({_dot_sql_duck(vec_col, p)}) > 0 THEN {1 << h} ELSE 0 END)"
        for h, p in enumerate(HYPERPLANES[:n_planes])
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


_NORM_SPARK = "sqrt(aggregate(zip_with({v}, {v}, (x, y) -> double(x) * double(y)), 0D, (acc, t) -> acc + t))"
_NORM_DUCK = (
    f"sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), "
    "i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))))"
)
_DOTQ_SPARK = "aggregate(zip_with(embedding, qvec, (x, y) -> double(x) * double(y)), 0D, (acc, t) -> acc + t)"
_DOTQ_DUCK = (
    f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))"
)


# Shared CTE pair: every corpus vector's rounded cosine to the fixed
# query (vec_id=0) — composed by the brute-force top-k oracle AND the RRF
# fusion oracle in functions/text.py (one definition, round-7 factoring).
_SCORED_Q0_CTE = f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored_q0 AS (
    SELECT vec_id,
           ROUND(({_DOTQ_DUCK})
                 / (({_NORM_DUCK.format(v='embedding')})
                    * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
)"""


def scored_vs_query0(e: DataFrame) -> DataFrame:
    """(vec_id, cos_sim): rounded cosine of every corpus vector (except
    the query itself) to the fixed query vec_id=0 — the ONE Spark-side
    definition (oracle mirror: ``_SCORED_Q0_CTE``), composed by the
    brute-force top-k and the RRF fusion in functions/text.py."""
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOTQ_SPARK)
                / (F.expr(_NORM_SPARK.format(v="embedding")) * F.expr(_NORM_SPARK.format(v="qvec"))),
                6,
            ).alias("cos_sim"),
        )
    )


@register(
    "cosine_topk_query0",
    oracle=f"""
WITH {_SCORED_Q0_CTE}
SELECT vec_id, cos_sim FROM scored_q0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    tags=("similarity", "llm"),
)
def cosine_topk_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0.

    One broadcast of the single query row; scoring is a JVM higher-order
    fold (zip_with + aggregate), fully codegen'd — the baseline every ANN
    variant is validated against. Rounded to 6 before ranking so the
    ordering is engine-stable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    scored = scored_vs_query0(e)
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


@register(
    "rp_lsh_bucket_stats",
    oracle=f"""
SELECT {_bucket_sql_duck()} AS bucket,
       COUNT(*) AS n_vecs,
       ROUND(SUM({_NORM_DUCK.format(v='embedding')}) / COUNT(*), 6) AS avg_norm
FROM embeddings
GROUP BY 1
""",
    tags=("similarity", "llm", "lsh"),
)
def rp_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH bucket assignment (4 hyperplanes → 16
    buckets) with per-bucket stats. Bucketing is a pure map — at 100 TB
    the bucket id becomes the partition/cluster key for ANN equi-joins."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            F.expr(_bucket_expr_spark()).alias("bucket"),
            F.expr(_NORM_SPARK.format(v="embedding")).alias("norm"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("norm") / F.count(F.lit(1)), 6).alias("avg_norm"),
        )
    )


@register(
    "rp_lsh_topk_query0",
    oracle=f"""
WITH b AS (
    SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
scored AS (
    SELECT vec_id, bucket,
           ROUND(({_DOTQ_DUCK})
                 / (({_NORM_DUCK.format(v='embedding')})
                    * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
    FROM b, q
    WHERE vec_id <> 0 AND bucket = qbucket
)
SELECT vec_id, bucket, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT 5
""",
    tags=("similarity", "llm", "lsh"),
)
def rp_lsh_topk_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 for vec_id=0: score only the query's LSH bucket.

    Same scoring as the brute-force baseline but the candidate set is
    ~1/16th of the corpus — the recall/cost dial is bands × hyperplanes.
    """
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", F.expr(_bucket_expr_spark()).alias("bucket"))
    q = b.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    scored = (
        b.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .where(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "bucket",
            F.round(
                F.expr(_DOTQ_SPARK)
                / (F.expr(_NORM_SPARK.format(v="embedding")) * F.expr(_NORM_SPARK.format(v="qvec"))),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(5)


# --- IVF (inverted-file) ANN variant ---------------------------------------
#
# Coarse quantizer: the first N_CENTROIDS vectors act as fixed seed
# centroids (IVF-flat with seed init — deterministic, so the oracle can
# replay it; a production build would k-means these). Every vector is
# assigned to its nearest centroid by cosine; a query probes only its own
# centroid's inverted list. Same shape as the LSH path — candidate
# generation is an equi-join on a precomputable integer key — but with
# data-dependent cells instead of fixed hyperplanes.

N_CENTROIDS = 8
IVF_QUERY_ID = 1


def _dot2_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        f"0D, (acc, v) -> acc + v)"
    )


def _dot2_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _scored_cents_sql(n_cells: int = N_CENTROIDS, src: str = "embeddings") -> str:
    """DuckDB CTE pair (cents, scored_cents) for the seed-centroid
    assignment at ``n_cells`` cells — mirror of ``cosine_assigned_cells``.
    ``src`` names the (vec_id, embedding) relation to assign (default the
    raw embeddings table; the composed traindata pipeline passes its
    dedup-survivor subset, mirroring ``cosine_assigned_cells`` being
    handed the filtered frame)."""
    return f"""cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM {src} WHERE vec_id < {n_cells}
), scored_cents AS (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND(({_dot2_duck('e.embedding', 'c.cvec')})
                              / (({_NORM_DUCK.format(v='e.embedding')})
                                 * ({_NORM_DUCK.format(v='c.cvec')})), 6) DESC,
                        c.cent_id) AS rn
    FROM {src} e CROSS JOIN cents c
)"""


_SCORED_CENTS_SQL = _scored_cents_sql()


def cosine_assigned_cells(e: DataFrame, n_cells: int = N_CENTROIDS) -> DataFrame:
    """(vec_id, embedding, cent_id): nearest seed centroid by rounded
    cosine, ties to the lower cent_id — the ONE Spark-side definition of
    the IVF/IVF-PQ/SemDeDup cell assignment (oracle mirror:
    ``_scored_cents_sql``; a fourth copy was how drift would start).

    The assignment is effectively a PURE MAP: the k centroids (with
    their norms hoisted) fold into ONE array-of-structs row via a tiny
    k-row aggregate, that single row broadcasts, and each vector's
    argmax is a sorted-struct expression over the array — so the CORPUS
    side sees no join key, no window, and exactly one exchange: the slim
    explicit-width ``fan_out`` that runs the k·d fold at full width.  The
    previous form (broadcast crossJoin + row_number window) materialized
    n x k rows WITH their embedding payloads and hash-shuffled them on
    vec_id just to take an argmax — k times the corpus bytes through the
    exchange, the dominant cost of every IVF/SemDeDup plan at 100 TB
    (structural; fixture wall-clock parity-or-better, BASELINE.md r7).

    Arithmetic is bit-identical to the join form: the same fold /
    divide / round(6) pipeline over the same operands; ties break to
    the lower cent_id via the struct sort on (-cos, cent_id).
    ``n_cells`` sizes the coarse quantizer (paper guidance k ~ sqrt(n));
    the broadcast array holds to k ~ 10^5 (k x d doubles ≈ 50 MB at
    k=100k) — beyond that, route through the Arrow-matmul assignment
    UDF (``streaming/cdc.py::semantic_dedup_stream_watermarked``'s
    ``route``),
    which carries the k x d matrix in the task closure and is
    stream==batch parity-tested against this definition."""
    cents_row = (
        e.where(F.col("vec_id") < n_cells)
        .select(
            F.struct(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cvec"),
                F.expr(_NORM_SPARK.format(v="embedding")).alias("nrm"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    # the fold comes from the ONE _dot2_spark definition (hand-inlining it
    # here is how Spark/oracle drift would start); array_min over the
    # struct transform is the O(k) argmax — no per-row k log k sort — and
    # the coalesce maps a NULL cosine (corrupt centroid) to +inf so it can
    # never win the assignment (the window form's NULLS LAST semantics;
    # NaN still sorts last, diverging from SQL DESC NaN-first — corrupt
    # embeddings should be scrubbed upstream either way)
    dot = _dot2_spark("embedding", "c.cvec")
    pick = (
        "array_min(transform(cents, c -> named_struct("
        f"'neg_cos', coalesce(-round(({dot}) / (_nrm_e * c.nrm), 6), double('Infinity')), "
        "'cent_id', c.cent_id))).cent_id"
    )

    # fan_out the corpus side of the broadcast fold: the argmax costs
    # k x d fused mult-adds per row (~512x the scanned bytes), so it
    # must run at full width whether the input is a one-task fixture
    # scan or an AQE-coalesced intermediate such as the composed
    # traindata pipeline's semi-join (explode discipline).  The
    # broadcast side is untouched.
    return (
        fan_out(
            e.select(
                "vec_id",
                "embedding",
                F.expr(_NORM_SPARK.format(v="embedding")).alias("_nrm_e"),
            ),
            "vec_id",
        )
        .crossJoin(F.broadcast(cents_row))
        .select("vec_id", "embedding", F.expr(pick).alias("cent_id"))
    )


@register(
    "ivf_topk_query1",
    oracle=f"""
WITH {_SCORED_CENTS_SQL}, assigned AS (
    SELECT vec_id, embedding, cent_id FROM scored_cents WHERE rn = 1
), q AS (
    SELECT embedding AS qv, cent_id AS qcent
    FROM assigned WHERE vec_id = {IVF_QUERY_ID}
)
SELECT a.vec_id, a.cent_id,
       ROUND(({_dot2_duck('a.embedding', 'qv')})
             / (({_NORM_DUCK.format(v='a.embedding')})
                * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
FROM assigned a, q
WHERE a.vec_id <> {IVF_QUERY_ID} AND a.cent_id = q.qcent
ORDER BY cos_sim DESC, vec_id
LIMIT 5
""",
    tags=("similarity", "llm", "ivf"),
)
def ivf_topk_query1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN top-5 for vec_id=1: assign every vector to its nearest
    seed centroid (broadcast of N_CENTROIDS rows + one windowed argmax),
    then score only the query's inverted list.

    At 100 TB the assignment is a map-side broadcast pass and cent_id
    becomes the partition key — probing k lists touches k partitions.
    Cosines round to 6 before ranking so the argmax is engine-stable.
    """
    e = load_table(spark, sf_dir, "embeddings")
    assigned = cosine_assigned_cells(e)
    q = assigned.where(F.col("vec_id") == IVF_QUERY_ID).select(
        F.col("embedding").alias("qv"), F.col("cent_id").alias("qcent")
    )
    scored = (
        assigned.where(F.col("vec_id") != IVF_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .where(F.col("cent_id") == F.col("qcent"))
        .select(
            "vec_id",
            "cent_id",
            F.round(
                F.expr(_dot2_spark("embedding", "qv"))
                / (
                    F.expr(_NORM_SPARK.format(v="embedding"))
                    * F.expr(_NORM_SPARK.format(v="qv"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(5)


@register(
    "embedding_label_stats",
    oracle=f"""
SELECT label,
       COUNT(*) AS n,
       ROUND(SUM({_NORM_DUCK.format(v='embedding')}) / COUNT(*), 6) AS avg_norm,
       ROUND(SUM(CAST(embedding[1] AS DOUBLE)) / COUNT(*), 6) AS avg_dim0
FROM embeddings
GROUP BY label
""",
    tags=("similarity", "llm"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (vector-column aggregation shape)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.expr(_NORM_SPARK.format(v="embedding")).alias("norm"),
            F.expr("double(embedding[0])").alias("dim0"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("norm") / F.count(F.lit(1)), 6).alias("avg_norm"),
            F.round(F.sum("dim0") / F.count(F.lit(1)), 6).alias("avg_dim0"),
        )
    )


# --- k-means-refined IVF centroids (Lloyd iteration) -----------------------
#
# ``ivf_topk_query1`` probes lists built from SEED centroids; a production
# index k-means-refines them first.  One Lloyd step, Spark-native shape:
# assignment is a broadcast-8-rows pass over the data (the scalable part);
# the centroid update collects exactly N_CENTROIDS x EMB_DIM aggregated
# values to the driver and re-broadcasts them — the same driver-side
# centroid cycle pyspark.ml's KMeans runs per iteration, O(k·d) driver
# bytes, never O(n).  Every distance and every updated centroid component
# is rounded to 6 decimals on BOTH engines, so argmin decisions and the
# re-assignment replay bit-identically in the oracle.

_L2SQ_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (double(x) - double(y)) "
    "* (double(x) - double(y))), 0D, (acc, v) -> acc + v)"
)
_L2SQ_DUCK = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
)


def _assign_min_l2(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid): nearest centroid by rounded L2², ties to
    the lower cid — the k centroids fold into one broadcast array row
    and the argmin is a sorted-struct expression per vector (the same
    shuffle-free shape as ``cosine_assigned_cells``: the former
    crossJoin + row_number window hash-shuffled n x k rows with their
    embedding payloads every Lloyd iteration)."""
    cents_row = cents.select(F.struct("cid", "cvec").alias("c")).agg(
        F.sort_array(F.collect_list("c")).alias("cents")
    )
    d2 = _L2SQ_SPARK.format(a="embedding", b="c.cvec")
    pick = (
        "array_min(transform(cents, c -> named_struct("
        f"'d2', coalesce(round(({d2}), 6), double('Infinity')), 'cid', c.cid))).cid"
    )
    return (
        e.crossJoin(F.broadcast(cents_row))
        .select("vec_id", "embedding", F.expr(pick).alias("cid"))
    )


@register(
    "kmeans_refined_ivf_cells",
    oracle=f"""
WITH init AS (
    SELECT vec_id AS cid,
           list_transform(range(1, {EMB_DIM + 1}),
                          i -> ROUND(CAST(embedding[i] AS DOUBLE), 6)) AS cvec
    FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
a1 AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, i.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_L2SQ_DUCK.format(a='e.embedding', b='i.cvec')}, 6),
                            i.cid) AS rn
        FROM embeddings e CROSS JOIN init i
    ) WHERE rn = 1
),
c1 AS (
    SELECT cid, list(cval ORDER BY dim) AS cvec FROM (
        SELECT a1.cid, d.dim,
               ROUND(AVG(CAST(e.embedding[d.dim] AS DOUBLE)), 6) AS cval
        FROM embeddings e
        JOIN a1 USING (vec_id),
             (SELECT unnest(range(1, {EMB_DIM + 1})) AS dim) d
        GROUP BY a1.cid, d.dim
    ) GROUP BY cid
),
a2 AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND({_L2SQ_DUCK.format(a='e.embedding', b='c.cvec')}, 6),
                            c.cid) AS rn
        FROM embeddings e CROSS JOIN c1 c
    ) WHERE rn = 1
)
SELECT a2.cid, COUNT(*) AS n,
       ROUND(sqrt(list_sum(list_transform(c1.cvec, x -> x * x))), 6) AS centroid_norm
FROM a2 JOIN c1 ON a2.cid = c1.cid
GROUP BY a2.cid, c1.cvec
""",
    tags=("similarity", "llm", "ivf", "kmeans", "iterative"),
)
def kmeans_refined_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd refinement of the IVF coarse quantizer: seed-assign,
    recompute centroids as per-dim means, re-assign, and report each
    refined cell's population and centroid norm.

    Generalizes the reference's iterative update loop (``fawac.py:521-551``
    train steps / A41) to index training. The centroid update stays
    entirely on executors — a k-row (cid, cvec) frame feeds the
    second pass's broadcast build — so the driver never touches data at
    all (pyspark.ml KMeans pays a collect + re-broadcast per iteration
    instead); vectors never leave executors either way.
    """
    e = load_table(spark, sf_dir, "embeddings")
    rounded = f"transform(embedding, x -> round(double(x), 6))"
    init = e.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.expr(rounded).alias("cvec")
    )

    # fan_out the corpus once: both Lloyd assignment passes fold k x d
    # mult-adds per row (explode discipline).
    e = fan_out(e, "vec_id")
    a1 = _assign_min_l2(e, init)

    # centroid update: per-dim mean over members, rounded — identical
    # (cid, dim) avg groups as ever, but assembled to (cid, cvec) rows
    # IN-PLAN (ordered collect_list) instead of collect() + a driver
    # loop + createDataFrame + re-broadcast (round 16; guide §5 — the
    # driver should do almost no data work).  The second Lloyd pass and
    # the final stats join share the k-row result's exchanges
    # (ReusedExchange).  A member vector that is short or null would
    # silently shift its cell's per-dim means, so it fails the query.
    member = F.when(
        F.coalesce(F.size("embedding"), F.lit(-1)) != EMB_DIM,
        F.raise_error(
            F.concat(
                F.lit("kmeans_refined_ivf_cells: embedding of vec_id "),
                F.col("vec_id").cast("string"),
                F.lit(f" does not have {EMB_DIM} entries"),
            )
        ),
    ).otherwise(F.col("embedding"))
    dims = (
        a1.select("cid", F.posexplode(member).alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("cval"))
    )
    c1 = dims.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, cval))),"
            " s -> s.cval)"
        ).alias("cvec")
    )

    a2 = _assign_min_l2(e, c1)

    norm = F.round(
        F.sqrt(F.expr("aggregate(cvec, 0D, (acc, x) -> acc + x * x)")), 6
    ).alias("centroid_norm")
    return (
        a2.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(c1, "cid")
        .select("cid", "n", norm)
    )


# --- Product Quantization (PQ) ---------------------------------------------
#
# The compression tier between raw vectors and IVF for billion-scale ANN:
# split each 64-dim vector into PQ_M=4 subvectors of 16 dims, quantize
# each against its own PQ_K=4 centroid codebook (2-bit codes -> one byte
# per vector, a 256x compression of float32x64). Assignment is a PURE MAP
# (argmin over 4 centroids per subvector) so encoding runs as wide as the
# scan; search uses asymmetric distance (ADC): the query builds a 4x4
# lookup table of exact query-subvector -> centroid distances and every
# candidate is scored by 4 table lookups instead of a 64-dim dot product.
# Codebooks are fixed literals (RandomState(11)) so the DuckDB oracle
# recomputes identical codes; a production pipeline would Lloyd-train
# them per subvector exactly like kmeans_refined_ivf_cells trains IVF
# centroids (same O(k*d) driver cycle, vectors never leave executors).

PQ_M = 4  # subvectors
PQ_SUB = 16  # dims per subvector
PQ_K = 4  # centroids per codebook (2-bit codes)
PQ_CODEBOOKS = (
    np.random.RandomState(11).standard_normal((PQ_M, PQ_K, PQ_SUB)).round(4)
)


def _pq_dist_spark(m: int, k: int, vec: str = "embedding") -> str:
    cs = ", ".join(f"{x}D" for x in PQ_CODEBOOKS[m][k])
    return (
        f"aggregate(zip_with(slice({vec}, {m * PQ_SUB + 1}, {PQ_SUB}), "
        f"array({cs}), (x, y) -> (double(x) - y) * (double(x) - y)), "
        f"0D, (a, v) -> a + v)"
    )


def _pq_dist_duck(m: int, k: int, vec: str = "embedding") -> str:
    cs = ", ".join(str(x) for x in PQ_CODEBOOKS[m][k])
    elem = f"(CAST({vec}[{m * PQ_SUB} + i] AS DOUBLE) - ([{cs}])[i])"
    return (
        f"list_sum(list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> {elem} * {elem}))"
    )


def _argmin_case(d: list[str], sql: bool) -> str:
    """Deterministic argmin over distance expressions (first-lowest-index
    tie-break), identical CASE chain on both engines."""
    kw = ("CASE ", " WHEN ", " THEN ", " ELSE ", " END") if sql else (
        "case ", " when ", " then ", " else ", " end")
    case, when, then, els, end = kw
    parts = [case]
    for k in range(len(d) - 1):
        cond = " AND ".join(f"{d[k]} <= {d[j]}" for j in range(len(d)) if j != k)
        parts.append(f"{when}{cond}{then}{k}")
    parts.append(f"{els}{len(d) - 1}{end}")
    return "".join(parts)


def _pq_dists_sql(vec: str = "embedding") -> str:
    return ",\n           ".join(
        f"{_pq_dist_duck(m, k, vec)} AS d{m}_{k}"
        for m in range(PQ_M)
        for k in range(PQ_K)
    )


def _pq_codes_sql() -> str:
    cols = []
    for m in range(PQ_M):
        d = [f"d{m}_{k}" for k in range(PQ_K)]
        cols.append(f"({_argmin_case(d, sql=True)}) AS c{m}")
        cols.append(f"least({', '.join(d)}) AS e{m}")
    return ",\n           ".join(cols)


@register(
    "pq_code_stats",
    oracle=f"""
WITH dists AS (
    SELECT vec_id,
           {_pq_dists_sql()}
    FROM embeddings
),
codes AS (
    SELECT vec_id,
           {_pq_codes_sql()}
    FROM dists
)
SELECT CAST({" + ".join(f"c{m} * {PQ_K ** m}" for m in range(PQ_M))} AS INT)
           AS pq_code,
       COUNT(*) AS n_vecs,
       ROUND(SUM({" + ".join(f"e{m}" for m in range(PQ_M))}) / COUNT(*), 6)
           AS avg_qerr
FROM codes
GROUP BY 1
""",
    tags=("similarity", "llm", "pq"),
)
def pq_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of every embedding + per-code stats: codes are a pure
    map (argmin over fixed literal codebooks), so at 100 TB the encode
    stage is shuffle-free and the single shuffle here is the 256-key code
    histogram. avg_qerr is the mean total quantization error — the
    quantity PQ training minimizes."""
    e = load_table(spark, sf_dir, "embeddings")
    for m in range(PQ_M):
        for k in range(PQ_K):
            e = e.withColumn(f"d{m}_{k}", F.expr(_pq_dist_spark(m, k)))
    for m in range(PQ_M):
        d = [f"d{m}_{k}" for k in range(PQ_K)]
        e = e.withColumn(f"c{m}", F.expr(_argmin_case(d, sql=False)))
        e = e.withColumn(f"e{m}", F.least(*[F.col(x) for x in d]))
    code = sum(F.col(f"c{m}") * (PQ_K**m) for m in range(PQ_M))
    qerr = sum(F.col(f"e{m}") for m in range(PQ_M))
    return (
        e.select(code.cast("int").alias("pq_code"), qerr.alias("qerr"))
        .groupBy("pq_code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("qerr") / F.count(F.lit(1)), 6).alias("avg_qerr"),
        )
    )


@register(
    "pq_adc_topk_query0",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dists AS (
    SELECT vec_id,
           {_pq_dists_sql()}
    FROM embeddings
    WHERE vec_id <> 0
),
codes AS (
    SELECT vec_id,
           {_pq_codes_sql()}
    FROM dists
),
lut AS (
    SELECT {", ".join(f"{_pq_dist_duck(m, k, 'qv')} AS q{m}_{k}"
                      for m in range(PQ_M) for k in range(PQ_K))}
    FROM q
)
SELECT vec_id,
       ROUND({" + ".join(
           "(CASE c%d %s END)" % (
               m,
               " ".join(f"WHEN {k} THEN q{m}_{k}" for k in range(PQ_K)),
           )
           for m in range(PQ_M)
       )}, 6) AS adc_dist
FROM codes, lut
ORDER BY adc_dist, vec_id
LIMIT 10
""",
    tags=("similarity", "llm", "pq", "ann"),
)
def pq_adc_topk_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: the query (vec_id=0) computes a
    {PQ_M}x{PQ_K} lookup table of exact subvector->centroid distances
    (one tiny broadcast row), and every candidate is scored by {PQ_M}
    table lookups on its stored code — the billion-scale ANN scoring
    shape, where candidates never touch their original vectors. Top-10
    by approximate distance, deterministically rounded and tie-broken."""
    e = load_table(spark, sf_dir, "embeddings")
    docs = e.where(F.col("vec_id") != 0)
    for m in range(PQ_M):
        for k in range(PQ_K):
            docs = docs.withColumn(f"d{m}_{k}", F.expr(_pq_dist_spark(m, k)))
    for m in range(PQ_M):
        d = [f"d{m}_{k}" for k in range(PQ_K)]
        docs = docs.withColumn(f"c{m}", F.expr(_argmin_case(d, sql=False)))
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    for m in range(PQ_M):
        for k in range(PQ_K):
            q = q.withColumn(f"q{m}_{k}", F.expr(_pq_dist_spark(m, k, "qv")))
    joined = docs.crossJoin(F.broadcast(q.drop("qv")))
    adc = None
    for m in range(PQ_M):
        lookup = F.when(F.col(f"c{m}") == 0, F.col(f"q{m}_0"))
        for k in range(1, PQ_K):
            lookup = lookup.when(F.col(f"c{m}") == k, F.col(f"q{m}_{k}"))
        adc = lookup if adc is None else adc + lookup
    scored = joined.select("vec_id", F.round(adc, 6).alias("adc_dist"))
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(10)


@register(
    "ivfpq_topk_query1",
    oracle=f"""
WITH {_SCORED_CENTS_SQL}, assigned AS (
    SELECT vec_id, embedding, cent_id FROM scored_cents WHERE rn = 1
), dists AS (
    SELECT vec_id, cent_id,
           {_pq_dists_sql()}
    FROM assigned
), codes AS (
    SELECT vec_id, cent_id,
           {_pq_codes_sql()}
    FROM dists
), q AS (
    SELECT embedding AS qv, cent_id AS qcent
    FROM assigned WHERE vec_id = {IVF_QUERY_ID}
), lut AS (
    SELECT qcent,
           {", ".join(f"{_pq_dist_duck(m, k, 'qv')} AS q{m}_{k}"
                      for m in range(PQ_M) for k in range(PQ_K))}
    FROM q
)
SELECT c.vec_id, c.cent_id,
       ROUND({" + ".join(
           "(CASE c%d %s END)" % (
               m,
               " ".join(f"WHEN {k} THEN q{m}_{k}" for k in range(PQ_K)),
           )
           for m in range(PQ_M)
       )}, 6) AS adc_dist
FROM codes c, lut
WHERE c.vec_id <> {IVF_QUERY_ID} AND c.cent_id = lut.qcent
ORDER BY adc_dist, vec_id
LIMIT 5
""",
    tags=("similarity", "llm", "ivf", "pq", "ann"),
)
def ivfpq_topk_query1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composed billion-scale index shape. Vectors are routed
    to inverted lists by nearest centroid (broadcast assign, cell id as
    the partition key at scale) AND stored as one-byte PQ codes; a query
    probes only its own cell and scores candidates with its ADC lookup
    table — never touching a full vector at search time. Candidate
    generation is an equi-join on cent_id, scoring is {PQ_M} table
    lookups per candidate (faiss-IVFPQ shape, raw-vector codebooks).
    Deterministic rounding/tie-breaks keep it oracle-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = cosine_assigned_cells(e)
    docs = assigned.where(F.col("vec_id") != IVF_QUERY_ID)
    for m in range(PQ_M):
        for k in range(PQ_K):
            docs = docs.withColumn(f"d{m}_{k}", F.expr(_pq_dist_spark(m, k)))
    for m in range(PQ_M):
        d = [f"d{m}_{k}" for k in range(PQ_K)]
        docs = docs.withColumn(f"c{m}", F.expr(_argmin_case(d, sql=False)))
    q = assigned.where(F.col("vec_id") == IVF_QUERY_ID).select(
        F.col("embedding").alias("qv"), F.col("cent_id").alias("qcent")
    )
    for m in range(PQ_M):
        for k in range(PQ_K):
            q = q.withColumn(f"q{m}_{k}", F.expr(_pq_dist_spark(m, k, "qv")))
    joined = docs.join(
        F.broadcast(q.drop("qv")), docs.cent_id == F.col("qcent")
    )
    adc = None
    for m in range(PQ_M):
        lookup = F.when(F.col(f"c{m}") == 0, F.col(f"q{m}_0"))
        for k in range(1, PQ_K):
            lookup = lookup.when(F.col(f"c{m}") == k, F.col(f"q{m}_{k}"))
        adc = lookup if adc is None else adc + lookup
    scored = joined.select("vec_id", "cent_id", F.round(adc, 6).alias("adc_dist"))
    return scored.orderBy(F.asc("adc_dist"), F.asc("vec_id")).limit(5)


KNN_K = 3


def bucketed_cosine_pairs(e: DataFrame, with_labels: bool = False) -> DataFrame:
    """(vec_id[, label], neighbor_id[, n_label], cos_sim): every ordered
    same-RP-bucket pair with its round-6 cosine — the ONE bucket-bounded
    pair stream shared by the batch k-NN self-join and the triplet miner
    (label columns only when requested, so the k-NN plan is unchanged).

    The norm is computed ONCE per vector, not per pair: each vector joins
    ~bucket-size pairs, so hoisting the two 64-term norm folds out of the
    pair expression removes ~2/3 of the per-pair flops (measured 2.4x at
    sf0.1, BASELINE.md); the materialized frame is also what the
    self-join reuses instead of recomputing the bucket projection twice."""
    cols = ["vec_id", "embedding"] + (["label"] if with_labels else [])
    # kept: the perfbench analytics workload runs it (knn_join_bucketed_top3)
    b = materialize(
        e.select(
            *cols,
            F.expr(_bucket_expr_spark()).alias("bucket"),
            F.expr(_NORM_SPARK.format(v="embedding")).alias("nrm"),
        ),
        "bucketed_cosine_pairs.b",
    )
    a_cols = [
        F.col("vec_id"),
        F.col("embedding").alias("emb_a"),
        F.col("bucket"),
        F.col("nrm").alias("nrm_a"),
    ] + ([F.col("label")] if with_labels else [])
    c_cols = [
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_c"),
        F.col("bucket"),
        F.col("nrm").alias("nrm_c"),
    ] + ([F.col("label").alias("n_label")] if with_labels else [])
    cos = F.round(
        F.expr(_dot2_spark("emb_a", "emb_c")) / (F.col("nrm_a") * F.col("nrm_c")),
        6,
    )
    out = (
        ["vec_id", "label", "neighbor_id", "n_label"]
        if with_labels
        else ["vec_id", "neighbor_id"]
    )
    # fan_out both join sides on the bucket key (the close_pair_edges
    # discipline): the within-bucket pair stream pays a 64-dim cosine
    # fold per candidate, and the checkpointed projection is one few-MB
    # partition AQE would otherwise keep coalesced through the join.
    return (
        fan_out(b.select(*a_cols), "bucket")
        .join(fan_out(b.select(*c_cols), "bucket"), "bucket")
        .where(F.col("vec_id") != F.col("neighbor_id"))
        .select(*out, cos.alias("cos_sim"))
    )


@register(
    "knn_join_bucketed_top3",
    oracle=f"""
WITH b AS (
    SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket,
           {_NORM_DUCK.format(v="embedding")} AS nrm
    FROM embeddings
), pairs AS (
    SELECT a.vec_id,
           c.vec_id AS neighbor_id,
           ROUND(({_dot2_duck("a.embedding", "c.embedding")})
                 / (a.nrm * c.nrm), 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
), ranked AS (
    SELECT vec_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM pairs
)
SELECT vec_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos_sim
FROM ranked WHERE rnk <= {KNN_K}
""",
    tags=("similarity", "knn", "join", "llm"),
)
def knn_join_bucketed_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join: every vector's top-3 cosine neighbors WITHIN its
    RP-LSH bucket — the batch all-docs ANN workload (vs the single-query
    top-k family above).

    Scale shape: the bucket equi-join bounds candidate generation to
    same-bucket pairs (never all-pairs; at 100 TB you add planes until
    buckets are task-sized, and AQE splits residual hot buckets), then a
    per-vector ranking window on the pair stream.  Cosines round to 6
    before ranking with neighbor_id as the total-order tiebreak, so the
    top-k frontier is engine-stable (same convention as the IVF family).
    Vectors whose bucket has fewer than k mates emit fewer rows — exact
    on both engines by construction."""
    from pyspark.sql import Window

    pairs = bucketed_cosine_pairs(load_table(spark, sf_dir, "embeddings"))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_K)
        .select("vec_id", F.col("rnk").cast("int").alias("rnk"), "neighbor_id", "cos_sim")
    )


# SemDeDup (Abbas et al. 2023): semantic deduplication by clustering the
# embedding space and pruning near-identical pairs WITHIN each cluster —
# the cluster assignment is the blocking key that keeps the pair join
# bounded (k ~ sqrt(n) cells in the paper; the fixture reuses the IVF
# seed-centroid convention).  Cosine threshold shared with the
# RP-bucketed near-dup family so the two blocking strategies are
# directly comparable.
SEMDEDUP_COS = 0.4


def normed_cells(e: DataFrame, n_cells: int = N_CENTROIDS) -> DataFrame:
    """(vec_id, embedding, cent_id, nrm): :func:`cosine_assigned_cells`
    with each vector's norm hoisted once, materialized — the assignment
    frame :func:`close_pair_edges` probes, for every SemDeDup caller."""
    # kept: pinned by test_registry_wide_no_cartesian_no_stray_nlj (the
    # 1-row centroid broadcast stays out of the callers' plans)
    return materialize(
        cosine_assigned_cells(e, n_cells=n_cells).withColumn(
            "nrm", F.expr(_NORM_SPARK.format(v="embedding"))
        ),
        "normed_cells",
    )


def close_pair_edges(assigned: DataFrame) -> DataFrame:
    """(cent_id, a_id, b_id): within-cell close pairs — a_id < b_id and
    ROUND-6 cosine >= SEMDEDUP_COS — over an assignment frame carrying
    (vec_id, embedding, nrm, cent_id).  The ONE Spark-side pair probe
    shared by ``semantic_dedup_cell_stats_df``,
    ``semantic_dedup_admissions``, and ``semantic_cc_survivors`` (a
    third hand-inlined copy was how the family would drift; the oracles
    mirror it per query because their output shapes differ)."""

    # fan_out both join sides on the blocking key: the within-cell pair
    # probe amplifies CPU quadratically in the cell population (a 64-dim
    # rounded-cosine fold per candidate pair), while the assignment frame
    # is a few-MB one-partition checkpoint — AQE's size-based coalescing
    # would run the whole probe on ONE task (explode discipline; measured
    # 2.10 s -> 0.70 s at sf0.1).  The explicit-width exchanges are
    # reused by the join, so this adds no extra shuffle.
    a = fan_out(
        assigned.select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_emb"),
            F.col("nrm").alias("nrm_a"),
            "cent_id",
        ),
        "cent_id",
    )
    b = fan_out(
        assigned.select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_emb"),
            F.col("nrm").alias("nrm_b"),
            "cent_id",
        ),
        "cent_id",
    )
    return (
        a.join(b, "cent_id")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            F.round(
                F.expr(_dot2_spark("a_emb", "b_emb"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            )
            >= SEMDEDUP_COS
        )
        .select("cent_id", "a_id", "b_id")
    )


def semantic_dedup_oracle_sql(n_cells: int = N_CENTROIDS) -> str:
    """DuckDB oracle for ``semantic_dedup_cell_stats_df`` at k cells.
    The cosine rounds to 6 before the threshold comparison on BOTH
    engines (same determinism convention as the ranking family).  Note
    rounding relocates the engine-sensitivity boundary rather than
    removing it — a pair whose fold-order difference straddles a 1e-6
    rounding edge could still flip — but it shrinks the sensitive set
    from "every representable cosine" to a measure-near-zero boundary
    set, which is the repo-wide convention the driver gate has held
    across rounds."""
    return f"""
WITH {_scored_cents_sql(n_cells)}, assigned AS (
    SELECT vec_id, embedding, {_NORM_DUCK.format(v="embedding")} AS nrm, cent_id
    FROM scored_cents WHERE rn = 1
), dropped AS (
    SELECT DISTINCT b.vec_id, b.cent_id
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE ROUND(({_dot2_duck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6)
          >= {SEMDEDUP_COS}
)
SELECT a.cent_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_survivors
FROM assigned a LEFT JOIN dropped d
  ON a.vec_id = d.vec_id AND a.cent_id = d.cent_id
GROUP BY a.cent_id
"""


@register(
    "semantic_dedup_cell_stats",
    oracle=semantic_dedup_oracle_sql(),
    tags=("similarity", "dedup", "llm", "semdedup"),
)
def semantic_dedup_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-blocked semantic deduplication (Abbas et al.
    2023).  Every vector is assigned to its nearest seed centroid (the
    same broadcast-argmax pass as the IVF family), then near-identical
    pairs (cosine >= 0.4) are pruned WITHIN each cell, keeping the
    smallest vec_id of each close pair.

    Scale shape: the cell id is the blocking key — the pair join is a
    cell equi-join, never a global all-pairs (the paper sizes k so cells
    stay bounded; AQE splits residual hot cells).  Norms are computed
    once per vector in the assignment pass, not per pair.  Output is
    per-cell counts (vectors / dropped / survivors) — compact, BIGINT,
    tie-proof — which verifies the whole assignment + pruning pipeline.
    Complementary to `embedding_cosine_near_dup` (RP-hyperplane
    blocking): same threshold, different recall/blocking trade.  The
    registered query pins k = N_CENTROIDS; ``semantic_dedup_cell_stats_df``
    takes ``n_cells`` (paper guidance k ~ sqrt(n)) and is parity-tested
    at a larger k in tests/test_dedup_scale.py."""
    return semantic_dedup_cell_stats_df(spark, sf_dir)


def semantic_dedup_cell_stats_df(
    spark: SparkSession, sf_dir: str, n_cells: int = N_CENTROIDS
) -> DataFrame:
    """The SemDeDup plan at ``n_cells`` coarse cells (k ~ sqrt(n) in the
    paper; larger k → smaller cells → cheaper pair join, lower recall)."""
    assigned = normed_cells(load_table(spark, sf_dir, "embeddings"), n_cells)
    dropped = (
        close_pair_edges(assigned)
        .select("cent_id", F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, ["cent_id", "vec_id"], "left")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("is_dropped").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_survivors"),
        )
    )


# Incremental semantic dedup: the embedding twin of
# `dedup.incremental_lsh_dedup` — a 100 TB embedding corpus is not
# re-deduplicated from scratch each ingest; the per-cell assignment
# table (with hoisted norms) is the PERSISTED artifact, and each new
# batch assigns only its own vectors, then probes the standing cells
# with a cent_id equi-join.  Same deterministic fixture split: md5
# bucket 0 of 4 over vec_id is the "incoming batch" (~25%).
INCR_EMB_BUCKETS = 4


def _incr_emb_incoming_sql() -> str:
    from ..operators.helpers import md5_bucket_sql

    return md5_bucket_sql("vec_id", INCR_EMB_BUCKETS) + " = 0"


def _incremental_semantic_oracle() -> str:
    incoming = _incr_emb_incoming_sql()
    cos = (
        f"ROUND(({_dot2_duck('f.embedding', 's.embedding')}) / (f.nrm * s.nrm), 6)"
        f" >= {SEMDEDUP_COS}"
    )
    return f"""
WITH {_scored_cents_sql()}, assigned AS (
    SELECT vec_id, embedding, {_NORM_DUCK.format(v="embedding")} AS nrm, cent_id
    FROM scored_cents WHERE rn = 1
), fresh AS (SELECT * FROM assigned WHERE {incoming}),
state AS (SELECT * FROM assigned WHERE NOT ({incoming})),
corpus_hits AS (
    SELECT f.vec_id, COUNT(*) AS n
    FROM fresh f JOIN state s ON f.cent_id = s.cent_id
    WHERE {cos}
    GROUP BY f.vec_id
),
batch_hits AS (
    SELECT f.vec_id, COUNT(*) AS n
    FROM fresh f JOIN fresh s
      ON f.cent_id = s.cent_id AND s.vec_id < f.vec_id
    WHERE {cos}
    GROUP BY f.vec_id
)
SELECT f.vec_id, f.cent_id,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_corpus_dups,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_batch_dups,
       (COALESCE(c.n, 0) = 0 AND COALESCE(b.n, 0) = 0) AS admitted
FROM fresh f
LEFT JOIN corpus_hits c ON f.vec_id = c.vec_id
LEFT JOIN batch_hits b ON f.vec_id = b.vec_id
"""


@register(
    "incremental_semantic_dedup",
    oracle=_incremental_semantic_oracle(),
    tags=("similarity", "dedup", "llm", "semdedup", "incremental"),
)
def incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit a new embedding batch against the standing corpus's
    persisted cell assignment — the incremental form of
    `semantic_dedup_admissions` and the embedding twin of
    `incremental_lsh_dedup`.

    Per incoming vector: how many standing-corpus vectors in its cell
    lie within the cosine threshold, how many SMALLER-id batch vectors
    do (first-wins within the batch, the same conservative
    non-recursive convention), and the admission verdict (no close
    neighbor anywhere).

    Scale shape: the assignment table is checkpointed once (standing in
    for the persisted per-cell artifact, partitioned by cent_id in
    production); both probes are cent_id equi-joins bounded by the
    k ~ sqrt(n) cell blocking — AQE broadcasts the fresh side when the
    batch is small, and the corpus embeddings are never re-assigned or
    re-normed.  Cosines round to 6 before the threshold on both
    engines."""
    from ..operators.helpers import md5_bucket

    assigned = normed_cells(load_table(spark, sf_dir, "embeddings")).withColumn(
        "incoming", md5_bucket("vec_id", INCR_EMB_BUCKETS) == 0
    )
    fresh = assigned.where("incoming").select(
        "vec_id", "embedding", "nrm", "cent_id"
    )
    state = assigned.where("NOT incoming").select(
        F.col("vec_id").alias("s_id"),
        F.col("embedding").alias("s_emb"),
        F.col("nrm").alias("s_nrm"),
        "cent_id",
    )
    close = F.round(
        F.expr(_dot2_spark("embedding", "s_emb")) / (F.col("nrm") * F.col("s_nrm")),
        6,
    ) >= SEMDEDUP_COS
    corpus_hits = (
        fresh.join(state, "cent_id")
        .where(close)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_corpus_dups"))
    )
    # within-batch probe: the shared close-pair helper over the fresh
    # slice (the larger id of each pair is the charged vector)
    batch_hits = (
        close_pair_edges(fresh)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_batch_dups"))
    )
    n_corpus = F.coalesce(F.col("n_corpus_dups"), F.lit(0))
    n_batch = F.coalesce(F.col("n_batch_dups"), F.lit(0))
    return (
        fresh.select("vec_id", "cent_id")
        .join(corpus_hits, "vec_id", "left")
        .join(batch_hits, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            n_corpus.alias("n_corpus_dups"),
            n_batch.alias("n_batch_dups"),
            ((n_corpus == 0) & (n_batch == 0)).alias("admitted"),
        )
    )


def _semantic_cc_oracle() -> str:
    return f"""
WITH RECURSIVE {_scored_cents_sql()}, assigned AS (
    SELECT vec_id, embedding, {_NORM_DUCK.format(v="embedding")} AS nrm, cent_id
    FROM scored_cents WHERE rn = 1
), good AS (
    SELECT a.vec_id AS va, b.vec_id AS vb
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE ROUND(({_dot2_duck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6)
          >= {SEMDEDUP_COS}
), edges AS (
    SELECT va AS src, vb AS dst FROM good
    UNION ALL
    SELECT vb, va FROM good
), reach(src, dst) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS vec_id,
       MIN(dst) AS component,
       CAST(MIN(dst) = src AS INT) AS survivor
FROM reach
GROUP BY src
"""


@register(
    "semantic_cc_survivors",
    oracle=_semantic_cc_oracle(),
    tags=("similarity", "dedup", "llm", "semdedup", "graph"),
)
def semantic_cc_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure SEMANTIC dedup: connected components over the
    within-cell close-pair graph (rounded cosine >= 0.4), min-id
    survivor per component — the embedding twin of
    ``connected_component_survivors`` and the closure-correct upgrade of
    ``semantic_dedup_cell_stats``'s pairwise min-id rule: a chain
    a~b, b~c with no direct a~c pair still collapses to ONE survivor.

    Blocking caveat (same class as the text side's DF cap): edges exist
    only WITHIN a cell, so a component cannot span cells — the paper's
    recall trade for keeping the pair join bounded.  Scale shape: the
    edge set reuses the checkpointed assignment and the cent_id
    equi-join; the closure is `connected_components_min_label` (one
    shuffle per round, O(cluster diameter) rounds — near-dup clusters
    are dense, so the diameter is small; the O(log n) star variant is a
    drop-in via `connected_components_star`).  Oracle: exact recursive
    CTE over the identical edge set."""
    from .dedup import connected_components_min_label

    e = load_table(spark, sf_dir, "embeddings")
    edges = close_pair_edges(normed_cells(e)).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    labels = connected_components_min_label(
        edges, e.select(F.col("vec_id").alias("doc_id"))
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "component",
        (F.col("component") == F.col("doc_id")).cast("int").alias("survivor"),
    )


# --- Multi-probe LSH (round 7) ----------------------------------------------
#
# Classic recall dial for hash-bucketed ANN (Lv et al., VLDB 2007): instead
# of duplicating the index across L hash tables, a query probes its own
# bucket PLUS the buckets at Hamming distance 1 (each one hyperplane sign
# flipped) in the SAME table — ~(1 + n_planes)x the candidates for zero
# extra index storage or build cost.

MULTIPROBE_FLIPS: tuple[int, ...] = (0,) + tuple(1 << h for h in range(N_PLANES))
MULTIPROBE_TOP_K = 5


@register(
    "multiprobe_lsh_topk_query0",
    oracle=f"""
WITH b AS (
    SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
probes AS (
    SELECT xor(qbucket, f.flip) AS pbucket, qv
    FROM q, (SELECT unnest({list(MULTIPROBE_FLIPS)}) AS flip) f
),
scored AS (
    SELECT vec_id, bucket,
           ROUND(({_DOTQ_DUCK})
                 / (({_NORM_DUCK.format(v='embedding')})
                    * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
    FROM b JOIN probes ON b.bucket = probes.pbucket
    WHERE vec_id <> 0
)
SELECT vec_id, bucket, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id
LIMIT {MULTIPROBE_TOP_K}
""",
    tags=("similarity", "llm", "lsh"),
)
def multiprobe_lsh_topk_query0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5 for vec_id=0: the query probes its own
    RP-LSH bucket plus the N_PLANES=4 Hamming-distance-1 buckets (one
    hyperplane sign flipped each), then exact-cosine-ranks the union.

    Same index and same scoring as ``rp_lsh_topk_query0``; only the probe
    set widens — the standard recall/cost dial when one bucket misses
    true neighbors that fell just across a hyperplane.  Plan shape: the
    (1 + N_PLANES = 5-row) probe table broadcasts into an equi-join on the
    bucket key, so the corpus side stays a single bucket-pruned pass —
    no extra hash tables, no re-bucketing, no shuffle beyond the one
    candidate join; the top-5 is TakeOrderedAndProject.  The probed
    buckets are distinct by construction (XOR with distinct masks), so
    no candidate dedup step is needed.  ``tests/test_properties.py``
    pins the recall guarantee: the multi-probe top-5 dominates the
    single-bucket top-5 pointwise and can only move toward the
    brute-force baseline (``cosine_topk_query0``)."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", F.expr(_bucket_expr_spark()).alias("bucket"))
    q = b.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    probes = q.select(
        "qvec",
        "qbucket",
        F.explode(F.array(*[F.lit(f) for f in MULTIPROBE_FLIPS])).alias("flip"),
    ).select(F.expr("qbucket ^ flip").alias("pbucket"), "qvec")
    scored = (
        b.where(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("bucket") == F.col("pbucket"))
        .select(
            "vec_id",
            "bucket",
            F.round(
                F.expr(_DOTQ_SPARK)
                / (
                    F.expr(_NORM_SPARK.format(v="embedding"))
                    * F.expr(_NORM_SPARK.format(v="qvec"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(MULTIPROBE_TOP_K)


# --- IVF multi-probe (round 7): nprobe=2 ------------------------------------
#
# The IVF twin of `multiprobe_lsh_topk_query0`: recall for an IVF index is
# dialed by nprobe — the query scores all k coarse centroids (k rows, a
# driver-free broadcast pass) and scans the nearest NPROBE inverted lists
# instead of one.  faiss's `nprobe` parameter, re-expressed as a 2-row
# broadcast equi-join on cent_id.

IVF_NPROBE = 2


@register(
    "ivf_multiprobe_topk_query1",
    oracle=f"""
WITH {_SCORED_CENTS_SQL}, assigned AS (
    SELECT vec_id, embedding, cent_id FROM scored_cents WHERE rn = 1
), qrow AS (
    SELECT embedding AS qv FROM embeddings WHERE vec_id = {IVF_QUERY_ID}
), qcells AS (
    SELECT c.cent_id, qv
    FROM cents c, qrow
    ORDER BY ROUND(({_dot2_duck('c.cvec', 'qv')})
                   / (({_NORM_DUCK.format(v='c.cvec')})
                      * ({_NORM_DUCK.format(v='qv')})), 6) DESC, c.cent_id
    LIMIT {IVF_NPROBE}
)
SELECT a.vec_id, a.cent_id,
       ROUND(({_dot2_duck('a.embedding', 'qv')})
             / (({_NORM_DUCK.format(v='a.embedding')})
                * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
FROM assigned a JOIN qcells p ON a.cent_id = p.cent_id
WHERE a.vec_id <> {IVF_QUERY_ID}
ORDER BY cos_sim DESC, vec_id
LIMIT 5
""",
    tags=("similarity", "llm", "ivf"),
)
def ivf_multiprobe_topk_query1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for vec_id=IVF_QUERY_ID probing the IVF_NPROBE=2 nearest
    inverted lists instead of one — faiss's recall dial, Spark-shaped.

    The query ranks the N_CENTROIDS=8 coarse centroids by rounded cosine (a
    constant-size broadcast computation, no corpus involvement) and keeps the
    top IVF_NPROBE; candidates are then an equi-join of the assigned corpus
    against that IVF_NPROBE-row broadcast probe table on cent_id.  Identical
    assignment definition as ``ivf_topk_query1``
    (`cosine_assigned_cells`, shuffle-free), identical scoring fold;
    only the probe count widens — recall can only move toward the
    brute-force baseline while the scan stays bounded to nprobe lists.
    Top-5 is TakeOrderedAndProject (no global sort);
    ``tests/test_properties.py`` pins pointwise score dominance over the
    single-probe form."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = cosine_assigned_cells(e)
    q = e.where(F.col("vec_id") == IVF_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    cents = e.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    qcells = (
        cents.crossJoin(F.broadcast(q))
        .orderBy(
            F.round(
                F.expr(_dot2_spark("cvec", "qv"))
                / (
                    F.expr(_NORM_SPARK.format(v="cvec"))
                    * F.expr(_NORM_SPARK.format(v="qv"))
                ),
                6,
            ).desc(),
            F.asc("cent_id"),
        )
        .limit(IVF_NPROBE)
        .select("cent_id", "qv")
    )
    scored = (
        assigned.where(F.col("vec_id") != IVF_QUERY_ID)
        .join(F.broadcast(qcells), "cent_id")
        .select(
            "vec_id",
            "cent_id",
            F.round(
                F.expr(_dot2_spark("embedding", "qv"))
                / (
                    F.expr(_NORM_SPARK.format(v="embedding"))
                    * F.expr(_NORM_SPARK.format(v="qv"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(5)


# --- Embedding-space quality audit (round 7) ---------------------------------
#
# Label-margin audit over the embedding table: per-label centroids, then
# for every vector the cosine to its OWN label centroid minus the best
# cosine to any OTHER label's centroid.  Low/negative margins flag label
# noise and entangled classes — the standard pre-finetuning sanity check
# on an embedding column.  Per-dim centroid means are rounded to 6 before
# any cosine so the (sum-order-sensitive) averages are engine-stable.


@register(
    "embedding_margin_stats",
    oracle=f"""
WITH cent AS (
    SELECT label, i,
           ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000)
                               AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6) AS cval
    FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) u
    GROUP BY label, i
),
cvec_lists AS (
    SELECT label AS clabel, list(cval ORDER BY i) AS cvec
    FROM cent GROUP BY label
),
cvecs AS (
    SELECT clabel, cvec,
           {_NORM_DUCK.format(v='cvec')} AS cnrm
    FROM cvec_lists
),
scored AS (
    SELECT e.vec_id, e.label, c.clabel,
           ROUND(({_dot2_duck('e.embedding', 'c.cvec')})
                 / (({_NORM_DUCK.format(v='e.embedding')}) * c.cnrm), 6) AS cos
    FROM embeddings e CROSS JOIN cvecs c
),
margins AS (
    SELECT vec_id, label,
           MAX(CASE WHEN clabel = label THEN cos END)
               - MAX(CASE WHEN clabel <> label THEN cos END) AS margin
    FROM scored
    GROUP BY vec_id, label
), mq AS (
    SELECT label, margin,
           CAST(ROUND(margin * 1000000) AS BIGINT) AS q
    FROM margins
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_margin,
       ROUND(MIN(margin), 6) AS min_margin,
       CAST(COUNT(*) FILTER (WHERE margin < 0) AS BIGINT) AS n_confused
FROM mq
GROUP BY label
""",
    tags=("similarity", "llm", "audit"),
)
def embedding_margin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding margin audit: margin(v) = cos(v, own-label
    centroid) − max over other labels of cos(v, that centroid); report
    count, mean/min margin, and how many vectors sit closer to a foreign
    centroid (label-noise candidates) per label.

    Plan shape mirrors `cosine_assigned_cells`' shuffle-free trick: the
    per-(label, dim) means aggregate once (a |labels|x{EMB_DIM}-row
    shuffle — constant-size, NOT corpus-size), fold into ONE
    array-of-structs row, and broadcast; every vector then computes its
    full margin in a single pure-map expression (own-centroid cosine and
    best-other cosine from the same broadcast array), followed by one
    tiny per-label aggregate.  The corpus crosses exactly one
    hashpartitioning exchange (the centroid mean) plus the final
    |labels|-row group-by; nothing is ever corpus x labels shaped on
    disk or shuffle.

    Determinism (hardened round 15 — this query fired the repo's first
    observed round(6) KNIFE-EDGE flake, a 1e-6 avg_margin flip between
    two otherwise-green sf0.01 sweeps): the two data-sized float sums
    are now exact-integer sums on the 1e-6 grid (helpers.py
    FLOOR/ROUND-quantize convention, the _PCA_SCALE precedent) —
    centroid dims quantize each component before summation, and
    avg_margin sums the per-vector margins' exact 6-decimal integers —
    so neither engine's summation order can move a boundary case.
    min/n_confused compare identical per-vector doubles (order-free);
    the cosine itself is the repo's ONE fold/divide/round(6)
    pipeline."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("val").cast("double") * 1000000, 0).cast(
                        "bigint"
                    )
                ).cast("double")
                / (F.count(F.lit(1)) * 1000000.0),
                6,
            ).alias("cval")
        )
    )
    cvecs = cent.groupBy("label").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, cval))), s -> s.cval)").alias(
            "cvec"
        )
    )
    cents_row = cvecs.select(
        F.struct(
            F.col("label").alias("clabel"),
            F.col("cvec").alias("cvec"),
            F.expr(_NORM_SPARK.format(v="cvec")).alias("cnrm"),
        ).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("cents"))
    dot = _dot2_spark("embedding", "c.cvec")
    cos_expr = f"round(({dot}) / (_nrm_e * c.cnrm), 6)"
    own = (
        f"array_max(transform(filter(cents, c -> c.clabel = label), "
        f"c -> {cos_expr}))"
    )
    best_other = (
        f"array_max(transform(filter(cents, c -> c.clabel != label), "
        f"c -> {cos_expr}))"
    )
    margins = (
        e.select(
            "vec_id",
            "label",
            "embedding",
            F.expr(_NORM_SPARK.format(v="embedding")).alias("_nrm_e"),
        )
        .crossJoin(F.broadcast(cents_row))
        .select("vec_id", "label", F.expr(f"({own}) - ({best_other})").alias("margin"))
    )
    mq = margins.withColumn(
        "q", F.round(F.col("margin") * 1000000, 0).cast("bigint")
    )
    return mq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("q").cast("double") / (F.count(F.lit(1)) * 1000000.0), 6
        ).alias("avg_margin"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.count(F.when(F.col("margin") < 0, 1)).alias("n_confused"),
    )


# --- Hard-triplet mining (round 7) ---------------------------------------------
#
# The training-data stage for embedding models (sentence-transformers /
# SimCSE-style supervised fine-tuning): every anchor needs its most-similar
# SAME-label neighbor (the positive) and its most-similar DIFFERENT-label
# neighbor (the HARD negative — random negatives are too easy to teach the
# margin).  Candidates come from the same RP-LSH bucket as the batch k-NN
# self-join — hard negatives are by definition high-cosine, exactly what
# LSH buckets concentrate, so the blocking that bounds the join is also
# the recall argument.


def _triplet_oracle_sql() -> str:
    bucket = _bucket_sql_duck()
    norm = _NORM_DUCK.format(v="embedding")
    dot = _dot2_duck("a.embedding", "c.embedding")
    return f"""
WITH b AS (
    SELECT vec_id, label, embedding, {bucket} AS bucket, {norm} AS nrm
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id, a.label, c.vec_id AS neighbor_id, c.label AS n_label,
           ROUND(({dot}) / (a.nrm * c.nrm), 6) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
),
pos AS (
    SELECT vec_id, label, neighbor_id AS pos_id, cos_sim AS pos_cos,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS r
    FROM pairs WHERE n_label = label
),
neg AS (
    SELECT vec_id, neighbor_id AS neg_id, cos_sim AS neg_cos,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos_sim DESC, neighbor_id) AS r
    FROM pairs WHERE n_label <> label
)
SELECT p.vec_id, p.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       ROUND(p.pos_cos - n.neg_cos, 6) AS margin
FROM pos p
JOIN neg n ON n.vec_id = p.vec_id
WHERE p.r = 1 AND n.r = 1
"""


@register(
    "hard_triplet_mining",
    oracle=_triplet_oracle_sql(),
    tags=("similarity", "llm", "traindata", "knn"),
)
def hard_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor vector: the most-similar same-label neighbor (positive)
    and most-similar different-label neighbor (hard negative) within its
    RP-LSH bucket, plus the triplet margin pos_cos - neg_cos.  Anchors
    lacking either mate in their bucket emit nothing (exact on both
    engines by construction).

    Scale shape: candidate generation is the ONE shared bucket-bounded
    pair stream (``bucketed_cosine_pairs``); both extremes then come out
    of a SINGLE vec_id-keyed aggregation — max over (cos_sim, -id)
    structs, so ties break to the smaller neighbor exactly like the
    oracle's (cos DESC, id ASC) ranking — instead of two ranking windows
    plus a self-join, i.e. one shuffle and one pass over the pairs.
    Cosines round to 6 before comparison (family convention), and the
    margin is a subtraction of two identical-on-both-engines doubles."""
    pairs = bucketed_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), with_labels=True
    )
    pos_s = F.expr(
        "max(CASE WHEN n_label = label THEN "
        "named_struct('cs', cos_sim, 'ni', -neighbor_id) END)"
    )
    neg_s = F.expr(
        "max(CASE WHEN n_label <> label THEN "
        "named_struct('cs', cos_sim, 'ni', -neighbor_id) END)"
    )
    agg = pairs.groupBy("vec_id", "label").agg(pos_s.alias("p"), neg_s.alias("n"))
    return (
        agg.where(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "vec_id",
            "label",
            (-F.col("p.ni")).cast("bigint").alias("pos_id"),
            F.col("p.cs").alias("pos_cos"),
            (-F.col("n.ni")).cast("bigint").alias("neg_id"),
            F.col("n.cs").alias("neg_cos"),
            F.round(F.col("p.cs") - F.col("n.cs"), 6).alias("margin"),
        )
    )


# --- distributed PCA over the embedding corpus (round 10) ----------------------
#
# The classic "tall-skinny" decomposition: the corpus is n x d with n
# huge and d = 64 tiny, so PCA reduces to (1) a distributed Gram/moment
# aggregation — one pass, map-side combinable, d*(d+1)/2 numbers per
# partial — and (2) an eigendecomposition of the d x d covariance on the
# driver, which is microscopic.  The same shape MLlib's RowMatrix PCA
# and every warehouse's covariance pushdown use.
#
# Determinism contract: embeddings quantize to 1e-6 ints BEFORE the
# products, so every partial Gram is EXACT int64 arithmetic (order-free
# — no summation-order ulp drift between runs, partitionings, or the
# replica), and the cross-batch combine is an EXACT DECIMAL(38,0)
# Catalyst aggregation (order-free integer arithmetic, headroom 1e38 ≫
# any reachable Gram sum).  numpy's eigh on the resulting float64
# covariance is then a pure function of exact inputs.  int64 bound:
# |x| <= ~10 quantizes to 1e7; products 1e14; a 10k-row Arrow batch
# sums to ~1e18 < 2^63 — the per-batch bound that matters; cross-batch
# sums are DECIMAL(38,0).
#
# Scale story (VERDICT r12 #2 — this used to be a driver-side fold):
# each Arrow batch emits ONE flattened partial row ([n] ++ s ++ g,
# 1 + d + d² = 4,161 longs), posexplode turns it into (i, v) pairs, and
# a groupBy(i) DECIMAL sum reduces them DISTRIBUTED with map-side
# partial aggregation — so each map task ships at most 4,161 combined
# rows into the exchange regardless of how many batches it saw, and the
# driver collects exactly the final 4,161 totals.  At the 100 TB design
# point (~10⁷ partials) the old path moved hundreds of GB through the
# driver; this path moves #map-tasks × 4,161 tiny rows through one
# shuffle and 4,161 rows to the driver.  Plan-pinned by
# tests/test_plans.py::test_pca_moment_reduction_is_distributed.

PCA_TOP_K = 8
_PCA_SCALE = 1_000_000
_PCA_BASIS_SCALE = 1 << 20  # eigenvector quantization for the apply half


def _pca_moment_totals_frame(parts: DataFrame) -> DataFrame:
    """The distributed moment reduction over flattened per-batch
    partials: posexplode to (i, v), groupBy(i), exact DECIMAL(38,0) sum.
    Split out so tests/test_plans.py can pin the physical plan (partial
    + final HashAggregate around ONE exchange keyed on i)."""
    return (
        parts.select(F.posexplode("flat").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("t"))
    )


def _pca_gram_partials_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Arrow-batch flattened moment partials ([n] ++ s ++ g as one
    array<long> row) over the 1e-6-quantized embedding corpus — the
    map side of the distributed Gram reduction.  ONE definition shared
    by the collecting train/apply halves (via
    :func:`_exact_embedding_moments`) and the driver-oracled
    ``pca_gram_matrix`` query.

    Quantization contract: the multiply runs in FLOAT64 (numpy promotes
    the float32 embeddings against the int scale constant), then
    ``np.rint`` rounds half-to-even — the oracle mirrors this exactly
    with ``CAST(... AS DOUBLE) * scale`` + DuckDB ``round_even`` (a
    float32 multiply rounds ~0.4% of components differently, so the
    precision of this step is part of the cross-engine contract)."""
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram_partials(batches):
        for pdf in batches:
            x = np.rint(
                np.stack(pdf["embedding"].to_numpy()) * _PCA_SCALE
            ).astype(np.int64)
            # Runtime guard for the int64-exactness proof (ADVICE r10):
            # each Gram entry is a sum of len(x) products bounded by
            # max|x|^2, so it stays exactly representable iff
            # len(x) * max|x|^2 < 2^62.  The bound holds for the default
            # ~10k-row Arrow batches and |x| <= _PCA_SCALE * max|emb|,
            # but a raised arrow.maxRecordsPerBatch or larger-magnitude
            # embeddings must fail loudly here, not wrap silently.
            mx = int(np.abs(x).max(initial=0))
            if len(x) * mx * mx >= 2**62:
                raise OverflowError(
                    "pca gram_partials int64 bound violated: "
                    f"rows={len(x)} max|x|={mx}"
                )
            g = x.T @ x  # d x d int64, exact (guarded above)
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {"flat": [[len(x)] + s.tolist() + g.reshape(-1).tolist()]}
            )

    return e.mapInPandas(gram_partials, "flat array<long>")


def _exact_embedding_moments(
    spark: SparkSession, sf_dir: str
) -> tuple[int, list[int], list[int]]:
    """(n, sum-vector, flattened Gram) of the 1e-6-quantized embedding
    corpus — EXACT integers (int64 per-batch partials, DECIMAL(38,0)
    distributed cross-batch reduction; the driver sees only the final
    1 + d + d² totals).  Shared by the PCA train half
    (pca_explained_variance) and the apply half (pca_projected_coords)
    so both eigendecompose the bit-identical covariance.  The
    distributed reduction itself carries driver-hash evidence via the
    oracle-exact ``pca_gram_matrix`` query (round 15)."""
    d = EMB_DIM
    parts = _pca_gram_partials_frame(spark, sf_dir)
    # Distributed exact reduction (VERDICT r12 #2): (index, value) pairs
    # sum per index in DECIMAL(38,0) — order-free integer arithmetic
    # with partial (map-side) aggregation, so no O(#batches) rows ever
    # reach the driver; the collect below is exactly 1 + d + d² rows.
    totals = _pca_moment_totals_frame(parts).collect()
    vals = {int(r["i"]): int(r["t"]) for r in totals}
    assert len(vals) == 1 + d + d * d
    n = vals[0]
    s = [vals[1 + i] for i in range(d)]
    g = [vals[1 + d + i] for i in range(d * d)]
    return n, s, g


@register(
    "pca_gram_matrix",
    oracle=f"""
WITH x AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS i,
           CAST(round_even(CAST(unnest(embedding) AS DOUBLE) * {_PCA_SCALE},
                           0) AS BIGINT) AS v
    FROM embeddings
)
SELECT CAST(0 AS INT) AS i, CAST(COUNT(*) AS BIGINT) AS t FROM embeddings
UNION ALL
SELECT CAST(i AS INT) AS i, CAST(SUM(v) AS BIGINT) AS t FROM x GROUP BY i
UNION ALL
SELECT CAST({EMB_DIM} * a.i + b.i AS INT) AS i,
       CAST(SUM(a.v * b.v) AS BIGINT) AS t
FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i
""",
    tags=("similarity", "ml"),
)
def pca_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA train half's distributed moment reduction as a
    first-class oracle-exact query (VERDICT r14 #5): the flattened
    exact totals [n] ++ Σx ++ Gram (1 + d + d² = {1 + 64 + 64 * 64}
    rows of (flat index, total)) over the 1e-6-quantized embedding
    corpus.  This is the SCALE-CRITICAL part of
    ``pca_explained_variance`` / ``pca_projected_coords`` — per-batch
    int64 partials (numpy ``x.T @ x`` under a 2⁶² runtime bound),
    posexplode to (index, value), groupBy(index) DECIMAL(38,0) sum
    with map-side combine, ~4k rows out of one exchange — now
    driver-hashed against a DuckDB replica that recomputes the same
    integers from scratch (UNNEST + ``round_even`` on the same
    float64-multiply quantization, exact HUGEINT sums cast to BIGINT;
    the d²-pair self-join form the tall-skinny shape folds away).
    Only the driver-side d×d ``eigh`` of the two consumer queries
    remains rows-only — like ``bpe_encode_stats`` did for the BPE
    family.  BIGINT cast bound: totals ≤ n·10¹², exact to n ≈ 9×10⁶
    embedding rows per grain — far above the sweep scales; the
    internal DECIMAL(38,0) path itself is exact to ~10²⁶ rows."""
    parts = _pca_gram_partials_frame(spark, sf_dir)
    return _pca_moment_totals_frame(parts).select(
        F.col("i").cast("int").alias("i"),
        F.col("t").cast("bigint").alias("t"),
    )


@register("pca_explained_variance", tags=("similarity", "ml", "rows-only"))
def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal components of the embedding corpus: eigenvalue,
    explained-variance ratio, and cumulative ratio per component — the
    dimensionality audit run before choosing PQ/IVF parameters or a
    projection dim.

    Rows-only by design — but ONLY the driver-side d×d
    eigendecomposition: the distributed Gram/moment reduction that
    actually touches data at scale is driver-hash-oracled as
    ``pca_gram_matrix`` (round 15), and the VALUE gate here is the
    exact numpy replica in tests/test_properties.py — exact because
    the Gram is integer arithmetic on quantized inputs, so both sides
    eigendecompose the bit-identical matrix.
    (Gram body shared with the apply half: _exact_embedding_moments.)
    """
    d = EMB_DIM
    n, s, g = _exact_embedding_moments(spark, sf_dir)
    sv = np.array(s, dtype=np.float64)
    gm = np.array(g, dtype=np.float64).reshape(d, d)
    cov = (gm - np.outer(sv, sv) / n) / (n * _PCA_SCALE**2)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for k in range(PCA_TOP_K):
        ev = float(evals[k])
        cum += ev
        rows.append(
            (
                k + 1,
                round(ev, 9),
                round(ev / total, 6),
                round(cum / total, 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, eigenvalue double, explained_ratio double, cum_ratio double",
    )


def _pca_basis(
    spark: SparkSession, sf_dir: str
) -> tuple[int, "np.ndarray", "np.ndarray", "np.ndarray"]:
    """(n, quantized top-k basis [d x k int64], per-component centering
    offsets [k float64], top-k eigenvalues) learned from the exact
    moments.  Eigenvector signs are canonicalized (largest-|entry|
    positive) so the learned basis is unique; the basis quantizes to
    _PCA_BASIS_SCALE ints so the distributed apply is integer-exact."""
    n, s, g = _exact_embedding_moments(spark, sf_dir)
    d = EMB_DIM
    sv = np.array(s, dtype=np.float64)
    gm = np.array(g, dtype=np.float64).reshape(d, d)
    cov = (gm - np.outer(sv, sv) / n) / (n * _PCA_SCALE**2)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:PCA_TOP_K]
    top_vals = evals[order]
    basis = evecs[:, order].copy()
    for k in range(basis.shape[1]):  # canonical sign per component
        j = int(np.abs(basis[:, k]).argmax())
        if basis[j, k] < 0:
            basis[:, k] = -basis[:, k]
    bq = np.rint(basis * _PCA_BASIS_SCALE).astype(np.int64)  # d x k
    # centering offset per component: (s . b_k) / n — the exact-int dot
    # product divided ONCE in float64, identically on engine and replica
    offs = np.array(
        [float(sum(int(si) * int(bi) for si, bi in zip(s, bq[:, k]))) / n
         for k in range(bq.shape[1])],
        dtype=np.float64,
    )
    return n, bq, offs, top_vals


@register("pca_projected_coords", tags=("similarity", "ml", "rows-only"))
def pca_projected_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA APPLY half (VERDICT r10 #5): every embedding projected
    onto the learned top-{PCA_TOP_K} principal basis — centered
    coordinate plus the whitened (unit-variance) coordinate per
    component, the representation the downstream IVF/PQ indexes and
    semantic-dedup cells actually consume after a dimensionality audit.

    Exactness: the basis learned from the exact integer Gram
    (_exact_embedding_moments) is sign-canonicalized and QUANTIZED to
    2^20 ints, so the per-row projection x·B runs in overflow-guarded
    int64 inside the Arrow batches — order-free, partitioning-free —
    and every float that follows (one centering subtraction, two
    divisions, round(6)) is an identical operation sequence on engine
    and replica.  Rows-only by design (the eigenbasis is not ANSI SQL)
    — but the distributed Gram reduction feeding the basis is
    driver-hash-oracled as ``pca_gram_matrix`` (round 15); the VALUE
    gate here is the exact numpy replica in tests/test_properties.py,
    same contract as pca_explained_variance.

    100 TB shape: two linear passes — one for the d×d Gram (tiny driver
    state), one pure map for the projection with the d×k int basis
    broadcast; no shuffle anywhere."""
    import pandas as pd

    n, bq, offs, top_vals = _pca_basis(spark, sf_dir)
    inv_scale = 1.0 / (_PCA_SCALE * float(_PCA_BASIS_SCALE))
    wdenom = np.sqrt(np.maximum(top_vals, 0.0))
    k = bq.shape[1]
    max_b = int(np.abs(bq).max(initial=0))

    def project(batches):
        for pdf in batches:
            x = np.rint(
                np.stack(pdf["embedding"].to_numpy()) * _PCA_SCALE
            ).astype(np.int64)
            mx = int(np.abs(x).max(initial=0))
            # per-entry bound: EMB_DIM products of |x|·|b| must fit int64
            if EMB_DIM * mx * max_b >= 2**62:
                raise OverflowError(
                    f"pca projection int64 bound violated: max|x|={mx}"
                )
            y = x @ bq  # rows x k, exact int64 (guarded)
            coord = (y - offs) * inv_scale  # float64, identical op order
            with np.errstate(divide="ignore", invalid="ignore"):
                wht = np.where(wdenom > 0, coord / wdenom, 0.0)
            vid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vid, k),
                    "component": np.tile(np.arange(1, k + 1), len(vid)),
                    "coord": np.round(coord, 6).reshape(-1),
                    "whitened": np.round(wht, 6).reshape(-1),
                }
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInPandas(
        project, "vec_id long, component int, coord double, whitened double"
    )


# --- round 11: embedding distribution drift (centroid cosine) --------------------

_DRIFT_Q = 1_000_000  # 1e-6 quantization grid (floor — identical in SQL)


@register(
    "embedding_centroid_drift",
    oracle=f"""
WITH halves AS (
    SELECT label, CAST(vec_id % 2 AS INT) AS half, embedding FROM embeddings
),
dims AS (
    SELECT label, half, u.z.d AS dim, CAST(SUM(u.z.q) AS DECIMAL(19,0)) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT label, half,
               unnest(list_transform(range(1, len(embedding) + 1),
                     i -> {{'d': i, 'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_DRIFT_Q}) AS BIGINT)}})) AS z
        FROM halves
    ) u
    GROUP BY label, half, u.z.d
),
paired AS (
    SELECT a.label, a.dim, a.s AS sa, b.s AS sb, a.n AS na, b.n AS nb
    FROM dims a JOIN dims b ON a.label = b.label AND a.dim = b.dim
    WHERE a.half = 0 AND b.half = 1
),
agg AS (
    SELECT label,
           MAX(na) AS n_a, MAX(nb) AS n_b,
           SUM(sa * sb) AS dot, SUM(sa * sa) AS qa, SUM(sb * sb) AS qb
    FROM paired GROUP BY label
)
SELECT label,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(qa AS DOUBLE) * CAST(qb AS DOUBLE)), 6)
           AS centroid_cosine,
       ROUND(1.0 - CAST(dot AS DOUBLE) / SQRT(CAST(qa AS DOUBLE) * CAST(qb AS DOUBLE)), 6)
           AS drift
FROM agg
""",
    tags=("similarity", "ml", "drift", "monitor"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split each label's vectors
    into two deterministic halves (vec_id parity — in production, two
    time windows or model versions) and report the cosine between the
    half-centroids — cosine ≈ 1 means the embedding distribution is
    stable; a drop is the early-warning signal that an upstream encoder
    or corpus shift moved the manifold, read BEFORE trusting cached IVF
    cells or semantic-dedup thresholds.

    Determinism: embeddings quantize to the 1e-6 grid with FLOOR
    (identical semantics in both engines, unlike double→int casts) —
    with an explicit CAST AS DOUBLE before the multiply on the oracle
    side, since DuckDB otherwise promotes FLOAT*INTEGER to single
    precision and floors a DIFFERENT product than Spark's
    double-arithmetic side (ADVICE r11) — so
    per-(label, half, dim) sums are EXACT integers; the cross-dim dot
    products run in DECIMAL(19,0)×DECIMAL(19,0)→DECIMAL(38,0) exact
    arithmetic, and two rounded double divisions finish.  One explode +
    one map-side-combinable aggregate on (label, half, dim) keys — the
    centroid table is |labels|×2×{EMB_DIM} rows, broadcastable at any
    corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    halves = e.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("embedding").alias("dim0", "ev"),
    )
    dims = (
        halves.select(
            "label",
            "half",
            (F.col("dim0") + 1).alias("dim"),
            F.floor(F.col("ev").cast("double") * _DRIFT_Q).cast("bigint").alias("q"),
        )
        .groupBy("label", "half", "dim")
        .agg(
            F.sum("q").cast("decimal(19,0)").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    a = dims.where(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = dims.where(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    paired = a.join(b, ["label", "dim"])
    agg = paired.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("qa"),
        F.sum(F.col("sb") * F.col("sb")).alias("qb"),
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("qa").cast("double") * F.col("qb").cast("double")
    )
    return agg.select(
        "label",
        "n_a",
        "n_b",
        F.round(cos, 6).alias("centroid_cosine"),
        F.round(1.0 - cos, 6).alias("drift"),
    )


# --- round 12: int8-quantization clip calibration -------------------------------

CLIP_P_LO = 0.01
CLIP_P_HI = 0.99


@register(
    "embedding_clip_bounds",
    oracle=f"""
WITH dims AS (
    SELECT u.z.d AS dim, u.z.q AS q
    FROM (
        SELECT unnest(list_transform(range(1, len(embedding) + 1),
               i -> {{'d': i, 'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_DRIFT_Q}) AS BIGINT)}})) AS z
        FROM embeddings
    ) u
), b AS (
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(quantile_cont(CAST(q AS DOUBLE), {CLIP_P_LO}), 6) AS DECIMAL(18,6)) AS lo,
           CAST(ROUND(quantile_cont(CAST(q AS DOUBLE), {CLIP_P_HI}), 6) AS DECIMAL(18,6)) AS hi
    FROM dims GROUP BY dim
)
SELECT b.dim, b.n,
       ROUND(CAST(b.lo AS DOUBLE) / {_DRIFT_Q}, 6) AS p01,
       ROUND(CAST(b.hi AS DOUBLE) / {_DRIFT_Q}, 6) AS p99,
       CAST(SUM(CASE WHEN d.q < b.lo OR d.q > b.hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped,
       ROUND(CAST(SUM(CASE WHEN d.q < b.lo OR d.q > b.hi THEN 1 ELSE 0 END) AS DOUBLE)
             / b.n, 6) AS clip_frac
FROM dims d JOIN b ON b.dim = d.dim
GROUP BY b.dim, b.n, b.lo, b.hi
""",
    tags=("similarity", "ml", "quantization"),
)
def embedding_clip_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension p1/p99 clip calibration for int8 embedding
    quantization — the range table computed BEFORE
    ``embedding_int8_quant`` picks its scales: clipping at percentile
    bounds instead of min/max keeps one outlier from wasting the whole
    int8 range, and the clipped fraction shows what the clamp costs.

    Embeddings quantize to the exact 1e-6 integer grid first (the
    ``embedding_centroid_drift`` FLOOR convention), the exact percentile
    runs per dimension (64 groups), bounds round to 6dp and lift to
    DECIMAL BEFORE the clip comparison (bounds-before-compare), so the
    clipped count is an exact integer-vs-decimal test on both engines.
    One explode + two aggregates over |dims| keys; the bound table is
    broadcastable anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode("embedding").alias("dim0", "ev")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("ev").cast("double") * _DRIFT_Q).cast("bigint").alias("q"),
    )
    b = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.expr(f"percentile(cast(q as double), {CLIP_P_LO})"), 6)
        .cast("decimal(18,6)")
        .alias("lo"),
        F.round(F.expr(f"percentile(cast(q as double), {CLIP_P_HI})"), 6)
        .cast("decimal(18,6)")
        .alias("hi"),
    )
    j = dims.join(F.broadcast(b), "dim")
    clipped = F.when(
        (F.col("q") < F.col("lo")) | (F.col("q") > F.col("hi")), 1
    ).otherwise(0)
    return j.groupBy("dim", "n", "lo", "hi").agg(
        F.sum(clipped).cast("bigint").alias("n_clipped"),
        F.round(F.sum(clipped).cast("double") / F.col("n"), 6).alias("clip_frac"),
    ).select(
        "dim",
        "n",
        F.round(F.col("lo").cast("double") / _DRIFT_Q, 6).alias("p01"),
        F.round(F.col("hi").cast("double") / _DRIFT_Q, 6).alias("p99"),
        "n_clipped",
        "clip_frac",
    )


# --- round 12: ANN recall@k grading curve ----------------------------------------

RECALL_KS = (1, 5, 10)


@register(
    "ann_recall_curve",
    oracle=f"""
WITH {_SCORED_Q0_CTE},
exact AS (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS r
    FROM scored_q0 QUALIFY r <= {max(RECALL_KS)}
),
b AS (
    SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket FROM embeddings
),
qb AS (SELECT bucket AS qbucket, embedding AS qv FROM b WHERE vec_id = 0),
cand AS (
    SELECT b.vec_id,
           ROUND(({_DOTQ_DUCK})
                 / (({_NORM_DUCK.format(v='embedding')})
                    * ({_NORM_DUCK.format(v='qv')})), 6) AS cos_sim
    FROM b, qb WHERE b.vec_id <> 0 AND b.bucket = qb.qbucket
),
approx AS (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS r
    FROM cand QUALIFY r <= {max(RECALL_KS)}
),
ks AS (SELECT unnest([{", ".join(str(k) for k in RECALL_KS)}]) AS k)
SELECT CAST(ks.k AS INT) AS k,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / ks.k, 6) AS recall_at_k
FROM ks
LEFT JOIN exact e ON e.r <= ks.k
LEFT JOIN approx a ON a.vec_id = e.vec_id AND a.r <= ks.k
GROUP BY ks.k
""",
    tags=("similarity", "llm", "ml-eval"),
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve (k = 1, 5, 10) of the single-bucket RP-LSH search
    against the brute-force exact ranking for the fixed query vec_id=0
    — the ANN grading harness as a first-class query: the same
    measured-not-assumed discipline ``lsh_recall_vs_exact`` applies to
    dedup, applied to retrieval, and the number that justifies (or
    rejects) the multiprobe/IVF dials next to it.

    Both top-k frontiers use the ONE shared scoring definition
    (rounded cosine, vec_id tiebreak — engine-stable order); the exact
    side is a TakeOrderedAndProject top-10, the approx side scores only
    the query's LSH bucket; recall joins two ≤10-row frames, so
    everything after candidate scoring is constant-size."""
    e = load_table(spark, sf_dir, "embeddings")
    kmax = max(RECALL_KS)
    exact = (
        scored_vs_query0(e)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(kmax)
        .select("vec_id", "cos_sim")
    )
    wr = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    exact_r = exact.select("vec_id", F.row_number().over(wr).alias("re"))
    b = e.select("vec_id", "embedding", F.expr(_bucket_expr_spark()).alias("bucket"))
    q = b.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    cand = (
        b.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .where(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            F.round(
                F.expr(_DOTQ_SPARK)
                / (
                    F.expr(_NORM_SPARK.format(v="embedding"))
                    * F.expr(_NORM_SPARK.format(v="qvec"))
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    approx = cand.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(kmax)
    approx_r = approx.select("vec_id", F.row_number().over(wr).alias("ra"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in RECALL_KS])).alias("k0")
    ).select(F.col("k0").cast("int").alias("k"))
    hits = (
        ks.crossJoin(F.broadcast(exact_r))
        .where(F.col("re") <= F.col("k"))
        .join(F.broadcast(approx_r), "vec_id", "left")
    )
    return hits.groupBy("k").agg(
        F.sum(
            F.when(
                F.col("ra").isNotNull() & (F.col("ra") <= F.col("k")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_hits"),
        F.round(
            F.sum(
                F.when(
                    F.col("ra").isNotNull() & (F.col("ra") <= F.col("k")), 1
                ).otherwise(0)
            ).cast("double")
            / F.col("k"),
            6,
        ).alias("recall_at_k"),
    )


# --- simplified silhouette (round 12 extension) ------------------------------
#
# Cluster-quality grading for the seed-centroid cells every IVF/SemDeDup
# stage blocks on.  The SIMPLIFIED silhouette (Hruschka et al. 2004 — the
# form large-scale systems and sklearn's minibatch literature use) scores
# each point against CENTROID distances only: a = d(x, own centroid),
# b = d(x, next-nearest centroid), s = (b - a) / max(a, b) — O(n·k)
# instead of the O(n²) pairwise original, which is the only version that
# exists at 100 TB.  Distances are cosine distances 1 − cos with the
# SAME rounded-cosine arithmetic as the assignment itself.

_SIL_Q = 1_000_000


def _sil_s_text(ca: str, cb: str) -> str:
    """Shared silhouette formula text: ca/cb are the rounded cosines to
    the nearest and second-nearest centroid (cos desc ⇒ distance asc,
    so 1−{ca} ≤ 1−{cb} and s ∈ [0, 1])."""
    return (
        f"(CASE WHEN (1.0 - ({cb})) > 0 "
        f"THEN 1.0 - (1.0 - ({ca})) / (1.0 - ({cb})) ELSE 0.0 END)"
    )


_SIL_COS_DUCK = (
    f"ROUND(({_dot2_duck('e.embedding', 'c.cvec')})"
    f" / (({_NORM_DUCK.format(v='e.embedding')})"
    f" * ({_NORM_DUCK.format(v='c.cvec')})), 6)"
)


@register(
    "silhouette_by_cell",
    oracle=f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cvec
    FROM embeddings WHERE vec_id < {N_CENTROIDS}
), scored AS (
    SELECT e.vec_id, c.cent_id,
           {_SIL_COS_DUCK} AS cos,
           ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_SIL_COS_DUCK} DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c
), p AS (
    SELECT a.vec_id, a.cent_id, a.cos AS ca, b.cos AS cb
    FROM scored a JOIN scored b
      ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
), t AS (
    SELECT cent_id,
           CAST(FLOOR({_sil_s_text("ca", "cb")} * {_SIL_Q}) AS BIGINT) AS s6
    FROM p
)
SELECT cent_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(CAST(SUM(s6) AS DOUBLE) / (COUNT(*) * {_SIL_Q}.0), 6)
           AS mean_silhouette
FROM t GROUP BY cent_id
""",
    tags=("similarity", "llm", "kmeans", "ml-eval"),
)
def silhouette_by_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell simplified silhouette of the seed-centroid assignment —
    the cluster-quality readout that tells the IVF/SemDeDup pipeline
    whether its blocking cells are tight (s → 1) or arbitrary (s → 0)
    BEFORE committing a full dedup/index build to them.

    Scale shape: the same shuffle-free broadcast fold as
    ``cosine_assigned_cells``, extended to keep the top-TWO cosines per
    vector (one array_sort over k structs per row, no window, no join);
    per-point silhouettes are deterministic doubles (rounded-6 cosines,
    ONE shared formula text) FLOOR-quantized to integers so the
    per-cell means are exact integer sums — engine-ordered float
    addition never touches the result."""
    e = load_table(spark, sf_dir, "embeddings")
    cents_row = (
        e.where(F.col("vec_id") < N_CENTROIDS)
        .select(
            F.struct(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cvec"),
                F.expr(_NORM_SPARK.format(v="embedding")).alias("nrm"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    dot = _dot2_spark("embedding", "c.cvec")
    sil_arr = (
        "array_sort(transform(cents, c -> named_struct("
        f"'neg_cos', coalesce(-round(({dot}) / (_nrm_e * c.nrm), 6), "
        "double('Infinity')), 'cent_id', c.cent_id)))"
    )
    s_text = _sil_s_text("-sil[0].neg_cos", "-sil[1].neg_cos")
    t = (
        e.select(
            "vec_id",
            "embedding",
            F.expr(_NORM_SPARK.format(v="embedding")).alias("_nrm_e"),
        )
        .crossJoin(F.broadcast(cents_row))
        .select(F.expr(sil_arr).alias("sil"))
        .select(
            F.expr("sil[0].cent_id").alias("cent_id"),
            F.floor(F.expr(s_text) * _SIL_Q).alias("s6"),
        )
    )
    return t.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(
            F.sum("s6").cast("double") / (F.count(F.lit(1)) * float(_SIL_Q)), 6
        ).alias("mean_silhouette"),
    )


# --- embedding diversity (round 12 extension) ---------------------------------
#
# Mean pairwise cosine per label WITHOUT the O(n²) pair join: for unit
# vectors u_i, sum_{i≠j} u_i·u_j = ||Σu||² − n, so the mean pairwise
# cosine is (||Σu||² − Σ||u_i||²) / (n(n−1)) — one O(n·d) aggregate.
# This identity is THE scale trick for corpus-diversity audits: the
# naive pair join is quadratic in the label's population; this is one
# map-side-combinable pass.  Unit components quantize to the 1e-6 FLOOR
# grid (embedding_centroid_drift's convention) so the sums are exact
# integers and engine summation order cannot matter.

_DIV_Q = 1_000_000


@register(
    "embedding_diversity_by_label",
    oracle=f"""
WITH q AS (
    SELECT label, vec_id, u.d AS d, u.q AS q
    FROM (
        SELECT label, vec_id,
               unnest(list_transform(range(1, {EMB_DIM + 1}),
                   i -> {{'d': i,
                         'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE)
                              / ({_NORM_DUCK.format(v='embedding')})
                              * {_DIV_Q}) AS BIGINT)}})) AS u
        FROM embeddings
    )
), per_dim AS (
    SELECT label, d,
           CAST(SUM(q) AS DECIMAL(38,0)) AS s_d,
           SUM(CAST(q AS DECIMAL(38,0)) * q) AS qq_d
    FROM q GROUP BY label, d
), per_label AS (
    SELECT label,
           SUM(s_d * s_d) AS s2,
           SUM(qq_d) AS qq
    FROM per_dim GROUP BY label
), n AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings GROUP BY label
)
SELECT n.label, n.n_vectors,
       ROUND(CAST(p.s2 - p.qq AS DOUBLE)
             / (CAST(n.n_vectors AS DOUBLE) * (n.n_vectors - 1)
                * {_DIV_Q}.0 * {_DIV_Q}), 6) AS mean_pairwise_cosine
FROM per_label p JOIN n ON n.label = p.label
""",
    tags=("similarity", "llm", "ml-eval", "diversity"),
)
def embedding_diversity_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise cosine similarity within each label — the
    diversity/redundancy audit a curation pipeline reads before
    sampling (a label whose members all point the same way contributes
    near-duplicates) — computed by the SUM-VECTOR IDENTITY, never a
    pair join: ||Σu||² − Σ||u||² over unit vectors equals the sum of
    all pairwise dots, so one O(n·d) aggregate replaces the O(n²)
    blowup.  See the section comment for the exactness story."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.select(
            "label",
            "vec_id",
            F.expr(_NORM_SPARK.format(v="embedding")).alias("nrm"),
            F.posexplode(F.col("embedding")).alias("d0", "v"),
        )
        .select(
            "label",
            (F.col("d0") + 1).alias("d"),
            F.floor(F.col("v").cast("double") / F.col("nrm") * _DIV_Q)
            .cast("bigint")
            .alias("q"),
        )
    )
    per_dim = q.groupBy("label", "d").agg(
        F.sum("q").cast("decimal(38,0)").alias("s_d"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("qq_d"),
    )
    per_label = per_dim.groupBy("label").agg(
        F.sum(F.col("s_d") * F.col("s_d")).alias("s2"),
        F.sum("qq_d").alias("qq"),
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return per_label.join(F.broadcast(n), "label").select(
        "label",
        "n_vectors",
        F.round(
            (F.col("s2") - F.col("qq")).cast("double")
            / (
                F.col("n_vectors").cast("double")
                * (F.col("n_vectors") - 1)
                * float(_DIV_Q)
                * _DIV_Q
            ),
            6,
        ).alias("mean_pairwise_cosine"),
    )


# --- round 14: Hopkins clusterability audit -------------------------------------

HOPKINS_M = 50  # probe count (fixed, published audit parameter)
HOPKINS_BOX = 0.4  # synthetic-probe box half-width, covers the corpus range


def _hopkins_noise_spark(seed: str, idx: str) -> str:
    """Component expr for a synthetic probe vector: md5(seed||'_'||i) to
    ~U[-BOX, BOX], the portable helpers.md5_int32 coin per component."""
    return (
        f"cast(((conv(substring(md5(concat('hp', cast({seed} as string), '_', "
        f"cast({idx} as string))), 1, 8), 16, 10) % 801) - 400) as double)"
        f" / 1000.0 * {HOPKINS_BOX} / 0.4"
    )


def _hopkins_noise_duck(seed: str, idx: str) -> str:
    return (
        f"CAST(((CAST('0x' || substr(md5('hp' || CAST({seed} AS VARCHAR) || '_' || "
        f"CAST({idx} AS VARCHAR)), 1, 8) AS BIGINT) % 801) - 400) AS DOUBLE)"
        f" / 1000.0 * {HOPKINS_BOX} / 0.4"
    )


_HOPKINS_D2_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (double(x) - double(y)) *"
    " (double(x) - double(y))), 0D, (acc, t) -> acc + t)"
)


@register(
    "hopkins_clusterability",
    oracle=f"""
WITH real_probes AS (
    SELECT vec_id AS pid, embedding AS pvec
    FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {HOPKINS_M}
), synth_probes AS (
    SELECT CAST(unnest(range(0, {HOPKINS_M})) AS BIGINT) AS pid
), sp AS (
    SELECT pid,
           list_transform(range(1, {EMB_DIM} + 1),
                          i -> CAST(({_hopkins_noise_duck('pid', 'i')}) AS FLOAT))
               AS pvec
    FROM synth_probes
), wd AS (
    SELECT p.pid,
           MIN(sqrt(list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> (CAST(p.pvec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
                  * (CAST(p.pvec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))))))
               AS dmin
    FROM real_probes p, embeddings e WHERE e.vec_id <> p.pid
    GROUP BY p.pid
), ud AS (
    SELECT p.pid,
           MIN(sqrt(list_sum(list_transform(range(1, {EMB_DIM} + 1),
               i -> (CAST(p.pvec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
                  * (CAST(p.pvec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))))))
               AS dmin
    FROM sp p, embeddings e
    GROUP BY p.pid
)
SELECT CAST({HOPKINS_M} AS INT) AS m_probes,
       ROUND((SELECT SUM(dmin) FROM wd), 6) AS sum_w,
       ROUND((SELECT SUM(dmin) FROM ud), 6) AS sum_u,
       ROUND((SELECT SUM(dmin) FROM ud)
             / ((SELECT SUM(dmin) FROM ud) + (SELECT SUM(dmin) FROM wd)), 6)
           AS hopkins_h
""",
    tags=("similarity", "stats", "llm"),
)
def hopkins_clusterability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopkins statistic of the embedding corpus — the clusterability
    audit run BEFORE committing to IVF/k-means index training: H ≈ 0.5
    means the corpus is uniform noise (cells won't help; SemDeDup's
    blocking assumption is weak), H → 1 means strongly clustered
    (exactly the structure ``kmeans_refined_ivf_cells`` exploits).
    Compares nearest-neighbor distances from m SYNTHETIC uniform probes
    (u) against m REAL sampled vectors (w, self excluded):
    H = Σu / (Σu + Σw).

    Both probe sets are deterministic: real probes are the m smallest
    by the portable md5 order (TakeOrdered frontier, never a global
    sort), synthetic probes are md5-seeded per-component uniforms over
    the published box (the two noise exprs are generated from one
    skeleton per engine, machine-generated-formula convention).  The
    probe pass is ONE broadcast of 2m tiny rows against the embeddings
    scan (the cosine_topk discipline: a fixed-m NLJ is m extra scans'
    work, linear in the corpus, not a pair join); per-pair squared
    distances ride the shared zip_with fold and the min/Σ reduction
    tolerates last-ULP fold-order skew under round 6.  At 100 TB the
    pass is embarrassingly parallel and m stays fixed — the audit costs
    m scans regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    rp = (
        e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
        .orderBy(F.md5(F.col("pid").cast("string")), "pid")
        .limit(HOPKINS_M)
        .withColumn("is_real", F.lit(1))
    )
    sp = (
        spark.range(HOPKINS_M)
        .select(F.col("id").alias("pid"))
        .select(
            "pid",
            F.expr(
                f"transform(sequence(1, {EMB_DIM}), "
                f"i -> cast(({_hopkins_noise_spark('pid', 'i')}) as float))"
            ).alias("pvec"),
            F.lit(0).alias("is_real"),
        )
    )
    probes = rp.unionByName(sp)
    d2 = F.expr(_HOPKINS_D2_SPARK.format(a="pvec", b="embedding"))
    # fan_out the streamed scan side of the broadcast NLJ: each corpus
    # row pays 2m 64-dim distance folds (the CPU amplification the
    # explode discipline names).
    dmin = (
        fan_out(e, "vec_id")
        .crossJoin(F.broadcast(probes))
        .where((F.col("is_real") == 0) | (F.col("vec_id") != F.col("pid")))
        .groupBy("is_real", "pid")
        .agg(F.min(F.sqrt(d2)).alias("dmin"))
    )
    t = dmin.groupBy().agg(
        F.sum(F.when(F.col("is_real") == 1, F.col("dmin"))).alias("sw"),
        F.sum(F.when(F.col("is_real") == 0, F.col("dmin"))).alias("su"),
    )
    return t.select(
        F.lit(HOPKINS_M).cast("int").alias("m_probes"),
        F.round(F.col("sw"), 6).alias("sum_w"),
        F.round(F.col("su"), 6).alias("sum_u"),
        F.round(F.col("su") / (F.col("su") + F.col("sw")), 6).alias(
            "hopkins_h"
        ),
    )




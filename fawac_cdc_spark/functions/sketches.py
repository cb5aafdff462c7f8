"""Mergeable-sketch aggregates (Apache DataSketches, Spark 4 SQL surface).

The 100 TB aggregation story is PARTIAL sketches: per-partition /
per-day / per-table sketches combine associatively without rescanning
raw data, so distinct counts, quantiles, set algebra, and heavy hitters
stay one cheap merge away no matter how much history accumulates.
Spark 4.1 exposes DataSketches HLL (``operators/aggregates.py``), theta,
KLL, and an approx-top-k summary; this module covers the latter three.

Verification strategy (the sketch estimate itself cannot hash-match a
different engine's implementation):

- **exact-mode oracles** — a theta sketch below its nominal-entries
  capacity is exact, so at fixture cardinality the set-algebra estimates
  equal DuckDB's exact COUNT(DISTINCT) (documented RSE takes over at
  scale).
- **error-bound oracles** — KLL guarantees a RANK error bound; the query
  outputs the boolean "estimated quantile's true rank is within the
  bound", which the oracle asserts as TRUE per cell (the same pattern as
  ``hll_estimate_error_bound``).
- **tie-proof projections** — top-k COUNT vectors are deterministic even
  when equal counts make the top-k ITEM set ambiguous, so count-only
  outputs hash-match exactly.

Reference anchor: the reference logs batch statistics over full columns
(``fawac.py:456-513`` — A30 distribution stats incl. median); sketches
are how those statistics survive the jump from 1024-row batches to
petabyte tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import md5_bucket, md5_bucket_sql
from ..registry import register

# KLL with the default k=200 has ~1.65% one-sided rank error at 99%
# confidence; 3% keeps the gate honest and non-flaky at any fixture n.
KLL_RANK_BOUND = 0.03
KLL_QUANTILES = (0.25, 0.5, 0.75)

TOPK_K = 5
TOPK_MAX_TRACKED = 10000  # >= fixture vocab, so tracked counts are exact


@register(
    "kll_quantile_rank_bound",
    oracle=f"""
SELECT event_type, q,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS within_bound
FROM events,
     (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in KLL_QUANTILES)}]) AS q)
GROUP BY event_type, q
ORDER BY event_type, q
""",
    tags=("agg", "sketch", "approx", "quantile"),
)
def kll_quantile_rank_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches with a driver-checkable accuracy gate.

    Per event_type, a KLL(double) sketch of ``value`` estimates the
    quartiles; the query then computes each estimate's TRUE rank with a
    second aggregation over the raw column and asserts it lies within
    the sketch's documented rank-error bound. KLL's guarantee is on
    rank, not value, so this is the honest check — and it is exactly
    what survives at 100 TB, where per-partition KLL sketches merge
    without reranking raw data. Output carries (event_type, q, n,
    within_bound); the oracle asserts TRUE per cell."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("kll_events")
    # the sketch probe requires a foldable rank, so each quantile is its
    # own literal call, stacked into (q, est_q) rows
    stack_args = ", ".join(
        f"CAST({q} AS DOUBLE), kll_sketch_get_quantile_double(sk, {q}D)"
        for q in KLL_QUANTILES
    )
    return spark.sql(
        f"""
        WITH sk AS (
            SELECT event_type,
                   kll_sketch_agg_double(value) AS sk,
                   COUNT(*) AS n_events
            FROM kll_events GROUP BY event_type
        ),
        est AS (
            SELECT event_type, n_events,
                   stack({len(KLL_QUANTILES)}, {stack_args}) AS (q, est_q)
            FROM sk
        ),
        ranked AS (
            SELECT est.event_type, est.q, est.n_events,
                   SUM(CASE WHEN ev.value <= est.est_q THEN 1 ELSE 0 END)
                       / CAST(est.n_events AS DOUBLE) AS true_rank
            FROM est JOIN kll_events ev ON est.event_type = ev.event_type
            GROUP BY est.event_type, est.q, est.n_events
        )
        SELECT event_type, q, n_events,
               ABS(true_rank - q) <= {KLL_RANK_BOUND} AS within_bound
        FROM ranked
        ORDER BY event_type, q
        """
    )


@register(
    "theta_user_set_algebra",
    # Theta sketches stay in exact mode below their nominal-entries
    # capacity (4096 by default), so at fixture cardinality every
    # estimate equals the exact distinct count and the oracle compares
    # the true set algebra. At scale the estimates carry the documented
    # ~1.6% RSE; the query shape (sketch once per cohort, then pure
    # sketch algebra) is what makes cohort overlap O(sketches), not
    # O(data), at 100 TB.
    oracle="""
WITH buyers AS (
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'purchase' AND value >= 40
),
signups AS (
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'signup' AND value < 20
)
SELECT CAST((SELECT COUNT(*) FROM buyers) AS BIGINT) AS n_buyers,
       CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_signups,
       CAST((SELECT COUNT(*) FROM buyers WHERE user_id IN
             (SELECT user_id FROM signups)) AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM (SELECT user_id FROM buyers UNION
             SELECT user_id FROM signups)) AS BIGINT) AS n_either,
       CAST((SELECT COUNT(*) FROM buyers WHERE user_id NOT IN
             (SELECT user_id FROM signups)) AS BIGINT) AS n_buyers_only
""",
    tags=("agg", "sketch", "approx", "setops"),
)
def theta_user_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over user cohorts: build ONE sketch per
    cohort (high-value buyers, low-value signups), then answer
    intersection / union / difference cardinalities purely from the
    sketches — no joins over raw events, and the sketches themselves
    merge across days/partitions. This is the mergeable-set-operation
    counterpart of HLL (which can only union)."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("theta_events")
    return spark.sql(
        """
        WITH a AS (
            SELECT theta_sketch_agg(user_id) AS sk FROM theta_events
            WHERE event_type = 'purchase' AND value >= 40
        ),
        b AS (
            SELECT theta_sketch_agg(user_id) AS sk FROM theta_events
            WHERE event_type = 'signup' AND value < 20
        )
        SELECT
            CAST(theta_sketch_estimate(a.sk) AS BIGINT) AS n_buyers,
            CAST(theta_sketch_estimate(b.sk) AS BIGINT) AS n_signups,
            CAST(theta_sketch_estimate(theta_intersection(a.sk, b.sk))
                 AS BIGINT) AS n_both,
            CAST(theta_sketch_estimate(theta_union(a.sk, b.sk))
                 AS BIGINT) AS n_either,
            CAST(theta_sketch_estimate(theta_difference(a.sk, b.sk))
                 AS BIGINT) AS n_buyers_only
        FROM a, b
        """
    )


@register(
    "approx_topk_event_types",
    oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est_count
FROM events GROUP BY event_type
ORDER BY est_count DESC, item LIMIT 3
""",
    tags=("agg", "sketch", "approx", "topk"),
)
def approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k``: the top-3 event types with
    their counts. The event-type domain is far below maxItemsTracked, so
    tracked counts are exact and the oracle compares true counts; at
    100 TB the same expression degrades gracefully to a bounded-memory
    frequency summary instead of a full groupBy."""
    e = load_table(spark, sf_dir, "events")
    e.createOrReplaceTempView("topk_events")
    return spark.sql(
        """
        SELECT t.item, t.count AS est_count
        FROM (SELECT explode(approx_top_k(event_type, 3)) AS t
              FROM topk_events)
        ORDER BY est_count DESC, item
        """
    )


@register(
    "topk_sketch_term_counts",
    # counts-only output: the top-k COUNT vector is deterministic even
    # where equal counts make the k-th ITEM ambiguous, so the projection
    # hash-matches the exact oracle without depending on the sketch's
    # tie order.
    oracle=f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
tc AS (SELECT source, term, COUNT(*) AS n FROM toks GROUP BY source, term),
rk AS (
    SELECT source, n,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, term) AS rnk
    FROM tc
),
gc AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
grk AS (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk FROM gc
)
SELECT source, CAST(rnk AS INT) AS rnk, CAST(n AS BIGINT) AS est_count
FROM rk WHERE rnk <= {TOPK_K}
UNION ALL
SELECT '__all__' AS source, CAST(rnk AS INT) AS rnk, CAST(n AS BIGINT) AS est_count
FROM grk WHERE rnk <= {TOPK_K}
ORDER BY source, rnk
""",
    tags=("agg", "sketch", "approx", "topk", "llm"),
)
def topk_sketch_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable heavy-hitter pipeline: per-source top-k summaries
    built with ``approx_top_k_accumulate``, then COMBINED into a global
    summary with ``approx_top_k_combine`` — the partial-aggregate shape
    that turns per-day/per-shard vocabulary scans into one sketch merge
    at 100 TB. Emits the top-5 term-count vectors per source plus the
    merged '__all__' row; counts only, so the output is tie-proof (the
    tracked counts are exact below maxItemsTracked)."""
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("topk_docs")
    # per-source sketch states (one row per source) as their own view: both
    # branches read it, and the plan reuses its exchange (ReusedExchange)
    acc = spark.sql(
        f"""
        SELECT source, approx_top_k_accumulate(term, {TOPK_MAX_TRACKED}) AS st
        FROM (SELECT source, explode(split(text, ' ')) AS term FROM topk_docs)
        GROUP BY source
        """
    )
    acc.createOrReplaceTempView("topk_acc")
    return spark.sql(
        f"""
        WITH per_src AS (
            SELECT source,
                   posexplode(approx_top_k_estimate(st, {TOPK_K}))
                       AS (pos, t)
            FROM topk_acc
        ),
        merged AS (
            SELECT posexplode(approx_top_k_estimate(
                       approx_top_k_combine(st, {TOPK_MAX_TRACKED}), {TOPK_K}))
                       AS (pos, t)
            FROM topk_acc
        )
        SELECT source, CAST(pos + 1 AS INT) AS rnk, t.count AS est_count
        FROM per_src
        UNION ALL
        SELECT '__all__' AS source, CAST(pos + 1 AS INT) AS rnk,
               t.count AS est_count
        FROM merged
        ORDER BY source, rnk
        """
    )


# Bloom filter for shuffle-free semi joins.  Sizing: m = 2^17 bits packed
# into 63-bit words (63, not 64, so `1 << (pos % 63)` never touches the
# sign bit and bigint bit-ops behave identically across engines), k = 3
# md5-derived hash probes.  At the bench fixture (n ≈ 13k build keys at
# sf0.1) the false-positive rate is (1 - e^(-kn/m))^k ≈ 1.7%; production
# sizes m per the same formula from an upfront count or HLL estimate.
BLOOM_M_BITS = 131072
BLOOM_K = 3
BLOOM_WORD = 63


def _bloom_pos_spark(key_col: str, seed: int) -> str:
    """60-bit md5 hash of ``key#seed`` reduced mod m — Spark SQL text."""
    return (
        f"cast(conv(substr(md5(concat(cast({key_col} as string), '#', '{seed}')), 1, 15), 16, 10) as bigint)"
        f" % {BLOOM_M_BITS}"
    )


def _bloom_pos_sql(key_col: str, seed: int) -> str:
    """The identical probe position in DuckDB SQL."""
    return (
        f"CAST('0x' || substr(md5(CAST({key_col} AS VARCHAR) || '#' || '{seed}'), 1, 15) AS BIGINT)"
        f" % {BLOOM_M_BITS}"
    )


@register(
    "bloom_semi_join_gate",
    # The Bloom construction is deterministic md5 arithmetic, so unlike
    # the HLL/KLL gates the oracle does NOT assert TRUE literals — DuckDB
    # rebuilds the identical filter bit-for-bit and the driver hash
    # checks the exact false-positive count.  Zero false negatives is a
    # structural guarantee of the data structure; the gate exposes it as
    # a column so a broken implementation fails the hash.
    oracle=f"""
WITH keys AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
), bits AS (
  SELECT ({_bloom_pos_sql('k', 0)}) AS pos FROM keys
  UNION ALL SELECT ({_bloom_pos_sql('k', 1)}) AS pos FROM keys
  UNION ALL SELECT ({_bloom_pos_sql('k', 2)}) AS pos FROM keys
), words AS (
  SELECT pos // {BLOOM_WORD} AS widx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD} AS INTEGER)) AS word
  FROM bits GROUP BY pos // {BLOOM_WORD}
), probe AS (
  SELECT c_custkey, ({_bloom_pos_sql('c_custkey', 0)}) AS pos FROM customer
  UNION ALL SELECT c_custkey, ({_bloom_pos_sql('c_custkey', 1)}) AS pos FROM customer
  UNION ALL SELECT c_custkey, ({_bloom_pos_sql('c_custkey', 2)}) AS pos FROM customer
), verdict AS (
  SELECT p.c_custkey,
         bool_and(COALESCE((w.word >> CAST(p.pos % {BLOOM_WORD} AS INTEGER)) & 1, 0) = 1) AS bloom_hit
  FROM probe p LEFT JOIN words w ON p.pos // {BLOOM_WORD} = w.widx
  GROUP BY p.c_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members_exact,
       CAST(SUM(CASE WHEN v.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(CASE WHEN v.bloom_hit AND m.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
       CAST(SUM(CASE WHEN NOT v.bloom_hit AND m.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
FROM verdict v
LEFT JOIN (SELECT DISTINCT o_custkey AS k
           FROM orders WHERE o_orderpriority = '1-URGENT') m
  ON v.c_custkey = m.k
""",
    tags=("sketch", "bloom", "join", "approx"),
)
def bloom_semi_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership as a shuffle-free semi-join pre-filter.

    The scale problem: ``fact SEMI JOIN dim`` shuffles the entire fact
    table on the join key even when almost every fact row survives or
    almost none does.  The Bloom path builds a ~2000-row word table
    (m/63 bigints) from the dim keys with one map-side-combinable
    ``bit_or`` aggregation, BROADCASTS it, and evaluates membership as a
    per-row bit probe on the fact side — the fact table never shuffles
    (this is Spark's own runtime-filter strategy, made explicit and
    portable).  False positives then hit the exact join as a residual;
    false negatives are impossible.

    Correctness gate: probes every customer against a filter built from
    urgent-order custkeys and emits exact-vs-bloom confusion counts.
    The md5-derived probe positions are engine-portable arithmetic, so
    the oracle reproduces the filter bit-for-bit: the driver hash checks
    the exact false-positive count, and ``n_false_negatives`` must be 0.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    ).distinct().createOrReplaceTempView("bloom_keys")
    c.select("c_custkey").createOrReplaceTempView("bloom_probe_side")

    build_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos_spark('k', s)} AS pos FROM bloom_keys"
        for s in range(BLOOM_K)
    )
    # Probe positions as K COLUMNS on one row per probe key (never an
    # explode-to-K-rows + re-group, which would shuffle the probe side
    # and contradict the property this gate demonstrates).  Each probe
    # column left-joins the broadcast word table independently; the tiny
    # build subtree is inlined per join — K copies of a dim-side scan,
    # the right trade against any probe-side exchange.
    probe_cols = ",\n               ".join(
        f"{_bloom_pos_spark('c_custkey', s)} AS pos{s}" for s in range(BLOOM_K)
    )
    word_joins = "\n            ".join(
        f"LEFT JOIN words w{s} ON p.pos{s} div {BLOOM_WORD} = w{s}.widx"
        for s in range(BLOOM_K)
    )
    bit_checks = "\n                AND ".join(
        f"coalesce((w{s}.word >> cast(p.pos{s} % {BLOOM_WORD} as int)) & 1, 0) = 1"
        for s in range(BLOOM_K)
    )
    broadcast_hint = ", ".join(f"w{s}" for s in range(BLOOM_K))
    return spark.sql(
        f"""
        WITH bits AS ({build_pos}),
        words AS (
            SELECT pos div {BLOOM_WORD} AS widx,
                   bit_or(shiftleft(cast(1 as bigint), cast(pos % {BLOOM_WORD} as int))) AS word
            FROM bits GROUP BY pos div {BLOOM_WORD}
        ),
        probe AS (
            SELECT c_custkey,
               {probe_cols}
            FROM bloom_probe_side
        ),
        verdict AS (
            SELECT /*+ BROADCAST({broadcast_hint}) */ p.c_custkey,
                   ({bit_checks}) AS bloom_hit
            FROM probe p
            {word_joins}
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members_exact,
               CAST(SUM(CASE WHEN v.bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
               CAST(SUM(CASE WHEN v.bloom_hit AND m.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
               CAST(SUM(CASE WHEN NOT v.bloom_hit AND m.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
        FROM verdict v LEFT JOIN bloom_keys m ON v.c_custkey = m.k
        """
    )


# --- count-min sketch (round 7) ----------------------------------------------
#
# The one classic mergeable sketch the family was missing: d rows of w
# counters, each row a different md5-salted hash; estimate(key) = min over
# rows of its counter.  Construction is engine-portable md5 arithmetic, so
# — unlike library CMS implementations — the DuckDB oracle reproduces the
# sketch bit-for-bit and the driver hash checks the EXACT estimates and
# overcounts, not just a tolerance.

CMS_W = 8  # counters per row; divides 16^4 -> exactly uniform buckets
CMS_D = 3  # rows (independent md5 salts)


# ONE bucket definition: the row index r is a SALT in the hashed string
# ("r:user_id"), so both probe sites on both engines reuse the repo-wide
# md5_bucket helper directly — no per-row CASE ladders to drift.
def _cms_bucket_col():
    return md5_bucket(
        F.concat(F.col("r").cast("string"), F.lit(":"), F.col("user_id").cast("string")),
        CMS_W,
    )


def _cms_bucket_duck(r_expr: str, user_expr: str) -> str:
    return md5_bucket_sql(
        f"CAST({r_expr} AS VARCHAR) || ':' || CAST({user_expr} AS VARCHAR)", CMS_W
    )


@register(
    "cms_user_event_estimates",
    oracle=f"""
WITH probes AS (
    SELECT user_id, r.r AS r,
           {_cms_bucket_duck('r.r', 'user_id')} AS bucket
    FROM events, (SELECT unnest(range(0, {CMS_D})) AS r) r
),
sketch AS (
    SELECT r, bucket, COUNT(*) AS cnt FROM probes GROUP BY r, bucket
),
truth AS (
    SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY user_id
),
est AS (
    SELECT t.user_id, t.true_count, MIN(s.cnt) AS cms_estimate
    FROM truth t, (SELECT unnest(range(0, {CMS_D})) AS r) r
    JOIN sketch s
      ON s.r = r.r
     AND s.bucket = {_cms_bucket_duck('r.r', 't.user_id')}
    GROUP BY t.user_id, t.true_count
)
SELECT user_id, CAST(true_count AS BIGINT) AS true_count,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - true_count AS BIGINT) AS overcount
FROM est
""",
    tags=("sketch", "cms", "aggregate"),
)
def cms_user_event_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over per-user event counts: d=CMS_D rows x w=CMS_W
    counters (w forced below the user cardinality at EVERY fixture scale
    so collisions —
    the thing CMS trades for fixed memory — actually happen at fixture
    scale), plus the per-user estimate, true count, and overcount.

    Build is ONE map-side-combinable aggregate over a CMS_D-exploded
    probe stream (sketch size d*w counters regardless of input
    — the entire point at 100 TB); the estimate side broadcasts the
    d*w-row sketch back into the distinct-user probe, takes min over
    rows, and never shuffles the event stream again.  Buckets are md5
    arithmetic (modulus divides 16^4, exactly uniform), so both engines
    build the identical sketch and the driver hash verifies EXACT
    estimates; `tests/test_properties.py` pins the CMS guarantee
    (estimate >= truth, always) independently."""
    e = load_table(spark, sf_dir, "events")
    probes = e.select(
        "user_id",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r"),
    ).select(
        "user_id",
        "r",
        _cms_bucket_col().alias("bucket"),
    )
    sketch = probes.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    est = (
        truth.select(
            "user_id",
            "true_count",
            F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r"),
        )
        .select(
            "user_id",
            "true_count",
            "r",
            _cms_bucket_col().alias("bucket"),
        )
        .join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        F.col("true_count").cast("long").alias("true_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("true_count")).cast("long").alias("overcount"),
    )

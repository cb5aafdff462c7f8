"""Benchmark decontamination and content scrubbing.

Two training-data hygiene operators the corpus pipeline needs alongside
dedup (reference scope: the pipeline feeding `fawac.py`'s training loop
— generalized to the LLM-corpus setting per SURVEY §2 Part B):

- **Decontamination**: before training, any document that shares an
  n-gram with the held-out evaluation set must be flagged/dropped,
  otherwise eval scores are inflated. The standard method (13-gram
  overlap in GPT-3/PaLM data work) is n-gram match between corpus and
  benchmark; the fixture's short synthetic docs use 4-grams so overlap
  is non-trivial at test scale.
- **Scrubbing**: regex redaction with hit accounting — the exact shape
  of PII removal (emails/phones/IPs). The fixture corpus contains no
  PII-like strings (synthetic word soup), so the query scrubs a term
  blocklist instead; the mechanics (`regexp_extract_all` count +
  `regexp_replace` rewrite, grouped accounting) are identical.

Scale design (100 TB): the eval split is tiny relative to the corpus by
construction (benchmarks are fixed-size; the corpus grows), so its gram
set broadcasts and the corpus side never shuffles for the overlap join.
Grams hotter than the dedup module's document-frequency cap are dropped
on BOTH sides before joining — a stop-phrase gram is non-discriminative
for contamination and would otherwise fan out quadratically (same
rationale as `dedup.capped_shingles`, reused directly). Scrubbing is a
pure per-row map — no shuffle except the final per-source aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..operators.helpers import md5_bucket_sql, md5_int32
from .dedup import MAX_SHINGLE_DF, _shingled_hashed, capped_shingles

# Held-out eval split: md5 bucket of the doc id, same determinism idiom as
# traindata.dataset_hash_split (portable across Spark and DuckDB).
_EVAL_BUCKETS = 10  # bucket 0 of 10 => ~10% eval split
_GRAM_N = 4

def _grams_expr(n: int) -> str:
    """Spark expr text: distinct 60-bit hashed token n-grams of ``toks``
    at order ``n`` — parametrized for the n-frontier; ``_GRAMS_EXPR``
    below is the fixed-_GRAM_N instance the flag/rewrite family uses."""
    return (
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> cast(conv(substr(md5(concat_ws(' ', slice(toks, i + 1, {n}))), 1, 15), 16, 10) as bigint)))"
    )


def _grams_sql(n: int) -> str:
    """DuckDB mirror of ``_grams_expr`` at order ``n``."""
    return (
        f"list_distinct(list_transform(range(1, len(toks) - {n - 2}), "
        f"i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+{n - 1}], ' ')), 1, 15) AS BIGINT)))"
    )


_GRAMS_EXPR = _grams_expr(_GRAM_N)

_GRAMS_SQL = _grams_sql(_GRAM_N)

_IS_EVAL = f"CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {_EVAL_BUCKETS} = 0"


def eval_split() -> Column:
    """Spark form of ``_IS_EVAL``: true for the doc_ids in the eval
    split (md5 8-hex prefix of the doc_id string, bucket 0 of
    _EVAL_BUCKETS).  The one Spark builder of the split."""
    return md5_int32(F.col("doc_id").cast("string")) % _EVAL_BUCKETS == 0


def _doc_grams(
    spark: SparkSession, sf_dir: str, n: int = _GRAM_N
) -> DataFrame:
    """(doc_id, is_eval, gram) — distinct 60-bit n-gram hashes per doc
    (default the module's 4-gram order; the n-frontier passes others)."""
    from ..operators.helpers import fan_out

    # fan_out before the gram explode (md5 per n-gram — the explode
    # discipline).
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "doc_id",
            eval_split().alias("is_eval"),
            F.explode(F.expr(_grams_expr(n))).alias("shingle"),
        )
    )


@register(
    "benchmark_decontam_flags",
    oracle=f"""
WITH grams AS (
    SELECT doc_id, {_IS_EVAL} AS is_eval, unnest({_GRAMS_SQL}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= {_GRAM_N})
), capped AS (
    SELECT * FROM grams
    WHERE shingle NOT IN (
        SELECT shingle FROM grams GROUP BY shingle
        HAVING COUNT(*) > {MAX_SHINGLE_DF}
    )
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs_hit
FROM capped c
JOIN capped e ON c.shingle = e.shingle
WHERE NOT c.is_eval AND e.is_eval
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
    tags=("llm", "decontam", "dedup"),
)
def benchmark_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing a 4-gram with the held-out eval split.

    The eval gram set is small by construction (~10% here; a fixed-size
    benchmark at scale) → broadcast into the overlap join; the corpus
    gram stream stays put. Stop-phrase grams above the dedup DF cap are
    dropped first on both sides (non-discriminative + quadratic risk).
    Output: one row per contaminated training doc with how many distinct
    grams leaked and how many eval docs they hit."""
    grams = capped_shingles(_doc_grams(spark, sf_dir), MAX_SHINGLE_DF)
    train = grams.where(~F.col("is_eval")).select("doc_id", "shingle")
    eval_ = grams.where(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), F.col("shingle").alias("eval_shingle")
    )
    return (
        train.join(
            F.broadcast(eval_), F.col("shingle") == F.col("eval_shingle")
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_grams"),
            F.count_distinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
        .orderBy("doc_id")
    )


_BLOCKLIST_PAT = r"\b(spark|customer|vector)\b"
_REDACTED = "[REDACTED]"


@register(
    "blocklist_scrub_stats",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_BLOCKLIST_PAT}'))) AS BIGINT) AS n_redactions,
       CAST(SUM(len(regexp_replace(text, '{_BLOCKLIST_PAT}', '{_REDACTED}', 'g'))) AS BIGINT) AS scrubbed_chars
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("llm", "scrub", "text"),
)
def blocklist_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex redaction with per-source hit accounting (PII-scrub shape).

    ``regexp_extract_all`` counts hits, ``regexp_replace`` rewrites —
    both JVM built-ins inside codegen, zero Python. The fixture corpus
    has no PII-like strings, so a term blocklist stands in; swapping the
    pattern for email/phone/IP regexes changes nothing structurally.
    Pure map + one small per-source aggregate."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace("text", _BLOCKLIST_PAT, _REDACTED)
    hits = F.size(F.regexp_extract_all("text", F.lit(_BLOCKLIST_PAT), F.lit(0)))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hits).cast("bigint").alias("n_redactions"),
            F.sum(F.length(scrubbed)).cast("bigint").alias("scrubbed_chars"),
        )
        .orderBy("source")
    )


# --- Semantic (embedding-level) decontamination (round 7) ---------------------
#
# The embedding twin of ``benchmark_decontam_flags``: paraphrased benchmark
# leakage survives n-gram matching (no shared 13-gram after a reword), so
# production decontamination ALSO flags training items whose embedding is
# too close to any held-out eval item (the contamination analyses in the
# GPT-4 / Llama-2 reports and Yang et al. 2023 use exactly this shape).
# Threshold reuses the ONE SemDeDup family constant (similarity.SEMDEDUP_COS)
# — "semantically a duplicate" has a single definition in this engine.

SEM_EVAL_BUCKETS = 32  # divides 16^4, so the md5 coin is exactly uniform


def _sem_decontam_sql() -> str:
    from ..operators.helpers import md5_bucket_sql
    from .similarity import _NORM_DUCK, _dot2_duck, SEMDEDUP_COS

    coin = md5_bucket_sql("vec_id", SEM_EVAL_BUCKETS)
    norm = _NORM_DUCK.format(v="embedding")
    dot = _dot2_duck("t.embedding", "e.evec")
    return f"""
WITH ev AS (
    SELECT vec_id AS eid, embedding AS evec, {norm} AS enrm
    FROM embeddings WHERE {coin} = 0
),
tr AS (
    SELECT vec_id, embedding, {norm} AS nrm
    FROM embeddings WHERE NOT ({coin} = 0)
),
pairs AS (
    SELECT t.vec_id,
           ROUND(({dot}) / (t.nrm * e.enrm), 6) AS cos
    FROM tr t CROSS JOIN ev e
)
SELECT vec_id,
       CAST(COUNT(CASE WHEN cos >= {SEMDEDUP_COS} THEN 1 END) AS BIGINT)
           AS n_eval_hits,
       MAX(cos) AS max_eval_cos
FROM pairs
GROUP BY vec_id
HAVING COUNT(CASE WHEN cos >= {SEMDEDUP_COS} THEN 1 END) >= 1
"""


@register(
    "semantic_decontam_flags",
    oracle=_sem_decontam_sql(),
    tags=("llm", "decontam", "similarity"),
)
def semantic_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training vectors whose cosine to ANY held-out eval vector reaches
    the SemDeDup threshold — per flagged vector: how many eval items it
    collides with and the worst cosine.

    Scale shape: a benchmark suite is FIXED-SIZE while the corpus grows
    (the md5 split here is the fixture stand-in for that), so the eval
    side folds into ONE array-of-structs row — norms hoisted — that
    broadcasts, and the corpus side is a PURE MAP: per training row, one
    higher-order pass computes every rounded eval cosine, the hit count,
    and the max, with NO join key and NO shuffle anywhere in the plan
    (the ``cosine_assigned_cells`` folded-broadcast idiom; same ~1e5-row
    broadcast bound, beyond which the Arrow-matmul seam applies)."""
    from ..operators.helpers import md5_bucket
    from .similarity import _NORM_SPARK, _dot2_spark, SEMDEDUP_COS

    e = load_table(spark, sf_dir, "embeddings")
    coin = md5_bucket("vec_id", SEM_EVAL_BUCKETS)
    ev_row = (
        e.where(coin == 0)
        .select(
            F.struct(
                F.col("vec_id").alias("eid"),
                F.col("embedding").alias("evec"),
                F.expr(_NORM_SPARK.format(v="embedding")).alias("enrm"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("evals"))
    )
    dot = _dot2_spark("embedding", "v.evec")
    cos_arr = f"transform(evals, v -> round(({dot}) / (_nrm_t * v.enrm), 6))"
    return (
        e.where(~(coin == 0))
        .select(
            "vec_id",
            "embedding",
            F.expr(_NORM_SPARK.format(v="embedding")).alias("_nrm_t"),
        )
        .crossJoin(F.broadcast(ev_row))
        .select("vec_id", F.expr(cos_arr).alias("_cos"))
        .select(
            "vec_id",
            F.size(F.expr(f"filter(_cos, c -> c >= {SEMDEDUP_COS})"))
            .cast("bigint")
            .alias("n_eval_hits"),
            F.array_max("_cos").alias("max_eval_cos"),
        )
        .where(F.col("n_eval_hits") >= 1)
    )


# --- decontamination by SPAN REMOVAL (round 9) ------------------------------
#
# Flagging/dropping contaminated documents (benchmark_decontam_flags)
# throws away the whole document when only a quoted benchmark sentence
# leaked.  The production alternative (PaLM 2 / Llama data work) excises
# the overlapping span and keeps the rest.  This reuses the round-9 span
# machinery: covered positions = train-doc n-gram starts whose gram
# appears ANYWHERE in the eval split, expanded to [i, i+n-1]; maximal
# runs become doc-unique markers via dedup.rewrite_excising, so the
# rewrite is provably idempotent against a FIXED eval set (a surviving
# original gram was never in the eval set; a new boundary gram contains
# the doc-scoped marker, which no benchmark text contains).

_IS_EVAL_G = _IS_EVAL.replace("doc_id", "g.doc_id")


def _decontam_span_oracle() -> str:
    from .dedup import _span_rewrite_oracle

    covered = f"""evalg AS (
    SELECT DISTINCT gram FROM grams g WHERE {_IS_EVAL_G}
), covered AS (
    SELECT DISTINCT g.doc_id, g.i + u.off AS p
    FROM grams g JOIN evalg USING (gram),
         UNNEST(range(0, {_GRAM_N})) AS u(off)
    WHERE NOT ({_IS_EVAL_G})
)"""
    inner = _span_rewrite_oracle(_GRAM_N, covered)
    return f"""
SELECT r.doc_id, md5(r.kept_text) AS kept_text_hash,
       r.n_spans_removed, r.chars_removed
FROM ({inner}) r
WHERE NOT ({_IS_EVAL.replace('doc_id', 'r.doc_id')})
"""


@register(
    "decontam_span_removal",
    oracle=_decontam_span_oracle(),
    tags=("llm", "decontam", "substring"),
)
def decontam_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite every TRAINING document with eval-overlapping spans
    excised — decontamination that keeps the document (the flag/drop
    form is ``benchmark_decontam_flags``).

    Scale shape: the eval gram set is small by construction (fixed-size
    benchmarks vs a growing corpus), so it BROADCASTS into a semi-join
    against the corpus gram stream — unlike the flag form there is no
    per-gram fanout (each occurrence matches the gram set at most once),
    so no DF cap is needed and hot grams are excised too, which is the
    desired semantics: a benchmark sentence quoted by a million docs
    must be excised from all of them.  Everything downstream is the
    linear gaps-and-islands rewrite shared with
    ``substring_span_removal``."""
    from .dedup import positioned_grams, rewrite_excising

    from ..operators.helpers import fan_out

    # fan_out before the gram explode (explode discipline: one md5 per
    # n-gram).
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    t = d.select(
        "doc_id", F.split("text", " ").alias("toks"), eval_split().alias("is_eval")
    )
    grams = positioned_grams(
        t.select("doc_id", "toks", "is_eval"), _GRAM_N
    )
    # positioned_grams keeps only (doc_id, i, gram); recover the split via
    # the same md5 coin on doc_id (pure arithmetic, no extra join)
    evalg = grams.where(eval_split()).select("gram").distinct()
    covered = (
        grams.where(~eval_split())
        .join(F.broadcast(evalg), "gram")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {_GRAM_N - 1})")).alias("p"))
        .distinct()
    )
    t_train = t.where(~F.col("is_eval")).select("doc_id", "toks")
    return rewrite_excising(t_train, covered).select(
        "doc_id",
        F.md5("kept_text").alias("kept_text_hash"),
        "n_spans_removed",
        "chars_removed",
    )


# --- k-anonymity audit (round 9) --------------------------------------------
#
# The governance counterpart to PII scrubbing: before a table (or a
# training corpus's metadata sidecar) is released, every combination of
# quasi-identifiers must be shared by at least k rows, or the rare
# combination re-identifies someone.  Sweeney's k-anonymity as one
# aggregate: group by the quasi-identifier tuple, flag groups below k.
K_ANON = 5
_QUASI_IDS = ("c_nationkey", "c_mktsegment")


@register(
    "k_anonymity_audit",
    oracle=f"""
WITH cells AS (
    SELECT {", ".join(_QUASI_IDS)}, COUNT(*) AS cell_n
    FROM customer GROUP BY {", ".join(_QUASI_IDS)}
)
SELECT CAST(cell_n < {K_ANON} AS BOOLEAN) AS violates_k,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cell_n) AS BIGINT) AS n_rows,
       CAST(MIN(cell_n) AS BIGINT) AS min_cell,
       CAST(MAX(cell_n) AS BIGINT) AS max_cell
FROM cells GROUP BY violates_k
""",
    tags=("governance", "privacy", "aggregate"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier tuple
    (nation, market segment): how many equivalence cells violate k=5 and
    how many rows they expose.  One map-side-combinable aggregate over
    the quasi-id tuple, one 2-row rollup — nothing here grows with table
    size except the first groupBy (bounded by the quasi-id domain), so
    the audit is free at 100 TB.  Counts stay BIGINT end-to-end."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(*_QUASI_IDS).agg(F.count(F.lit(1)).alias("cell_n"))
    return (
        cells.groupBy((F.col("cell_n") < K_ANON).alias("violates_k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("cell_n").cast("bigint").alias("n_rows"),
            F.min("cell_n").cast("bigint").alias("min_cell"),
            F.max("cell_n").cast("bigint").alias("max_cell"),
        )
        .select("violates_k", "n_cells", "n_rows", "min_cell", "max_cell")
    )


# --- differential-privacy release (round 9) ---------------------------------
#
# The third governance gate: k-anonymity audits the quasi-id cells, PII
# scrubbing rewrites payloads, and a DP release perturbs the published
# AGGREGATES.  Laplace mechanism for counting queries (sensitivity 1):
# released = true + Lap(1/eps).  The noise draw uses the repo's md5-coin
# inverse-CDF idiom (the same determinism trick as the A-ES reservoir):
# u from an exactly-uniform dyadic md5 coin on the group key, then
# noise = -b * sign(u - 0.5) * ln(1 - 2|u - 0.5|) — replayable on both
# engines, with ln rounded(6) BEFORE scaling to absorb libm's last ulp.
DP_EPS = 0.5
_DP_COIN = 65536


@register(
    "dp_noised_source_counts",
    oracle=f"""
WITH u AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS true_n,
           ({md5_bucket_sql("source", _DP_COIN)} + 0.5) / {_DP_COIN}.0 AS u
    FROM documents GROUP BY source
)
SELECT source, true_n,
       ROUND(LN(1 - 2 * ABS(u - 0.5)), 6)
           * (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END) / {DP_EPS} AS noise,
       true_n + ROUND(LN(1 - 2 * ABS(u - 0.5)), 6)
           * (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END) / {DP_EPS} AS released_n
FROM u
""",
    tags=("governance", "privacy", "aggregate"),
)
def dp_noised_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP release of per-source document counts
    (eps=0.5, sensitivity 1): released = true + Lap(1/eps) with the
    noise drawn from the md5-coin inverse CDF, so the mechanism is
    bit-replayable on both engines (a production release uses a secret
    seed and drops ``true_n``/``noise`` — kept here because the oracle
    differential IS the test).  Cross-engine exactness: the coin is
    bit-identical; ln is the only libm call and is rounded(6) BEFORE the
    sign/scale arithmetic (the ``weighted_reservoir_sample`` precedent);
    everything after is identical IEEE ops.  Scale: one
    map-side-combinable count per group plus pure arithmetic — free at
    100 TB."""
    from ..operators.helpers import md5_bucket

    d = load_table(spark, sf_dir, "documents")
    u = (md5_bucket("source", _DP_COIN).cast("double") + 0.5) / float(_DP_COIN)
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    uc = counts.withColumn("u", u)
    ln_term = F.round(F.log(1 - 2 * F.abs(F.col("u") - 0.5)), 6)
    sign = F.when(F.col("u") < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise = ln_term * sign / DP_EPS
    return uc.select(
        "source",
        "true_n",
        noise.alias("noise"),
        (F.col("true_n") + noise).alias("released_n"),
    )


# --- right-to-erasure cascade audit (round 10) --------------------------------
#
# The third governance gate next to k-anonymity and DP release: given a
# set of users exercising deletion rights, account for every row the
# erasure touches across the schema BEFORE applying it — direct rows
# (customer, orders, events) and rows reachable only through a foreign
# key (lineitem via orders).  The audit is what a compliance pipeline
# signs off on; the apply half is the CDC tombstone path
# (cdc_state_with_tombstones).

_ERASE_BUCKETS = 16  # divides 16^4 -> exactly uniform ~6.25% erasure set


@register(
    "erasure_cascade_audit",
    oracle=f"""
WITH erased_cust AS (
    SELECT c_custkey FROM customer
    WHERE {md5_bucket_sql('c_custkey', _ERASE_BUCKETS)} = 0
), erased_orders AS (
    SELECT o_orderkey FROM orders JOIN erased_cust ON o_custkey = c_custkey
)
SELECT 'customer' AS table_name,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM erased_cust) AS n_rows_erased,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows_total
UNION ALL
SELECT 'orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM erased_orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM erased_orders)),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
UNION ALL
SELECT 'events',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE {md5_bucket_sql('user_id', _ERASE_BUCKETS)} = 0),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
""",
    tags=("governance", "privacy", "cdc"),
)
def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-apply audit of a right-to-erasure request: per table, how many
    rows the deterministic erasure set (md5 bucket 0/16 of the user key)
    would delete, directly or through the orders->lineitem cascade.

    Scale shape: the erased customer-key set is a filtered projection
    (~6% of customers) that SEMI-joins orders; the erased order-key set
    then semi-joins lineitem.  Both are key-only left-semi joins — no
    payload columns move, and at 100 TB AQE turns the key sets into
    broadcast/bloom-filter semi joins.  Each table contributes one
    count aggregate; the four one-row results union at the driver-free
    plan level (a 4-row union, not a collect).
    """
    from ..operators.helpers import md5_bucket

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    erased_cust = cust.where(md5_bucket("c_custkey", _ERASE_BUCKETS) == 0).select(
        "c_custkey"
    )
    erased_orders = orders.join(
        erased_cust, orders["o_custkey"] == erased_cust["c_custkey"], "left_semi"
    ).select("o_orderkey")

    from ..operators.helpers import one_row_audit

    def _count_row(name: str, erased: DataFrame, total: DataFrame) -> DataFrame:
        return one_row_audit(
            "table_name", name, erased, total, "n_rows_erased", "n_rows_total"
        )

    erased_li = lineitem.join(
        erased_orders, lineitem["l_orderkey"] == erased_orders["o_orderkey"], "left_semi"
    )
    erased_ev = events.where(md5_bucket("user_id", _ERASE_BUCKETS) == 0)
    return (
        _count_row("customer", erased_cust, cust)
        .unionByName(_count_row("orders", erased_orders, orders))
        .unionByName(_count_row("lineitem", erased_li, lineitem))
        .unionByName(_count_row("events", erased_ev, events))
    )


# --- l-diversity audit (round 12) --------------------------------------------
#
# k-anonymity's known blind spot (Machanavajjhala et al. 2007): a cell
# can hold >= k rows yet expose everyone in it when they all share the
# SAME sensitive value.  l-diversity requires every quasi-identifier
# cell to contain at least l distinct sensitive values.
L_DIV = 3
_LDIV_QUASI = "c_nationkey"
_LDIV_SENSITIVE = "c_mktsegment"


@register(
    "l_diversity_audit",
    oracle=f"""
WITH cells AS (
    SELECT {_LDIV_QUASI},
           CAST(COUNT(*) AS BIGINT) AS cell_n,
           CAST(COUNT(DISTINCT {_LDIV_SENSITIVE}) AS BIGINT) AS l_div
    FROM customer GROUP BY {_LDIV_QUASI}
)
SELECT CAST(l_div < {L_DIV} AS BOOLEAN) AS violates_l,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cell_n) AS BIGINT) AS n_rows,
       CAST(MIN(l_div) AS BIGINT) AS min_l,
       CAST(MAX(l_div) AS BIGINT) AS max_l
FROM cells GROUP BY violates_l
""",
    tags=("governance", "privacy", "aggregate"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to ``k_anonymity_audit``
    for the attack k-anonymity misses: per quasi-identifier cell
    (nation), the number of DISTINCT sensitive values (market segment)
    must reach l=3, or everyone in the cell is disclosed even though
    the cell is large.  Same shape and scale story as the k-audit: one
    aggregate bounded by the quasi-id domain, one 2-row rollup, BIGINT
    end to end."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(_LDIV_QUASI).agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_n"),
        F.count_distinct(F.col(_LDIV_SENSITIVE)).cast("bigint").alias("l_div"),
    )
    return (
        cells.groupBy((F.col("l_div") < L_DIV).alias("violates_l"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("cell_n").cast("bigint").alias("n_rows"),
            F.min("l_div").cast("bigint").alias("min_l"),
            F.max("l_div").cast("bigint").alias("max_l"),
        )
        .select("violates_l", "n_cells", "n_rows", "min_l", "max_l")
    )


# --- contamination-rate frontier over the gram order (round 13) ----------------

FRONTIER_NS = (3, 4, 5)


def _frontier_ctes(n: int) -> str:
    return f"""grams{n} AS (
    SELECT doc_id, {_IS_EVAL} AS is_eval, unnest({_grams_sql(n)}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= {n})
), capped{n} AS (
    SELECT * FROM grams{n}
    WHERE shingle NOT IN (
        SELECT shingle FROM grams{n} GROUP BY shingle
        HAVING COUNT(*) > {MAX_SHINGLE_DF}
    )
)"""


def _frontier_sql() -> str:
    ctes = ",\n".join(_frontier_ctes(n) for n in FRONTIER_NS)
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({n} AS INT) AS gram_n,
       CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_flagged
FROM capped{n} c JOIN capped{n} e ON c.shingle = e.shingle
WHERE NOT c.is_eval AND e.is_eval"""
        for n in FRONTIER_NS
    )
    return f"""
WITH {ctes},
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train
       FROM documents WHERE NOT ({_IS_EVAL})),
fl AS ({arms})
SELECT fl.gram_n, tt.n_train, fl.n_flagged,
       ROUND(CAST(fl.n_flagged AS DOUBLE) / tt.n_train, 6) AS flag_rate
FROM fl, tt
"""


@register(
    "decontam_n_frontier",
    oracle=_frontier_sql(),
    tags=("llm", "decontam", "frontier"),
)
def decontam_n_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination rate as a function of the overlap gram order — the
    parameter frontier behind choosing ``_GRAM_N`` (the LLM-data
    literature's 8-to-13-gram debate in miniature): short grams
    over-flag by chance collisions, long grams under-flag paraphrases,
    and this query measures the flagged-training-doc fraction at n = 3,
    4, 5 so the operating point is a read, not folklore.  The
    ``lsh_param_frontier`` discipline applied to decontamination.

    Each arm reuses the ONE gram definition (``_grams_expr`` /
    ``_grams_sql``, the flag family's own machinery parametrized by n)
    with the same DF cap and broadcast eval-gram join as
    ``benchmark_decontam_flags``; the denominator is ALL training docs
    (docs shorter than n can never be flagged — that shrinking reach is
    part of what the frontier shows).  |FRONTIER_NS| bounded scans; all
    counts exact integers, one rounded division."""
    d = load_table(spark, sf_dir, "documents")
    tt = d.where(~eval_split()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    arms = []
    for n in FRONTIER_NS:
        grams = capped_shingles(_doc_grams(spark, sf_dir, n), MAX_SHINGLE_DF)
        train = grams.where(~F.col("is_eval")).select("doc_id", "shingle")
        evalg = grams.where(F.col("is_eval")).select(
            F.col("shingle").alias("eval_shingle")
        ).distinct()
        arms.append(
            train.join(
                F.broadcast(evalg), F.col("shingle") == F.col("eval_shingle")
            ).agg(
                F.lit(n).cast("int").alias("gram_n"),
                F.count_distinct("doc_id").cast("bigint").alias("n_flagged"),
            )
        )
    fl = arms[0]
    for a in arms[1:]:
        fl = fl.unionByName(a)
    return fl.crossJoin(F.broadcast(tt)).select(
        "gram_n",
        "n_train",
        "n_flagged",
        F.round(F.col("n_flagged").cast("double") / F.col("n_train"), 6).alias(
            "flag_rate"
        ),
    )

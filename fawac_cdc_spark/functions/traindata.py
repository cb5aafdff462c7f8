"""Training-data pipeline operators over ``documents``/``embeddings``
(north_star LLM-data surface, beyond the dedup/similarity families).

The operations a pre-training data pipeline runs between "deduped corpus"
and "tokens on the trainer": chunking documents into context windows,
packing chunks into fixed token budgets, deterministic train/val/test
splits, per-source mixture sampling, vocabulary construction, repetition
quality scoring, and int8 embedding quantization.  Everything is JVM
built-ins (higher-order array exprs / window functions) — map-dominant,
shuffle only where an aggregation genuinely needs one — and every query
is oracle-exact (integer arithmetic or IEEE-identical expression trees;
md5-derived uniforms for anything "random").

Reference anchors: the reference consumes fixed-window transition batches
(``fawac.py:77-85``) and epoch-shuffled minibatches
(``train_fawac_iql.py:90-104``); chunking/packing/splitting generalize
that batch-assembly semantics to document corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import fan_out, materialize, md5_bucket, md5_bucket_sql
from ..registry import register
from .text import UNIQ_RATIO_SQL as _UNIQ_RATIO_SQL

CHUNK_WINDOW = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = 16)
PACK_BUDGET = 2048  # tokens per packed sequence
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the rest

# Sequence packing runs its cumulative-sum window per (source, shard), not
# per source: a real pre-training corpus is power-law over sources (one
# crawl source is most of the bytes), so a source-only window partition is
# ONE task sequentially scanning ~all chunk rows at 100 TB — a straggler by
# construction. Sharding by an md5 bucket of doc_id bounds every window
# partition to ~1/N of the hottest source while keeping packs doc-contiguous
# within a shard; the cost is at most one partially-filled pack per shard
# (boundary waste <= N_PACK_SHARDS * PACK_BUDGET tokens per source, ~0 at
# corpus scale). The md5 bucket (not Spark's hash()) keeps the shard id
# engine-portable so the DuckDB oracles replay it exactly.
N_PACK_SHARDS = 8


def _pack_shard_col() -> "F.Column":
    """Engine-portable shard id: md5(doc_id) first 4 hex digits % N."""
    return md5_bucket("doc_id", N_PACK_SHARDS)


# Same bucket in DuckDB SQL (identical to the dataset_hash_split pattern,
# which is driver-verified hash-exact against the Spark conv/md5 form).
PACK_SHARD_SQL = md5_bucket_sql("doc_id", N_PACK_SHARDS)


@register(
    "doc_token_chunks",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' ')) AS ntok
    FROM documents
), c AS (
    SELECT doc_id, ntok,
           unnest(range(0, CASE WHEN ntok <= {CHUNK_WINDOW} THEN 1
                           ELSE ((ntok - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1)
                                // {CHUNK_STRIDE} + 1 END)) AS chunk_id,
           toks
    FROM t
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}, ntok)))
            AS INT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}, ntok)), ' '))
           AS chunk_fp
FROM c
""",
    tags=("traindata", "llm", "chunking"),
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: window=64 tokens, stride=48
    (16-token overlap), last chunk keeps the tail.  One higher-order
    array expression per document — a pure map over the scan, no shuffle,
    so it scales with input bytes.  Emits the md5 of each chunk (not the
    text) to keep the verified output narrow."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("ntok"),
    )
    n_chunks = F.expr(
        f"case when ntok <= {CHUNK_WINDOW} then 1 "
        f"else ((ntok - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE} + 1 end"
    )
    c = t.select(
        "doc_id",
        "ntok",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, F.lit(CHUNK_WINDOW)
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# Whole-document packing CTE, shared by the packed_sequences oracle and
# the packing_efficiency_stats diagnostic oracle — one definition so the
# packing semantics cannot drift between the query and its diagnostic.
# (traindata_end_to_end packs CHUNKS over the survivor set, a genuinely
# different pipeline stage, so it keeps its own CTE.)
# The cumsum half (t + seq) is budget-free — the budget only enters at
# the pack_id division — so the budget-frontier query shares this text
# verbatim and varies only the divisor.
_PACK_SEQ_SQL = f"""WITH t AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS ntok,
           CAST({PACK_SHARD_SQL} AS INT) AS pack_shard
    FROM documents
), seq AS (
    SELECT source, pack_shard, doc_id, ntok,
           COALESCE(CAST(SUM(ntok) OVER (PARTITION BY source, pack_shard
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS tok_before
    FROM t
)"""

_PACKED_SQL = f"""{_PACK_SEQ_SQL}, packed AS (
    SELECT source, pack_shard,
           tok_before // {PACK_BUDGET} AS pack_id,
           COUNT(*) AS n_docs,
           SUM(ntok) AS pack_tokens
    FROM seq
    GROUP BY source, pack_shard, tok_before // {PACK_BUDGET}
)"""


def _pack_seq_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, pack_shard, doc_id, ntok, tok_before): the budget-free
    cumsum half of the packing machinery — Spark mirror of
    ``_PACK_SEQ_SQL``, shared by ``packed_sequences`` and the
    budget-frontier query."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        _pack_shard_col().alias("pack_shard"),
        F.size(F.split("text", " ")).alias("ntok"),
    )
    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.withColumn(
        "tok_before", F.coalesce(F.sum("ntok").over(w), F.lit(0)).cast("long")
    )


@register(
    "packed_sequences",
    oracle=f"""
{_PACKED_SQL}
SELECT source, pack_shard,
       CAST(pack_id AS BIGINT) AS pack_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(pack_tokens AS BIGINT) AS pack_tokens
FROM packed
""",
    tags=("traindata", "llm", "packing"),
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: fill 2048-token training sequences with whole
    documents per (source, shard), in deterministic doc_id order.  The
    pack id is ``floor(running-tokens-before / budget)`` — one window
    cumsum + one aggregation, both on the (source, pack_shard) key, so
    packing a 100 TB corpus is two shuffles whose largest task is bounded
    by the hottest source / N_PACK_SHARDS (see the shard rationale above;
    a source-only window is a single-task straggler on a power-law
    corpus).  Straddling documents overflow their pack (best-effort
    boundaries), the standard trade against splitting documents
    mid-sequence; shard boundaries waste at most one pack each."""
    seq = _pack_seq_frame(spark, sf_dir)
    pack = (F.col("tok_before") / PACK_BUDGET).cast("long")
    return (
        seq.groupBy("source", "pack_shard", pack.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("pack_tokens"),
        )
        .select("source", "pack_shard", "pack_id", "n_docs", "pack_tokens")
    )


@register(
    "dataset_hash_split",
    oracle=f"""
WITH assign AS (
    SELECT source,
           len(string_split(text, ' ')) AS ntok,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
    FROM documents
)
SELECT source,
       CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens
FROM assign
GROUP BY source, 2
""",
    tags=("traindata", "llm", "split"),
)
def dataset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 bucket of
    the document id — stable across runs, engines, and re-partitioning
    (the property a random split lacks), so the holdout never leaks when
    the corpus is rebuilt.  Pure map + one aggregation."""
    d = load_table(spark, sf_dir, "documents")
    split = _split_col(md5_bucket("doc_id", 100))
    return (
        d.select(
            "source",
            split.alias("split"),
            F.size(F.split("text", " ")).alias("ntok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
        )
    )


@register(
    "source_mixture_sample",
    oracle="""
WITH rates AS (
    SELECT doc_id, source, lang,
           (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 5 + 1) / 10.0 AS rate,
           CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
            / 16777216.0 AS u
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       MAX(rate) AS rate
FROM rates
WHERE u < rate
GROUP BY source
""",
    tags=("traindata", "llm", "mixture"),
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted corpus sampling: each source gets a target rate
    (derived here from its id; in production, the mixture weights file)
    and documents are kept where an md5-uniform < rate.  Deterministic,
    engine-portable, no shuffle before the final count — how a 100 TB
    pipeline hits 'x% web, y% code' mixtures reproducibly.  The coin is
    the raw 6-hex-digit md5 prefix over 16^6 — EXACTLY uniform (an
    earlier % 1000000 reduction left 777216 buckets with one extra
    preimage, a systematic ~5% relative skew on small rates that both
    engines shared, so parity could never catch it; same fix as
    `weighted_source_mixture`'s dyadic coin)."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        (F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 5 + 1) / 10.0
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))), 1, 6),
            16,
            10,
        ).cast("bigint")
        / 16777216.0
    )
    return (
        d.select("doc_id", "source", rate.alias("rate"), u.alias("u"))
        .where(F.col("u") < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.max("rate").alias("rate"))
    )


def _split_col(bucket: "F.Column") -> "F.Column":
    """80/10/10 train/val/test assignment from a [0,100) bucket — shared
    by the per-doc and per-component (leakage-safe) splits."""
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


VOCAB_K = 500


@register(
    "vocab_top_terms",
    oracle=f"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
GROUP BY term
ORDER BY n DESC, term ASC
LIMIT {VOCAB_K}
""",
    tags=("traindata", "llm", "vocab"),
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: global top-K terms by frequency with a
    deterministic (count desc, term asc) tie-break.  explode → groupBy →
    TakeOrderedAndProject: the top-K never materializes a full sort at
    scale (each partition keeps K candidates)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(VOCAB_K)
    )


@register(
    "repetition_quality_scores",
    oracle="""
WITH g AS (
    SELECT doc_id,
           list_transform(range(1, len(string_split(text, ' '))),
                          i -> string_split(text, ' ')[i] || ' ' ||
                               string_split(text, ' ')[i+1]) AS grams
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
)
SELECT doc_id,
       CAST(len(grams) AS INT) AS n_bigrams,
       CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
       1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_ratio
FROM g
""",
    tags=("traindata", "llm", "quality"),
)
def repetition_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring — the 'repeated n-gram ratio' quality filter
    every pre-training pipeline runs: 1 − distinct/total over sliding
    2-grams, as one array expression per document (no explode, no
    shuffle)."""
    # NO fan_out here, deliberately: this is a PURE MAP whose shuffle-free
    # plan is a pinned design contract (test_traindata_map_ops_have_no_
    # shuffle) — at scale the scan's natural split parallelism carries the
    # per-row gram work, and a repartition would move the full corpus text
    # once for nothing.  The single-split fixture scan leaves it on one
    # task at bench scale; that cost is the fixture layout, not the plan
    # (round-15 optimization notes).
    d = load_table(spark, sf_dir, "documents").where(
        F.size(F.split("text", " ")) >= 2
    )
    grams = F.expr(
        "transform(sequence(0, size(split(text, ' ')) - 2), "
        "i -> concat(split(text, ' ')[i], ' ', split(text, ' ')[i+1]))"
    )
    g = d.select("doc_id", grams.alias("grams"))
    return g.select(
        "doc_id",
        F.size("grams").cast("int").alias("n_bigrams"),
        F.size(F.array_distinct("grams")).cast("int").alias("n_distinct"),
        (
            1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
        ).alias("rep_ratio"),
    )


@register(
    "embedding_int8_quant",
    oracle="""
WITH s AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale
    FROM embeddings
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CAST(list_sum(list_transform(embedding,
                x -> abs(round(CAST(x AS DOUBLE) / scale)))) AS BIGINT) AS q_l1,
       CAST(round(CAST(embedding[1] AS DOUBLE) / scale) AS BIGINT) AS q_first
FROM s
""",
    tags=("traindata", "llm", "quantization"),
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (scale =
    max|x|/127, q = round(x/scale)) — the storage/ANN-serving compression
    step.  Pure per-row array math; verified via the quantized L1 norm
    and first component so the checked output stays narrow while pinning
    every element's rounding."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.expr(
        "array_max(transform(embedding, x -> abs(double(x)))) / 127.0D"
    )
    s = e.select("vec_id", "embedding", scale.alias("scale"))
    return s.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.expr(
            "cast(aggregate(transform(embedding, x -> abs(round(double(x) / scale))), "
            "0D, (acc, v) -> acc + v) as bigint)"
        ).alias("q_l1"),
        F.expr("cast(round(double(embedding[0]) / scale) as bigint)").alias("q_first"),
    )


from .decontam import _GRAM_N, _IS_EVAL, eval_split  # noqa: E402
from .dedup import (  # noqa: E402
    SUBSTRING_GRAM_N,
    SURVIVORS_CTE_SQL,
    _corpus_dup_covered_cte,
    _span_rewrite_ctes,
    corpus_survivors,
)
from .similarity import (  # noqa: E402
    _NORM_DUCK,
    _dot2_duck,
    _scored_cents_sql,
    SEMDEDUP_COS,
)

# Decontam covered-positions CTE at prefix dc_ for the composed
# pipeline: eval grams come from the REWRITTEN corpus's gram stream
# (the same md5 coin split as benchmark_decontam_flags), covered marks
# train-doc positions only.
_DC_IS_EVAL_G = _IS_EVAL.replace("doc_id", "g.doc_id")
_DC_COVERED_CTE = f"""dc_evalg AS (
    SELECT DISTINCT gram FROM dc_grams g WHERE {_DC_IS_EVAL_G}
), dc_covered AS (
    SELECT DISTINCT g.doc_id, g.i + u.off AS p
    FROM dc_grams g JOIN dc_evalg USING (gram),
         UNNEST(range(0, {_GRAM_N})) AS u(off)
    WHERE NOT ({_DC_IS_EVAL_G})
)"""


@register(
    "traindata_modern_pipeline",
    oracle=f"""
WITH {SURVIVORS_CTE_SQL},
emb_surv AS (
    SELECT e.vec_id, e.embedding FROM embeddings e
    WHERE e.vec_id IN (SELECT doc_id FROM survivors)
),
{_scored_cents_sql(src="emb_surv")},
assigned AS (
    SELECT vec_id, embedding, {_NORM_DUCK.format(v="embedding")} AS nrm, cent_id
    FROM scored_cents WHERE rn = 1
),
sem_dropped AS (
    SELECT DISTINCT b.vec_id
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE ROUND(({_dot2_duck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6)
          >= {SEMDEDUP_COS}
),
sem_surv AS (
    SELECT s.* FROM survivors s
    WHERE s.doc_id NOT IN (SELECT vec_id FROM sem_dropped)
),
{_span_rewrite_ctes(
    SUBSTRING_GRAM_N,
    _corpus_dup_covered_cte(SUBSTRING_GRAM_N, "sp_"),
    t_sql="SELECT doc_id, string_split(text, ' ') AS toks FROM sem_surv",
    pfx="sp_",
)},
sp_out AS (
    SELECT doc_id, kept_text FROM sp_rebuilt
),
{_span_rewrite_ctes(
    _GRAM_N,
    _DC_COVERED_CTE,
    t_sql="SELECT doc_id, string_split(kept_text, ' ') AS toks FROM sp_out",
    pfx="dc_",
)},
final AS (
    SELECT r.doc_id, r.kept_text FROM dc_rebuilt r
    WHERE NOT ({_IS_EVAL.replace("doc_id", "r.doc_id")})
),
tokc AS (
    SELECT f.doc_id, s.source,
           len(string_split(f.kept_text, ' ')) AS n_tokens
    FROM final f JOIN sem_surv s ON s.doc_id = f.doc_id
),
chunks AS (
    SELECT doc_id, source, n_tokens,
           CAST({PACK_SHARD_SQL} AS INT) AS pack_shard,
           unnest(range(0, CASE WHEN n_tokens <= {CHUNK_WINDOW} THEN 1
                          ELSE ((n_tokens - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1)
                               // {CHUNK_STRIDE} + 1 END)) AS chunk_id
    FROM tokc
),
sized AS (
    SELECT source, pack_shard, doc_id, chunk_id,
           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}, n_tokens)
               - chunk_id * {CHUNK_STRIDE} AS chunk_tokens
    FROM chunks
),
seq AS (
    SELECT source, pack_shard, chunk_tokens,
           COALESCE(CAST(SUM(chunk_tokens) OVER (
                PARTITION BY source, pack_shard ORDER BY doc_id, chunk_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS tok_before
    FROM sized
)
SELECT source, pack_shard,
       CAST(tok_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS pack_tokens
FROM seq
GROUP BY source, pack_shard, tok_before // {PACK_BUDGET}
""",
    tags=("traindata", "llm", "pipeline"),
)
def traindata_modern_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern training-data pipeline (VERDICT r12 #3): quality
    filter → exact dedup → near-dup drop (the ``corpus_survivors`` front
    half shared with llm_corpus_pipeline) → SEMANTIC dedup (SemDeDup
    cell-blocked close-pair pruning over the survivors' embeddings,
    cells seeded from the surviving corpus — the ``close_pair_edges`` /
    ``cosine_assigned_cells`` machinery) → duplicated-span excision
    (Lee et al. apply half, ``substring_span_removal_df`` over the
    semantic survivors) → benchmark DECONTAMINATION over the REWRITTEN
    corpus (eval-overlapping spans excised from training docs, the
    md5-coin eval split itself dropped — ``decontam_span_removal``'s
    semantics downstream of the span stage; stage-3 markers are gram
    breakers, so the idempotence discipline carries through) →
    overlapping context-window chunking (64/48) → sequence packing into
    2048-token budgets per (source, md5-shard of doc_id), now over the
    FINAL post-rewrite token counts.

    Checkpoint placement (each boundary frame feeds >= 2 downstream
    consumers, and at 100 TB the upstream subtree must not recompute):
    ``survivors`` (embedding semi-join + semantic anti-join + the final
    source join), the norm-hoisted cell ``assigned`` frame (both sides
    of the close-pair probe — same discipline as
    semantic_dedup_cell_stats_df), the span-stage rewrite ``sp`` (gram
    re-extraction + the decontam rewrite input), and the decontam gram
    table (eval-gram distinct + the covered-position join).

    The back half is unchanged: chunk sizes are pure arithmetic on
    (n_tokens, chunk_id), the pack id is one window cumsum + one
    aggregation on (source, pack_shard) — the shard bounds the largest
    window task to ~1/N_PACK_SHARDS of the hottest source.  This is the
    query a 100 TB pre-training ingest actually runs end to end."""
    sem_surv, _, final = modern_corpus_stages(spark, sf_dir)
    # -- chunk + pack over the FINAL corpus token counts
    tokc = final.select(
        "doc_id", F.size(F.split("kept_text", " ")).alias("n_tokens")
    ).join(sem_surv.select("doc_id", "source"), "doc_id")
    n_chunks_sql = (
        f"case when n_tokens <= {CHUNK_WINDOW} then 1 "
        f"else ((n_tokens - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE} + 1 end"
    )
    chunks = tokc.select(
        "doc_id", "source", "n_tokens",
        _pack_shard_col().alias("pack_shard"),
        F.explode(
            F.expr(f"sequence(0, cast({n_chunks_sql} as int) - 1)")
        ).alias("chunk_id"),
    )
    sized = chunks.select(
        "source", "pack_shard", "doc_id", "chunk_id",
        (
            F.least(
                F.col("chunk_id") * CHUNK_STRIDE + CHUNK_WINDOW, F.col("n_tokens")
            )
            - F.col("chunk_id") * CHUNK_STRIDE
        ).alias("chunk_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = sized.withColumn(
        "tok_before", F.coalesce(F.sum("chunk_tokens").over(w), F.lit(0)).cast("long")
    )
    pack = (F.col("tok_before") / PACK_BUDGET).cast("long")
    return (
        seq.groupBy("source", "pack_shard", pack.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("pack_tokens"),
        )
        .select("source", "pack_shard", "pack_id", "n_chunks", "pack_tokens")
    )


def modern_corpus_stages(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sem_surv, span_rewritten, final): the composed pipeline's stage
    frames — semantic-dedup survivors (doc_id, text, source, lang,
    n_tokens), the span-excised corpus (doc_id, kept_text, ...), and the
    decontaminated final training corpus (doc_id, kept_text, ...).
    Split out of ``traindata_modern_pipeline`` so the idempotence and
    stage-consistency property tests can drive each boundary."""
    from .dedup import (
        positioned_grams,
        rewrite_excising,
        substring_span_removal_df,
    )
    from .similarity import close_pair_edges, normed_cells

    # kept: two or more consumers, no ReusedExchange without it (all four)
    label = "modern_corpus_stages.{}".format
    survivors = materialize(corpus_survivors(spark, sf_dir), label("survivors"))
    # -- semantic dedup over the survivors' embeddings
    e = load_table(spark, sf_dir, "embeddings").join(
        survivors.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    sem_dropped = (
        close_pair_edges(normed_cells(e))
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    sem_surv = materialize(
        survivors.join(sem_dropped, "doc_id", "left_anti"), label("sem_surv")
    )
    # -- duplicated-span excision within the surviving corpus
    sp = materialize(
        substring_span_removal_df(spark, sf_dir, docs=sem_surv.select("doc_id", "text")),
        label("sp"),
    )
    # -- decontamination over the rewritten corpus (train side rewritten,
    #    eval split dropped; eval grams broadcast — fixed-size benchmark
    #    vs growing corpus, same rationale as decontam_span_removal)
    # fan_out: ``sp`` is a one-partition eager checkpoint, and both t2
    # consumers (the gram re-extraction and the decontam rewrite) are
    # explode stages with md5-per-gram CPU amplification.
    t2 = fan_out(sp.select("doc_id", "kept_text"), "doc_id").select(
        "doc_id", F.split("kept_text", " ").alias("toks")
    )
    coin = eval_split()
    grams2 = materialize(positioned_grams(t2, _GRAM_N), label("grams2"))
    evalg = grams2.where(coin).select("gram").distinct()
    covered2 = (
        grams2.where(~coin)
        .join(F.broadcast(evalg), "gram")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {_GRAM_N - 1})")).alias("p"),
        )
        .distinct()
    )
    final = rewrite_excising(t2.where(~coin), covered2)
    return sem_surv, sp, final


@register(
    "traindata_end_to_end",
    oracle=f"""
WITH {SURVIVORS_CTE_SQL},
chunks AS (
    SELECT doc_id, source, n_tokens,
           CAST({PACK_SHARD_SQL} AS INT) AS pack_shard,
           unnest(range(0, CASE WHEN n_tokens <= {CHUNK_WINDOW} THEN 1
                          ELSE ((n_tokens - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1)
                               // {CHUNK_STRIDE} + 1 END)) AS chunk_id
    FROM survivors
),
sized AS (
    SELECT source, pack_shard, doc_id, chunk_id,
           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}, n_tokens)
               - chunk_id * {CHUNK_STRIDE} AS chunk_tokens
    FROM chunks
),
seq AS (
    SELECT source, pack_shard, chunk_tokens,
           COALESCE(CAST(SUM(chunk_tokens) OVER (
                PARTITION BY source, pack_shard ORDER BY doc_id, chunk_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT), 0) AS tok_before
    FROM sized
)
SELECT source, pack_shard,
       CAST(tok_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS pack_tokens
FROM seq
GROUP BY source, pack_shard, tok_before // {PACK_BUDGET}
""",
    tags=("traindata", "llm", "pipeline"),
)
def traindata_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data pipeline as one Catalyst plan: quality
    filter → exact dedup → near-dup drop (the ``corpus_survivors`` front
    half shared with llm_corpus_pipeline) → overlapping context-window
    chunking (64/48) → sequence packing into 2048-token budgets per
    (source, md5-shard of doc_id). Chunk sizes are pure arithmetic on
    (n_tokens, chunk_id) — no token arrays survive past the dedup stage —
    so the back half is an explode plus one window cumsum and one
    aggregation, both partitioned on (source, pack_shard): sharding keeps
    a doc's chunks together (the shard hashes doc_id) while bounding the
    largest window task to ~1/N_PACK_SHARDS of the hottest source, the
    property a source-only partition lacks on a power-law corpus. This is
    the query a 100 TB pre-training ingest actually runs end to end."""
    survivors = corpus_survivors(spark, sf_dir)
    n_chunks_sql = (
        f"case when n_tokens <= {CHUNK_WINDOW} then 1 "
        f"else ((n_tokens - {CHUNK_WINDOW}) + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE} + 1 end"
    )
    chunks = survivors.select(
        "doc_id", "source", "n_tokens",
        _pack_shard_col().alias("pack_shard"),
        F.explode(
            F.expr(f"sequence(0, cast({n_chunks_sql} as int) - 1)")
        ).alias("chunk_id"),
    )
    sized = chunks.select(
        "source", "pack_shard", "doc_id", "chunk_id",
        (
            F.least(
                F.col("chunk_id") * CHUNK_STRIDE + CHUNK_WINDOW, F.col("n_tokens")
            )
            - F.col("chunk_id") * CHUNK_STRIDE
        ).alias("chunk_tokens"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source", "pack_shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = sized.withColumn(
        "tok_before", F.coalesce(F.sum("chunk_tokens").over(w), F.lit(0)).cast("long")
    )
    pack = (F.col("tok_before") / PACK_BUDGET).cast("long")
    return (
        seq.groupBy("source", "pack_shard", pack.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("pack_tokens"),
        )
        .select("source", "pack_shard", "pack_id", "n_chunks", "pack_tokens")
    )


OOV_VOCAB_K = 100


@register(
    "oov_rate_by_source",
    oracle=f"""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS term
    FROM documents
),
vocab AS (
    SELECT term FROM (
        SELECT term, COUNT(*) AS n,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rn
        FROM toks GROUP BY term
    ) WHERE rn <= {OOV_VOCAB_K}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN term IN (SELECT term FROM vocab)
                     THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
       CAST(SUM(CASE WHEN term IN (SELECT term FROM vocab)
                     THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS oov_rate
FROM toks
GROUP BY source
""",
    tags=("traindata", "llm", "text", "vocab"),
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage analysis: share of token occurrences per source
    that fall outside the corpus top-{OOV_VOCAB_K} vocabulary
    (deterministic tie-break: count desc, term asc). The vocab frame is
    tiny by construction, so membership is a broadcast join against the
    token stream — at 100 TB this is one scan plus a map-side lookup, and
    the per-source rates are one partial+final aggregation."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    # top-K via orderBy+limit (TakeOrderedAndProject: each partition keeps
    # K candidates, the driver merges K*P rows) — NOT a partition-less
    # row_number window, which funnels every distinct term of a 100 TB
    # vocabulary through ONE sort task. Identical semantics under the
    # deterministic (count desc, term asc) tie-break.
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(OOV_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "term", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("oov_tokens"),
        (F.sum(oov).cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


# --- leakage-safe splitting (round 5) --------------------------------------


def _leakage_split_oracle() -> str:
    from .dedup import _CC_REACH_CTE_SQL

    return f"""
WITH RECURSIVE
{_CC_REACH_CTE_SQL},
labels AS (
    SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
),
assign AS (
    SELECT doc_id, component,
           CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 4) AS INT)
               % 100 AS bucket
    FROM labels
)
SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components
FROM assign
GROUP BY split
ORDER BY split
"""


def _register_leakage_safe_split() -> None:
    # deferred registration: the oracle composes dedup's recursive CTE,
    # and importing dedup at module top would be circular.
    @register(
        "leakage_safe_split_counts",
        oracle=_leakage_split_oracle(),
        tags=("traindata", "llm", "split", "graph"),
    )
    def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Contamination-aware train/val/test split: the md5 bucket is
        taken over the near-dup CONNECTED COMPONENT id, not the document
        id, so every member of a duplicate cluster lands in the same
        split — a per-document hash split would leak near-copies of
        training documents into the eval set. Labels come from the
        O(log n)-round large-star/small-star CC; the oracle replays the
        exact transitive closure with a recursive CTE. One extra shuffle
        over ``dataset_hash_split`` (the CC label join); the rest is the
        same pure-map bucket assignment."""
        from .dedup import connected_components_star, near_dup_edges

        d = load_table(spark, sf_dir, "documents")
        labels, _ = connected_components_star(
            near_dup_edges(spark, sf_dir), d.select("doc_id")
        )
        split = _split_col(md5_bucket("component", 100))
        return (
            labels.select(split.alias("split"), "component")
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("component").alias("n_components"),
            )
            .orderBy("split")
        )


_register_leakage_safe_split()


@register(
    "packing_efficiency_stats",
    oracle=f"""
{_PACKED_SQL}
SELECT source,
       CAST(COUNT(DISTINCT pack_shard) AS BIGINT) AS n_shards,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(pack_tokens) AS BIGINT) AS max_pack_tokens,
       CAST((1000 * SUM(pack_tokens)) // (COUNT(*) * {PACK_BUDGET}) AS BIGINT)
           AS util_permille
FROM packed
GROUP BY source
ORDER BY source
""",
    tags=("traindata", "llm", "packing", "diagnostic"),
)
def packing_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality diagnostic per source: how full the 2048-token
    training sequences actually are.  util_permille is integer-exact
    (1000·total_tokens div n_packs·budget — tie-proof across engines)
    and reads as: ≈1000 = budget fully used, >1000 = straddle overflow
    dominates (documents bigger than the budget), <1000 = tail packs
    and shard boundaries waste GPU tokens — the signal that N_PACK_SHARDS
    is too high for a small source or the budget too large.  Composes
    over :func:`packed_sequences`, so it is one extra aggregate on the
    same two-shuffle plan, not a new scan of the corpus."""
    p = packed_sequences(spark, sf_dir)
    return (
        p.groupBy("source")
        .agg(
            F.count_distinct("pack_shard").alias("n_shards"),
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.max("pack_tokens").alias("max_pack_tokens"),
        )
        .select(
            "source",
            "n_shards",
            "n_packs",
            "n_docs",
            "total_tokens",
            "max_pack_tokens",
            F.expr(
                f"CAST((1000 * total_tokens) DIV (n_packs * {PACK_BUDGET}) AS BIGINT)"
            ).alias("util_permille"),
        )
        .orderBy("source")
    )


# Mixture weighting (Pile / DoReMi-style domain reweighting): a training
# run rarely consumes the corpus at its natural proportions — high-value
# domains are UPSAMPLED (seen >1 epoch) and low-value ones DOWNSAMPLED.
# The deterministic materialization: weight w per source; every doc gets
# floor(w) copies plus one more iff its md5 coin (u in [0,1)) lands
# under frac(w) — exactly w copies in expectation, reproducible across
# engines and runs, no RNG state.  Copies carry an epoch index so the
# downstream shuffle/pack stage can interleave epochs.
MIXTURE_WEIGHTS: dict[str, float] = {
    "src0": 2.5,   # upsampled: 2 full epochs + 50% of a third
    "src1": 2.0,   # exactly 2 epochs
    "src2": 0.25,  # downsampled to a quarter
    "src3": 0.25,
}
MIXTURE_DEFAULT_W = 1.0
# Coin resolution MUST divide 16^prefix_len of the md5 prefix (here
# 65536 = 16^4 exactly), otherwise the pigeonhole remainder skews the
# coin: a 10000 modulus over 65536 preimages gives buckets 0-5535 seven
# preimages and the rest six, i.e. P(u < 0.5) = 0.534 — a ~7% relative
# over-sampling that BOTH engines share, so oracle parity can never
# catch it.  With 65536 the coin is exactly uniform, and the .5/.25
# fractional weights are dyadic so the acceptance thresholds are exact.
_MIX_RES = 65536


def _mix_weight_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} = '{s}' THEN {w!r}" for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"(CASE {cases} ELSE {MIXTURE_DEFAULT_W!r} END)"


@register(
    "weighted_source_mixture",
    oracle=f"""
WITH coins AS (
    SELECT doc_id, source,
           {_mix_weight_sql('source')} AS w,
           ({md5_bucket_sql('doc_id', _MIX_RES)}) / {_MIX_RES}.0 AS u
    FROM documents
), copies AS (
    SELECT doc_id, source,
           CAST(FLOOR(w) + (CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_copies
    FROM coins
), exploded AS (
    SELECT doc_id, source, unnest(generate_series(1, n_copies)) AS epoch
    FROM copies WHERE n_copies > 0
)
SELECT source, CAST(epoch AS BIGINT) AS epoch,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM exploded
GROUP BY source, epoch
""",
    tags=("traindata", "llm", "mixture", "sampling"),
)
def weighted_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-weighted mixture materialization: per-source sampling
    weight w -> floor(w) deterministic copies of every doc plus one
    extra iff the doc's md5 coin < frac(w); copies are tagged with an
    epoch index.  Output: rows and distinct docs per (source, epoch) —
    epoch counts shrink at the fractional boundary (e.g. w=2.5 -> epoch
    3 holds ~half the docs), and w<1 keeps a deterministic subset.

    Generalizes `source_mixture_sample` (rate-only DOWNsampling, w<=1)
    to weights above 1 — the repeated-epoch UPsampling a real mixture
    spec needs (Pile-style domain weights routinely exceed 1 for
    high-quality sources).  The two share the md5-coin determinism
    convention; this one additionally materializes the epoch axis.

    Scale shape: weight lookup and coin are per-row expressions, the
    fan-out is a <= ceil(w) explode (pure map — at 100 TB the
    acceptance filter runs BEFORE any heavy transform, so downsampled
    sources never pay tokenize/dedup cost for dropped docs), and the
    only shuffle is the final (source, epoch) aggregate.  Determinism:
    the md5 coin is the repo-wide split/sample primitive
    (`md5_bucket`), so the materialized mixture is identical across
    engines, runs, and cluster sizes — a re-run resumes the exact same
    epoch membership."""
    d = load_table(spark, sf_dir, "documents")
    w = F.lit(MIXTURE_DEFAULT_W)
    for s, wv in sorted(MIXTURE_WEIGHTS.items()):
        w = F.when(F.col("source") == s, F.lit(wv)).otherwise(w)
    u = md5_bucket("doc_id", _MIX_RES).cast("double") / float(_MIX_RES)
    n_copies = (
        F.floor(w) + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    exploded = (
        d.select("doc_id", "source")
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(1, n_copies)")).alias("epoch"),
        )
    )
    return exploded.groupBy("source", F.col("epoch").cast("bigint").alias("epoch")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# --- DSIR-style importance resampling (round 7) ------------------------------
#
# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling"): score every raw document by the log importance ratio of a
# TARGET distribution over a RAW distribution, both estimated on hashed
# n-gram features, then keep the top-weighted documents.  Hashed features
# are the whole point at 100 TB — the two "language models" collapse to
# DSIR_BUCKETS-row tables that broadcast, so selection is one linear pass.

DSIR_BUCKETS = 256  # divides 16^4 -> exactly uniform md5 feature buckets
DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 20

_DSIR_BUCKET_SQL = md5_bucket_sql("term", DSIR_BUCKETS)

# The (feats, raw, tgt, tots, lm) CTE block — ONE definition shared by the
# top-k selection oracle and the Gumbel resampling oracle, mirroring the
# one Spark-side builder `_dsir_feats_and_lm` (two hand-kept copies of the
# smoothing arithmetic is how Spark/oracle drift would start).
# The feats CTE alone — shared by the LM block below AND the KL drift
# monitor's oracle, so "the same hashed features as DSIR" is true by
# construction on the oracle side too.
_DSIR_FEATS_CTE = f"""feats AS (
    SELECT doc_id, source, lang, {_DSIR_BUCKET_SQL} AS b
    FROM (SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS term
          FROM documents)
)"""

_DSIR_LM_CTES = f"""{_DSIR_FEATS_CTE},
raw AS (SELECT b, COUNT(*) AS cr FROM feats GROUP BY b),
tgt AS (SELECT b, COUNT(*) AS ct FROM feats WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
tots AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS tr,
           CAST(COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS DOUBLE) AS tt
    FROM feats
),
lm AS (
    SELECT raw.b,
           LN(((COALESCE(ct, 0) + 1.0) * (tr + {DSIR_BUCKETS}))
              / ((cr + 1.0) * (tt + {DSIR_BUCKETS}))) AS lw
    FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots
)"""


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, b): the hashed-unigram token stream — the
    ONE Spark definition of the DSIR feature space (oracle mirror:
    `_DSIR_FEATS_CTE`), shared by selection, resampling, and the KL
    drift monitor."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split("text", " ")).alias("term"),
    ).select(
        "doc_id", "source", "lang", md5_bucket("term", DSIR_BUCKETS).alias("b")
    )


def _dsir_feats_and_lm(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(feats, lm): the hashed-unigram token stream and the broadcastable
    DSIR_BUCKETS-row log-importance table — the ONE Spark definition of
    the DSIR arithmetic (oracle mirror: `_DSIR_LM_CTES`)."""
    feats = _dsir_feats(spark, sf_dir)
    is_tgt = F.col("lang") == DSIR_TARGET_LANG
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = feats.where(is_tgt).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    tots = feats.agg(
        F.count(F.lit(1)).cast("double").alias("tr"),
        F.count(F.when(is_tgt, 1)).cast("double").alias("tt"),
    )
    lm = (
        raw.join(tgt, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.log(
                ((F.col("ct") + 1.0) * (F.col("tr") + DSIR_BUCKETS))
                / ((F.col("cr") + 1.0) * (F.col("tt") + DSIR_BUCKETS))
            ).alias("lw"),
        )
    )
    return feats, lm


@register(
    "dsir_selected_docs",
    oracle=f"""
WITH {_DSIR_LM_CTES}
SELECT f.doc_id, f.source, f.lang,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(SUM(lw), 6) AS dsir_logratio
FROM feats f JOIN lm ON f.b = lm.b
GROUP BY f.doc_id, f.source, f.lang
ORDER BY dsir_logratio DESC, f.doc_id
LIMIT {DSIR_TOP_K}
""",
    tags=("traindata", "llm", "selection"),
)
def dsir_selected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: top-20 documents by hashed-unigram log
    importance ratio toward the ``lang = DSIR_TARGET_LANG`` target domain.

    Both unigram LMs live on DSIR_BUCKETS=256 md5 feature buckets
    (add-one smoothed, exactly-uniform bucket preimages since the
    modulus divides 16^4), so p_target/p_raw is a DSIR_BUCKETS-row
    broadcast table regardless of corpus size — the hashed-feature trick
    IS the scale story: one explode, one broadcast join, one per-doc
    aggregate; no vocabulary-sized shuffle ever forms.  The log-ratio is
    computed as a single ``ln`` over exact integer-derived operands with
    identical operation order on both engines, rounded to 6 BEFORE the
    top-k ranking (ties to doc_id) per the repo determinism convention."""
    feats, lm = _dsir_feats_and_lm(spark, sf_dir)
    scored = (
        feats.join(F.broadcast(lm), "b")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("lw"), 6).alias("dsir_logratio"),
        )
    )
    return scored.orderBy(F.desc("dsir_logratio"), F.asc("doc_id")).limit(DSIR_TOP_K)


# --- Deterministic training-order shuffle (round 7) --------------------------
#
# A training run needs the corpus in a reproducible pseudo-random order,
# materialized as shards: order key = md5(doc_id || salt), shard = md5
# bucket of the same salted key.  Everything downstream (resume, data
# ablations, novelty curves) can replay the exact order from (salt, N).

SHUFFLE_SALT = ":perm42"
N_SHUFFLE_SHARDS = 16  # divides 16^4 -> exactly uniform shard sizes

_SHUF_KEY_SQL = f"md5(CAST(doc_id AS VARCHAR) || '{SHUFFLE_SALT}')"
_SHUF_SHARD_SQL = md5_bucket_sql(f"CAST(doc_id AS VARCHAR) || '{SHUFFLE_SALT}'", N_SHUFFLE_SHARDS)


def _shuffle_cols() -> tuple["F.Column", "F.Column"]:
    """(ord_key, shard): the ONE Spark definition of the deterministic
    permutation — full md5 hex for the order, md5 bucket for the shard."""
    salted = F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT))
    return F.md5(salted), md5_bucket(salted, N_SHUFFLE_SHARDS)


@register(
    "shuffled_shard_manifest",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS ntok,
           {_SHUF_KEY_SQL} AS ord_key,
           {_SHUF_SHARD_SQL} AS shard
    FROM documents
),
pos AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord_key) AS rn
    FROM keyed
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       min_by(doc_id, ord_key) AS first_doc_id,
       max_by(doc_id, ord_key) AS last_doc_id,
       bit_xor(CAST('0x' || substr(md5(CAST(rn AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)) AS perm_checksum
FROM pos
GROUP BY shard
""",
    tags=("traindata", "llm", "shuffle"),
)
def shuffled_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global-shuffle shard manifest: every document gets a
    reproducible pseudo-random position (md5 of its salted id) and a
    shard (md5 bucket of the same salted id, exactly uniform since
    N_SHUFFLE_SHARDS=16 divides 16^4); the manifest pins the full
    permutation per shard — counts, token budget, boundary docs, and a
    position-sensitive checksum (bit_xor of md5(rank:doc_id), constant
    agg state, order-insensitive to COMPUTE yet sensitive to any change
    in the rank->doc mapping, so a wrong order cannot hash-collide away).

    Scale shape: the rank window partitions BY SHARD, so parallelism ==
    shard count and each task sorts only its shard — at 100 TB the dial
    is the shard count (real runs size shards to a few GB, i.e. tens of
    thousands of shards), never a global sort.  Everything else is one
    pass + one aggregate.  Replaying the order for training = ORDER BY
    ord_key within a shard's file, no re-hash needed."""
    d = load_table(spark, sf_dir, "documents")
    ord_key, shard = _shuffle_cols()
    keyed = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("ntok"),
        ord_key.alias("ord_key"),
        shard.alias("shard"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("shard").orderBy("ord_key"))
    pos = keyed.withColumn("rn", rn)
    # ONE definition of the checksum term (hand-duplicating the expr in
    # the bit_xor is how the Spark/oracle pair would drift)
    perm_term = (
        "cast(conv(substr(md5(concat(cast(rn as string), ':', "
        "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
    )
    return pos.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
        F.min_by("doc_id", "ord_key").alias("first_doc_id"),
        F.max_by("doc_id", "ord_key").alias("last_doc_id"),
        F.expr(f"bit_xor({perm_term})").alias("perm_checksum"),
    )


# --- N-gram novelty over the training curriculum (round 7) -------------------

NOVELTY_GRAM_N = 3

# The gram concatenation is GENERATED from the constant on both engines
# (a hardcoded trigram next to a parameterized window count would make
# the dial a trap: both engines would stay wrong together, invisible to
# oracle parity).
_NOVELTY_GRAM_DUCK = " || ' ' || ".join(
    f"toks[i+{j}]" if j else "toks[i]" for j in range(NOVELTY_GRAM_N)
)
_NOVELTY_GRAM_SPARK = ", ' ', ".join(
    f"toks[i+{j}]" if j else "toks[i]" for j in range(NOVELTY_GRAM_N)
)


@register(
    "ngram_novelty_by_shard",
    oracle=f"""
WITH t AS (
    SELECT {_SHUF_SHARD_SQL} AS shard, string_split(text, ' ') AS toks
    FROM documents
    WHERE len(string_split(text, ' ')) >= {NOVELTY_GRAM_N}
),
grams AS (
    SELECT shard,
           unnest(list_transform(range(1, len(toks) - {NOVELTY_GRAM_N - 2}),
                  i -> {_NOVELTY_GRAM_DUCK})) AS gram
    FROM t
),
occ AS (SELECT shard, gram, COUNT(*) AS n_occ FROM grams GROUP BY shard, gram),
fs AS (SELECT gram, MIN(shard) AS first_seen FROM occ GROUP BY gram)
SELECT occ.shard,
       CAST(SUM(n_occ) AS BIGINT) AS total_gram_occurrences,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams,
       CAST(COUNT(*) FILTER (WHERE first_seen = occ.shard) AS BIGINT) AS novel_grams,
       ROUND(CAST(COUNT(*) FILTER (WHERE first_seen = occ.shard) AS DOUBLE)
             / COUNT(*), 6) AS novelty_ratio
FROM occ JOIN fs USING (gram)
GROUP BY occ.shard
""",
    tags=("traindata", "llm", "novelty"),
)
def ngram_novelty_by_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-trigram novelty curve over the shuffled training curriculum:
    for each shard (processed in ascending shard order), how many of its
    distinct trigrams appear for the FIRST time in that shard.  The
    standard diminishing-returns diagnostic for "is more of this corpus
    still adding new content, or just repeating itself" — the curve's
    decay rate is what data-mixture ablations read.

    Reuses the SAME deterministic shuffle-shard assignment as
    ``shuffled_shard_manifest`` (one definition, `_shuffle_cols`), so the
    novelty curve describes exactly the order the trainer would consume.
    Plan: explode trigrams -> aggregate on (shard, gram) -> gram-level
    MIN(shard) -> join back on gram.  Both shuffles key on the gram (a
    near-uniform key at corpus scale); nothing is ever all-pairs and no
    per-shard state grows beyond the aggregate row — the first-seen
    table is the only corpus-vocabulary-sized intermediate and it stays
    distributed."""
    d = load_table(spark, sf_dir, "documents")
    _, shard = _shuffle_cols()
    t = d.select(shard.alias("shard"), F.split("text", " ").alias("toks")).where(
        F.size("toks") >= NOVELTY_GRAM_N
    )
    grams = t.select(
        "shard",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(toks) - {NOVELTY_GRAM_N}), "
                f"i -> concat({_NOVELTY_GRAM_SPARK}))"
            )
        ).alias("gram"),
    )
    occ = grams.groupBy("shard", "gram").agg(F.count(F.lit(1)).alias("n_occ"))
    fs = occ.groupBy("gram").agg(F.min("shard").alias("first_seen"))
    novel = F.count(F.when(F.col("first_seen") == F.col("shard"), 1))
    return (
        occ.join(fs, "gram")
        .groupBy("shard")
        .agg(
            F.sum("n_occ").alias("total_gram_occurrences"),
            F.count(F.lit(1)).alias("distinct_grams"),
            novel.alias("novel_grams"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty_ratio"
            ),
        )
    )


# --- DSIR step 2: Gumbel-top-k resampling (round 7) --------------------------
#
# The paper's actual selection procedure is importance RESAMPLING, not a
# hard top-k on the weight: sampling without replacement proportional to
# softmax(log w) == taking the top-k of (log w + Gumbel noise).  The
# Gumbel keys here are deterministic md5 dyadic uniforms, so the "random"
# sample is reproducible and engine-exact.

DSIR_SAMPLE_K = 50
DSIR_GUMBEL_SALT = ":gumbel7"
DSIR_GUMBEL_RES = 4096  # divides 16^4 -> exactly uniform dyadic coin

_DSIR_COIN_SQL = md5_bucket_sql(
    f"CAST(doc_id AS VARCHAR) || '{DSIR_GUMBEL_SALT}'", DSIR_GUMBEL_RES
)
_DSIR_U_SQL = f"(({_DSIR_COIN_SQL}) + 0.5) / {DSIR_GUMBEL_RES}.0"


@register(
    "dsir_gumbel_resample",
    oracle=f"""
WITH {_DSIR_LM_CTES},
doc_w AS (
    SELECT f.doc_id, f.source, SUM(lw) AS w
    FROM feats f JOIN lm ON f.b = lm.b
    GROUP BY f.doc_id, f.source
)
SELECT doc_id, source,
       ROUND(w + (-LN(-LN({_DSIR_U_SQL}))), 6) AS gumbel_key
FROM doc_w
ORDER BY gumbel_key DESC, doc_id
LIMIT {DSIR_SAMPLE_K}
""",
    tags=("traindata", "llm", "selection", "sampling"),
)
def dsir_gumbel_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling via the Gumbel-top-k trick: the 50
    sampled documents are the top 50 by (log importance ratio + Gumbel
    noise), which is exactly one draw of sampling-without-replacement
    with probability proportional to softmax of the DSIR weight.

    The Gumbel key is ``-ln(-ln(u))`` over a deterministic md5 dyadic
    uniform ``u = (bucket + 0.5) / 4096`` (modulus divides 16^4, so u is
    exactly uniform on the grid and never 0 or 1 — both logs are finite;
    the repo's sampling-coin convention).  Same shared feats/lm
    definition as ``dsir_selected_docs`` (`_dsir_feats_and_lm`); the
    plan adds only a per-row key expression on top of the per-doc
    aggregate and a TakeOrderedAndProject — resampling costs nothing
    beyond selection at any scale, and a re-run (or a different engine)
    reproduces the identical sample."""
    feats, lm = _dsir_feats_and_lm(spark, sf_dir)
    doc_w = (
        feats.join(F.broadcast(lm), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("lw").alias("w"))
    )
    u = (
        md5_bucket(
            F.concat(F.col("doc_id").cast("string"), F.lit(DSIR_GUMBEL_SALT)),
            DSIR_GUMBEL_RES,
        )
        + 0.5
    ) / float(DSIR_GUMBEL_RES)
    key = F.round(F.col("w") + (-F.log(-F.log(u))), 6)
    return (
        doc_w.select("doc_id", "source", key.alias("gumbel_key"))
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(DSIR_SAMPLE_K)
    )


# --- Per-source token budget fill (round 7) ----------------------------------
#
# Mixture specs are token budgets, not doc counts: "take 1000 tokens of
# source X in training order".  Exact budget fill needs a per-source PREFIX
# sum over the shuffled order — inherently sequential if done naively, so
# the Spark side runs the classic two-phase distributed prefix sum: the
# ord_key's first hex digit partitions each source's order into 16 ordered
# RANGE blocks; within-block cumsums run wide, the 16-row per-source block
# totals get a tiny running offset, and global position = offset + within.

TOKEN_BUDGET_PER_SOURCE = 1000


def budget_prefix_cums(d: DataFrame) -> DataFrame:
    """(doc_id, source, ntok, ord_key, cum): exact per-source running
    token total over the deterministic shuffled order — the ONE Spark
    definition of the budget-fill prefix sum, shared by the batch
    selection/admission queries and the streaming twin's closed form.

    Distributed two-phase form: the ord_key's first hex digit splits
    each source's order into 16 ordered RANGE blocks; within-block
    cumsums run wide (heaviest window partition ~1/16 of the hottest
    source), the 16-row per-source block totals get a tiny running
    offset, and the global position is offset + within — integer-exact
    and identical to the single-window oracle statement."""
    from pyspark.sql import Window

    ord_key, _ = _shuffle_cols()
    keyed = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("ntok"),
        ord_key.alias("ord_key"),
    ).withColumn(
        "block", F.conv(F.substring("ord_key", 1, 1), 16, 10).cast("int")
    )
    w_in = (
        Window.partitionBy("source", "block")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = keyed.withColumn("win_cum", F.sum("ntok").over(w_in))
    btot = keyed.groupBy("source", "block").agg(F.sum("ntok").alias("btot"))
    w_off = (
        Window.partitionBy("source")
        .orderBy("block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = btot.withColumn(
        "offset", F.coalesce(F.sum("btot").over(w_off), F.lit(0))
    ).select("source", "block", "offset")
    # explicit broadcast: offsets is sources x 16 rows by construction,
    # but it sits behind a window-over-aggregate whose size estimate can
    # exceed autoBroadcastJoinThreshold at production stats — without the
    # hint the corpus side could silently degrade to a sort-merge join,
    # defeating the two-phase shape this function exists for
    return within.join(F.broadcast(offsets), ["source", "block"]).withColumn(
        "cum", F.col("offset") + F.col("win_cum")
    )


@register(
    "token_budget_selection",
    oracle=f"""
WITH keyed AS (
    SELECT source, len(string_split(text, ' ')) AS ntok,
           {_SHUF_KEY_SQL} AS ord_key
    FROM documents
),
cum AS (
    SELECT source, ntok,
           SUM(ntok) OVER (PARTITION BY source ORDER BY ord_key
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM keyed
)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE cum <= {TOKEN_BUDGET_PER_SOURCE}) AS BIGINT)
           AS n_selected,
       CAST(COALESCE(SUM(ntok) FILTER (WHERE cum <= {TOKEN_BUDGET_PER_SOURCE}), 0)
            AS BIGINT) AS tokens_selected,
       ROUND(CAST(COALESCE(SUM(ntok) FILTER (WHERE cum <= {TOKEN_BUDGET_PER_SOURCE}), 0)
                  AS DOUBLE) / {TOKEN_BUDGET_PER_SOURCE}.0, 6) AS utilization
FROM cum
GROUP BY source
""",
    tags=("traindata", "llm", "mixture", "budget"),
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget fill: per source, select documents in the
    deterministic shuffled training order until the running token count
    exceeds TOKEN_BUDGET_PER_SOURCE; report how many docs/tokens the budget admits.

    The oracle states the semantics as ONE per-source window cumsum; the
    Spark plan computes the identical prefix sum DISTRIBUTED: the md5
    ord_key's first hex digit splits each source's order into 16 ordered
    range blocks, cumsums run per (source, block) — so the heaviest
    window partition is ~1/16 of the hottest source, the packing-shard
    argument — and the cross-block offset is a window over the tiny
    (source x block) totals table.  Global position = block offset +
    within-block cumsum, integer-exact, so a power-law source never
    serializes through one task.  The block-count dial plays the same
    role as N_PACK_SHARDS (production sizes it to ~task-sized blocks);
    unlike packing's shard windows, the range-block split preserves the
    EXACT global order, which budget semantics require."""
    cum = budget_prefix_cums(load_table(spark, sf_dir, "documents"))
    sel = F.col("cum") <= TOKEN_BUDGET_PER_SOURCE
    tokens_sel = F.coalesce(F.sum(F.when(sel, F.col("ntok"))), F.lit(0))
    return cum.groupBy("source").agg(
        F.count(F.when(sel, 1)).alias("n_selected"),
        tokens_sel.alias("tokens_selected"),
        F.round(
            tokens_sel.cast("double") / float(TOKEN_BUDGET_PER_SOURCE), 6
        ).alias("utilization"),
    )


# --- per-source distribution drift monitor (round 7) -------------------------
#
# The observability half of the mixture story: KL(source || corpus) over
# the SAME hashed-unigram feature buckets DSIR uses.  A source whose
# token distribution drifts from the corpus mixture (new crawl snapshot,
# template change, poisoning) shows up as a KL jump long before any
# downstream metric moves — and because the features are hashed, the
# monitor costs one broadcast join regardless of vocabulary size.


@register(
    "source_kl_drift",
    oracle=f"""
WITH {_DSIR_FEATS_CTE},
corpus AS (SELECT b, COUNT(*) AS cc FROM feats GROUP BY b),
ctot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ct FROM feats),
per_src AS (SELECT source, b, COUNT(*) AS sc FROM feats GROUP BY source, b),
stot AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS st FROM feats GROUP BY source),
terms AS (
    SELECT p.source,
           ((p.sc + 1.0) / (stot.st + {DSIR_BUCKETS}))
               * LN(((p.sc + 1.0) * (ctot.ct + {DSIR_BUCKETS}))
                    / ((corpus.cc + 1.0) * (stot.st + {DSIR_BUCKETS}))) AS kl_term
    FROM per_src p
    JOIN corpus ON p.b = corpus.b
    JOIN stot ON p.source = stot.source, ctot
)
SELECT t.source,
       CAST(stot.st AS BIGINT) AS n_tokens,
       ROUND(SUM(kl_term), 6) AS kl_vs_corpus
FROM terms t JOIN stot ON t.source = stot.source
GROUP BY t.source, stot.st
""",
    tags=("traindata", "llm", "drift", "monitor"),
)
def source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: KL(source || corpus) over the DSIR
    hashed-unigram buckets (add-one smoothed), per source — the cheap
    early-warning signal for a source whose content shifted away from
    the corpus mixture.

    Hashed features make this O(1) state per source: the corpus
    distribution is a DSIR_BUCKETS-row broadcast table, each source
    contributes its own bucket counts, and the KL is one aggregate over
    |sources| x occupied-buckets rows.  Buckets absent from a source
    contribute only through smoothing mass and are omitted identically
    on both engines (the sum runs over the source's OCCUPIED buckets —
    a deliberate truncation shared by the oracle, documented here so
    the number is read as a monitoring statistic, not an exact KL).
    The term arithmetic follows the DSIR log-ratio convention: exact
    integer-derived operands, identical operation order, round(6) only
    on the final sum."""
    from pyspark.sql import Window

    # ONE pass over the token stream: per-(source, bucket) counts are the
    # finest grain, so the corpus distribution, source totals, and corpus
    # total are all exact integer derivations of the per_src table.  The
    # corpus total rides a 256-row unbounded window on the corpus table
    # instead of a scalar cross join, so no BroadcastNestedLoopJoin
    # enters the plan.
    # kept: two or more consumers, no ReusedExchange without it
    per_src = materialize(
        _dsir_feats(spark, sf_dir)
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("sc")),
        "source_kl_drift.per_src",
    )
    corpus = (
        per_src.groupBy("b")
        .agg(F.sum("sc").alias("cc"))
        .withColumn(
            "ct", F.sum("cc").over(Window.partitionBy()).cast("double")
        )
    )
    stot = per_src.groupBy("source").agg(
        F.sum("sc").cast("double").alias("st")
    )
    kl_term = (
        ((F.col("sc") + 1.0) / (F.col("st") + DSIR_BUCKETS))
        * F.log(
            ((F.col("sc") + 1.0) * (F.col("ct") + DSIR_BUCKETS))
            / ((F.col("cc") + 1.0) * (F.col("st") + DSIR_BUCKETS))
        )
    )
    terms = (
        per_src.join(F.broadcast(corpus), "b")
        .join(F.broadcast(stot), "source")
        .select("source", "st", kl_term.alias("kl_term"))
    )
    return terms.groupBy("source", "st").agg(
        F.round(F.sum("kl_term"), 6).alias("kl_vs_corpus")
    ).select(
        "source", F.col("st").cast("long").alias("n_tokens"), "kl_vs_corpus"
    )


# --- Stratified eval-set quota (round 7) ----------------------------------------
#
# Held-out eval sets are built with per-stratum QUOTAS, not global-rate
# sampling: a global md5 coin leaves rare (source, lang) cells with a
# handful of eval docs and noisy per-cell metrics, so the pipeline takes a
# fixed number per stratum in deterministic hash order (the balanced-eval
# twin of `dataset_hash_split`'s rate-based global split).

EVAL_QUOTA = 5  # docs per (source, lang) stratum
# ONE hash fragment parsed by BOTH engines (STRING is a DuckDB VARCHAR
# alias), so the eval ordering cannot drift between the Spark side and
# the oracle (engine-portability convention).
_EVAL_HASH_SQL = "md5(CAST(doc_id AS STRING))"
_EVAL_RANK_ORDER = f"{_EVAL_HASH_SQL}, doc_id"


@register(
    "stratified_eval_quota",
    oracle=f"""
SELECT source, lang, doc_id, CAST(r AS INT) AS eval_rank
FROM (
    SELECT source, lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source, lang
                              ORDER BY {_EVAL_RANK_ORDER}) AS r
    FROM documents
)
WHERE r <= {EVAL_QUOTA}
""",
    tags=("traindata", "llm", "sampling"),
)
def stratified_eval_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``EVAL_QUOTA`` documents of every (source, lang) stratum
    in md5(doc_id) order — a deterministic, balanced eval set with an
    explicit per-stratum rank.

    Scale shape: a naive single window per stratum puts the WHOLE hottest
    stratum in one task (the packing-window failure mode), so selection is
    two-phase exact top-Q: rank within (stratum, first-md5-hex-digit
    block) — 16 exactly-uniform blocks, each task sees ~1/16 of its
    stratum — keep block-rank <= Q (any stratum-top-Q row is necessarily
    in its block's top Q), then a second window over the <= 16*Q
    survivors per stratum assigns the global rank.  Ordering is the md5
    hex string itself (identical lexicographic order on both engines),
    doc_id as the total-order tiebreak."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "doc_id",
        F.expr(_EVAL_HASH_SQL).alias("h"),
    ).withColumn("blk", F.substring("h", 1, 1))
    wb = Window.partitionBy("source", "lang", "blk").orderBy("h", "doc_id")
    survivors = base.withColumn("br", F.row_number().over(wb)).where(
        F.col("br") <= EVAL_QUOTA
    )
    ws = Window.partitionBy("source", "lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("r", F.row_number().over(ws))
        .where(F.col("r") <= EVAL_QUOTA)
        .select("source", "lang", "doc_id", F.col("r").cast("int").alias("eval_rank"))
    )


# --- nucleus (top-p) quality selection (round 10) ------------------------------

NUCLEUS_P = 0.5  # keep the best docs holding half of each source's quality mass


@register(
    "nucleus_quality_selection",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, source, ROUND({_UNIQ_RATIO_SQL}, 6) AS q
    FROM documents
), ranked AS (
    SELECT doc_id, source, q,
           SUM(q) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mass_before,
           SUM(q) OVER (PARTITION BY source) AS total
    FROM scored
), kept AS (
    SELECT * FROM ranked WHERE COALESCE(mass_before, 0) < {NUCLEUS_P} * total
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(SUM(q), 6) AS kept_mass,
       ROUND(MAX(total), 6) AS total_mass,
       ROUND(MIN(q), 6) AS min_kept_score
FROM kept GROUP BY source
""",
    tags=("llm", "traindata", "selection"),
)
def nucleus_quality_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) selection per source: keep the highest-quality
    documents until they hold p=0.5 of the source's total quality mass —
    the mass-budgeted alternative to count quotas (stratified_eval_quota)
    and score cutoffs (adaptive_source_quality_filter): sources with a
    long low-quality tail keep fewer docs, concentrated sources keep
    more, analogous to nucleus sampling in decoding.

    A doc is kept iff the mass STRICTLY BEFORE it (quality-descending,
    doc_id tiebreak) is below p*total; scores are 6dp-quantized on both
    engines so the boundary comparison sits on a coarse grid, orders of
    magnitude above any summation-order ulp noise — so the doc crossing the boundary
    is included and the kept set is never empty.  Scale shape: one
    window partitioned by source for the running mass (same partition
    bound as the quantile-norm rank), one per-source total, one final
    aggregate; all shuffles key on source.
    """
    from pyspark.sql import Window

    from .text import uniq_ratio_col

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", F.round(uniq_ratio_col(), 6).alias("q"))
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.col("q").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    ranked = scored.select(
        "source",
        "q",
        F.coalesce(F.sum("q").over(w_run), F.lit(0.0)).alias("mass_before"),
        F.sum("q").over(w_all).alias("total"),
    )
    kept = ranked.where(F.col("mass_before") < NUCLEUS_P * F.col("total"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.round(F.sum("q"), 6).alias("kept_mass"),
        F.round(F.max("total"), 6).alias("total_mass"),
        F.round(F.min("q"), 6).alias("min_kept_score"),
    )


# --- round 11: symmetric drift (Jensen–Shannon) ---------------------------------


@register(
    "jsd_source_unigrams",
    oracle=f"""
WITH {_DSIR_FEATS_CTE},
per_src AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS sc FROM feats GROUP BY source, b),
corpus AS (SELECT b, CAST(SUM(sc) AS BIGINT) AS cc FROM per_src GROUP BY b),
ctot AS (SELECT CAST(SUM(cc) AS DOUBLE) AS ct FROM corpus),
stot AS (SELECT source, CAST(SUM(sc) AS DOUBLE) AS st FROM per_src GROUP BY source),
full_grid AS (
    SELECT s.source, c.b, c.cc, COALESCE(p.sc, 0) AS sc
    FROM (SELECT DISTINCT source FROM per_src) s
    CROSS JOIN corpus c
    LEFT JOIN per_src p ON p.source = s.source AND p.b = c.b
),
terms AS (
    SELECT g.source,
           CASE WHEN g.sc > 0 THEN
               0.5 * (g.sc / stot.st)
                   * LN((g.sc / stot.st)
                        / (0.5 * (g.sc / stot.st) + 0.5 * (g.cc / ctot.ct)))
           ELSE 0.0 END
         + 0.5 * (g.cc / ctot.ct)
               * LN((g.cc / ctot.ct)
                    / (0.5 * (g.sc / stot.st) + 0.5 * (g.cc / ctot.ct))) AS jsd_term
    FROM full_grid g JOIN stot ON g.source = stot.source, ctot
)
SELECT t.source,
       CAST(stot.st AS BIGINT) AS n_tokens,
       ROUND(SUM(jsd_term), 6) AS jsd_vs_corpus
FROM terms t JOIN stot ON t.source = stot.source
GROUP BY t.source, stot.st
""",
    tags=("traindata", "llm", "drift", "monitor"),
)
def jsd_source_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's hashed-unigram
    distribution from the corpus mixture — the SYMMETRIC, bounded
    ([0, ln 2]) companion to source_kl_drift: comparable across sources
    of very different size and finite even where a source misses
    buckets entirely (the mixture is never zero where either side has
    mass), so no smoothing constant enters the number.

    Scale shape mirrors the KL monitor: ONE pass builds per-(source,
    bucket) counts; the corpus distribution is a DSIR_BUCKETS-row
    broadcast; the only non-broadcast stage is the |sources| × 256-row
    grid (a per-source explode of the corpus buckets — a generator, not
    a shuffle).  Terms follow the drift-family float convention:
    exact integer-derived operands, identical operation order on both
    engines, round(6) only on the final per-source sum."""
    per_src = (
        _dsir_feats(spark, sf_dir)
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sc"))
    )
    corpus = per_src.groupBy("b").agg(F.sum("sc").cast("bigint").alias("cc"))
    ctot = corpus.agg(F.sum("cc").cast("double").alias("ct"))
    stot = per_src.groupBy("source").agg(F.sum("sc").cast("double").alias("st"))
    grid = (
        per_src.select("source")
        .distinct()
        .crossJoin(F.broadcast(corpus))
        .join(per_src, ["source", "b"], "left")
        .withColumn("sc", F.coalesce(F.col("sc"), F.lit(0)))
    )
    p = F.col("sc") / F.col("st")
    q = F.col("cc") / F.col("ct")
    mmix = 0.5 * p + 0.5 * q
    term = (
        F.when(F.col("sc") > 0, 0.5 * p * F.log(p / mmix)).otherwise(F.lit(0.0))
        + 0.5 * q * F.log(q / mmix)
    )
    terms = (
        grid.join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
        .select("source", "st", term.alias("jsd_term"))
    )
    return (
        terms.groupBy("source", "st")
        .agg(F.round(F.sum("jsd_term"), 6).alias("jsd_vs_corpus"))
        .select(
            "source", F.col("st").cast("long").alias("n_tokens"), "jsd_vs_corpus"
        )
    )


# --- importance-weight effective sample size (round 12 extension) --------------

_ESS_Q = 1_000_000_000_000  # 1e-12 FLOOR grid on the max-shifted weights


@register(
    "importance_weight_ess",
    oracle=f"""
WITH {_DSIR_LM_CTES},
scored AS (
    SELECT f.doc_id, ROUND(SUM(lw), 6) AS lr
    FROM feats f JOIN lm ON f.b = lm.b
    GROUP BY f.doc_id
), mx AS (SELECT MAX(lr) AS m FROM scored),
q AS (
    SELECT CAST(FLOOR(EXP(lr - mx.m) * {_ESS_Q}) AS BIGINT) AS qw
    FROM scored, mx
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qw) AS DECIMAL(38,0)) AS sw,
           SUM(CAST(qw AS DECIMAL(38,0)) * qw) AS sww,
           CAST(MAX(qw) AS DECIMAL(38,0)) AS mw
    FROM q
)
SELECT n AS n_docs,
       ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE), 6) AS ess,
       ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE) / n, 6) AS ess_fraction,
       ROUND(CAST(mw AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS top_weight_share
FROM s
""",
    tags=("traindata", "llm", "selection", "ml-eval"),
)
def importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the DSIR importance weights — the
    diagnostic every importance-weighted data pipeline must report
    before trusting a reweighted mixture: ESS = (Σw)²/Σw² collapses
    toward 1 when a handful of documents dominate the weight mass
    (then the "selected" corpus is effectively those few docs), and
    approaches n when weights are flat.  Reads directly on
    ``dsir_selected_docs``'s weights, plus the single largest weight's
    share of the total mass.

    Determinism + scale: per-doc log-ratios are the ONE shared DSIR
    derivation (rounded 6 before use); weights exponentiate MAX-SHIFTED
    (the shift cancels in both ratios, so no overflow and no loss at
    the top), then FLOOR-quantize to the 1e-12 grid so all three sums
    are exact integers — one broadcast 1-row max, two
    map-side-combinable aggregates, no shuffle beyond the per-doc
    rollup DSIR already pays."""
    feats, lm = _dsir_feats_and_lm(spark, sf_dir)
    scored = (
        feats.join(F.broadcast(lm), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lw"), 6).alias("lr"))
    )
    mx = scored.agg(F.max("lr").alias("m"))
    q = scored.crossJoin(F.broadcast(mx)).select(
        F.floor(F.exp(F.col("lr") - F.col("m")) * _ESS_Q)
        .cast("bigint")
        .alias("qw")
    )
    s = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qw").cast("decimal(38,0)").alias("sw"),
        F.sum(F.col("qw").cast("decimal(38,0)") * F.col("qw")).alias("sww"),
        F.max("qw").cast("decimal(38,0)").alias("mw"),
    )
    ess = (F.col("sw") * F.col("sw")).cast("double") / F.col("sww").cast("double")
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n"), 6).alias("ess_fraction"),
        F.round(F.col("mw").cast("double") / F.col("sw").cast("double"), 6).alias(
            "top_weight_share"
        ),
    )


# --- PSI between the train and eval split (round 13) ---------------------------

# Shared formula texts: Laplace-smoothed bin shares and the PSI term —
# ct/ce are exact per-bin counts, nt/ne exact totals lifted to double;
# the +1/+10 smoothing keeps empty bins finite (and makes the all-ten-
# bins spine load-bearing: a bin absent from BOTH splits still
# contributes when the split sizes differ).
_PSI_P = "((ct + 1.0) / (nt + 10.0))"
_PSI_Q = "((ce + 1.0) / (ne + 10.0))"
_PSI_TERM = f"(({_PSI_P} - {_PSI_Q}) * ln({_PSI_P} / {_PSI_Q}))"


@register(
    "psi_train_eval_quality",
    oracle=f"""
WITH q AS (
    SELECT ROUND({_UNIQ_RATIO_SQL}, 6) AS q, {_IS_EVAL} AS is_eval
    FROM documents
), binned AS (
    SELECT LEAST(CAST(FLOOR(q * 10) AS INT), 9) AS bin, is_eval FROM q
), counts AS (
    SELECT bin,
           CAST(SUM(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT) AS ct,
           CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS ce
    FROM binned GROUP BY 1
), spine AS (SELECT unnest(range(0, 10)) AS bin),
full_ AS (
    SELECT spine.bin, COALESCE(ct, 0) AS ct, COALESCE(ce, 0) AS ce
    FROM spine LEFT JOIN counts ON counts.bin = spine.bin
), tot AS (
    SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(ce) AS DOUBLE) AS ne
    FROM full_
)
SELECT CAST(tot.nt AS BIGINT) AS n_train,
       CAST(tot.ne AS BIGINT) AS n_eval,
       ROUND(SUM({_PSI_TERM}), 6) AS psi
FROM full_, tot GROUP BY tot.nt, tot.ne
""",
    tags=("traindata", "llm", "ml-eval", "drift"),
)
def psi_train_eval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the rule-based quality score
    between the md5-coin train and eval splits — the standard "did my
    split shear the distribution?" check run before trusting eval
    metrics (PSI < 0.1 stable, > 0.25 shifted, by the usual reading).
    A HASH split should score ~0; a large PSI flags a broken coin or a
    quality-correlated id assignment.

    Complements the KL/JSD drift family (those compare sources against
    the corpus; this compares the SPLIT halves on the ONE shared
    quality definition ``uniq_ratio_col``/``UNIQ_RATIO_SQL``, with the
    decontam module's eval coin, so it can never drift from the filters
    and splits it audits).  Determinism: the score rounds to 6 BEFORE
    the decile floor, bins are exact integer counts over an explicit
    10-bin spine (Laplace-smoothed so empties stay finite), and the
    10-term PSI sum follows the chi-square convention (identical
    per-term text on both engines, round 6).  One scan + one ≤10-key
    aggregate."""
    from .text import uniq_ratio_col

    d = load_table(spark, sf_dir, "documents")
    q = F.round(uniq_ratio_col(), 6)
    binned = d.select(
        F.least(F.floor(q * 10).cast("int"), F.lit(9)).alias("bin"),
        eval_split().alias("is_eval"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_eval"), 0).otherwise(1)).cast("bigint").alias("ct"),
        F.sum(F.when(F.col("is_eval"), 1).otherwise(0)).cast("bigint").alias("ce"),
    )
    spine = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    full = (
        spine.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("ce", F.lit(0)).alias("ce"),
        )
    )
    tot = full.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("ce").cast("double").alias("ne"),
    )
    return (
        full.crossJoin(F.broadcast(tot))
        .groupBy("nt", "ne")
        .agg(F.round(F.sum(F.expr(_PSI_TERM)), 6).alias("psi"))
        .select(
            F.col("nt").cast("bigint").alias("n_train"),
            F.col("ne").cast("bigint").alias("n_eval"),
            "psi",
        )
    )


# --- packing budget frontier (round 13) ----------------------------------------

PACK_FRONTIER_BUDGETS = (512, 1024, 2048)


def _pack_frontier_arm_sql(b: int) -> str:
    return f"""SELECT CAST({b} AS INT) AS budget,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       ROUND(CAST(SUM(n_docs) AS DOUBLE) / COUNT(*), 6) AS avg_docs_per_pack,
       ROUND(CAST(SUM(pack_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_pack_tokens,
       ROUND(CAST(SUM(CASE WHEN pack_tokens > {b} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS overflow_pack_rate
FROM (
    SELECT source, pack_shard, tok_before // {b} AS pack_id,
           COUNT(*) AS n_docs, SUM(ntok) AS pack_tokens
    FROM seq GROUP BY 1, 2, 3
)"""


@register(
    "packing_budget_frontier",
    oracle=f"""
{_PACK_SEQ_SQL}
{" UNION ALL ".join("(" + _pack_frontier_arm_sql(b) + ")" for b in PACK_FRONTIER_BUDGETS)}
""",
    tags=("traindata", "llm", "packing", "frontier"),
)
def packing_budget_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing statistics as a function of the sequence budget (512 /
    1024 / 2048 tokens) — the knob a pre-training run actually turns:
    shorter budgets mean more packs, fewer whole docs per pack, and a
    higher overflow rate (straddling documents overflow their pack in
    this best-effort scheme), so GPU-token waste vs document integrity
    is a read off this frontier, not folklore.  The
    ``lsh_param_frontier`` / ``decontam_n_frontier`` discipline applied
    to packing.

    The expensive half — the per-(source, shard) token cumsum — is
    budget-FREE (``_pack_seq_frame`` / ``_PACK_SEQ_SQL``, shared
    verbatim with ``packed_sequences``); the arms share its scan and
    shuffle (``ReusedExchange``), and each budget arm is one
    re-aggregation of the same frame at a different pack divisor.  All counts exact integers; the three ratios are one
    rounded division each."""
    seq = _pack_seq_frame(spark, sf_dir)
    arms = []
    for b in PACK_FRONTIER_BUDGETS:
        packs = (
            seq.groupBy(
                "source",
                "pack_shard",
                (F.col("tok_before") / b).cast("long").alias("pack_id"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("ntok").cast("long").alias("pack_tokens"),
            )
        )
        arms.append(
            packs.agg(
                F.lit(b).cast("int").alias("budget"),
                F.count(F.lit(1)).cast("bigint").alias("n_packs"),
                F.round(
                    F.sum("n_docs").cast("double") / F.count(F.lit(1)), 6
                ).alias("avg_docs_per_pack"),
                F.round(
                    F.sum("pack_tokens").cast("double") / F.count(F.lit(1)), 6
                ).alias("avg_pack_tokens"),
                F.round(
                    F.sum(
                        F.when(F.col("pack_tokens") > b, 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("overflow_pack_rate"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# --- round 14: leave-one-source-out influence audit -----------------------------


@register(
    "jackknife_source_influence",
    oracle="""
WITH per AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS nn, CAST(SUM(n_tokens) AS BIGINT) AS tt
    FROM per
)
SELECT source, n_docs, n_tokens,
       ROUND(CAST(tt - n_tokens AS DOUBLE) / (nn - n_docs), 6)
           AS mean_ntok_excl,
       ROUND(CAST(tt - n_tokens AS DOUBLE) / (nn - n_docs)
             - CAST(tt AS DOUBLE) / nn, 6) AS influence
FROM per, tot ORDER BY source
""",
    tags=("traindata", "llm", "stats", "profiling"),
)
def jackknife_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out (jackknife) influence of each source on the
    corpus mean document length: what happens to mean tokens-per-doc if
    a source is ABLATED from the mixture?  The exact closed form of the
    ablation a mixture planner would otherwise re-run the pipeline for —
    a positive influence means dropping the source RAISES the corpus
    mean (it contributes short docs) — and the additive counterpart to
    ``weighted_source_mixture``'s reweighting and ``doremi``-style
    mixture tuning (those ask "how much of each"; this asks "what does
    each one do to the aggregate").

    One map-side-combinable per-source aggregate (counts and token
    totals as exact BIGINTs), one 1-row total broadcast, and the
    leave-one-out mean is the exact identity (T - T_s)/(N - N_s) — no
    resampling, no second scan, identical double op sequence on both
    engines, round 6.  At 100 TB this is the cheapest query in the
    mixture family: the scan is one pass and the reduction is
    |sources| rows.  Degenerate note (EB convention): a single-source
    corpus divides by N - N_s = 0 (NULL-vs-Inf cross-engine) — there is
    no mixture to ablate."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("nn"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
    )
    excl = (F.col("tt") - F.col("n_tokens")).cast("double") / (
        F.col("nn") - F.col("n_docs")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(excl, 6).alias("mean_ntok_excl"),
            F.round(excl - F.col("tt").cast("double") / F.col("nn"), 6).alias(
                "influence"
            ),
        )
        .orderBy("source")
    )


# --- round 14: data-loader shuffle-quality audit ---------------------------------


@register(
    "shuffle_adjacency_audit",
    oracle=f"""
WITH keyed AS (
    SELECT source, {_SHUF_KEY_SQL} AS ord_key, {_SHUF_SHARD_SQL} AS shard
    FROM documents
), adj AS (
    SELECT source,
           LAG(source) OVER (PARTITION BY shard ORDER BY ord_key) AS prev_src
    FROM keyed
), obs AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_adjacent,
           CAST(SUM(CASE WHEN source = prev_src THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same
    FROM adj WHERE prev_src IS NOT NULL
), mix AS (
    SELECT SUM(CAST(c AS DOUBLE) * c) / (SUM(c) * SUM(CAST(c AS DOUBLE))) AS exp_rate
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source)
)
SELECT n_adjacent, n_same,
       ROUND(CAST(n_same AS DOUBLE) / n_adjacent, 6) AS observed_rate,
       ROUND(exp_rate, 6) AS expected_rate,
       ROUND(CAST(n_same AS DOUBLE) / n_adjacent / exp_rate, 6)
           AS adjacency_ratio
FROM obs, mix
""",
    tags=("traindata", "llm", "stats"),
)
def shuffle_adjacency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit of the training data loader's order: within
    the deterministic shard permutation (``shuffled_shard_manifest``'s
    ord_key), how often are ADJACENT documents from the same source,
    versus the Σp_s² rate a perfect shuffle implies?  adjacency_ratio ≈
    1 means the md5 permutation destroyed source runs (the property that
    keeps per-batch gradient mixes unbiased); >> 1 means source
    clumping survived and consecutive training batches are correlated —
    the audit that catches a broken shuffle key before a training run
    does.

    One definition of the permutation (``_SHUF_KEY_SQL`` /
    ``_shuffle_cols``, shared with the manifest query); the LAG window
    partitions BY SHARD so each task orders only its shard (the
    manifest's scale dial — never a global sort); counts are exact
    BIGINTs, the expected rate is the exact Σc_s·c_s/N² identity from
    the |sources|-row mix frame, and only the three final rates are
    rounded doubles (round 6).  Cross-shard boundary pairs are excluded
    (first row of each shard has no predecessor) — matching how shards
    are actually consumed: one file per shard, order within.
    Degenerate note (EB convention): a corpus with at most one doc per
    shard has n_adjacent = 0 and the rates divide by zero (NULL-vs-Inf
    cross-engine) — there is no adjacency to audit."""
    d = load_table(spark, sf_dir, "documents")
    ord_key, shard = _shuffle_cols()
    keyed = d.select(
        "source", ord_key.alias("ord_key"), shard.alias("shard")
    )
    from pyspark.sql import Window as _W

    adj = keyed.select(
        "source",
        F.lag("source")
        .over(_W.partitionBy("shard").orderBy("ord_key"))
        .alias("prev_src"),
    ).where(F.col("prev_src").isNotNull())
    obs = adj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_adjacent"),
        F.sum(F.when(F.col("source") == F.col("prev_src"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_same"),
    )
    cnt = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mix = cnt.agg(
        (
            F.sum(F.col("c").cast("double") * F.col("c"))
            / (F.sum("c") * F.sum(F.col("c").cast("double")))
        ).alias("exp_rate")
    )
    rate = F.col("n_same").cast("double") / F.col("n_adjacent")
    return obs.crossJoin(F.broadcast(mix)).select(
        "n_adjacent",
        "n_same",
        F.round(rate, 6).alias("observed_rate"),
        F.round(F.col("exp_rate"), 6).alias("expected_rate"),
        F.round(rate / F.col("exp_rate"), 6).alias("adjacency_ratio"),
    )

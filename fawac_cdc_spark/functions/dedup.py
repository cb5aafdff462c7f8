"""Deduplication operators over ``documents`` (north_star LLM-data surface).

Four industry-standard dedup strategies, each as a declarative Spark plan:

- **exact**: md5 fingerprint groupBy — one shuffle on the hash, keep
  min(doc_id) per group (deterministic survivor).
- **n-gram Jaccard**: 3-token shingles → explode → equi-join on shingle →
  pair-count aggregation. The shingle equi-join bounds the candidate set;
  there is never an O(n²) cross join.
- **MinHash**: k=8 portable hash functions ``(a_j * H + b_j) mod P`` over
  md5-derived 32-bit shingle hashes; LSH banding (4 bands × 2 rows) turns
  near-dup search into an equi-join on band keys — the 100 TB-scale path.
- **SimHash**: 16-bit sign-aggregated token-hash fingerprint (demo
  width), plus a 60-bit wide fingerprint banded into 4×15-bit LSH keys
  with an exact ``bit_count(xor)`` Hamming verify on the candidates.

All hashes are md5-prefix based (see ``operators/helpers.py``) so the
DuckDB oracles compute identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import fan_out, materialize, materialize_probed
from ..operators.helpers import md5_bucket, md5_bucket_sql
from ..registry import register

# MinHash parameters: k=8 affine hashes mod a Mersenne prime.
MINHASH_P = 2147483647
MINHASH_A = [131, 137, 139, 149, 151, 157, 163, 167]
MINHASH_B = [7, 11, 13, 17, 19, 23, 29, 31]
N_BANDS = 4  # 4 bands x 2 rows per band

SIMHASH_BITS = 16

# Hot-shingle document-frequency cap for the Jaccard pair family.  A
# shingle shared by more than MAX_SHINGLE_DF documents (a stop-phrase,
# boilerplate header, license text) contributes O(df²) candidate pairs to
# the shingle self-join — the one quadratic term in an otherwise linear
# plan.  Dropping those shingles BEFORE the join bounds every join key at
# df ≤ cap, so the candidate set is ≤ cap²/2 pairs per shingle regardless
# of corpus size.  Jaccard is then computed over the capped shingle
# universe on BOTH engines (per-doc set sizes are post-cap), so the oracle
# stays exact.  At 100 TB the hot list (shingles with df > cap) is tiny by
# construction, so the anti-join against it broadcasts.
MAX_SHINGLE_DF = 100

# --- shared expression builders (Spark side) ------------------------------

_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(0, size(toks) - 3), "
    "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"
)

# DuckDB equivalent (1-indexed lists, exclusive range stop).
_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) pairs — distinct 3-token shingles per document.

    ``fan_out`` before the explode: the shingle expansion runs one md5
    per 3-gram (~n_tokens per doc), a ~100x CPU amplification of the
    scanned bytes, so the explode stage must not inherit the scan's
    parallelism (one row group at fixture scale = ONE task)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle"))
    )


_SHINGLED_SQL = f"""
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= 3)
"""

# 60-bit shingle hashing for the Jaccard pair family: the pair join only
# needs shingle IDENTITY, so shuffling an 8-byte int instead of a ~24-byte
# string cuts shuffle volume ~3x (at sf0.1 on one host the md5 CPU offsets
# the I/O win; on a real cluster shuffle bytes are the bottleneck and the
# hash is free — production would use xxhash64(), kept md5 here only so
# the oracle engine computes bit-identical hashes).  Hashing happens INSIDE the per-row
# array expression with an in-array distinct (collisions within a doc
# collapse before the explode), so the (doc_id, hash) stream is distinct
# per doc with zero extra shuffle and both engines see the identical
# md5-derived multiset.  Cross-doc collisions (~n²/2^61) negligibly
# perturb Jaccard — standard shingle-hashing practice — and are mirrored
# exactly by the oracle.

_HASHED_SHINGLES_EXPR = (
    f"array_distinct(transform({_SHINGLES_EXPR}, "
    f"s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint)))"
)

_HASHED_SHINGLES_SQL = (
    f"list_distinct(list_transform({_SHINGLES_SQL}, "
    f"s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))"
)


def _shingled_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle-hash) pairs — distinct 60-bit 3-gram hashes.

    ``fan_out`` before the explode — same CPU-amplification discipline
    as :func:`_shingled` (one md5 per 3-gram)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_HASHED_SHINGLES_EXPR)).alias("shingle"))
    )


_HASHED_SHINGLED_SQL = f"""
    SELECT doc_id, unnest({_HASHED_SHINGLES_SQL}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= 3)
"""


def capped_shingles(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The hot list is computed with one aggregation on the shingle key
    (map-side partial agg shrinks it to per-partition distinct shingles)
    and is small by construction — only stop-phrases exceed the cap — so
    the anti-join broadcasts and the shingle stream itself never
    reshuffles.  ``sh`` must be one row per distinct (doc_id, shingle).
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _capped_shingle_groups(sh: DataFrame, max_df: int) -> DataFrame:
    """(shingle, ids): the lazy grouped build behind
    :func:`jaccard_candidate_pairs` — capped stream, sorted doc-id list.

    ``fan_out`` on the groupBy key BEFORE the aggregation: the
    explicit-width exchange is reused by the groupBy (same key, same
    count) and, unlike the bare groupBy shuffle, is exempt from AQE
    size-based coalescing, so the collect_list aggregation and both
    downstream explode branches run at full width instead of
    inheriting a one-partition coalesce (the pair stage measured
    1.83 s -> 0.58 s at sf0.1 from the width change alone)."""
    return (
        fan_out(capped_shingles(sh, max_df), "shingle")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )


def jaccard_candidate_pairs(
    sh: DataFrame,
    threshold: float = 0.05,
    max_df: int = MAX_SHINGLE_DF,
    keep_counts: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs (doc_a, doc_b, shared, jaccard) from a
    (doc_id, shingle) stream, Jaccard over the DF-capped shingle universe.

    Plan: the hot-shingle list is computed first (one count aggregation
    whose shuffle carries only map-side-combined (shingle, count)
    partials) and broadcast-anti-joined away (``capped_shingles``), THEN
    the surviving stream takes its ONE full shuffle into groupBy →
    sorted doc-id list, and candidate pairs are generated by an
    in-group higher-order pair expansion — ≤ C(max_df, 2) pairs per
    shingle by construction.  Filtering BEFORE collecting is the load-
    bearing order at 100 TB: every ``collect_list`` buffer is bounded
    by max_df, whereas the earlier collect-then-``size(ids)`` filter
    built the full doc-id list for a stop-phrase shingle (a billion-doc
    boilerplate shingle = a multi-GB single aggregation buffer = an
    executor OOM) before dropping it.  Results are identical (df ==
    size(ids) on a distinct (doc, shingle) stream); the oracles keep
    the relational anti-join + self-join formulation.

    Shared by ``ngram_jaccard_pairs`` / ``near_dedup_survivors`` /
    ``llm_corpus_pipeline`` so the skew-bounding semantics stay identical
    across the family (and unit-testable on synthetic frames).
    """
    # kept: two or more consumers, no ReusedExchange without it
    groups = materialize(
        _capped_shingle_groups(sh, max_df), "jaccard_candidate_pairs.groups"
    )
    # all i<j pairs within the sorted id list, as one array expression
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    pairs = (
        groups.where(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # per-doc set size over the SAME capped universe (isolated shingles
    # with a single doc still count toward their doc's size)
    counts = (
        groups.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared"))
    out_cols = ["doc_a", "doc_b", "shared", jac.alias("jaccard")]
    if keep_counts:
        # per-doc capped set sizes, for asymmetric scores (containment)
        out_cols += [F.col("na"), F.col("nb")]
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= threshold)
        .select(*out_cols)
    )


def _capped_sh_sql(
    shingled_sql: str, max_df: int = MAX_SHINGLE_DF, cols: str = "doc_id, shingle"
) -> str:
    """Oracle mirror of ``capped_shingles``: CTE text defining sh_all/df/sh.
    ``cols`` selects the surviving projection (the source-overlap oracle
    carries ``source`` instead of ``doc_id``); the cap formulation itself
    stays in this ONE place."""
    return f"""
sh_all AS ({shingled_sql}),
hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > {max_df}),
sh AS (SELECT {cols} FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot))
"""


# Shared oracle fragment: capped shingle stream + per-doc set sizes +
# raw candidate pairs with shared counts — ONE definition composed by the
# Jaccard-pair oracle, the containment oracle, and (via good-edge
# thresholding) the closure/triangle/pagerank oracles.
_PAIRS_COUNTS_CTE_SQL = f"""{_capped_sh_sql(_HASHED_SHINGLED_SQL).strip()},
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""


def minhash_sig_exprs() -> list[F.Column]:
    """min((a_j * H(shingle) + b_j) mod P) aggregation expressions."""
    h = "cast(conv(substr(md5(shingle), 1, 8), 16, 10) as bigint)"
    return [
        F.expr(f"min(({a} * {h} + {b}) % {MINHASH_P})").alias(f"mh{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def _minhash_sig_sql_cols() -> str:
    h = "CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)"
    return ",\n       ".join(
        f"MIN(({a} * {h} + {b}) % {MINHASH_P}) AS mh{j}"
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


_MINHASH_SIG_SQL = f"""
SELECT doc_id,
       {_minhash_sig_sql_cols()}
FROM ({_SHINGLED_SQL}) s
GROUP BY doc_id
"""

# DuckDB band table over a `sig` CTE — the oracle-side mirror of
# :func:`band_table_for`, shared by every LSH-band oracle so banding can
# never drift between Spark and the oracles.
_BANDS_SQL = "bands AS (\n" + "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, "
    f"CAST(mh{2 * b} AS VARCHAR) || ':' || CAST(mh{2 * b + 1} AS VARCHAR) AS key FROM sig"
    for b in range(N_BANDS)
) + "\n)"

# Oracle-side mirror of :func:`lsh_candidate_pairs_for` over the `bands`
# CTE — one pair rule for every consumer of LSH candidates.
_LSH_CAND_SQL = """cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


def minhash_signatures_for(d: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc MinHash signature with NO shuffle: shingle→hash→affine→min
    runs entirely inside one higher-order array expression per row, so
    signatures are a pure map over any (doc_id, text) frame — batch scan
    or micro-batch of a stream alike. (The equivalent explode →
    groupBy(doc_id) plan shuffles every shingle — ~50x the document
    count — for the same result; the oracle keeps that formulation
    because DuckDB lacks mutable lambda state, and the values are
    identical either way.)

    ``carry`` names extra input columns to thread through the map —
    streaming consumers need this because a stream cannot re-join its
    own derivation (stream-stream joins are append-only)."""
    base = (
        d.select("doc_id", *carry, F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            *carry,
            F.expr(
                f"transform({_SHINGLES_EXPR}, s -> "
                f"cast(conv(substr(md5(s), 1, 8), 16, 10) as bigint))"
            ).alias("hs"),
        )
    )
    cols = [
        F.expr(f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))").alias(
            f"mh{j}"
        )
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return base.select("doc_id", *carry, *cols)


def minhash_signatures_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`minhash_signatures_for` over the ``documents`` table.

    ``fan_out`` here in the BATCH wrapper (not in ..._for, which the
    streaming twins share): the per-row shingle transform runs one md5
    per 3-gram plus 8 affine folds — the explode-discipline CPU
    amplification — while a micro-batch frame is already partitioned by
    its source and must not pay a per-batch shuffle."""
    return minhash_signatures_for(
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    )


def lsh_candidate_pairs_for(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing ANY LSH band key — the ONE
    band-join pair rule (oracle mirror: ``_LSH_CAND_SQL``), shared by
    ``minhash_lsh_candidates`` and the estimator-error gate so the
    candidate semantics cannot drift between them."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def band_table_for(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, band, key) LSH band table from an mh0..mh7 signature frame
    — one row per (doc, band), key = the band's concatenated hash pair.
    Pure map + explode: works on batch and streaming frames alike.
    ``carry`` threads extra signature-frame columns through (see
    :func:`minhash_signatures_for`)."""
    band_structs = []
    for band in range(N_BANDS):
        lo, hi = 2 * band, 2 * band + 1
        key = F.concat_ws(
            ":", F.col(f"mh{lo}").cast("string"), F.col(f"mh{hi}").cast("string")
        )
        band_structs.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
    return sig.select(
        "doc_id", *carry, F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents' (doc_id, band, key) LSH band table, materialized —
    the ONE batch build shared by ``minhash_lsh_candidates``,
    ``capture_recapture_dups`` and ``lsh_dedup_admissions``, each of
    which self-joins it on (band, key)."""
    # kept: measured faster with it. The plan without the job shows
    # ReusedExchange, but minhash_lsh_candidates ran slower without it
    # (codegen cache on, perfbench sf0.02 tables, 10 reruns in each of 2
    # sessions: median 0.771 / 0.714 s with it, 0.884 / 0.882 s without)
    return materialize(
        band_table_for(minhash_signatures_df(spark, sf_dir)), "minhash_bands"
    )


# --- registered queries ----------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
SELECT md5(lower(text)) AS fp,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(text))
""",
    tags=("dedup", "llm"),
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized fingerprint, keep the
    smallest doc_id. One shuffle keyed on a 128-bit hash — uniform keys,
    no skew, scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.lower(F.col("text"))).alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_PAIRS_COUNTS_CTE_SQL}
SELECT doc_a, doc_b, shared,
       CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.05
""",
    tags=("dedup", "llm"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by 3-gram shingle Jaccard >= 0.05.

    Plan shape: explode → hot-shingle DF cap (broadcast anti-join, see
    ``MAX_SHINGLE_DF``) → shuffle on shingle (equi-join) → pair groupBy.
    The cap bounds every join key at df ≤ 100, so candidate generation
    stays near-linear even when the corpus contains stop-phrase shingles.
    """
    return jaccard_candidate_pairs(_shingled_hashed(spark, sf_dir))


@register(
    "minhash_signatures",
    oracle=_MINHASH_SIG_SQL,
    tags=("dedup", "llm", "minhash"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signature per document over 3-gram shingles.

    Portable affine hashes over md5-int32 shingle hashes — deterministic
    across engines, seeds fixed (MINHASH_A/B). One explode + one groupBy.
    """
    return minhash_signatures_df(spark, sf_dir)


@register(
    "minhash_lsh_candidates",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
{_LSH_CAND_SQL}
SELECT doc_a, doc_b FROM cand
""",
    tags=("dedup", "llm", "minhash"),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows): near-dup candidates are pairs
    sharing any band key — an equi-join on (band, key), never a cross
    join. This is the O(n)-ish scale path for 100 TB near-dedup."""
    return lsh_candidate_pairs_for(minhash_bands(spark, sf_dir))


def _simhash_sql() -> str:
    h = "CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT)"
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN ({h} // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
), sums AS (
    SELECT doc_id,
       {bit_sums}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums
"""


@register("simhash_fingerprints", oracle=_simhash_sql(), tags=("dedup", "llm", "simhash"))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: sign of per-bit ±1 sums over distinct
    token hashes. Arithmetic (div/mod) bit extraction keeps the expression
    portable to the oracle engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    h = "cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint)"
    sums = toks.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(case when ({h} div {1 << b}) % 2 = 1 then 1 else -1 end)").alias(
                f"s{b}"
            )
            for b in range(SIMHASH_BITS)
        ]
    )
    combine = " + ".join(
        f"(case when s{b} > 0 then {1 << b} else 0 end)" for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(f"cast({combine} as bigint)").alias("simhash"))


# --- wide SimHash + banded Hamming-ball candidate pairs --------------------
#
# The 16-bit fingerprint above is the reference-parity demo width; for
# CANDIDATE GENERATION it is useless at scale (16-bit space saturates at
# ~10^3 docs, so any band key collides with n/2^bits of the corpus and the
# band join goes quadratic).  The production shape is a WIDE fingerprint
# banded into band keys large enough that unrelated docs almost never
# collide: 60 bits in 4 bands x 15 bits.  Pigeonhole guarantees every pair
# with hamming <= 3 shares at least one intact band; pairs further apart
# are found with the usual LSH probability decay.  Both engines compute
# the identical md5-derived fingerprint, so the oracle is exact.

SIMHASH_WIDE_BITS = 60
SIMHASH_WIDE_BANDS = 4
SIMHASH_BAND_BITS = 15  # 32768 key values per band — collision-sparse
SIMHASH_MAX_HAMMING = 6

_WIDE_TOKEN_HASHES_SQL = (
    "list_transform(list_distinct(string_split(text, ' ')), "
    "t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"
)


def wide_simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit fingerprints for the ``documents`` table.

    ``fan_out`` in the BATCH wrapper (the streaming twin partitions by
    its source): one md5 per distinct token plus 60 bit-sum aggregates
    is the explode-discipline amplification profile."""
    return wide_simhash_from(
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    )


def wide_simhash_from(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) with a 60-bit fingerprint from (doc_id, text).

    Shape: explode distinct tokens, hash each ONCE (projection before the
    aggregate, so codegen never repeats the md5), then 60 codegen'd
    ``sum(case when bit set then 1 else -1)`` aggregates and a sign
    combine.  A higher-order-function formulation (pure map, no shuffle)
    was measured 6x slower here: Catalyst interprets lambda bodies per
    array element, while the groupBy runs whole-stage-codegen primitive
    long ops and map-side partial aggregation shrinks the shuffle to one
    60-value row per document."""
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).select(
        "doc_id",
        F.expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)").alias("h"),
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(case when (h div {1 << b}) % 2 = 1 then 1 else -1 end)"
            ).alias(f"s{b}")
            for b in range(SIMHASH_WIDE_BITS)
        ]
    )
    combine = " + ".join(
        f"(case when s{b} > 0 then {1 << b} else 0 end)"
        for b in range(SIMHASH_WIDE_BITS)
    )
    return sums.select("doc_id", F.expr(f"cast({combine} as bigint)").alias("simhash"))


_WIDE_SIMHASH_SQL = f"""
hs AS (
    SELECT doc_id, {_WIDE_TOKEN_HASHES_SQL} AS hs FROM documents
),
fp AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, {SIMHASH_WIDE_BITS}), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                   CASE WHEN ((h // (CAST(1 AS BIGINT) << b)) % 2) = 1
                        THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
    FROM hs
)
"""


@register(
    "simhash_hamming_pairs",
    oracle=f"""
WITH {_WIDE_SIMHASH_SQL.strip()},
bands AS (
    SELECT doc_id, simhash, b.band,
           (simhash // (CAST(1 AS BIGINT) << (band * {SIMHASH_BAND_BITS})))
               % {1 << SIMHASH_BAND_BITS} AS key
    FROM fp, (SELECT unnest(range(0, {SIMHASH_WIDE_BANDS})) AS band) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM bands a JOIN bands c
      ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
)
SELECT cand.doc_a, cand.doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
FROM cand
JOIN fp fa ON fa.doc_id = cand.doc_a
JOIN fp fb ON fb.doc_id = cand.doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_MAX_HAMMING}
""",
    tags=("dedup", "llm", "simhash"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, LSH-banded into 4
    equi-join keys of 15 bits, exact ``bit_count(xor)`` Hamming verify on
    the candidates. Fingerprinting is a pure map; candidate generation is
    an equi-join on (band, key) — never a cross join — and the Hamming
    filter runs on candidate pairs only. Generalizes the reference's
    duplicate-row detection to fuzzy matching (SURVEY §2 Part B LLM-ops).
    Recall guarantee + band-width scale caveats: ``simhash_candidate_pairs``."""
    # The fingerprint rides along the band explode, so the self-join's
    # two sides are the ONLY references to the fingerprint subtree and no
    # join-back to the fingerprint table is needed for the Hamming verify.
    return simhash_candidate_pairs(wide_simhash_df(spark, sf_dir))


def simhash_candidate_pairs(
    fp: DataFrame,
    *,
    n_bands: int = SIMHASH_WIDE_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Banded Hamming-ball pairs over a ``(doc_id, simhash)`` DataFrame.

    RECALL GUARANTEE (pigeonhole): a pair at Hamming distance ``h`` is
    found with certainty only when ``h <= n_bands - 1`` — then at least
    one band is intact and its equi-join key collides. With the defaults
    (``max_hamming=6 > n_bands-1=3``) a pair whose differing bits touch
    ALL bands is MISSED: the operator is approximate in the range
    ``n_bands <= h <= max_hamming`` (tests/test_dedup_scale.py pins a
    concrete 6-bit-spread miss). Raise ``n_bands`` for guaranteed recall
    at higher ``h`` — at the cost of more candidate volume per doc.

    SCALE NOTE: expected collisions per band key are ``n / 2**band_bits``;
    at billions of docs the 15-bit default (32k buckets) goes quadratic
    within buckets — grow ``band_bits`` with the corpus so
    ``2**band_bits >> n``, keeping ``n_bands * band_bits`` within the
    fingerprint width.
    """
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            F.expr(
                f"(simhash div {1 << (band_bits * k)}) % {1 << band_bits}"
            ).alias("key"),
        )
        for k in range(n_bands)
    ]
    bands = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "key"
    )
    hamming = F.bit_count(F.expr("sim_a ^ sim_b"))
    return (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(hamming <= max_hamming)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


# --- embedding-cosine near-duplicates --------------------------------------

NEAR_DUP_COS = 0.4


def _near_dup_sql() -> str:
    from .similarity import _bucket_sql_duck, _dot2_duck, _NORM_DUCK

    return f"""
WITH b AS (
    SELECT vec_id, embedding, {_bucket_sql_duck()} AS bucket,
           {_NORM_DUCK.format(v='embedding')} AS nrm
    FROM embeddings
)
SELECT a.vec_id AS a_id, c.vec_id AS b_id,
       ROUND(({_dot2_duck('a.embedding', 'c.embedding')})
             / (a.nrm * c.nrm), 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ({_dot2_duck('a.embedding', 'c.embedding')})
      / (a.nrm * c.nrm) >= {NEAR_DUP_COS}
"""


@register(
    "embedding_cosine_near_dup",
    oracle=_near_dup_sql(),
    tags=("dedup", "llm", "similarity"),
)
def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidate
    generation (equi-join on the random-projection bucket — never an
    O(n²) cross join), then exact cosine >= 0.4 within candidates.

    Semantics are explicitly "bucketed near-dup": pairs whose LSH buckets
    differ are not candidates (the recall dial is the hyperplane count;
    more bands = higher recall). The oracle replays the identical
    bucket-join, so parity pins both the bucketing and the scoring.
    """
    from .similarity import _bucket_expr_spark, _dot2_spark, _NORM_SPARK

    e = load_table(spark, sf_dir, "embeddings")
    # norm once per vector, not per pair (same hoist as the knn join:
    # bit-identical doubles, ~2/3 of the per-pair flops removed)
    b = e.select(
        "vec_id",
        "embedding",
        F.expr(_bucket_expr_spark()).alias("bucket"),
        F.expr(_NORM_SPARK.format(v="embedding")).alias("nrm"),
    )
    a = b.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        "bucket",
        F.col("nrm").alias("nrm_a"),
    )
    c = b.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        "bucket",
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.expr(_dot2_spark("a_emb", "b_emb")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        a.join(c, "bucket")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("cos_raw", cos)
        .where(F.col("cos_raw") >= NEAR_DUP_COS)
        .select("a_id", "b_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


@register(
    "near_dedup_survivors",
    oracle=f"""
WITH {_capped_sh_sql(_HASHED_SHINGLED_SQL)},
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
dropped AS (
    SELECT DISTINCT doc_b AS doc_id
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.05
)
SELECT d.doc_id, d.source, d.lang
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
""",
    tags=("dedup", "llm"),
)
def near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT stage: materialize the surviving
    corpus. Survivor rule: for every verified near-dup pair (Jaccard >=
    0.05 over DF-capped shingles), the larger doc_id is dropped — a
    deterministic single-pass approximation of connected-component dedup
    (the min-id canonical member of any clique always survives; see
    ``connected_component_survivors`` for the full transitive closure).

    Plan: candidate pairs (DF-capped shingle equi-join) → drop-list
    (distinct) → anti-join against documents.  The drop-list is
    deliberately UNHINTED: it is O(duplicate mass) — at the 100 TB design
    point it can reach billions of ids, so a forced broadcast would OOM
    the executors.  A plain ``left_anti`` shuffles on ``doc_id`` (fine at
    any scale); at small scale AQE still converts it to a broadcast join
    at runtime when the built side is under the threshold.
    """
    d = load_table(spark, sf_dir, "documents")
    dropped = (
        near_dup_edges(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return d.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source", "lang"
    )


# Shared CTE text: quality -> exact dedup -> near-dedup survivors.  Reused
# by llm_corpus_pipeline and traindata_end_to_end so both oracles replay
# the identical survivor set.
SURVIVORS_CTE_SQL = f"""quality AS (
    SELECT doc_id, text, source, lang,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
    WHERE len(string_split(text, ' ')) >= 5
),
exact_kept AS (
    SELECT MIN(doc_id) AS doc_id
    FROM quality
    GROUP BY md5(lower(text))
),
sh_all AS (
    SELECT doc_id, unnest({_HASHED_SHINGLES_SQL}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM quality WHERE doc_id IN (SELECT doc_id FROM exact_kept))
),
hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
sh AS (SELECT doc_id, shingle FROM sh_all
       WHERE shingle NOT IN (SELECT shingle FROM hot)),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
near_dropped AS (
    SELECT DISTINCT b.doc_id AS doc_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN counts ca ON ca.doc_id = a.doc_id
    JOIN counts cb ON cb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id, ca.n, cb.n
    HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n + cb.n - COUNT(*)) >= 0.05
),
survivors AS (
    SELECT q.* FROM quality q
    WHERE q.doc_id IN (SELECT doc_id FROM exact_kept)
      AND q.doc_id NOT IN (SELECT doc_id FROM near_dropped)
)"""


def corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text, source, lang, n_tokens) after quality filter (>= 5
    tokens), exact dedup (min doc_id per normalized fingerprint), and
    near-dup drop (3-gram Jaccard >= 0.05, larger id loses) — the shared
    front half of the corpus-prep pipelines, one Catalyst plan."""
    d = load_table(spark, sf_dir, "documents")
    quality = d.where(F.size(F.split("text", " ")) >= 5).select(
        "doc_id",
        "text",
        "source",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    exact_kept = quality.groupBy(F.md5(F.lower(F.col("text"))).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = quality.join(exact_kept.select("doc_id"), "doc_id", "left_semi")
    # fan_out before the shingle explode: the semi-join output is
    # AQE-coalesced to ~one partition at the few-MB corpus grain, and the
    # md5-per-3-gram expansion downstream is a ~100x CPU amplification
    # size-based coalescing cannot see (same discipline as _shingled).
    sh = (
        fan_out(kept.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_HASHED_SHINGLES_EXPR)).alias("shingle"))
    )
    near_dropped = (
        jaccard_candidate_pairs(sh)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # Unhinted anti-join: the near-dup drop-list grows with duplicate mass
    # (unbounded at 100 TB), so we must not force a broadcast — AQE picks
    # one at runtime only when the list is actually small.
    return kept.join(near_dropped, "doc_id", "left_anti")


@register(
    "llm_corpus_pipeline",
    oracle=f"""
WITH quality AS (
    SELECT doc_id, text, source, lang,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
    WHERE len(string_split(text, ' ')) >= 5
),
exact_kept AS (
    SELECT MIN(doc_id) AS doc_id
    FROM quality
    GROUP BY md5(lower(text))
),
sh_all AS (
    SELECT doc_id, unnest({_HASHED_SHINGLES_SQL}) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM quality WHERE doc_id IN (SELECT doc_id FROM exact_kept))
),
hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
sh AS (SELECT doc_id, shingle FROM sh_all
       WHERE shingle NOT IN (SELECT shingle FROM hot)),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
near_dropped AS (
    SELECT DISTINCT b.doc_id AS doc_id
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN counts ca ON ca.doc_id = a.doc_id
    JOIN counts cb ON cb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id, ca.n, cb.n
    HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n + cb.n - COUNT(*)) >= 0.05
)
SELECT q.source, q.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens
FROM quality q
WHERE q.doc_id IN (SELECT doc_id FROM exact_kept)
  AND q.doc_id NOT IN (SELECT doc_id FROM near_dropped)
GROUP BY q.source, q.lang
""",
    tags=("dedup", "llm", "pipeline"),
)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline as ONE Catalyst plan:
    quality filter (>= 5 tokens) → exact dedup (min doc_id per normalized
    fingerprint) → near-dup drop (3-gram Jaccard >= 0.05, larger id
    loses) → per-(source, lang) corpus stats.

    This is the composition story: every stage is the registered operator
    above, chained as DataFrames, and Catalyst still sees one plan to
    optimize across stage boundaries (the quality filter prunes the
    shingle explosion's input, fingerprint dedup prunes the pair join).
    """
    survivors = corpus_survivors(spark, sf_dir)
    return survivors.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# --- transitive-closure near-dedup (connected components) -------------------


def connected_components_min_label(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``vertices`` is (doc_id,), ``edges`` is undirected (doc_a, doc_b).
    Every vertex starts labeled with its own id; each round every vertex
    takes the min of its own label and its neighbors' labels.  The loop
    itself runs over edge-touched vertices only (isolated vertices can
    never change label and rejoin as self-labeled singletons at the
    end).  Converges in O(graph diameter) rounds — near-dup clusters
    are dense, so the diameter is small in practice; the O(log n)
    alternative for adversarial chains is the large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) in :func:`connected_components_star` — measured
    on the real near-dup graph at sf0.1 (round 16) the two are a wash,
    so this simpler loop stays the shared default.  Exhausting
    ``max_iter`` (seed round included) before a round confirms the
    fixpoint raises ``RuntimeError`` — unconverged labels are not
    component labels.  An edge endpoint missing from ``vertices`` raises
    ``ValueError``: it could become some vertex's component label.

    Each round is ONE join + ONE grouped min (self-loops in the edge
    list carry the own-label term, so there is no join back to the old
    label table); ``materialize`` truncates the lineage so the plan
    doesn't grow with iterations, and the convergence probe (label-set
    fingerprint) rides each round's job (``materialize_probed``).
    Round-7 measured A/B at sf0.1 (min-of-3, same session, identical
    labels): the edge checkpoint below is the dominant win —
    ``connected_component_survivors`` 22.5 s -> 5.2 s,
    ``semantic_cc_survivors`` 8.7 s -> 4.1 s,
    ``leakage_safe_split_counts`` similarly.  Round-16 A/B (same
    session, interleaved, identical labels): the fused seed +
    self-loop one-join rounds + edge-touched label set read
    3.48-4.06 s -> 3.26-3.54 s for the full survivor query.
    """
    # Materialize the symmetrized edge list ONCE: the caller's edge
    # derivation is often an expensive candidate-pair pipeline (shingle
    # explode + self-join), and without the checkpoint every round's
    # join re-runs it TWICE (the union doubles the subtree) — measured
    # 22.5 s -> 6.1 s for connected_component_survivors at sf0.1.
    # Symmetrize by EXPLODING both orientations out of one pass over the
    # edge stream instead of a self-union: the union form ran the whole
    # candidate-pair subtree twice inside the checkpoint job (round-16;
    # guide §2.4 — one subtree execution, two output rows per edge).
    # Column-only repartition before the checkpoint: an explicit-count
    # exchange would checkpoint fan_out-width partitions, and EVERY
    # round's join/groupBy re-reads them — at fixture scale that is pure
    # per-round task overhead (the session's parallelismFirst=false
    # exists for exactly these iterative loops).  Column-only (no
    # explicit count) is deliberately AQE-coalescible: partition count
    # follows the edge bytes (1 at fixture scale, wide at 100 TB) — the
    # loop body is join+min, not a CPU-amplified stage, so size-based
    # width is the RIGHT width here.  Kept: every round re-reads it.
    # SELF-LOOPS at both endpoints ride along (round-16): with (v, v)
    # rows present, one round of propagation is ONE join + ONE grouped
    # min — min over {self} ∪ neighbors — instead of the former
    # join + groupBy + join-back-to-labels (the self label arrived via
    # the second join).  Duplicate self-loops (one per incident edge)
    # are harmless under min and keep this a single pass over the edge
    # stream.  The round-15 one-join-per-round prototype measured 3x
    # slower because its self-loops spanned the FULL vertex set; these
    # span edge-touched vertices only.
    sym = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_a").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_b").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("src"),
        "connected_components_min_label.edges",
    )

    # Iterate over EDGE-TOUCHED vertices only (round-16; guide §2.3 —
    # shuffle fewer bytes): a vertex with no incident edge can never
    # change its own-id label, so carrying the full vertex set through
    # every round's join + checkpoint scales the loop with |V| instead
    # of |V_edges| (at 100 TB: every document vs the near-dup graph).
    # Untouched vertices re-enter as self-labeled singletons in the
    # final left join.  PRECONDITION: edge endpoints are members of
    # ``vertices``; the seed's job counts the ones that are not.
    #
    # Convergence is a label-set fingerprint comparison (count + exact
    # label sum probed on each round's materialize job): the
    # vertex set is fixed and labels are monotone non-increasing per
    # vertex, so an unchanged decimal(38,0) sum means no label moved —
    # an exact fixpoint witness, not a probabilistic hash.  The SEED is
    # round 1 of propagation, fused into one aggregate: with self-loops
    # present, min(src) over dst's group is exactly
    # min(self, min(neighbors)).
    # kept: loop lineage cut; the loop reads each round's fingerprint
    fp_metrics = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.col("component").cast("decimal(38,0)")), F.lit(0)
        ).alias("s"),
    )
    label = "connected_components_min_label.labels round {}"
    labels, (n, s, dangling) = materialize_probed(
        sym.groupBy("dst")
        .agg(F.min("src").alias("component"))
        .select(F.col("dst").alias("doc_id"), "component")
        .join(vertices.select("doc_id", F.lit(True).alias("known")), "doc_id", "left"),
        label.format(1),
        *fp_metrics,
        F.count_if(F.col("known").isNull()).alias("dangling"),
    )
    if dangling:
        raise ValueError(
            f"connected_components_min_label: {dangling} edge endpoint(s) "
            "are not in vertices"
        )
    fp = (n, s)
    for r in range(2, max_iter + 1):
        labels, new_fp = materialize_probed(
            sym.join(labels, sym["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("component").alias("component"))
            .select(F.col("dst").alias("doc_id"), "component"),
            label.format(r),
            *fp_metrics,
        )
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components_min_label did not converge in {max_iter} "
            "rounds — labels would not be component labels"
        )
    return vertices.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )


# Shared recursive-CTE fragment: exact transitive closure over the verified
# near-dup pair graph, up through ``reach``.  Composed by the CC oracles
# (min-label and large-star/small-star) and the leakage-safe split oracle.
# Non-recursive prefix: the verified near-dup edge set (canonical
# doc_a < doc_b) — ONE definition shared by the closure oracles AND the
# triangle-count oracle.
_GOOD_EDGES_CTE_SQL = f"""{_PAIRS_COUNTS_CTE_SQL},
good AS (
    SELECT doc_a, doc_b
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.05
)"""

_CC_REACH_CTE_SQL = f"""{_GOOD_EDGES_CTE_SQL.strip()},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM good
    UNION ALL
    SELECT doc_b, doc_a FROM good
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)"""

def near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): the verified near-dup edge set (Jaccard >= 0.05
    over DF-capped hashed shingles) — the ONE Spark-side derivation
    behind the closure / triangle / PageRank / cluster-histogram family
    and the survivor drop-list (oracle mirror: ``_GOOD_EDGES_CTE_SQL``'s
    ``good`` CTE), so a threshold or cap change cannot reach one consumer
    and miss another."""
    return jaccard_candidate_pairs(_shingled_hashed(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )


# Exact CC labels + survivor flag — used by both iterative CC queries, so
# two distributed algorithms are checked against one exact answer.
_CC_ORACLE_SQL = f"""
WITH RECURSIVE
{_CC_REACH_CTE_SQL}
SELECT src AS doc_id,
       MIN(dst) AS component,
       CAST(MIN(dst) = src AS INT) AS survivor
FROM reach
GROUP BY src
"""


@register(
    "connected_component_survivors",
    oracle=_CC_ORACLE_SQL,
    tags=("dedup", "llm", "graph"),
)
def connected_component_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure near-dedup: label every document with its
    connected component over the verified near-dup pair graph (Jaccard >=
    0.05 over DF-capped shingles) and keep the min-id member per
    component.  Unlike ``near_dedup_survivors``'s single-pass rule, a
    chain a–b, b–c with no direct a–c candidate still collapses to one
    survivor.  Iterative (label propagation), so no single-plan oracle —
    the DuckDB mirror uses a recursive CTE over the same edge set.
    """
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components_min_label(
        near_dup_edges(spark, sf_dir), d.select("doc_id")
    )
    return d.join(labels, "doc_id").select(
        "doc_id",
        "component",
        (F.col("component") == F.col("doc_id")).cast("int").alias("survivor"),
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the big→small ``(src, dst)`` edge set is a union of
    stars: every ``src`` has exactly one edge and no ``dst`` is also a
    ``src``.  That is the fixpoint of large-star/small-star and the
    condition its labeling reads components off, so it confirms a
    fingerprint match exactly (one Spark job)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    multi = deg.where(F.col("n") > 1).select("src")
    chained = edges.select(F.col("dst").alias("src")).join(
        deg.select("src"), "src", "left_semi"
    )
    return multi.unionByName(chained).isEmpty()


def connected_components_star(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 16
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round alternative to min-label propagation's
    O(diameter), so adversarial chain graphs (diameter ~ n) converge in
    logarithmically many shuffles instead of linearly many.

    - large-star(u): every *strictly larger* neighbor of u re-attaches to
      ``min(Γ(u) ∪ {u})``
    - small-star(u): every *smaller* neighbor (edges oriented big→small),
      plus u itself, re-attaches to the minimum smaller neighbor

    Each half-round is one groupBy + one join on the vertex key (the same
    shuffle shape as a round of min-label) and edges stay deduplicated.
    Convergence is decided exactly: an unchanged (count, hash-sum)
    edge-set fingerprint only nominates a round, and
    ``_is_star_forest`` confirms it, because at convergence the edge set
    is a union of stars centered at each component's minimum and labels
    read directly off the big→small orientation.  A hash collision on an
    unconverged edge set therefore keeps looping instead of returning
    wrong labels.  Returns ``(labels, rounds_used)``.

    Partitioning is SIZE-AWARE: the convergence probe already counts the
    edge set every round, so each materialization coalesces to
    ~500k edges/partition (floor 1 — the loop body is join+min with no
    CPU amplification, so near-empty extra partitions are pure per-round
    task overhead). Iterative loops otherwise inherit the session
    shuffle width, and at small edge counts that overhead dominates wall
    clock (measured 2.5× at sf0.1); at 100 TB the same rule scales the
    width back up with the data.

    Exhausting ``max_iter`` without a confirmed fixpoint means the
    labels are NOT component labels (edges still span multiple stars),
    so it raises ``RuntimeError``: callers like ``cc_star_survivors`` and
    ``leakage_safe_split_counts`` would otherwise silently dedup/split
    on wrong components.  An edge endpoint missing from ``vertices``
    raises ``ValueError`` (counted on the first round's job): it could
    become some vertex's component label.
    """

    def _parts(n_edges: int) -> int:
        # floor 1, not 8: the loop body is join+min (no CPU
        # amplification), so there is nothing for extra near-empty
        # partitions to parallelize at small edge counts — they are pure
        # per-round task overhead (round-15 optimization profile:
        # 1.6 s/round over 590 edges with the old floor); at 100 TB the
        # same rule still scales the width up with the data.
        return max(1, min(2048, n_edges // 500_000 + 1))

    # kept: loop lineage cut; the loop reads each round's fingerprint
    fp_metrics = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.hash("src", "dst")), F.lit(0)).alias("h"),
    )
    label = "connected_components_star.edges round {}"

    def known(end: str) -> DataFrame:
        return vertices.select(
            F.col("doc_id").alias(end), F.lit(True).alias(f"known_{end}")
        )

    cur, (n, h, dangling) = materialize_probed(
        edges.where(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .distinct()
        .join(known("src"), "src", "left")
        .join(known("dst"), "dst", "left"),
        label.format(0),
        *fp_metrics,
        (
            F.count_if(F.col("known_src").isNull())
            + F.count_if(F.col("known_dst").isNull())
        ).alias("dangling"),
    )
    if dangling:
        raise ValueError(
            f"connected_components_star: {dangling} edge endpoint(s) are "
            "not in vertices"
        )
    cur, fp = cur.select("src", "dst"), (n, h)
    rounds = 0
    converged = fp[0] == 0  # no edges: nothing to contract
    for _ in range(max_iter):
        if converged:
            break
        rounds += 1
        # large-star over the symmetric orientation
        sym = cur.unionAll(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("nbr_min"))
        center = F.least(F.col("src"), F.col("nbr_min")).alias("m")
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), center.alias("dst"))
        )
        # small-star over the big→small orientation of large's output
        oriented = (
            large.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        small_min = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            oriented.join(small_min, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .unionAll(small_min.select("src", F.col("m").alias("dst")))
        )
        cur, new_fp = materialize_probed(
            small.select(
                F.greatest("src", "dst").alias("src"),
                F.least("src", "dst").alias("dst"),
            )
            .distinct()
            .coalesce(_parts(fp[0])),
            label.format(rounds),
            *fp_metrics,
        )
        converged = new_fp == fp and _is_star_forest(cur)
        fp = new_fp
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds "
            f"({fp[0]} edges remain) — labels would not be component labels"
        )
    # stars point big→small at the component min; isolated vertices self-label
    star_labels = cur.groupBy("src").agg(F.min("dst").alias("component"))
    labels = vertices.join(
        star_labels, vertices["doc_id"] == star_labels["src"], "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    return labels, rounds


@register(
    "cc_star_survivors",
    oracle=_CC_ORACLE_SQL,
    tags=("dedup", "llm", "graph"),
)
def cc_star_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure near-dedup labeled by the large-star/small-star
    algorithm — same verified near-dup edge set and same exact
    recursive-CTE oracle as ``connected_component_survivors``, different
    distributed algorithm: O(log n) rounds instead of O(diameter), the
    shape that survives adversarial duplicate chains at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    labels, _ = connected_components_star(
        near_dup_edges(spark, sf_dir), d.select("doc_id")
    )
    return d.join(labels, "doc_id").select(
        "doc_id",
        "component",
        (F.col("component") == F.col("doc_id")).cast("int").alias("survivor"),
    )


# --- blocked fuzzy matching (entity resolution) ----------------------------

FUZZY_MAX_DIST = 3


@register(
    "fuzzy_name_match_pairs",
    oracle=f"""
WITH names AS (
    SELECT DISTINCT p_name FROM part
), blocked AS (
    SELECT p_name, string_split(p_name, ' ')[2] AS blk FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
""",
    tags=("dedup", "llm", "fuzzy", "entity-resolution"),
)
def fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (record linkage): DISTINCT names first — the
    step that collapses the exact-duplicate mass so the quadratic term
    runs over unique keys only — then an equi-join on a blocking key (the
    head noun) and Levenshtein ≤ {FUZZY_MAX_DIST} inside each block.
    Edit distances are integers, so parity is exact. At 100 TB the
    blocking key gets finer (noun + first char, or an LSH band) to bound
    per-block cardinality; the distinct-block-verify shape is unchanged.
    """
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.element_at(F.split("p_name", " "), 2).alias("blk")
    )
    a = blocked.select(F.col("p_name").alias("name_a"), "blk")
    b = blocked.select(F.col("p_name").alias("name_b"), "blk")
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .where(dist <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", dist.alias("edit_dist"))
    )


# Exact substring duplication (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): a training corpus contains not
# just near-duplicate DOCUMENTS but verbatim repeated SPANS (boilerplate,
# licenses, templated text) inside otherwise-distinct documents.  The
# production method matches 50-token substrings via a suffix array; the
# distributed equivalent is fixed-length token n-grams — every duplicated
# substring of length >= n contains a duplicated n-gram, so per-doc
# duplicated-gram counts upper-bound span-level duplication.  The fixture
# docs are 10-99 tokens, so n=8 keeps overlap non-trivial at test scale.
SUBSTRING_GRAM_N = 8


def _substr_grams_expr(n: int) -> str:
    """Spark expr: distinct md5-hashed token n-grams of ``toks``."""
    return (
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> cast(conv(substr(md5(concat_ws(' ', slice(toks, i + 1, {n}))), 1, 15), 16, 10) as bigint)))"
    )


def _substr_grams_sql(n: int) -> str:
    """DuckDB mirror of ``_substr_grams_expr`` (1-based list slicing)."""
    return (
        f"list_distinct(list_transform(range(1, len(toks) - {n - 2}), "
        f"i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+{n - 1}], ' ')), 1, 15) AS BIGINT)))"
    )


def substring_dup_oracle_sql(n: int = SUBSTRING_GRAM_N) -> str:
    """DuckDB oracle for ``substring_dup_stats_df`` at gram length n."""
    return f"""
WITH grams AS (
    SELECT doc_id, unnest({_substr_grams_sql(n)}) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents
          WHERE len(string_split(text, ' ')) >= {n})
), dup AS (
    SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
FROM grams g LEFT JOIN dup d ON g.gram = d.gram
GROUP BY g.doc_id
HAVING SUM(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


@register(
    "substring_dup_stats",
    oracle=substring_dup_oracle_sql(),
    tags=("llm", "dedup", "substring"),
)
def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verbatim-span duplication via exact 8-token n-grams.

    Unlike the Jaccard/MinHash family this op must NOT drop hot grams —
    the high-document-frequency grams ARE the signal (boilerplate and
    licenses repeated across the corpus).  That is safe because the plan
    is linear, never pairwise: distinct (doc, gram-hash) explode → one
    map-side-combinable distinct-doc count per gram → equi-join the
    df>=2 gram list back to the gram stream → per-doc count.  No term
    here is quadratic in document frequency, so no cap is needed.  At
    100 TB both shuffles key on the 8-byte gram hash (uniform md5 →
    no planned skew; AQE handles residual hot grams), and the final
    per-doc aggregate keys on doc_id.  Output: every document containing
    at least one gram duplicated in >= 2 distinct docs, with its total
    and duplicated distinct-gram counts — counts stay BIGINT (no float
    ratio) so the driver hash is tie-proof.  Production raises n toward
    the 50-token span standard via the ``n`` parameter of
    ``substring_dup_stats_df`` (the plan is length-independent;
    tests/test_dedup_scale.py exercises n=16 against the oracle).
    """
    return substring_dup_stats_df(spark, sf_dir)


def substring_dup_stats_df(
    spark: SparkSession, sf_dir: str, n: int = SUBSTRING_GRAM_N
) -> DataFrame:
    """The substring-duplication plan at gram length ``n`` (>= 3; the
    registered query pins n=8 for the 10-99-token fixture docs)."""
    d = load_table(spark, sf_dir, "documents")
    # kept: two or more consumers, no ReusedExchange without it
    grams = materialize(
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", F.explode(F.expr(_substr_grams_expr(n))).alias("gram")),
        "substring_dup_stats.grams",
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gram")
    )
    return (
        grams.join(dup.withColumn("is_dup", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_grams"),
        )
        .where(F.col("n_dup_grams") > 0)
    )


# Incremental near-dedup: a 100 TB corpus is not re-deduplicated from
# scratch each ingest — the MinHash band table is a PERSISTED artifact
# (bucketed on (band, key)), and each new batch computes signatures only
# for its own documents, then probes the state with an equi-join.  Daily
# cost is O(|batch| + matched state buckets), never O(|corpus|).  The
# fixture models the split deterministically: md5 bucket 0 of 4 over
# doc_id is the "incoming batch" (~25%), the rest is the standing corpus.
INCR_BATCH_BUCKETS = 4
_INCR_INCOMING_SQL = md5_bucket_sql("doc_id", INCR_BATCH_BUCKETS) + " = 0"


@register(
    "incremental_lsh_dedup",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
fresh AS (SELECT * FROM bands WHERE {_INCR_INCOMING_SQL}),
state AS (SELECT * FROM bands WHERE NOT ({_INCR_INCOMING_SQL})),
corpus_hits AS (
    SELECT f.doc_id, COUNT(DISTINCT s.doc_id) AS n
    FROM fresh f JOIN state s ON f.band = s.band AND f.key = s.key
    GROUP BY f.doc_id
),
batch_hits AS (
    SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n
    FROM fresh a JOIN fresh b
      ON a.band = b.band AND a.key = b.key AND b.doc_id < a.doc_id
    GROUP BY a.doc_id
),
docs AS (SELECT DISTINCT doc_id FROM fresh)
SELECT d.doc_id,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_corpus_dups,
       CAST(COALESCE(bh.n, 0) AS BIGINT) AS n_batch_dups,
       (COALESCE(c.n, 0) = 0 AND COALESCE(bh.n, 0) = 0) AS admitted
FROM docs d
LEFT JOIN corpus_hits c ON d.doc_id = c.doc_id
LEFT JOIN batch_hits bh ON d.doc_id = bh.doc_id
""",
    tags=("dedup", "llm", "minhash", "incremental"),
)
def incremental_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit a new document batch against the standing corpus's persisted
    MinHash band state — the incremental form of `minhash_lsh_candidates`.

    Per incoming doc: how many distinct corpus docs it LSH-collides with,
    how many SMALLER-id batch docs it collides with (first-wins within
    the batch — deterministic and non-recursive: a doc is charged for a
    collision with an earlier batch doc even if that doc was itself
    rejected, the conservative choice real admission pipelines make to
    avoid iterating), and the admission verdict (no collisions at all).

    Scale shape: the band table is checkpointed once (standing in for the
    persisted signature artifact, bucketed on (band, key) in production);
    the corpus-probe is an equi-join on (band, key) — AQE broadcasts the
    fresh side when the batch is small, and the corpus is never
    rescanned or re-hashed.  The within-batch self-join touches batch
    rows only.  Docs under 3 tokens have no signature and are not
    admitted through this path (mirrored by the oracle's sig CTE).
    """
    # kept: pinned by test_incremental_lsh_probe_is_equi_join
    bands = materialize(
        band_table_for(minhash_signatures_df(spark, sf_dir)).withColumn(
            "incoming", md5_bucket("doc_id", INCR_BATCH_BUCKETS) == 0
        ),
        "incremental_lsh_dedup.bands",
    )
    fresh = bands.where("incoming").select("doc_id", "band", "key")
    state = bands.where("NOT incoming").select(
        F.col("doc_id").alias("corpus_doc"), "band", "key"
    )
    corpus_hits = (
        fresh.join(state, ["band", "key"])
        .groupBy("doc_id")
        .agg(F.count_distinct("corpus_doc").alias("n_corpus_dups"))
    )
    other = fresh.select(F.col("doc_id").alias("other_doc"), "band", "key")
    batch_hits = (
        fresh.join(other, ["band", "key"])
        .where(F.col("other_doc") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count_distinct("other_doc").alias("n_batch_dups"))
    )
    docs = fresh.select("doc_id").distinct()
    n_corpus = F.coalesce(F.col("n_corpus_dups"), F.lit(0))
    n_batch = F.coalesce(F.col("n_batch_dups"), F.lit(0))
    return (
        docs.join(corpus_hits, "doc_id", "left")
        .join(batch_hits, "doc_id", "left")
        .select(
            "doc_id",
            n_corpus.alias("n_corpus_dups"),
            n_batch.alias("n_batch_dups"),
            ((n_corpus == 0) & (n_batch == 0)).alias("admitted"),
        )
    )


# --- triangle participation on the near-dup graph (round 7) ------------------


@register(
    "near_dup_triangle_counts",
    oracle=f"""
WITH {_GOOD_EDGES_CTE_SQL},
tri AS (
    SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
    FROM good e1
    JOIN good e2 ON e2.doc_a = e1.doc_b
    JOIN good e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
members AS (
    SELECT x AS doc_id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM members
GROUP BY doc_id
""",
    tags=("dedup", "llm", "graph"),
)
def near_dup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation on the verified near-dup pair
    graph — the classic distributed-graph density metric: a document in
    many triangles sits inside a DENSE duplicate cluster (boilerplate
    families, template spam), whereas chain-shaped components are
    usually legitimate incremental edits.  The standard refinement
    signal on top of connected components.

    The canonical a<b edge orientation makes each triangle x<y<z count
    exactly once: edges (x,y), (y,z), (x,z) join as two equi-joins — the
    MapReduce triangle-enumeration shape (node-iterator over ordered
    edges).  The edge set is the SAME DF-capped Jaccard pair pipeline as
    the closure family (checkpointed once, so the expensive shingle
    subtree runs once), and |triangles| is bounded by the capped pair
    generation — never all-pairs.  Per-member counts come from one
    explode + group-by."""
    # kept: two or more consumers, no ReusedExchange without it
    edges = materialize(near_dup_edges(spark, sf_dir), "near_dup_triangle_counts.edges")
    e1 = edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
    e2 = edges.select(F.col("doc_a").alias("y"), F.col("doc_b").alias("z"))
    e3 = edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    # one explode, not a 3-way unionAll — the union form re-executed the
    # whole two-join enumeration once per branch (3x the heavy stage)
    members = tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
    return members.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


# --- PageRank over the near-dup graph (round 7) -------------------------------
#
# Iterative NUMERIC fixed-point on the verified Jaccard pair graph — the
# capability class beyond the boolean closure loops above: damped power
# iteration with per-iteration rounding so the Spark loop and the DuckDB
# unrolled-CTE oracle stay value-exact (repo rounding convention: round(6)
# kills sub-5e-7 fold-order residue each step before it can amplify).

PAGERANK_D = 0.85
PAGERANK_ITERS = 3
# Pre-folded in Python so both engines parse the SAME IEEE double (the
# BM25 _K1P1 idiom): 1 - 0.85 is NOT exactly 0.15 in binary.
_PR_TELEPORT_NUM = 1.0 - PAGERANK_D


def _pagerank_oracle_sql(iters: int = PAGERANK_ITERS) -> str:
    """Unrolled-CTE mirror of the Spark power iteration, generated from
    the SAME constants (one definition; a hand-written copy per iteration
    is how the engines would drift apart)."""
    steps = []
    prev = "pr0"
    for k in range(1, iters + 1):
        steps.append(
            f"""pr{k} AS (
    SELECT nd.doc_id,
           ROUND({_PR_TELEPORT_NUM!r} / nn.n
                 + {PAGERANK_D!r} * COALESCE(s.m, 0.0), 6) AS pr
    FROM nodes nd
    CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst, SUM(p.pr / d.deg) AS m
        FROM edges e
        JOIN {prev} p ON p.doc_id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ) s ON s.dst = nd.doc_id
)"""
        )
        prev = f"pr{k}"
    joined = ",\n".join(steps)
    return f"""
WITH {_GOOD_EDGES_CTE_SQL},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM good
    UNION ALL
    SELECT doc_b, doc_a FROM good
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT nd.doc_id, ROUND(1.0 / nn.n, 6) AS pr FROM nodes nd CROSS JOIN nn),
{joined}
SELECT p.doc_id,
       CAST(d.deg AS BIGINT) AS degree,
       p.pr
FROM {prev} p
JOIN deg d ON d.src = p.doc_id
"""


@register(
    "pagerank_near_dup",
    oracle=_pagerank_oracle_sql(),
    tags=("dedup", "llm", "graph", "iterative"),
)
def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 3 iterations) over the verified near-dup
    pair graph — centrality on the duplicate graph ranks the TEMPLATE
    documents a boilerplate family radiates from (the doc every near-copy
    links to scores highest), a finer keep/drop signal than min-id when
    curating which cluster member survives.

    Scale shape (the iterative-numeric twin of the closure loops): the
    symmetrized edge list with out-degrees pre-joined is checkpointed
    ONCE (loop-invariant — without it every iteration re-runs the shingle
    self-join subtree); each iteration is then exactly one join + one
    groupBy on the destination key, and the iteration count is a constant
    (3), so the lineage stays a single non-branching chain executed once.
    |V| enters as one bounded driver aggregate (a count, never a
    collect).  Per-iteration round(6) on BOTH engines keeps the power
    iteration value-exact across Spark's and DuckDB's float fold orders
    (same contract as the EWMA/cumsum recurrences)."""
    # kept (all three): loop-invariant inputs of the power iteration
    edges = materialize(near_dup_edges(spark, sf_dir), "pagerank_near_dup.edges")
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = materialize(
        sym.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg")),
        "pagerank_near_dup.deg",
    )
    sym_deg = materialize(sym.join(deg, "src"), "pagerank_near_dup.sym_deg")
    # deg is grouped by src — exactly one row per node — so the node set
    # reads the existing materialization (no extra distinct or checkpoint)
    nodes = deg.select(F.col("src").alias("doc_id"))
    n = float(nodes.count())  # |V|: one bounded driver aggregate
    pr = nodes.select(
        "doc_id", F.round(F.lit(1.0) / F.lit(n), 6).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            sym_deg.join(pr, sym_deg["src"] == pr["doc_id"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("m"))
        )
        pr = nodes.join(contrib, nodes["doc_id"] == contrib["dst"], "left").select(
            "doc_id",
            F.round(
                F.lit(_PR_TELEPORT_NUM) / F.lit(n)
                + F.lit(PAGERANK_D) * F.coalesce("m", F.lit(0.0)),
                6,
            ).alias("pr"),
        )
    return pr.join(deg, pr["doc_id"] == deg["src"]).select(
        "doc_id", F.col("deg").cast("long").alias("degree"), "pr"
    )

# --- Containment duplicates (round 7) ------------------------------------------
#
# Broder's (1997) CONTAINMENT complements symmetric Jaccard: when a short
# document is embedded inside a much longer one (a quoted article, a
# boilerplate wrapper around real content), shared/min(|A|,|B|) stays high
# while Jaccard collapses toward min/max — a threshold on Jaccard alone
# systematically misses exactly the asymmetric-size duplications that
# quote-heavy web corpora are full of.  Same DF-capped shingle universe and
# candidate machinery as the Jaccard family (one definition — the pair
# pipeline is `jaccard_candidate_pairs` with the per-doc set sizes kept).

CONTAINMENT_MIN = 0.3


@register(
    "containment_dup_pairs",
    oracle=f"""
WITH {_PAIRS_COUNTS_CTE_SQL}
SELECT doc_a, doc_b, shared,
       CAST(shared AS DOUBLE) / LEAST(ca.n, cb.n) AS containment,
       CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / LEAST(ca.n, cb.n) >= {CONTAINMENT_MIN}
""",
    tags=("dedup", "llm"),
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs by shingle CONTAINMENT >= 0.3 — shared over the
    SMALLER document's capped shingle-set size (Broder 1997), alongside
    the symmetric Jaccard for comparison.  A fully-contained short doc
    scores containment 1.0 regardless of how much longer the host is.

    Plan shape: identical to ``ngram_jaccard_pairs`` (the ONE
    ``jaccard_candidate_pairs`` pipeline, here with per-doc set sizes
    kept) — hot-shingle DF cap, bounded pair expansion, then a different
    scoring projection.  Both scores are single divisions of exact
    integers, so they are bit-identical across engines without rounding
    (the established family contract)."""
    pairs = jaccard_candidate_pairs(
        _shingled_hashed(spark, sf_dir), threshold=0.0, keep_counts=True
    )
    cont = F.col("shared").cast("double") / F.least("na", "nb")
    return pairs.where(cont >= CONTAINMENT_MIN).select(
        "doc_a",
        "doc_b",
        "shared",
        cont.alias("containment"),
        "jaccard",
    )


# --- Dedup diagnostics (round 7) -------------------------------------------------
#
# Two measurement queries production dedup pipelines run alongside the
# dedup itself: the duplicate-CLUSTER size distribution (the FineWeb-style
# diagnostic — a fat tail of huge clusters means boilerplate templates;
# the dedup rate alone can't show it), and the MinHash ESTIMATOR's error
# against exact Jaccard on the very pairs LSH surfaces (the k=8 signature
# is a dial; this query is the evidence for turning it).


@register(
    "dup_cluster_size_hist",
    oracle=f"""
WITH RECURSIVE
{_CC_REACH_CTE_SQL},
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
sizes AS (
    SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY component
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
""",
    tags=("dedup", "llm", "graph"),
)
def dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of near-dup connected-component sizes (singletons
    included — size 1 counts the unique documents): how much duplicate
    mass lives in how-big clusters, the signal that separates "many
    small accidental dupes" from "one boilerplate template with a
    million copies".

    Scale shape: the closure labels come from the SAME shared min-label
    loop the survivor queries use (checkpointed loop-invariant edges,
    O(diameter) rounds); on top of it this is two BIGINT aggregations —
    component then size — both on uniform keys."""
    d = load_table(spark, sf_dir, "documents")
    labels = connected_components_min_label(
        near_dup_edges(spark, sf_dir), d.select("doc_id")
    )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


_MH_MATCHES_SQL = " + ".join(
    f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(8)
)


@register(
    "minhash_est_error_pairs",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
{_LSH_CAND_SQL},
est AS (
    SELECT c.doc_a, c.doc_b,
           ({_MH_MATCHES_SQL}) / 8.0 AS est_jaccard
    FROM cand c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
),
sh AS ({_SHINGLED_SQL}),
counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       CAST(COALESCE(s.shared, 0) AS DOUBLE)
           / (ca.n + cb.n - COALESCE(s.shared, 0)) AS exact_jaccard,
       ROUND(ABS(e.est_jaccard
                 - CAST(COALESCE(s.shared, 0) AS DOUBLE)
                   / (ca.n + cb.n - COALESCE(s.shared, 0))), 6)
           AS abs_err
FROM est e
LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
JOIN counts ca ON ca.doc_id = e.doc_a
JOIN counts cb ON cb.doc_id = e.doc_b
""",
    tags=("dedup", "llm", "minhash", "sketch"),
)
def minhash_est_error_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every LSH candidate pair: the k=8 MinHash Jaccard ESTIMATE
    (matching signature components / 8) next to the exact Jaccard over
    the same raw distinct-shingle universe, and their absolute error —
    the error-bound gate for the signature-width dial (same pattern as
    the HLL/KLL gates).

    Scale shape: candidates come from the band equi-join (never
    all-pairs), the estimate is an 8-column comparison on two broadcast-
    joinable signature lookups, and the exact side never enumerates
    non-candidate pairs: each candidate pair equi-joins the two
    documents' shingle streams on the shingle value, so the cost is
    O(|A| + |B|) per surfaced pair even through uncapped stop-phrase
    shingles.  est is k/8 (exactly representable), exact is one int
    division — both engine-stable without rounding; only the error
    difference rounds (convention)."""
    # kept: two or more consumers, no ReusedExchange without it (sig: the cand job and the est join)
    sig = materialize(minhash_signatures_df(spark, sf_dir), "minhash_est_error_pairs.sig")
    cand = materialize(
        lsh_candidate_pairs_for(band_table_for(sig)), "minhash_est_error_pairs.cand"
    )
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(8)]
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(8)]
    )
    matches = None
    for j in range(8):
        m = (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
        matches = m if matches is None else matches + m
    est = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", (matches / F.lit(8.0)).alias("est_jaccard"))
    )
    sh = _shingled(spark, sf_dir)
    shx = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shy = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(shx, "doc_a")
        .join(shy, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # LEFT join: a band collision with ZERO shared shingles (congruent
    # minhash inputs mod P) is the maximal-error pair this gate exists
    # to surface — an inner join would silently drop it
    shared0 = F.coalesce(F.col("shared"), F.lit(0))
    exact = shared0.cast("double") / (F.col("na") + F.col("nb") - shared0)
    return (
        est.join(shared, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


# --- Inter-source overlap matrix (round 7) --------------------------------------
#
# The cross-source duplication audit (the Pile / Dolma corpus analyses
# report exactly this table): how much shingle mass every pair of sources
# shares.  High containment between two "different" sources means the
# crawler ingested the same site twice under two names — a mixture-weight
# and leakage hazard no within-corpus doc-level dedup report shows.
# Same DF-capped hashed-shingle universe as the pair family: capping
# removes stop-phrase/boilerplate shingles, so the overlap measures
# CONTENT, not function words.

_SRC_SHINGLED_SQL = f"""
    SELECT doc_id, source, unnest({_HASHED_SHINGLES_SQL}) AS shingle
    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= 3)
"""


@register(
    "source_overlap_matrix",
    oracle=f"""
WITH {_capped_sh_sql(_SRC_SHINGLED_SQL, cols="source, shingle")},
src_sh AS (SELECT DISTINCT source, shingle FROM sh),
counts AS (SELECT source, COUNT(*) AS n FROM src_sh GROUP BY source),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
    FROM src_sh a JOIN src_sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT ca.source AS source_a, cb.source AS source_b,
       CAST(COALESCE(p.shared, 0) AS BIGINT) AS shared,
       CAST(COALESCE(p.shared, 0) AS DOUBLE) / LEAST(ca.n, cb.n) AS containment,
       CAST(COALESCE(p.shared, 0) AS DOUBLE)
           / (ca.n + cb.n - COALESCE(p.shared, 0)) AS jaccard
FROM counts ca
JOIN counts cb ON ca.source < cb.source
LEFT JOIN pairs p ON p.source_a = ca.source AND p.source_b = cb.source
""",
    tags=("dedup", "llm", "audit"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle overlap between SOURCES over the DF-capped
    hashed-shingle universe: shared distinct shingles, containment
    (shared over the smaller source's set) and Jaccard, one row per
    unordered source pair.

    Every one of the C(|sources|, 2) pairs gets a row — a pair sharing
    NO capped shingle reports shared=0 (zero cross-source duplication is
    the healthy finding an audit must show, not drop; the same
    left-join-the-boundary-case contract as the estimator gate).

    Scale shape: the hot-shingle cap is the family's ONE
    ``capped_shingles`` rule, then the stream collapses to DISTINCT
    (source, shingle) — ONE uniform-key shuffle that also serves the
    per-source counts — and the self-join key (shingle) carries at most
    |sources| rows per side, so pair generation is bounded by
    C(|sources|, 2) per shingle no matter how large the corpus grows.
    The all-pairs frame folds the |sources|-row counts table into one
    row and expands i<j pairs as an array expression (no cross join in
    the plan).  Both scores are single divisions of exact ints
    (engine-stable unrounded, family contract)."""
    d = load_table(spark, sf_dir, "documents")
    # doc_id is NOT materialized: the cap needs only per-doc row
    # multiplicity (the in-array distinct makes rows distinct per doc)
    # and the probe side only (source, shingle)
    sh_all = (
        d.select("source", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select("source", F.explode(F.expr(_HASHED_SHINGLES_EXPR)).alias("shingle"))
    )
    # kept: two or more consumers, no ReusedExchange without it
    sh_all = materialize(sh_all, "source_overlap_matrix.sh_all")
    src_sh = capped_shingles(sh_all).distinct()
    counts = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = src_sh.select(F.col("source").alias("source_a"), "shingle")
    b = src_sh.select(F.col("source").alias("source_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pair_expr = F.expr(
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 2, size(ss) - i - 1), "
        "y -> struct(x.source AS source_a, x.n AS na, "
        "y.source AS source_b, y.n AS nb))))"
    )
    all_pairs = (
        counts.agg(F.sort_array(F.collect_list(F.struct("source", "n"))).alias("ss"))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.source_a", "p.na", "p.source_b", "p.nb")
    )
    shared0 = F.coalesce(F.col("shared"), F.lit(0))
    return all_pairs.join(pairs, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        shared0.cast("bigint").alias("shared"),
        (shared0.cast("double") / F.least("na", "nb")).alias("containment"),
        (shared0.cast("double") / (F.col("na") + F.col("nb") - shared0)).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# Exact-substring span REMOVAL — the apply half of Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better"), whose
# detection half is substring_dup_stats above.  A production corpus
# pipeline does not just COUNT duplicated verbatim spans, it excises them
# from the training text before tokenization (generalizes the reference's
# pre-process-then-train shape, train_fawac_iql.py:59-75).
#
# Semantics: a token position is duplicated iff ANY corpus-duplicated
# n-gram (>= 2 distinct docs) covers it; maximal runs of duplicated
# positions are the spans; each span is replaced by a marker token unique
# to (doc_id, span index).  The doc-unique marker is what makes the
# rewrite PROVABLY idempotent: any original gram that survives in two
# rewritten docs would have been duplicated (hence removed) in pass 1 —
# contradiction — and any NEW gram created by an excision contains a
# marker token carrying the doc_id, so it can never appear in a second
# document.  A second pass therefore finds zero duplicated grams
# (property-tested in tests/test_dedup_scale.py).
#
# Marker unforgeability (ADVICE r9): the proof above additionally needs
# that no ORIGINAL corpus token can impersonate a marker — a raw document
# containing a literal ``<<dup:7:1>>`` token could otherwise forge doc
# 7's marker and break the doc-uniqueness argument.  Closed by making
# marker-SHAPED tokens gram BREAKERS: any token matching _MARKER_RE is
# excluded from n-gram formation entirely (no gram may cover it), on
# both engines and in the streaming twin, so forged and genuine markers
# alike can never participate in a duplicated gram.  They are still kept
# verbatim in the rebuilt text — which is exactly what preserves
# idempotence: pass 2 re-tokenizes pass-1 output, sees the genuine
# markers, refuses to gram across them, finds zero duplicated grams, and
# reproduces the text unchanged.  (Escaping forged tokens instead would
# BREAK idempotence: pass 2 could not tell pass-1's markers from forged
# ones and would escape both, mutating pass-1 output.)

# One regex, shared by the batch family, the streaming twin, and the
# DuckDB oracles (as _MARKER_RE_SQL).
_MARKER_RE = r"^<<dup:[0-9]+:[0-9]+>>$"
_MARKER_RE_SQL = "^<<dup:[0-9]+:[0-9]+>>$"


def _span_marker(doc_id_col, k_col):
    return F.concat(
        F.lit("<<dup:"),
        doc_id_col.cast("string"),
        F.lit(":"),
        k_col.cast("string"),
        F.lit(">>"),
    )


def positioned_grams(
    t: DataFrame, n: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Positioned (0-based start i) md5-hashed token n-grams of
    ``t = (doc_id, toks)`` — NOT distinct: every occurrence must mark its
    own coverage window.  Pure map (one generator), shared by the batch
    span-removal family and the streaming span-dedup-on-ingest twins
    (``carry`` forwards extra columns such as the watermarked feed's
    ``ingest_ts`` through the explode).

    Marker-shaped tokens (_MARKER_RE) are gram BREAKERS: a gram whose
    window contains one is dropped (null, filtered), so no original or
    rewritten marker token can ever participate in a duplicated gram —
    the unforgeability precondition of the idempotence proof above.  The
    marker test runs ONCE per token (the ``bad`` array), then each gram
    checks its n-window with an integer ``exists`` — O(n) per gram, no
    per-gram regex."""
    gram_expr = (
        f"transform(sequence(0, size(toks) - {n}), i -> "
        f"case when exists(slice(bad, i + 1, {n}), x -> x) then null "
        f"else cast(conv(substr(md5(concat_ws(' ', slice(toks, i + 1, {n}))), 1, 15), 16, 10) as bigint) end)"
    )
    return (
        t.where(F.size("toks") >= n)
        .withColumn("bad", F.expr(f"transform(toks, t -> t rlike '{_MARKER_RE}')"))
        .select("doc_id", *carry, F.posexplode(F.expr(gram_expr)).alias("i", "gram"))
        .where(F.col("gram").isNotNull())
    )


def rewrite_excising(t: DataFrame, covered: DataFrame) -> DataFrame:
    """Rebuild every document of ``t = (doc_id, toks)`` with the covered
    token positions ``(doc_id, p)`` excised: maximal covered runs become
    one doc-unique marker token each (gaps-and-islands on a per-doc
    window, bounded by document length), and the text reassembles through
    one ordered collect_list per doc.  Returns
    (doc_id, kept_text, n_spans_removed, chars_removed) for ALL docs."""
    pos = t.select(
        "doc_id", F.posexplode("toks").alias("p", "token")
    )
    flagged = pos.join(
        covered.withColumn("cov", F.lit(True)), ["doc_id", "p"], "left"
    ).select("doc_id", "p", "token", F.coalesce("cov", F.lit(False)).alias("cov"))
    # gaps-and-islands: maximal covered runs
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id", "cov").orderBy("p")
    isl = flagged.withColumn("grp", F.col("p") - F.row_number().over(w))
    spans = (
        isl.where("cov")
        .groupBy("doc_id", "grp")
        .agg(
            F.min("p").alias("p0"),
            F.sum(F.length("token")).alias("chars"),
        )
        .withColumn(
            "k",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("p0")),
        )
    )
    pieces = isl.where(~F.col("cov")).select(
        "doc_id", "p", F.col("token").alias("piece")
    ).unionByName(
        spans.select(
            "doc_id",
            F.col("p0").alias("p"),
            _span_marker(F.col("doc_id"), F.col("k")).alias("piece"),
        )
    )
    rebuilt = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(p, piece))), x -> x.piece)"),
        ).alias("kept_text")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans_removed"),
        F.sum("chars").cast("bigint").alias("chars_removed"),
    )
    return (
        rebuilt.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "kept_text",
            F.coalesce("n_spans_removed", F.lit(0)).cast("bigint").alias("n_spans_removed"),
            F.coalesce("chars_removed", F.lit(0)).cast("bigint").alias("chars_removed"),
        )
    )


def substring_span_removal_df(
    spark: SparkSession,
    sf_dir: str,
    n: int = SUBSTRING_GRAM_N,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Rewrite every document with corpus-duplicated spans excised.

    Returns (doc_id, kept_text, n_spans_removed, chars_removed) for ALL
    documents — untouched docs come back with their original text and
    zero counts, so the output IS the rewritten corpus.

    Scale shape (100 TB): every stage is linear in total tokens and every
    join is an equi-join — positioned grams explode once, the dup-gram
    list is a map-side-combinable distinct-doc count, coverage is an
    n-way explode of dup STARTS (n is a small constant, never a range
    join), the gaps-and-islands window partitions by doc_id (bounded by
    document length, the standard bound for every text op here), and the
    final reassembly is one ordered collect_list per doc — again bounded
    by doc length.  No pairwise term anywhere: high-df boilerplate grams
    cost O(occurrences), not O(df^2).
    """
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    # fan_out before the gram explode AND the rewrite's posexplode: both
    # consumers amplify per-row CPU ~n_tokens-fold (md5 per gram, regex
    # per token), and ``docs`` is often a one-partition checkpoint (the
    # composed pipelines) or a single-split scan (explode discipline).
    t = fan_out(d.select("doc_id", F.col("text")), "doc_id").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # kept: pinned by test_span_removal_plan_has_no_pairwise_stage
    grams = materialize(positioned_grams(t, n), "substring_span_removal.grams")
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gram")
    )
    # covered token positions: each dup gram start covers [i, i+n-1]
    covered = (
        grams.join(dup, "gram")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("p"))
        .distinct()
    )
    return rewrite_excising(t, covered)


def _span_rewrite_ctes(
    n: int, covered_cte: str, t_sql: str | None = None, pfx: str = ""
) -> str:
    """The span-rewrite CTE chain (no leading WITH, no final SELECT):
    positioned tokens/grams (parallel ``unnest`` calls zip equal-length
    lists, no WITH ORDINALITY needed), a caller-supplied ``covered`` CTE
    selecting the excised (doc_id, p) positions, then the gaps-and-
    islands rewrite with doc-unique span markers, ending at
    ``{pfx}rebuilt`` / ``{pfx}stats``.

    ``t_sql`` overrides the (doc_id, toks) source relation (default: the
    raw documents table); ``pfx`` prefixes every CTE name so the
    composed traindata pipeline can instantiate the scaffold TWICE in
    one query (span excision then decontamination) without name
    collisions — the caller's ``covered_cte`` must reference
    ``{pfx}grams`` and define ``{pfx}covered``."""
    t_sql = t_sql or "SELECT doc_id, string_split(text, ' ') AS toks FROM documents"
    return f"""{pfx}t AS (
    {t_sql}
), {pfx}pos AS (
    SELECT doc_id,
           unnest(range(0, len(toks))) AS p,
           unnest(toks) AS token
    FROM {pfx}t
), {pfx}grams_all AS (
    SELECT doc_id,
           unnest(range(0, len(toks) - {n} + 1)) AS i,
           unnest(list_transform(range(1, len(toks) - {n} + 2),
                  j -> CAST('0x' || substr(md5(array_to_string(toks[j:j+{n - 1}], ' ')), 1, 15) AS BIGINT))) AS gram,
           unnest(list_transform(range(1, len(toks) - {n} + 2),
                  j -> len(list_filter(toks[j:j+{n - 1}], tok -> regexp_matches(tok, '{_MARKER_RE_SQL}'))) = 0)) AS ok
    FROM {pfx}t WHERE len(toks) >= {n}
), {pfx}grams AS (
    SELECT doc_id, i, gram FROM {pfx}grams_all WHERE ok
), {covered_cte}, {pfx}flagged AS (
    SELECT {pfx}pos.doc_id, {pfx}pos.p, {pfx}pos.token,
           {pfx}covered.p IS NOT NULL AS cov
    FROM {pfx}pos LEFT JOIN {pfx}covered USING (doc_id, p)
), {pfx}isl AS (
    SELECT *, p - ROW_NUMBER() OVER (PARTITION BY doc_id, cov ORDER BY p) AS grp
    FROM {pfx}flagged
), {pfx}spans AS (
    SELECT doc_id, grp, MIN(p) AS p0, SUM(LEN(token)) AS chars
    FROM {pfx}isl WHERE cov GROUP BY doc_id, grp
), {pfx}spans_k AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p0) AS k
    FROM {pfx}spans
), {pfx}pieces AS (
    SELECT doc_id, p, token AS piece FROM {pfx}isl WHERE NOT cov
    UNION ALL
    SELECT doc_id, p0 AS p,
           '<<dup:' || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR) || '>>'
    FROM {pfx}spans_k
), {pfx}rebuilt AS (
    SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS kept_text
    FROM {pfx}pieces GROUP BY doc_id
), {pfx}stats AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
           CAST(SUM(chars) AS BIGINT) AS chars_removed
    FROM {pfx}spans_k GROUP BY doc_id
)"""


def _span_rewrite_oracle(n: int, covered_cte: str) -> str:
    """Shared DuckDB scaffold for the span-removal family — the
    unprefixed single-instance form of ``_span_rewrite_ctes`` with the
    final rebuilt-plus-stats projection attached."""
    return f"""
WITH {_span_rewrite_ctes(n, covered_cte)}
SELECT r.doc_id, r.kept_text,
       COALESCE(s.n_spans_removed, 0) AS n_spans_removed,
       COALESCE(s.chars_removed, 0) AS chars_removed
FROM rebuilt r LEFT JOIN stats s USING (doc_id)
"""


def _corpus_dup_covered_cte(n: int, pfx: str = "") -> str:
    """The symmetric (>= 2 distinct docs) covered-positions CTE — shared
    by ``substring_span_removal``, the composed stats query, and (with a
    prefix) the composed traindata pipeline."""
    return f"""{pfx}dup AS (
    SELECT gram FROM {pfx}grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), {pfx}covered AS (
    SELECT DISTINCT g.doc_id, g.i + u.off AS p
    FROM {pfx}grams g JOIN {pfx}dup USING (gram),
         UNNEST(range(0, {n})) AS u(off)
)"""


def substring_span_removal_oracle_sql(n: int = SUBSTRING_GRAM_N) -> str:
    """DuckDB oracle for ``substring_span_removal`` at gram length n:
    covered = positions under any gram duplicated in >= 2 distinct docs."""
    return (
        "SELECT doc_id, md5(kept_text) AS kept_text_hash, n_spans_removed, "
        f"chars_removed FROM ({_span_rewrite_oracle(n, _corpus_dup_covered_cte(n))})"
    )


def span_removal_firstseen_oracle_sql(n: int = SUBSTRING_GRAM_N) -> str:
    """DuckDB oracle for ``span_removal_firstseen``: covered = positions
    under any gram already seen in a STRICTLY SMALLER doc_id — the batch
    closed form of span-dedup ON INGEST (first occurrence kept)."""
    covered = f"""firstg AS (
    SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
), covered AS (
    SELECT DISTINCT g.doc_id, g.i + u.off AS p
    FROM grams g JOIN firstg USING (gram),
         UNNEST(range(0, {n})) AS u(off)
    WHERE firstg.first_doc < g.doc_id
)"""
    return (
        "SELECT doc_id, md5(kept_text) AS kept_text_hash, n_spans_removed, "
        f"chars_removed FROM ({_span_rewrite_oracle(n, covered)})"
    )


@register(
    "substring_span_removal",
    oracle=substring_span_removal_oracle_sql(),
    tags=("llm", "dedup", "substring"),
)
def substring_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rewrite with duplicated verbatim spans excised — the apply
    half of Lee et al. 2022 (detection half: ``substring_dup_stats``).
    Every document comes back (hash of the rewritten text + span/char
    removal counts); untouched docs keep their original text hash and
    zero counts, so downstream training reads the output AS the corpus.
    Idempotent by construction (doc-unique span markers) — property-
    tested via a second pass over the rewritten corpus."""
    out = substring_span_removal_df(spark, sf_dir)
    return out.select(
        "doc_id",
        F.md5("kept_text").alias("kept_text_hash"),
        "n_spans_removed",
        "chars_removed",
    )


def _span_clean_stats_oracle(n: int = SUBSTRING_GRAM_N) -> str:
    inner = _span_rewrite_oracle(n, _corpus_dup_covered_cte(n))
    return f"""
WITH cleaned AS ({inner})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c.n_spans_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_rewritten,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS tokens_before,
       CAST(SUM(len(string_split(c.kept_text, ' '))) AS BIGINT) AS tokens_after,
       CAST(SUM(c.chars_removed) AS BIGINT) AS chars_removed
FROM cleaned c JOIN documents d USING (doc_id)
GROUP BY d.source
"""


@register(
    "span_clean_corpus_stats",
    oracle=_span_clean_stats_oracle(),
    tags=("llm", "dedup", "substring", "composed"),
)
def span_clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed hygiene accounting in ONE plan: the span-removal REWRITE
    feeds per-source corpus statistics downstream — docs touched, token
    totals before/after, characters excised — the dashboard a production
    dedup run publishes (Lee et al. 2022 report exactly these corpus-level
    reductions).  Proves the rewrite composes upstream of analytics the
    same way ``llm_corpus_pipeline`` composes filters upstream of packing:
    ``rewrite_excising``'s output is a first-class relation, not a
    terminal artifact.  All aggregates are BIGINT sums — float-free, so
    the driver hash is exact.  Scale: the rewrite is the linear plan of
    ``substring_span_removal``; the stats add one broadcast-joinable
    documents lookup (doc_id equi-join) and a per-source aggregate."""
    cleaned = substring_span_removal_df(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return (
        cleaned.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_spans_removed") > 0).cast("int"))
            .cast("bigint")
            .alias("docs_rewritten"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens_before"),
            F.sum(F.size(F.split("kept_text", " ")))
            .cast("bigint")
            .alias("tokens_after"),
            F.sum("chars_removed").cast("bigint").alias("chars_removed"),
        )
    )


# Split-document reassembly candidates (round 9): crawl pipelines break
# one logical document across fetches (pagination, size caps); the
# standard detection joins each document's LEADING boundary n-gram
# against every document's TRAILING one — a continuation candidate is a
# (tail of A) == (head of B) match.  Downstream, candidates feed the
# same reassembly/merge pass that span removal feeds excision.
BOUNDARY_K = 4


@register(
    "split_doc_candidates",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE len(string_split(text, ' ')) >= {2 * BOUNDARY_K}
), h AS (
    SELECT doc_id,
           array_to_string(toks[1:{BOUNDARY_K}], ' ') AS head,
           array_to_string(toks[len(toks) - {BOUNDARY_K - 1}:len(toks)], ' ') AS tail
    FROM t
)
SELECT a.doc_id AS left_doc_id, b.doc_id AS right_doc_id, a.tail AS boundary
FROM h a JOIN h b ON a.tail = b.head
WHERE a.doc_id != b.doc_id
""",
    tags=("llm", "dedup", "crawl"),
)
def split_doc_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuation candidates for split documents: pairs where document
    A's trailing 4-token boundary equals document B's leading one —
    the reassembly detector for crawl-time pagination/size-cap splits.

    One pass computes each doc's head and tail boundary strings (pure
    projection), then ONE equi-join on the boundary — |docs| rows per
    side keyed by an (effectively unique) 4-token string, so the join is
    linear; no pairwise or windowed stage anywhere.  Docs shorter than
    2k tokens are excluded so head and tail never overlap within one
    document."""
    k = BOUNDARY_K
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2 * k
    )
    h = t.select(
        "doc_id",
        F.expr(f"concat_ws(' ', slice(toks, 1, {k}))").alias("head"),
        F.expr(f"concat_ws(' ', slice(toks, size(toks) - {k - 1}, {k}))").alias("tail"),
    )
    a = h.select(F.col("doc_id").alias("left_doc_id"), F.col("tail").alias("boundary"))
    b = h.select(F.col("doc_id").alias("right_doc_id"), F.col("head").alias("boundary"))
    return a.join(b, "boundary").where(
        F.col("left_doc_id") != F.col("right_doc_id")
    ).select("left_doc_id", "right_doc_id", "boundary")


# --- PPJoin / AllPairs exact set-similarity self-join (round 10) -------------
#
# The LSH family above (MinHash banding, SimHash bands, RP-LSH) trades
# exactness for linear candidate generation.  PPJoin (Xiao et al. 2008,
# "Efficient Similarity Joins for Near Duplicate Detection", building on
# Bayardo et al. 2007 AllPairs) is the EXACT counterpart: prefix filtering
# guarantees every pair with Jaccard >= t shares at least one element of
# both documents' rare-token prefixes, so candidate generation is an
# equi-join on prefix elements only — no DF cap, no false negatives, and
# hot stop-shingles never generate candidates because they sort LAST in
# the global (df, shingle) order and fall outside every prefix.

PPJOIN_T = 0.5


@register(
    "ppjoin_jaccard_pairs",
    oracle=f"""
WITH sh AS ({_HASHED_SHINGLED_SQL}),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {PPJOIN_T}
""",
    tags=("dedup", "llm", "setsim"),
)
def ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 self-join over 3-gram shingle sets via prefix
    filtering — every qualifying pair is found (no LSH miss probability,
    no DF cap changing the measure), yet candidate generation only joins
    on each document's RARE-shingle prefix.  (Body in
    :func:`ppjoin_pairs_df`, which also takes a docs/threshold override
    for the brute-force property test.)

    Correctness of the filter: order all shingles globally by
    (df asc, shingle asc).  For a pair with overlap o = |a ∩ b|, the
    smallest common shingle has at most |a| - o elements of a before it,
    so it lies within a's first |a| - o + 1 shingles (same for b).
    Jaccard >= t implies o >= ceil(t * |a|) and o >= ceil(t * |b|), so
    prefixes of length |d| - ceil(t * |d|) + 1 on BOTH sides must share
    an element — the equi-join below finds exactly that element.

    Scale shape (100 TB): the global order needs NO global rank — the
    (df, shingle) TUPLE is the order, so ranking is a per-doc window
    (bounded by doc length), never a single-task dense_rank.  Candidate
    generation joins prefix rows only (rare shingles by construction —
    a stop-shingle with df in the millions sorts last and never enters a
    prefix), with the symmetric size filter t·max(|a|,|b|) <= min AND
    the positional overlap-upper-bound filter (Xiao 2008's ppjoin
    refinement of AllPairs — see ppjoin_pairs_df body) pruning
    candidates before the verify.  Verification is
    one equi-join back to per-doc sorted shingle arrays (bounded by doc
    length) and an in-memory array_intersect — no second pairwise stage.
    """
    return ppjoin_pairs_df(spark, sf_dir)


def ppjoin_pairs_df(
    spark: SparkSession,
    sf_dir: str,
    t: float = PPJOIN_T,
    docs: DataFrame | None = None,
) -> DataFrame:
    """PPJoin body — see :func:`ppjoin_jaccard_pairs` for the filter's
    correctness argument and scale shape.  ``docs``/``t`` overrides feed
    the brute-force equivalence property test."""
    if docs is not None:
        sh = docs.select("doc_id", F.split("text", " ").alias("toks")).where(
            F.size("toks") >= 3
        ).select("doc_id", F.explode(F.expr(_HASHED_SHINGLES_EXPR)).alias("shingle"))
    else:
        sh = _shingled_hashed(spark, sf_dir)
    # kept: pinned by test_multimodal_curation_single_plan_no_driver_step
    sh = materialize(sh, "ppjoin_pairs.sh")
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    wn = Window.partitionBy("doc_id")
    # fan_out on the window key: the per-doc rank/count windows otherwise
    # run at AQE's size-coalesced width (one task for a few-MB stream);
    # the explicit-width exchange satisfies the windows' required
    # distribution, so no second shuffle (measured 1.31 -> 0.88 s).
    pos = (
        fan_out(sh.join(df_tbl, "shingle"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    prefix = pos.where(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    ).select("shingle", "doc_id", "n", "rn")
    # POSITIONAL filter (the "pp" in PPJoin): a shared element at ordered
    # positions (rn_a, rn_b) bounds the overlap achievable through it at
    # 1 + min(n_a - rn_a, n_b - rn_b); J >= t needs o >= t/(1+t)*(na+nb).
    # Valid to prune per matching row: the SMALLEST common element (no
    # intersection elements precede it, so its bound is sound) always
    # survives for a truly-qualifying pair — deeper shared elements only
    # shed duplicate candidate rows.  Measured at sf0.1: 310k -> 125k
    # candidates, identical 256 verified pairs.  With t = 0.5 every
    # quantity below is dyadic-exact in doubles, so the compare is exact.
    ub = 1 + F.least(
        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.least("a.n", "b.n").cast("double")
            >= F.lit(t) * F.greatest("a.n", "b.n")
        )
        .where(
            ub.cast("double") * (1 + t)
            >= F.lit(t) * (F.col("a.n") + F.col("b.n"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # fan_out the candidate stream before the verify joins: both set-side
    # joins broadcast (doc-count-sized array tables), so without it the
    # whole array_intersect verify inherits the distinct's one-partition
    # coalesce (measured: verify chain 2.56 -> 1.75 s at sf0.1).
    cand = fan_out(cand, "doc_a")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s").alias("sb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("shared", F.size(F.array_intersect("sa", "sb")).cast("bigint"))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


# --- LSH recall/precision vs the exact join (round 10) -------------------------
#
# With ppjoin_jaccard_pairs in the engine there is finally EXACT ground
# truth to grade the approximate path against: how many true
# Jaccard >= t pairs do the MinHash bands actually surface, and how much
# of the candidate stream is noise?  This is the measurement every
# LSH-parameter choice (bands x rows) should be justified by — the
# empirical twin of minhash_est_error_pairs' estimator-error gate.


@register(
    "lsh_recall_vs_exact",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
{_LSH_CAND_SQL},
sh AS ({_HASHED_SHINGLED_SQL}),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
exact AS (
    SELECT doc_a, doc_b
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {PPJOIN_T}
),
hit AS (SELECT * FROM exact INTERSECT SELECT * FROM cand)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / GREATEST((SELECT COUNT(*) FROM exact), 1), 6) AS recall,
       ROUND((SELECT COUNT(*) FROM hit) * 1.0
             / GREATEST((SELECT COUNT(*) FROM cand), 1), 6) AS precision_at_t
""",
    tags=("dedup", "llm", "minhash", "eval"),
)
def lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade the MinHash-LSH candidate generator against EXACT
    Jaccard >= 0.5 ground truth (ppjoin_jaccard_pairs): recall = the
    fraction of true near-dup pairs the bands surface, precision@t = the
    fraction of surfaced candidates that truly clear the threshold.

    Scale shape: both sides are the engine's existing linear pipelines
    (banded equi-join; prefix-filtered exact join); the comparison
    itself is two key-only joins on (doc_a, doc_b) and three count
    aggregates folded into one row.  This is the evaluation harness a
    production dedup pipeline runs on a SAMPLE to pick bands x rows —
    at 100 TB the exact side runs over a hash-sampled slice, the
    LSH side everywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    # fan_out before the signature map (explode discipline, same as
    # minhash_signatures_df / lsh_param_frontier).
    bands = band_table_for(minhash_signatures_for(fan_out(d, "doc_id")))
    cand = lsh_candidate_pairs_for(bands)
    exact = ppjoin_pairs_df(spark, sf_dir).select("doc_a", "doc_b")
    hit = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_exact"), F.lit(1)), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_candidates"), F.lit(1)), 6
            ).alias("precision_at_t"),
        )
    )


# --- quality-aware survivor selection (round 10) --------------------------------


@register(
    "quality_survivor_per_cluster",
    oracle=f"""
WITH RECURSIVE
{_CC_REACH_CTE_SQL},
labels AS (
    SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
), scored AS (
    SELECT l.component, d.doc_id,
           ROUND(CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE) / len(string_split(d.text, ' ')), 6) AS q
    FROM labels l JOIN documents d USING (doc_id)
), ranked AS (
    SELECT component, doc_id, q,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY q DESC, doc_id) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
    FROM scored
)
SELECT component,
       doc_id AS survivor_doc_id,
       n_members,
       q AS survivor_q
FROM ranked WHERE rn = 1
""",
    tags=("dedup", "llm", "graph", "quality"),
)
def quality_survivor_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: within each connected
    component of the verified near-dup graph, keep the HIGHEST-QUALITY
    member (uniq-token-ratio score, doc_id tiebreak) instead of the
    min-id convention — what a production corpus pipeline actually does
    (the kept copy should be the best-formatted one, not the first
    crawled).  Composes the shared min-label closure with the shared
    quality score; same O(diameter) loop, plus one per-component window
    bounded by cluster size.
    """
    from .text import uniq_ratio_col

    d = load_table(spark, sf_dir, "documents")
    labels = connected_components_min_label(
        near_dup_edges(spark, sf_dir), d.select("doc_id")
    )
    scored = d.join(labels, "doc_id").select(
        "component", "doc_id", F.round(uniq_ratio_col(), 6).alias("q")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(F.col("q").desc(), "doc_id")
    wn = Window.partitionBy("component")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wn).cast("bigint"))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("survivor_doc_id"),
            "n_members",
            F.col("q").alias("survivor_q"),
        )
    )


# --- round 11: LSH (bands x rows) parameter frontier ----------------------------
#
# lsh_recall_vs_exact grades the engine's DEFAULT banding (4x2) against
# exact PPJoin ground truth; this is the full frontier that makes the
# choice defensible: every way to split the SAME 8-hash signature into
# b bands of r rows, one row per config with recall / precision /
# candidate volume.  The S-curve theory (collision prob = 1-(1-s^r)^b)
# says more bands -> higher recall + more noise; the frontier measures
# where the fixture corpus actually sits on that curve.

LSH_FRONTIER_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]


def _frontier_bands_sql(nbands: int, rows: int) -> str:
    """DuckDB band-table text over a `sig` CTE for an arbitrary
    (bands, rows) split of the mh0..mh7 signature — generalizes
    ``_BANDS_SQL`` (which is the fixed default split)."""
    selects = []
    for b in range(nbands):
        key = " || ':' || ".join(
            f"CAST(mh{b * rows + j} AS VARCHAR)" for j in range(rows)
        )
        selects.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sig")
    return "\n    UNION ALL\n".join(selects)


def frontier_band_table_for(sig: DataFrame, nbands: int, rows: int) -> DataFrame:
    """(doc_id, band, key) table for an arbitrary (bands, rows) split —
    generalizes :func:`band_table_for` (the fixed 4x2 default)."""
    band_structs = []
    for b in range(nbands):
        key = F.concat_ws(
            ":", *[F.col(f"mh{b * rows + j}").cast("string") for j in range(rows)]
        )
        band_structs.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _frontier_config_sql(nbands: int, rows: int) -> str:
    """One frontier row (config + recall/precision vs `exact`) in SQL."""
    return f"""
SELECT {nbands} AS bands, {rows} AS rows_per_band,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM (SELECT DISTINCT a.doc_id, b.doc_id
              FROM ({_frontier_bands_sql(nbands, rows)}) a
              JOIN ({_frontier_bands_sql(nbands, rows)}) b
                ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       ) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT doc_a, doc_b FROM exact
           INTERSECT
           SELECT DISTINCT a.doc_id, b.doc_id
           FROM ({_frontier_bands_sql(nbands, rows)}) a
           JOIN ({_frontier_bands_sql(nbands, rows)}) b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       ) AS n_hit
"""


@register(
    "lsh_param_frontier",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
sh AS ({_HASHED_SHINGLED_SQL}),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
exact AS (
    SELECT doc_a, doc_b
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {PPJOIN_T}
),
grid AS (
{" UNION ALL ".join(_frontier_config_sql(b, r) for b, r in LSH_FRONTIER_CONFIGS)}
)
SELECT bands, rows_per_band, n_exact, n_candidates, n_hit,
       ROUND(CAST(n_hit AS DOUBLE) / GREATEST(n_exact, 1), 6) AS recall,
       ROUND(CAST(n_hit AS DOUBLE) / GREATEST(n_candidates, 1), 6) AS precision_at_t
FROM grid
""",
    tags=("dedup", "llm", "minhash", "eval"),
)
def lsh_param_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH parameter frontier: every (bands × rows) split of the
    8-hash MinHash signature — (8×1), (4×2), (2×4), (1×8) — graded
    against the SAME exact Jaccard ≥ 0.5 ground truth
    (ppjoin_jaccard_pairs), one row per config with candidate volume,
    recall, and precision.  This is the measurement that turns the
    banding choice from folklore into an engineering decision: more
    bands climb the S-curve toward recall 1 while candidate noise
    grows, and the frontier shows exactly what each step buys on THIS
    corpus.

    Scale shape: the expensive inputs are computed ONCE and shared —
    the signature table (pure per-row map) and the exact pair set
    (prefix-filtered PPJoin) are checkpointed — and the four configs are
    graded by ONE config-tagged band self-join: every config's band rows
    carry a cfg column (8+4+2+1 = 15 rows per doc, a pure explode), the
    self-join keys on (cfg, band, key), and both counters are single
    grouped aggregates over the tagged candidate set (the per-config-
    loop form planned 4 self-joins + 12 scalar aggregates for the same
    values — measured slower at sf0.1).  The exact pair set is tiny
    (verified near-dup pairs), so the hit probe broadcasts it.  At
    100 TB this harness runs on a hash-sampled slice (the exact side is
    the bounded cost), exactly like lsh_recall_vs_exact."""
    d = load_table(spark, sf_dir, "documents")
    # fan_out before the per-doc signature map (md5 per 3-gram + 8
    # affine folds — the explode discipline).
    # kept (both): pinned by test_frontier_shares_signature_and_exact_inputs
    sig = materialize(
        minhash_signatures_for(fan_out(d, "doc_id")), "lsh_param_frontier.sig"
    )
    exact = materialize(
        ppjoin_pairs_df(spark, sf_dir).select("doc_a", "doc_b"),
        "lsh_param_frontier.exact",
    )
    n_exact_df = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    tagged = None
    for nb, r in LSH_FRONTIER_CONFIGS:
        t = frontier_band_table_for(sig, nb, r).select(
            F.lit(nb).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "doc_id",
            "band",
            "key",
        )
        tagged = t if tagged is None else tagged.unionAll(t)
    a = tagged.select(
        "bands", "rows_per_band", F.col("doc_id").alias("doc_a"), "band", "key"
    )
    b = tagged.select(
        "bands", "rows_per_band", F.col("doc_id").alias("doc_b"), "band", "key"
    )
    cand = (
        a.join(b, ["bands", "rows_per_band", "band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("bands", "rows_per_band", "doc_a", "doc_b")
        .distinct()
    )
    n_cand = cand.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    n_hit = (
        cand.join(F.broadcast(exact), ["doc_a", "doc_b"], "left_semi")
        .groupBy("bands", "rows_per_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    # config spine: a config whose candidate set is EMPTY must still
    # report its (0-recall) row, exactly like the oracle's UNION grid
    cfgs = spark.createDataFrame(
        LSH_FRONTIER_CONFIGS, "bands int, rows_per_band int"
    )
    return (
        cfgs.join(n_cand, ["bands", "rows_per_band"], "left")
        .join(n_hit, ["bands", "rows_per_band"], "left")
        .crossJoin(F.broadcast(n_exact_df))
        .select(
            "bands",
            "rows_per_band",
            "n_exact",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_exact"), F.lit(1)),
                6,
            ).alias("recall"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("precision_at_t"),
        )
    )


# --- round 11 wave 5: exact-Jaccard threshold histogram ---------------------------


@register(
    "jaccard_threshold_histogram",
    oracle=f"""
WITH sh AS ({_HASHED_SHINGLED_SQL}),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS j
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= {PPJOIN_T}
)
SELECT CAST(FLOOR(j * 20) AS INT) AS bucket20,
       ROUND(CAST(FLOOR(j * 20) AS INT) / 20.0, 6) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(MIN(j), 6) AS min_j,
       ROUND(MAX(j), 6) AS max_j
FROM scored GROUP BY CAST(FLOOR(j * 20) AS INT)
""",
    tags=("dedup", "llm", "setsim", "eval"),
)
def jaccard_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-mass histogram over the EXACT near-dup pairs: the
    verified Jaccard ≥ {PPJOIN_T} pairs bucketed in 0.05 steps — the
    threshold-choice companion to ``lsh_param_frontier``: the frontier
    says what the bands CATCH at a threshold, this says how much pair
    mass each candidate threshold would sweep in or out (a cliff at
    0.8 means exact-duplicate families; a flat tail means the
    threshold barely matters).

    One extra 21-key aggregate over the existing prefix-filtered PPJoin
    output (shared body: ``ppjoin_pairs_df``); the bucket is
    floor(20·j) of the identical rational-valued double on both
    engines, so no boundary can flip."""
    pairs = ppjoin_pairs_df(spark, sf_dir)
    j = F.col("jaccard")
    return (
        pairs.select(j.alias("j"))
        .groupBy(F.floor(F.col("j") * 20).cast("int").alias("bucket20"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.min("j"), 6).alias("min_j"),
            F.round(F.max("j"), 6).alias("max_j"),
        )
        .select(
            "bucket20",
            F.round(F.col("bucket20") / 20.0, 6).alias("bucket_lo"),
            "n_pairs",
            "min_j",
            "max_j",
        )
    )


# --- round 12: capture-recapture coverage estimate -------------------------------


@register(
    "capture_recapture_dups",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
{_LSH_CAND_SQL},
{_WIDE_SIMHASH_SQL.strip()},
sbands AS (
    SELECT doc_id, simhash, b.band,
           (simhash // (CAST(1 AS BIGINT) << (band * {SIMHASH_BAND_BITS})))
               % {1 << SIMHASH_BAND_BITS} AS key
    FROM fp, (SELECT unnest(range(0, {SIMHASH_WIDE_BANDS})) AS band) b
),
scand AS (
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM sbands a JOIN sbands c
      ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
),
sim_pairs AS (
    SELECT s.doc_a, s.doc_b
    FROM scand s
    JOIN fp fa ON fa.doc_id = s.doc_a
    JOIN fp fb ON fb.doc_id = s.doc_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_MAX_HAMMING}
),
counts AS (
    SELECT (SELECT COUNT(*) FROM cand) AS n1,
           (SELECT COUNT(*) FROM sim_pairs) AS n2,
           (SELECT COUNT(*) FROM cand c JOIN sim_pairs s
             ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b) AS m
)
SELECT CAST(n1 AS BIGINT) AS n_minhash_pairs,
       CAST(n2 AS BIGINT) AS n_simhash_pairs,
       CAST(m AS BIGINT) AS n_both,
       ROUND((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1, 6) AS chapman_estimate,
       ROUND(CAST(n1 AS DOUBLE) / ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1), 6)
           AS minhash_coverage,
       ROUND(CAST(n2 AS DOUBLE) / ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1), 6)
           AS simhash_coverage
FROM counts
""",
    tags=("dedup", "llm", "ml-eval"),
)
def capture_recapture_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture–recapture (Chapman) estimate of the TRUE near-duplicate
    pair count from two independent catchers — MinHash-LSH candidates
    and banded-SimHash pairs: N̂ = (n1+1)(n2+1)/(m+1) − 1, where m is
    the overlap.  The Lincoln–Petersen idea ecologists tag fish with,
    applied to dedup: each method's coverage ratio (n_i/N̂) says how
    much near-duplication BOTH sketches are missing, without any
    exhaustive ground truth — the cheap always-on companion to the
    exact-PPJoin grading of ``lsh_recall_vs_exact`` (which runs on a
    sample at 100 TB; this runs on the catches alone).

    Independence caveat (documented, inherent to the method): both
    catchers key on text overlap, so N̂ is a LOWER bound on the true
    pair count — correlated catchers inflate m.  Both pair sets reuse
    the repo's shared candidate rules; the overlap is one equi-join on
    the pair key; counts are exact integers into one shared final
    formula, round(6)."""
    mh = lsh_candidate_pairs_for(minhash_bands(spark, sf_dir))
    sh = simhash_candidate_pairs(wide_simhash_df(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )
    n1 = mh.agg(F.count(F.lit(1)).alias("n1"))
    n2 = sh.agg(F.count(F.lit(1)).alias("n2"))
    m = mh.join(sh, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("m"))
    counts = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    chapman = (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (
        F.col("m") + 1
    ) - 1
    return counts.select(
        F.col("n1").cast("bigint").alias("n_minhash_pairs"),
        F.col("n2").cast("bigint").alias("n_simhash_pairs"),
        F.col("m").cast("bigint").alias("n_both"),
        F.round(chapman, 6).alias("chapman_estimate"),
        F.round(F.col("n1").cast("double") / chapman, 6).alias("minhash_coverage"),
        F.round(F.col("n2").cast("double") / chapman, 6).alias("simhash_coverage"),
    )


# --- near-dup source modularity (round 12 extension) --------------------------


@register(
    "near_dup_source_modularity",
    oracle=f"""
WITH {_GOOD_EDGES_CTE_SQL.strip()},
lab AS (
    SELECT da.source AS sa, db.source AS sb
    FROM good g
    JOIN documents da ON da.doc_id = g.doc_a
    JOIN documents db ON db.doc_id = g.doc_b
), w AS (
    SELECT sa AS s, CAST(COUNT(*) AS BIGINT) AS e_s FROM lab WHERE sa = sb GROUP BY 1
), d AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS d_s
    FROM (SELECT sa AS s FROM lab UNION ALL SELECT sb FROM lab) GROUP BY 1
), agg AS (
    SELECT CAST((SELECT COUNT(*) FROM lab) AS BIGINT) AS m,
           CAST((SELECT COALESCE(SUM(e_s), 0) FROM w) AS BIGINT) AS we,
           (SELECT SUM(CAST(d_s AS DECIMAL(38,0)) * d_s) FROM d) AS ddq,
           CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS ns
)
SELECT m AS n_edges,
       we AS n_within,
       m - we AS n_cross,
       ns AS n_sources_touched,
       ROUND(CAST(CAST(4 * m AS DECIMAL(38,0)) * we - ddq AS DOUBLE)
             / CAST(CAST(2 * m AS DECIMAL(38,0)) * (2 * m) AS DOUBLE), 6)
           AS modularity
FROM agg
""",
    tags=("dedup", "llm", "graph", "analytics"),
)
def near_dup_source_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the SOURCE partition over the verified
    near-dup graph — "is duplication a within-source phenomenon?", the
    one number that decides whether a 100 TB dedup pass can shard by
    source (Q → 1: near-dups stay inside sources, per-source dedup is
    safe) or must run globally (Q → 0 or negative: cross-source copying
    dominates and per-source sharding silently misses it).

    Q = Σ_s [e_s/m − (d_s/2m)²] over the ONE shared edge derivation
    (``near_dup_edges``; oracle: the shared ``good`` CTE), computed
    CROSS-MULTIPLIED — (4m·Σe_s − Σd_s²) / 4m² with DECIMAL(38,0)
    lifts — so everything is exact integers until one final division,
    round(6).  Scale shape: two equi-joins of the edge list against the
    (doc_id, source) projection and three map-side-combinable
    aggregates; no window, no pair blowup beyond the already-blocked
    edge set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    edges = near_dup_edges(spark, sf_dir)
    # kept: two or more consumers, no ReusedExchange without it
    lab = materialize(
        edges.join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select("sa", "sb"),
        "near_dup_source_modularity.lab",
    )
    w = (
        lab.where(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_s"))
    )
    d = (
        lab.select(F.col("sa").alias("s"))
        .unionAll(lab.select(F.col("sb").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_s"))
    )
    m_f = lab.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    we_f = w.agg(F.coalesce(F.sum("e_s"), F.lit(0)).cast("bigint").alias("we"))
    dd_f = d.agg(
        F.sum(F.col("d_s").cast("decimal(38,0)") * F.col("d_s")).alias("ddq"),
        F.count(F.lit(1)).cast("bigint").alias("ns"),
    )
    agg = m_f.crossJoin(F.broadcast(we_f)).crossJoin(F.broadcast(dd_f))
    four_m = (4 * F.col("m")).cast("decimal(38,0)")
    two_m = (2 * F.col("m")).cast("decimal(38,0)")
    return agg.select(
        F.col("m").alias("n_edges"),
        F.col("we").alias("n_within"),
        (F.col("m") - F.col("we")).alias("n_cross"),
        F.col("ns").alias("n_sources_touched"),
        F.round(
            (four_m * F.col("we") - F.col("ddq")).cast("double")
            / (two_m * (2 * F.col("m"))).cast("double"),
            6,
        ).alias("modularity"),
    )


# --- dedup survivor-bias audit (round 13) --------------------------------------


from .text import UNIQ_RATIO_SQL as _UQ_SQL  # noqa: E402 — ONE definition


@register(
    "dedup_quality_bias",
    oracle=f"""
WITH {SURVIVORS_CTE_SQL},
cohorts AS (
    SELECT CASE WHEN q.doc_id IN (SELECT doc_id FROM survivors)
                THEN 'kept' ELSE 'dropped' END AS cohort,
           q.n_tokens,
           CAST(FLOOR(({_UQ_SQL}) * 1000000) AS BIGINT) AS q6
    FROM quality q
)
SELECT cohort,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(q6) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS avg_quality,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_ntok
FROM cohorts GROUP BY cohort
""",
    tags=("dedup", "llm", "ml-eval"),
)
def dedup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-bias audit of the dedup front half: mean quality score
    and mean length of the KEPT corpus vs the docs the exact + near-dup
    stages DROPPED (both cohorts drawn from the quality-filtered
    population, so the comparison isolates the dedup decisions).
    Deduplication that systematically discards higher-quality or longer
    documents is a real curation failure mode (boilerplate-heavy dups
    are usually LOW quality — a reversed gap is the alarm), and this is
    the one-query check a pipeline publishes next to its dedup rates.

    Uses the ONE survivor definition (``corpus_survivors`` /
    ``SURVIVORS_CTE_SQL``) and the ONE quality definition
    (``text.uniq_ratio_col`` / ``UNIQ_RATIO_SQL``) so the audit can
    never drift from the pipeline and score it audits.  Determinism: the uniq-ratio quality score is
    FLOOR-quantized to the 1e-6 integer grid BEFORE summing (the
    data-sized float sum would be accumulation-order-dependent; integer
    sums are exact on both engines), token counts are exact integers,
    and each mean is one rounded division."""
    from .text import uniq_ratio_col

    quality = load_table(spark, sf_dir, "documents").where(
        F.size(F.split("text", " ")) >= 5
    )
    kept_ids = corpus_survivors(spark, sf_dir).select("doc_id")
    q6 = F.floor(uniq_ratio_col() * 1000000).cast("bigint")
    cohorts = quality.join(
        kept_ids.withColumn("is_kept", F.lit(1)), "doc_id", "left"
    ).select(
        F.when(F.col("is_kept").isNotNull(), F.lit("kept"))
        .otherwise(F.lit("dropped"))
        .alias("cohort"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        q6.alias("q6"),
    )
    return cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("q6").cast("double") / (F.count(F.lit(1)) * 1000000.0), 6
        ).alias("avg_quality"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_ntok"),
    )


# --- round 14: blocked edit-distance (fuzzy-title) near-dup audit ---------------

TITLE_TOKENS = 5  # the "title" = the document's first 5 tokens
MAX_TITLE_BLOCK = 200  # DF cap per block, the capped_shingles discipline
FUZZY_LEV_MAX = 2  # 1..2 edits = fuzzy pair (0 edits is exact dedup's job)


def _fuzzy_title_pairs(spark: SparkSession, sf_dir: str):
    """(keep, pairs): the DF-capped block list and the within-block
    title pair frame with Levenshtein distances — split out of
    ``fuzzy_title_dedup`` (before its materialize) so tests/test_plans.py
    can pin that the pair join keys on the block column."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), 1, TITLE_TOKENS), " "
        ).alias("title"),
    ).withColumn("blk", F.split(F.col("title"), " ").getItem(0))
    keep = (
        b.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("bc"))
        .where(F.col("bc") <= MAX_TITLE_BLOCK)
        .select("blk")
    )
    c = b.join(keep, "blk", "left_semi")
    # fan_out both sides of the within-block pair join on the block key:
    # the join output pays one Levenshtein per candidate pair (quadratic
    # CPU amplification within blocks) while AQE would coalesce the
    # few-MB input to one partition — the close_pair_edges discipline.
    cf = fan_out(c, "blk")
    z = fan_out(
        c.select(
            F.col("blk").alias("blk_z"),
            F.col("doc_id").alias("idb"),
            F.col("title").alias("title_z"),
        ),
        "blk_z",
    )
    pairs = cf.join(
        z, (F.col("blk") == F.col("blk_z")) & (F.col("doc_id") < F.col("idb"))
    ).select(
        F.col("doc_id").alias("ida"),
        "idb",
        F.levenshtein("title", "title_z").alias("lev"),
    )
    return keep, pairs


@register(
    "fuzzy_title_dedup",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           array_to_string(string_split(text, ' ')[1:{TITLE_TOKENS}], ' ')
               AS title
    FROM documents
), b AS (
    SELECT doc_id, title, string_split(title, ' ')[1] AS blk FROM t
), keep AS (
    SELECT blk FROM b GROUP BY blk
    HAVING COUNT(*) <= {MAX_TITLE_BLOCK}
), c AS (SELECT b.* FROM b JOIN keep USING (blk)),
pairs AS (
    SELECT a.doc_id AS ida, z.doc_id AS idb,
           levenshtein(a.title, z.title) AS lev
    FROM c a JOIN c z ON a.blk = z.blk AND a.doc_id < z.doc_id
), fz AS (SELECT * FROM pairs WHERE lev BETWEEN 1 AND {FUZZY_LEV_MAX})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keep) AS n_blocks,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs_compared,
       CAST(COUNT(*) AS BIGINT) AS n_fuzzy_pairs,
       CAST(COUNT(DISTINCT ida) + COUNT(DISTINCT idb)
            - COUNT(DISTINCT CASE WHEN ida IN (SELECT idb FROM fz)
                                  THEN ida END) AS BIGINT) AS n_docs_affected
FROM fz
""",
    tags=("dedup", "llm", "text"),
)
def fuzzy_title_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup audit on document "titles" (the
    first {T} tokens): how many title pairs differ by only 1–{L} edits?
    Catches the typo/near-variant duplicates that token-set measures
    (Jaccard/MinHash) under-weigh — one character edit barely moves a
    shingle set but is exactly what fuzzy-title matching is for; the
    string-metric complement to ``ngram_jaccard_pairs`` on the
    shortest, highest-signal field.

    Scale discipline is the shingle family's, applied to blocks: pairs
    are generated ONLY within a (first title token) block, and any
    block larger than {M} docs is dropped BEFORE the self-join (the
    ``capped_shingles`` DF-cap rule — a stop-word leading token would
    otherwise quadratically explode; the cap is a published audit
    parameter, and the n_blocks/n_pairs_compared columns expose exactly
    what was examined).  levenshtein() agrees between Spark and DuckDB
    (classic unit-cost edit distance, verified).  n_docs_affected is the
    exact |A ∪ B| of fuzzy-pair members via inclusion–exclusion
    (distinct a-side + distinct b-side − ids seen on both), which keeps
    the reduction on the two pair columns instead of materializing the
    union."""
    keep, pairs = _fuzzy_title_pairs(spark, sf_dir)
    # kept: two or more consumers, no ReusedExchange without it
    pairs = materialize(pairs, "fuzzy_title_dedup.pairs")
    fz = materialize(
        pairs.where((F.col("lev") >= 1) & (F.col("lev") <= FUZZY_LEV_MAX)),
        "fuzzy_title_dedup.fz",
    )
    nb = keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
    npc = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_compared")
    )
    both = fz.select(F.col("ida").alias("i")).join(
        fz.select(F.col("idb").alias("i")).distinct(), "i", "left_semi"
    )
    agg = fz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fuzzy_pairs"),
        F.count_distinct("ida").alias("da"),
        F.count_distinct("idb").alias("db"),
    )
    nboth = both.agg(F.count_distinct("i").alias("dboth"))
    return (
        agg.crossJoin(F.broadcast(npc))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nboth))
        .select(
            "n_blocks",
            "n_pairs_compared",
            "n_fuzzy_pairs",
            (F.col("da") + F.col("db") - F.col("dboth"))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
    )


fuzzy_title_dedup.__doc__ = fuzzy_title_dedup.__doc__.format(
    T=TITLE_TOKENS, L=FUZZY_LEV_MAX, M=MAX_TITLE_BLOCK
)


# --- round 15 wave 3: LSH band-bucket load profile -----------------------------


@register(
    "minhash_band_load_profile",
    oracle=f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
buckets AS (
    SELECT band, key, CAST(COUNT(*) AS BIGINT) AS sz
    FROM bands GROUP BY 1, 2
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_load
FROM buckets GROUP BY band
""",
    tags=("dedup", "llm", "minhash", "profiling"),
)
def minhash_band_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational load profile of the LSH band state: per band, the
    bucket count, how many buckets collide (size > 1), the largest
    bucket, and the PAIR LOAD Σ C(sz, 2) that band would feed into
    candidate generation — the capacity audit an operator reads before
    trusting ``minhash_lsh_candidates`` / ``incremental_lsh_dedup`` at
    a new corpus scale: pair_load is EXACTLY the per-band join output
    size, and a max_bucket approaching the DF-cap territory says the
    band key is degenerating (near-constant shingles) before the join
    blows up, not after.

    Derivation shares the ONE signature/band machinery
    (``minhash_signatures_for`` + ``band_table_for`` on Spark,
    ``_MINHASH_SIG_SQL`` + ``_BANDS_SQL`` on the oracle), so this
    audit can never drift from the candidate rule it audits.  Exact
    integers end-to-end: bucket sizes, collision counts, and the
    triangular pair sums (sz(sz−1)/2 is integer-exact on both
    engines)."""
    bands = band_table_for(minhash_signatures_df(spark, sf_dir))
    buckets = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_colliding"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias("pair_load"),
    )

"""Text-analysis operators over ``documents`` (north_star LLM-data surface).

Everything here is built from JVM-side built-ins (split / higher-order
array functions / regexp) — no Python UDFs in the hot path, so the whole
stage is codegen'd and scales linearly with no shuffle except the final
aggregations. Operators:

- token counting (whitespace + regex-token variants)
- per-document quality scoring (length / stopword ratio / distinct ratio)
- per-language and per-source corpus stats
- document fingerprinting (exact + whitespace-normalized md5)
- heuristic language ID (stopword-list scoring; full value-checked oracle
  generated from the same stopword table)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import materialize
from ..registry import register

# Tiny per-language stopword lists for the heuristic language scorer.
# The fixture's `lang` labels are synthetic, so this is a demonstration of
# the operator shape (score = stopword-hit ratio per language, argmax).
_LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
}

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def tokens_col(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


# ONE definition of the uniq-token-ratio quality score (the signal behind
# doc_quality_scores' uniq_ratio, quality_classifier_scores' feature,
# adaptive_source_quality_filter's cutoff, quality_quantile_norm's rank
# input, and nucleus_quality_selection's mass) — a change to the score
# definition lands everywhere at once.  The last inline copies in
# doc_quality_scores / quality_classifier_scores were folded onto these
# two symbols in round 11 (ADVICE r10).
UNIQ_RATIO_SQL = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / len(string_split(text, ' '))"
)


def uniq_ratio_col(col: str = "text") -> F.Column:
    toks = tokens_col(col)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


@register(
    "token_stats_by_source",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       MIN(len(string_split(text, ' '))) AS min_tokens,
       MAX(len(string_split(text, ' '))) AS max_tokens
FROM documents
GROUP BY source
""",
    tags=("text", "llm"),
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting aggregated per source (integer-exact)."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens_col())
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min(ntok).alias("min_tokens"),
        F.max(ntok).alias("max_tokens"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
       {UNIQ_RATIO_SQL} AS uniq_ratio,
       CAST(len(list_filter(string_split(text, ' '),
                            x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
            AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
       CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_token_len
FROM documents
""",
    tags=("text", "llm"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token counts, distinct-token ratio,
    stopword ratio, mean token length — the standard pre-training corpus
    quality signals, all as higher-order array expressions (no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    ntok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    nstop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    nuniq = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        ntok.alias("n_tokens"),
        nuniq.alias("n_uniq_tokens"),
        uniq_ratio_col().alias("uniq_ratio"),
        (nstop.cast("double") / ntok).alias("stop_ratio"),
        ((F.length("text") - ntok + 1).cast("double") / ntok).alias("avg_token_len"),
    )


@register(
    "lang_corpus_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
    tags=("text", "llm"),
)
def lang_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (A34 grouped-stats shape over text)."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens_col())
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        (F.sum(ntok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       md5(text) AS fp,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_fp,
       substr(md5(text), 1, 8) AS fp_prefix
FROM documents
""",
    tags=("text", "llm", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact md5 + whitespace-normalized md5
    (the cheap pre-filter stage of every dedup pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.md5(norm).alias("norm_fp"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("fp_prefix"),
    )


def _lang_id_sql() -> str:
    """Oracle generated from the same ``_LANG_STOPWORDS`` table the Spark
    side uses: per-language struct {score, lang}, list_sort, take last —
    identical (score, then lang) lexicographic argmax as Spark's
    ``greatest`` over structs."""
    structs = ",\n               ".join(
        "{'score': len(list_filter(toks, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + f"], x))), 'lang': '{lang}'}}"
        for lang, words in _LANG_STOPWORDS.items()
    )
    return f"""
WITH t AS (
    SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS toks
    FROM documents
),
scored AS (
    SELECT doc_id, labeled_lang,
           list_sort([
               {structs}
           ])[-1] AS best
    FROM t
)
SELECT doc_id, labeled_lang, best.lang AS guessed_lang,
       CAST(best.score AS INT) AS guess_score
FROM scored
"""


@register("lang_id_heuristic", oracle=_lang_id_sql(), tags=("text", "llm"))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit count per candidate language,
    argmax with deterministic (score, lang) tie-break — ``greatest`` over
    structs on the Spark side, ``list_sort(...)[-1]`` on the DuckDB side,
    both generated from the one ``_LANG_STOPWORDS`` literal."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    def _contains(arr):
        # single-arg lambda: a two-arg lambda would be read as (element, index)
        return lambda x: F.array_contains(arr, x)

    scores = []
    for lang, words in _LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        score = F.size(F.filter(toks, _contains(arr)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["lang"].alias("guessed_lang"),
        best["score"].alias("guess_score"),
    )


@register(
    "tfidf_source_terms",
    oracle="""
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term
), df AS (
    SELECT term, COUNT(DISTINCT source) AS df FROM toks GROUP BY term
), n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
SELECT tf.source, tf.term, tf.tf, df.df,
       ROUND(tf.tf * ln(CAST(n_sources AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (term), n
""",
    tags=("text", "llm", "tfidf"),
)
def tfidf_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over (source, term): tf = in-source term count, idf =
    ln(N_sources / df). Relational formulation (explode -> two aggs ->
    join) rather than HashingTF so term identities survive and the oracle
    can recompute it; ln() rounded 6 (libm-ulp-safe grid)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("source").alias("df"))
    n_sources = d.select(F.countDistinct("source").alias("n_sources"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_sources").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"


@register(
    "bpe_token_stats",
    oracle=f"""
WITH per_doc AS (
    SELECT source,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS bpe_tokens
    FROM documents
)
SELECT source,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens) AS bpe_per_ws
FROM per_doc
GROUP BY source
""",
    tags=("text", "llm", "tokenize"),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letter runs / digit runs /
    punctuation runs — the pre-tokenization split a BPE tokenizer
    applies) next to whitespace counts. Integer-exact aggregation; the
    ratio is one double division of identical inputs."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)).alias(
            "bpe_tokens"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        (F.sum("bpe_tokens").cast("double") / F.sum("ws_tokens")).alias("bpe_per_ws"),
    )


WINNOW_K = 8  # character-window width for the rolling fingerprint


@register(
    "winnowing_fingerprints",
    oracle=f"""
WITH grams AS (
    SELECT doc_id,
           list_transform(range(1, len(text) - {WINNOW_K - 2}),
                          i -> CAST('0x' || substr(md5(substr(text, i, {WINNOW_K})), 1, 8)
                                   AS BIGINT)) AS hashes
    FROM documents
    WHERE len(text) >= {WINNOW_K}
)
SELECT doc_id,
       list_min(hashes) AS min_gram_hash,
       len(list_distinct(hashes)) AS n_distinct_grams
FROM grams
""",
    tags=("text", "llm", "dedup", "fingerprint"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing/Rabin-Karp family):
    hash every sliding 8-char window, keep the minimum window hash as the
    fingerprint plus the distinct-window count. In an imperative engine
    the rolling hash updates in O(1) per shift; set-based engines
    evaluate all windows as one higher-order array expression — same
    fingerprint, embarrassingly parallel. md5-derived hashes keep Spark
    and the oracle bit-identical."""
    from ..operators.helpers import fan_out

    # fan_out: one md5 per CHARACTER position is the heaviest per-row
    # amplification in the registry.  The hash array is also projected
    # ONCE so the min and the distinct-count read the same evaluation
    # instead of re-running ~|text| md5s per row.
    d = fan_out(
        load_table(spark, sf_dir, "documents").where(F.length("text") >= WINNOW_K),
        "doc_id",
    )
    hashes = F.expr(
        f"transform(sequence(0, length(text) - {WINNOW_K}), "
        f"i -> cast(conv(substr(md5(substring(text, i + 1, {WINNOW_K})), 1, 8), 16, 10)"
        f" as bigint))"
    )
    return d.select("doc_id", hashes.alias("hs")).select(
        "doc_id",
        F.array_min("hs").alias("min_gram_hash"),
        F.size(F.array_distinct("hs")).alias("n_distinct_grams"),
    )


@register(
    "unigram_logprob_by_source",
    oracle="""
WITH toks AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
    FROM documents
),
freq AS (
    SELECT term, COUNT(*) AS n FROM toks GROUP BY term
),
total AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM freq),
scored AS (
    SELECT toks.doc_id, toks.source,
           -ln(freq.n / total.t) AS nll
    FROM toks JOIN freq USING (term), total
),
per_doc AS (
    SELECT doc_id, source, AVG(nll) AS doc_nll
    FROM scored GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(doc_nll), 6) AS avg_doc_nll,
       ROUND(MIN(doc_nll), 6) AS min_doc_nll,
       ROUND(MAX(doc_nll), 6) AS max_doc_nll
FROM per_doc
GROUP BY source
""",
    tags=("text", "llm", "quality", "lm"),
)
def unigram_logprob_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signal (the CCNet-style perplexity proxy):
    per-document mean negative log-probability of its tokens under the
    corpus unigram distribution, summarized per source. Low = common
    boilerplate, high = rare-token noise; real pipelines band on this
    score. The unigram table aggregates once and broadcasts into the
    token stream — one scan, two narrow shuffles, no UDFs."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("t"))
    scored = (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "source", (-F.log(F.col("n") / F.col("t"))).alias("nll"))
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("doc_nll"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_nll"), 6).alias("avg_doc_nll"),
        F.round(F.min("doc_nll"), 6).alias("min_doc_nll"),
        F.round(F.max("doc_nll"), 6).alias("max_doc_nll"),
    )


# --- Python UDTF surface (SURVEY §2 Part B, UDF/UDTF category) -------------

N_SPAN_TRIGRAMS = 8  # cap spans per doc: bounded 1:k expansion


@register(
    "udtf_doc_ngram_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(u.i AS INT) AS start_idx,
       array_to_string(list_slice(toks, u.i + 1, u.i + 3), ' ') AS ngram
FROM t, (SELECT unnest(range(0, {N_SPAN_TRIGRAMS})) AS i) u
WHERE u.i < least({N_SPAN_TRIGRAMS}, len(toks) - 2)
""",
    tags=("text", "llm", "udtf"),
)
def udtf_doc_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token trigram spans via a Python UDTF in a LATERAL join — the
    one-row-in / k-rows-out table-function shape (span generation for
    training-data pipelines). Closes the UDTF gap in SURVEY §2 Part B:
    the registered class yields up to {N_SPAN_TRIGRAMS} trigram spans per
    document. UDTFs are the slow path by policy (the same result is a
    posexplode over slice() in pure codegen — see ``doc_token_chunks``);
    this entry exists to pin the API surface and its driver-checked
    correctness, and the expansion is a pure map: no shuffle, runs as
    wide as the scan. ``useArrow=True`` (Spark 4): rows cross the
    Python boundary in Arrow batches instead of pickled one-at-a-time —
    same eval-per-row semantics, ~batch-size fewer serialization round
    trips."""
    from pyspark.sql.functions import udtf

    cap = N_SPAN_TRIGRAMS

    @udtf(returnType="start_idx int, ngram string", useArrow=True)
    class NGramSpans:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(min(max(len(toks) - 2, 0), cap)):
                yield i, " ".join(toks[i : i + 3])

    spark.udtf.register("doc_ngram_spans", NGramSpans)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs_src"
    )
    return spark.sql(
        "SELECT d.doc_id, s.start_idx, s.ngram "
        "FROM __udtf_docs_src d, LATERAL doc_ngram_spans(d.text) s"
    )


# --- PMI collocations (round 5) --------------------------------------------

PMI_MIN_PAIR = 3  # minimum bigram frequency before PMI is meaningful
PMI_TOP_K = 20


@register(
    "pmi_bigram_collocations",
    oracle=f"""
WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
uni AS (SELECT unnest(toks) AS term FROM t),
uc AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY term),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
bi AS (SELECT unnest(list_transform(range(1, len(toks)),
                     i -> {{'a': toks[i], 'b': toks[i+1]}})) AS bg FROM t),
bc AS (SELECT bg.a AS a, bg.b AS b, COUNT(*) AS cab FROM bi GROUP BY 1, 2),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM bi)
SELECT a, b, CAST(cab AS BIGINT) AS pair_count,
       ROUND(LN((CAST(cab AS DOUBLE) / m) / ((ca.c / n) * (cb.c / n))), 6) AS pmi
FROM bc JOIN uc ca ON bc.a = ca.term JOIN uc cb ON bc.b = cb.term, m, tot
WHERE cab >= {PMI_MIN_PAIR}
ORDER BY pmi DESC, a, b LIMIT {PMI_TOP_K}
""",
    tags=("text", "llm", "collocations"),
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent-bigram collocations by pointwise mutual information
    ``ln(P(a,b) / (P(a)·P(b)))`` — the classic corpus-analysis signal for
    multi-word expressions (and for spotting boilerplate phrases worth a
    stop-list). Every consumer — including the totals, which are exact
    integer sums of the count columns — reads an aggregated count table
    instead of re-running its explode + shuffle: the unigram table's
    three consumers share its exchange (ReusedExchange), and the bigram
    table's two are materialized because the plan does not reuse it.
    The count-vs-count joins stay unhinted (the
    vocab grows with the corpus — AQE picks the strategy). The PMI expression applies the exact same IEEE operation
    order on both engines, so the rounded values hash-match."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.split("text", " ").alias("toks")).where(
        F.size("toks") >= 2
    )
    uni = t.select(F.explode("toks").alias("term"))
    uc = uni.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    n_tot = uc.agg(F.sum("c").cast("double").alias("n"))
    bi = t.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> struct(toks[i] AS a, toks[i+1] AS b))"
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    # kept: two or more consumers, no ReusedExchange without it
    bc = materialize(
        bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cab")),
        "pmi_bigram_collocations.bc",
    )
    m_tot = bc.agg(F.sum("cab").cast("double").alias("m"))
    ca = uc.select(F.col("term").alias("a"), F.col("c").alias("ca"))
    cb = uc.select(F.col("term").alias("b"), F.col("c").alias("cb"))
    pmi = F.round(
        F.log(
            (F.col("cab").cast("double") / F.col("m"))
            / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n")))
        ),
        6,
    )
    return (
        bc.where(F.col("cab") >= PMI_MIN_PAIR)
        .join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(m_tot))
        .join(F.broadcast(n_tot))
        .select(
            "a",
            "b",
            F.col("cab").cast("long").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(PMI_TOP_K)
    )


# --- BM25 retrieval scoring (round 7) ---------------------------------------
#
# The standard lexical-retrieval score for mining training data against a
# fixed query set (e.g. pulling in-domain documents for a fine-tuning mix).
# Constants are pre-folded so the Spark expression tree and the DuckDB SQL
# apply the exact same IEEE operation order (repo rounding convention).

BM25_TERMS: tuple[str, ...] = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
_K1P1 = BM25_K1 + 1.0  # 2.2
_ONE_MINUS_B = 1.0 - BM25_B  # 0.25

# Shared CTE chain ending in bm25_scored(doc_id, source, bm25) — composed
# by the bm25_topk_docs oracle AND the RRF fusion oracle below (one
# definition; round-7 RRF addition factored it out of the top-k query).
_BM25_SCORED_CTE = f"""base AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS dl,
           string_split(text, ' ') AS toks
    FROM documents
),
stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM base
),
tf AS (
    SELECT doc_id, source, dl, term, COUNT(*) AS tf
    FROM (SELECT doc_id, source, dl, unnest(toks) AS term FROM base)
    WHERE term IN {BM25_TERMS!r}
    GROUP BY doc_id, source, dl, term
),
idf AS (
    SELECT term,
           LN(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf,
           avgdl
    FROM (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term), stats
),
contrib AS (
    SELECT tf.doc_id, tf.source,
           idf.idf * (tf.tf * {_K1P1})
               / (tf.tf + {BM25_K1} * ({_ONE_MINUS_B} + ({BM25_B} * tf.dl) / idf.avgdl))
               AS w
    FROM tf JOIN idf USING (term)
),
bm25_scored AS (
    SELECT doc_id, source, ROUND(SUM(w), 6) AS bm25
    FROM contrib
    GROUP BY doc_id, source
)"""


@register(
    "bm25_topk_docs",
    oracle=f"""
WITH {_BM25_SCORED_CTE}
SELECT doc_id, source, bm25
FROM bm25_scored
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_K}
""",
    tags=("text", "llm", "retrieval"),
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed query-term set (k1=1.2, b=0.75,
    Lucene's ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf, always positive).

    The retrieval shape behind in-domain data mining: score every corpus
    document against a query and keep the best. Plan: the token stream is
    filtered to the query terms BEFORE the explode (array filter, so
    non-matching tokens never leave the scan), term frequencies aggregate
    on (doc, term), and both the idf table (|terms| rows) and the corpus
    stats (1 row) broadcast into the scoring join — the corpus side
    crosses exactly two hash exchanges (tf, final per-doc sum) regardless
    of scale, and the top-10 is TakeOrderedAndProject, never a global
    sort. BM25 weights are round(6)-ed BEFORE ranking so the order is
    engine-stable (ties break to doc_id)."""
    scored = bm25_scored_df(spark, sf_dir)
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_K)


def bm25_scored_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, bm25): the full BM25 score table for the fixed
    query — the ONE Spark-side definition (oracle mirror:
    ``_BM25_SCORED_CTE``), composed by the top-k query and the RRF
    fusion."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", "source", F.size(toks).alias("dl"), toks.alias("toks")
    )
    term_arr = F.array(*[F.lit(t) for t in BM25_TERMS])
    hits = base.select(
        "doc_id",
        "source",
        "dl",
        F.explode(F.filter("toks", lambda x: F.array_contains(term_arr, x))).alias(
            "term"
        ),
    )
    tf = hits.groupBy("doc_id", "source", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    w = (F.col("idf") * (F.col("tf") * F.lit(_K1P1))) / (
        F.col("tf")
        + BM25_K1 * (F.lit(_ONE_MINUS_B) + (BM25_B * F.col("dl")) / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(idf), "term")
        .select("doc_id", "source", w.alias("w"))
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum("w"), 6).alias("bm25"))
    )


# --- Model-based quality filtering (round 7) ---------------------------------
#
# The classifier-based filter stage every modern pre-training pipeline runs
# (GPT-3/LLaMA-style "quality classifier"): a tiny logistic model over cheap
# per-document features decides keep/drop.  The weights here are fixed
# literals (a shipped model artifact); what the engine owns is applying it
# at corpus scale — a pure map over the scan with one per-source aggregate.

QC_BIAS = -1.0
QC_W_UNIQ = 2.0
QC_W_STOP = 3.0
QC_W_AVGLEN = -0.5
QC_W_LNTOK = 0.3
QC_KEEP_P = 0.5

# Oracle-side stopword list GENERATED from the one _STOPWORDS definition
# (a hand-copied literal here would silently diverge from the Spark side
# the day _STOPWORDS changes).
_STOPWORDS_SQL = ",".join(f"'{s}'" for s in _STOPWORDS)


def qc_p_col() -> F.Column:
    """ONE definition of the quality-classifier probability (round(6)-ed
    sigmoid over the fixed-weight feature combination) — shared by
    ``quality_classifier_scores`` and ``score_calibration_bins`` so the
    model can never drift between its consumers (round 11)."""
    toks = tokens_col()
    ntok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / ntok
    )
    avg_token_len = (F.length("text") - ntok + 1).cast("double") / ntok
    z = (
        F.lit(QC_BIAS)
        + QC_W_UNIQ * uniq_ratio_col()
        + QC_W_STOP * stop_ratio
        + QC_W_AVGLEN * avg_token_len
        + QC_W_LNTOK * F.log(ntok)
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


# DuckDB mirror of :func:`qc_p_col` as an expression over ``documents``
# columns — ONE definition composed by both consumers' oracles.
QC_P_SQL = f"""ROUND(1.0 / (1.0 + EXP(-({QC_BIAS}
    + {QC_W_UNIQ} * ({UNIQ_RATIO_SQL})
    + {QC_W_STOP} * (CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ({_STOPWORDS_SQL}))) AS DOUBLE)
                     / len(string_split(text, ' ')))
    + {QC_W_AVGLEN} * (CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                       / len(string_split(text, ' ')))
    + {QC_W_LNTOK} * LN(len(string_split(text, ' ')))))), 6)"""


@register(
    "quality_classifier_scores",
    oracle=f"""
WITH feat AS (
    SELECT doc_id, source,
           len(string_split(text, ' ')) AS ntok,
           {UNIQ_RATIO_SQL} AS uniq_ratio,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ({_STOPWORDS_SQL})))
                AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
           CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
),
scored AS (
    SELECT source,
           ROUND(1.0 / (1.0 + EXP(-({QC_BIAS} + {QC_W_UNIQ} * uniq_ratio
                                    + {QC_W_STOP} * stop_ratio
                                    + {QC_W_AVGLEN} * avg_token_len
                                    + {QC_W_LNTOK} * LN(ntok)))), 6) AS p
    FROM feat
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE p >= {QC_KEEP_P}) AS BIGINT) AS n_keep,
       ROUND(CAST(COUNT(*) FILTER (WHERE p >= {QC_KEEP_P}) AS DOUBLE)
             / COUNT(*), 6) AS keep_rate,
       ROUND(SUM(p) / COUNT(*), 6) AS avg_quality
FROM scored
GROUP BY source
""",
    tags=("text", "llm", "quality"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering: a fixed-weight logistic model
    over the standard cheap features (distinct-token ratio, stopword
    ratio, mean token length, log token count) scores every document;
    the output is the per-source keep decision profile at the p>=0.5
    operating point.

    This is the "quality classifier" stage of a pre-training pipeline
    with the model baked in as literals — scoring is a PURE MAP over the
    documents scan (all JVM built-ins: higher-order array exprs + exp/ln)
    followed by one per-source aggregate, so it runs at scan bandwidth at
    100 TB; nothing shuffles except the final tiny group-by.  The
    sigmoid is rounded to 6 on both engines BEFORE the threshold
    comparison and the average, per the repo determinism convention."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select("source", qc_p_col().alias("p"))
    keep = F.count(F.when(F.col("p") >= QC_KEEP_P, 1))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        keep.alias("n_keep"),
        F.round(keep.cast("double") / F.count(F.lit(1)), 6).alias("keep_rate"),
        F.round(F.sum("p") / F.count(F.lit(1)), 6).alias("avg_quality"),
    )


# --- Reciprocal-rank fusion: hybrid lexical + dense retrieval (round 7) -------
#
# The standard hybrid-retrieval combiner (Cormack et al., SIGIR 2009; the
# default fusion in every RAG stack): each retriever contributes
# 1/(K + rank) for the documents in its top-POOL list, and documents found
# by BOTH lexical BM25 and dense cosine float to the top.  Both input
# scorings already exist as ONE shared definition each (bm25_scored_df /
# _BM25_SCORED_CTE here; scored_vs_query0 / _SCORED_Q0_CTE in
# functions/similarity.py), so the fusion adds no third copy of either.

RRF_K = 60
RRF_POOL = 20
RRF_TOP_K = 10

from .similarity import _SCORED_Q0_CTE  # noqa: E402  (oracle composition)


@register(
    "rrf_fused_topk_docs",
    oracle=f"""
WITH {_BM25_SCORED_CTE},
lex_pool AS (
    SELECT doc_id, bm25 FROM bm25_scored
    ORDER BY bm25 DESC, doc_id LIMIT {RRF_POOL}
),
lex_ranks AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
    FROM lex_pool
),
{_SCORED_Q0_CTE},
dense_pool AS (
    SELECT vec_id, cos_sim FROM scored_q0
    ORDER BY cos_sim DESC, vec_id LIMIT {RRF_POOL}
),
dense_ranks AS (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rd
    FROM dense_pool
),
fused AS (
    SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
           CAST(l.rl IS NOT NULL AS INT) AS in_lex,
           CAST(d.rd IS NOT NULL AS INT) AS in_dense,
           ROUND(COALESCE(1.0 / ({RRF_K} + l.rl), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + d.rd), 0.0), 6) AS rrf_score
    FROM lex_ranks l
    FULL JOIN dense_ranks d ON d.vec_id = l.doc_id
)
SELECT doc_id, in_lex, in_dense, rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOP_K}
""",
    tags=("text", "llm", "retrieval", "similarity"),
)
def rrf_fused_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of BM25 (lexical) and cosine-to-query-0
    (dense) retrieval: top-10 by sum of 1/(60 + rank) over each
    retriever's top-20 list (documents and embeddings share the id
    space, doc_id == vec_id — the established multimodal join key).

    Scale shape: each retriever's pool is a distributed top-POOL
    (TakeOrderedAndProject — never a global sort), so the unpartitioned
    ROW_NUMBER windows and the full-outer fusion join run over two
    CONSTANT-size (20-row) frames; the corpus-size work is exactly the
    two underlying scorings, both already linear and broadcast-shaped.
    Ranks are assigned AFTER round(6) on the scores with id tiebreaks,
    so list order — and therefore the fused score — is engine-stable."""
    from pyspark.sql import Window

    from .similarity import scored_vs_query0

    lex_pool = (
        bm25_scored_df(spark, sf_dir)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex_ranks = lex_pool.select("doc_id", F.row_number().over(w_lex).alias("rl"))
    e = load_table(spark, sf_dir, "embeddings")
    dense_pool = (
        scored_vs_query0(e)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(RRF_POOL)
    )
    w_dense = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    dense_ranks = dense_pool.select(
        "vec_id", F.row_number().over(w_dense).alias("rd")
    )
    fused = lex_ranks.join(
        dense_ranks, lex_ranks["doc_id"] == dense_ranks["vec_id"], "full"
    ).select(
        F.coalesce("doc_id", "vec_id").alias("doc_id"),
        F.col("rl").isNotNull().cast("int").alias("in_lex"),
        F.col("rd").isNotNull().cast("int").alias("in_dense"),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rl")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rd")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_TOP_K)

# --- Gopher quality rules (round 7) -------------------------------------------
#
# The rule-based document filter from Gopher (Rae et al. 2021, Appendix A1.1)
# — the stage every later corpus pipeline (MassiveText, RefinedWeb, FineWeb,
# Dolma) re-implements BEFORE any model-based scoring: hard bounds on word
# count and mean word length, a minimum stop-word presence, and a repetition
# cap on the most-frequent 2-gram.  The fixture text is whitespace words with
# no punctuation/digits/newlines by construction (TESTDATA.md), so the paper's
# symbol-ratio / bullet-line / ellipsis rules would be constants here and are
# deliberately out of scope; the four rules below all discriminate on the
# fixtures (223/183/6 failing docs at sf0.01 for words/stop/repetition).
# Rule constants live in ONE place and generate both engines' predicates.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WL = 3.0
GOPHER_MAX_MEAN_WL = 10.0
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_TOP2_FRAC = 0.2


def _gopher_oracle_sql() -> str:
    """Oracle generated from the same rule constants and the one
    ``_STOPWORDS`` list the Spark side uses."""
    hits = " + ".join(
        f"(CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END)"
        for w in _STOPWORDS
    )
    top2 = "ROUND(2.0 * COALESCE(t.max_big, 0) / f.n_words, 6)"
    return f"""
WITH base AS (
    SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
feat AS (
    SELECT doc_id, source,
           CAST(len(toks) AS BIGINT) AS n_words,
           ROUND(list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks), 6)
               AS mean_word_len,
           CAST({hits} AS BIGINT) AS stop_hits
    FROM base
),
big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) AS bigram
    FROM base WHERE len(toks) >= 2
),
top2 AS (
    SELECT doc_id, MAX(c) AS max_big
    FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM big GROUP BY doc_id, bigram)
    GROUP BY doc_id
)
SELECT f.doc_id, f.source, f.n_words, f.mean_word_len, f.stop_hits,
       {top2} AS top2_frac,
       CAST((f.n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AND f.mean_word_len BETWEEN {GOPHER_MIN_MEAN_WL} AND {GOPHER_MAX_MEAN_WL}
             AND f.stop_hits >= {GOPHER_MIN_STOP_HITS}
             AND {top2} <= {GOPHER_MAX_TOP2_FRAC}) AS INT) AS keep
FROM feat f LEFT JOIN top2 t ON t.doc_id = f.doc_id
"""


@register(
    "gopher_quality_flags",
    oracle=_gopher_oracle_sql(),
    tags=("text", "llm", "quality"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 A1.1): per
    document the four fixture-discriminating rule features — word count,
    mean word length, stop-word hits, most-frequent-2-gram mass — and the
    composite keep flag (1 iff every rule passes).

    Scale shape: three of the four features are a PURE MAP over one
    tokenized scan (higher-order array exprs, no shuffle); the top-2-gram
    rule needs per-(doc, bigram) counts, which is one explode + two
    doc-keyed aggregations — uniform keys bounded by document length, the
    vocab_top_terms pattern.  The two branches each read the pruned
    (doc_id, source, text) columns; at 100 TB a second columnar scan is
    cheaper than materializing the tokenized corpus.  mean_word_len and
    top2_frac round(6) BEFORE the threshold compare on both engines
    (repo determinism convention)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "source", F.split("text", " ").alias("toks"))
    # distinct-stopword presence count in ONE array pass (array_intersect
    # dedups, so this equals the oracle's sum of list_contains flags)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    hits = F.size(F.array_intersect("toks", stop_arr))
    feat = base.select(
        "doc_id",
        "source",
        F.size("toks").cast("bigint").alias("n_words"),
        F.round(
            F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
            / F.size("toks"),
            6,
        ).alias("mean_word_len"),
        hits.cast("bigint").alias("stop_hits"),
    )
    bigrams = F.expr(
        "transform(sequence(0, size(toks) - 2), "
        "i -> concat(toks[i], ' ', toks[i+1]))"
    )
    top2 = (
        base.where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_big"))
    )
    top2_frac = F.round(
        F.lit(2.0) * F.coalesce(F.col("max_big"), F.lit(0)) / F.col("n_words"), 6
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WL, GOPHER_MAX_MEAN_WL)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (top2_frac <= GOPHER_MAX_TOP2_FRAC)
    )
    return feat.join(top2, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        "stop_hits",
        top2_frac.alias("top2_frac"),
        keep.cast("int").alias("keep"),
    )


# --- bigram-LM perplexity filter (round 9) -----------------------------------
#
# The unigram score above ranks docs by token rarity; the CCNet /
# Wikipedia-LM filter proper is an n-gram LM with CONTEXT — a doc full of
# common tokens in impossible orders ("the the the of of") sails past the
# unigram score and is exactly what the bigram conditional catches.
BIGRAM_ADD_K = 0.5


@register(
    "bigram_perplexity_by_source",
    oracle=f"""
WITH t AS (
    SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), bg AS (
    SELECT doc_id, source,
           unnest(toks[1:len(toks) - 1]) AS w1,
           unnest(toks[2:len(toks)]) AS w2
    FROM t WHERE len(toks) >= 2
), c2 AS (
    SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS n2 FROM bg GROUP BY w1, w2
), c1 AS (
    SELECT w1, CAST(COUNT(*) AS DOUBLE) AS n1 FROM bg GROUP BY w1
), vocab AS (
    SELECT CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v FROM bg
), scored AS (
    SELECT bg.doc_id, bg.source,
           -ln((c2.n2 + {BIGRAM_ADD_K}) / (c1.n1 + {BIGRAM_ADD_K} * vocab.v)) AS nll
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
), per_doc AS (
    SELECT doc_id, source, AVG(nll) AS doc_nll FROM scored GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(doc_nll), 6) AS avg_doc_nll,
       ROUND(MIN(doc_nll), 6) AS min_doc_nll,
       ROUND(MAX(doc_nll), 6) AS max_doc_nll
FROM per_doc GROUP BY source
""",
    tags=("text", "llm", "quality", "lm"),
)
def bigram_perplexity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality signal with add-k smoothing (k=0.5) — the CCNet
    / KenLM perplexity filter in its distributed n-gram form: per-doc
    mean negative log of P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k|V|)
    under the corpus's own bigram counts, summarized per source.

    Scale shape: bigrams come from ONE zip of the token array with its
    own tail (a generator, no self-join); the conditional needs two
    count tables — (w1, w2) and w1 — both map-side-combinable, joined
    back by equi-join (broadcast at fixture scale; at 100 TB the bigram
    table shuffles on its uniform key and AQE handles hot stop-bigrams).
    Per-doc averaging then round(6) per-source follows the proven
    ``unigram_logprob_by_source`` cross-engine recipe."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", F.split("text", " ").alias("toks"))
    bg = (
        t.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("n1"))
    vocab = bg.agg(F.count_distinct("w2").cast("double").alias("v"))
    k = BIGRAM_ADD_K
    # No broadcast hint on c2/c1: both grow with the corpus (distinct
    # bigrams / unigrams), so the join strategy is left to Catalyst/AQE —
    # auto-broadcast below the threshold at fixture scale, shuffled
    # equi-join on the uniform (w1, w2) key at 100 TB (ADVICE r9).  Only
    # the ONE-ROW vocab count keeps an explicit broadcast.
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            (-F.log((F.col("n2") + k) / (F.col("n1") + k * F.col("v")))).alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.avg("nll").alias("doc_nll"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_nll"), 6).alias("avg_doc_nll"),
        F.round(F.min("doc_nll"), 6).alias("min_doc_nll"),
        F.round(F.max("doc_nll"), 6).alias("max_doc_nll"),
    )


# --- BPE merge-pair counting (round 9) ---------------------------------------

BPE_TOP_PAIRS = 20


@register(
    "bpe_merge_pair_counts",
    oracle=f"""
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
), freq AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY word
), pairs AS (
    SELECT word[i:i+1] AS pair, n
    FROM freq, UNNEST(range(1, len(word))) AS u(i)
)
SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_PAIRS}
""",
    tags=("text", "llm", "tokenizer"),
)
def bpe_merge_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer TRAINING, distributed: count
    adjacent symbol pairs across the corpus weighted by word frequency
    and surface the top merge candidates — the argmax of this table IS
    the first BPE merge (Sennrich et al. 2016).

    Scale shape: the corpus collapses to the DISTINCT-WORD frequency
    table first (map-side combinable — the standard BPE-training trick:
    work per distinct word, weight by frequency), so the pair explosion
    is over vocabulary entries, not corpus tokens.  Top-k rides
    TakeOrderedAndProject with a deterministic (count, pair) tiebreak.
    Subsequent BPE iterations re-run the same plan over the re-segmented
    vocabulary — each iteration is one aggregate, never a corpus
    rescan."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # guard len >= 2: Spark's sequence(1, 0) steps DOWNWARD ([1, 0]) for
    # single-char words, fabricating bogus pairs where DuckDB's range is
    # simply empty
    pairs = freq.where(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# --- per-source quantile normalization of quality scores (round 10) ----------
#
# Quality scores are not comparable across sources: a web-crawl source's
# uniq-token ratio distribution sits in a different band than a curated
# source's, so one global threshold over- or under-filters per domain
# (the same observation behind adaptive_source_quality_filter).  Rank
# (quantile) normalization is the standard calibration: map each score to
# its percentile WITHIN its source, making cross-source comparisons and
# one global cutoff meaningful.


@register(
    "quality_quantile_norm",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, source, {UNIQ_RATIO_SQL} AS uniq_ratio
    FROM documents
)
SELECT doc_id, source, uniq_ratio,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY uniq_ratio, doc_id), 6) AS pct_rank,
       CAST(LEAST(9, FLOOR(PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY uniq_ratio, doc_id) * 10)) AS INT) AS norm_decile
FROM scored
""",
    tags=("text", "llm", "quality"),
)
def quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank normalization of the uniq-token-ratio quality
    score: each document's percentile within its own source plus the
    calibrated decile — the cross-domain score calibration step that
    makes one global quality cutoff meaningful over a mixed corpus.

    Scale shape: ONE window partitioned by source.  A pathological
    single-source corpus would funnel into one partition; at that point
    the exact rank swaps for an approx-quantile lookup table (the
    adaptive_source_quality_filter path) — for realistic source
    cardinalities the partitions are balanced and this is one shuffle.
    PERCENT_RANK is (rank-1)/(n-1), an exact integer ratio in doubles on
    both engines; ties broken by doc_id so ranks are deterministic.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", uniq_ratio_col().alias("uniq_ratio"))
    w = Window.partitionBy("source").orderBy("uniq_ratio", "doc_id")
    pct = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        "uniq_ratio",
        F.round(pct, 6).alias("pct_rank"),
        F.least(F.lit(9), F.floor(pct * 10)).cast("int").alias("norm_decile"),
    )


# --- token-entropy quality signal (round 10) ---------------------------------


@register(
    "token_entropy_quality",
    oracle="""
WITH cnt AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, tok
), n AS (
    SELECT doc_id, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_uniq FROM cnt GROUP BY doc_id
)
SELECT cnt.doc_id,
       CAST(MAX(n.n) AS BIGINT) AS n_tokens,
       MAX(n.n_uniq) AS n_uniq_tokens,
       ROUND(-SUM((c / n.n) * ln(c / n.n)), 6) AS token_entropy,
       CASE WHEN MAX(n.n_uniq) > 1
            THEN ROUND(-SUM((c / n.n) * ln(c / n.n)) / ln(MAX(n.n_uniq)), 6)
            ELSE 0.0 END AS entropy_ratio
FROM cnt JOIN n USING (doc_id)
GROUP BY cnt.doc_id
""",
    tags=("text", "llm", "quality"),
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution plus the
    ratio to its maximum ln(n_uniq) — the information-density quality
    signal: boilerplate and keyword-stuffed spam score low, natural prose
    scores near 1 (complements the repetition and Gopher rules).

    Scale shape: token counts per (doc, token) are one map-side-combinable
    aggregate; the entropy fold is a second groupBy on doc_id bounded by
    per-doc vocabulary.  All arithmetic is the same double expression on
    both engines; round(6) absorbs libm ulp differences in ln (the
    bigram-LM recipe).
    """
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(tokens_col()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    n = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_uniq")
    )
    p = F.col("c") / F.col("n")
    ent = -F.sum(p * F.log(p))
    return (
        cnt.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.max("n_uniq").alias("n_uniq_tokens"),
            F.round(ent, 6).alias("token_entropy"),
            F.when(
                F.max("n_uniq") > 1, F.round(ent / F.log(F.max("n_uniq")), 6)
            )
            .otherwise(F.lit(0.0))
            .alias("entropy_ratio"),
        )
    )


# --- distributed BPE training loop (round 10) ---------------------------------
#
# bpe_merge_pair_counts above is ONE iteration of BPE training; this is
# the loop (Sennrich et al. 2016 Alg. 1): k times, count adjacent symbol
# pairs over the distinct-word frequency table, take the argmax pair,
# greedily merge it everywhere, repeat on the re-segmented vocabulary.
# The merge application is a left-to-right fold INSIDE a higher-order
# array expression (non-overlapping, exactly the reference algorithm's
# semantics), so each iteration is one aggregate + one pure map over
# vocabulary entries — the corpus is touched once, at vocab construction.
#
# Not ANSI-SQL-expressible (the loop carries state through k argmaxes),
# so the driver records the rows-only check; the VALUE gate is the pure-
# Python replica in tests/test_properties.py, which runs the textbook
# algorithm over randomized corpora and the fixture alike.

BPE_N_MERGES = 5


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal for arbitrary corpus text:
    backslashes escape FIRST (Spark treats backslash as an escape inside
    literals — an unescaped one corrupts or breaks the parse), then
    single quotes."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _merge_pair_expr(col: str, a: str, b: str) -> str:
    """Greedy non-overlapping left-to-right merge of adjacent (a, b) into
    the single symbol a||b, as a SQL aggregate fold over the symbol
    array.  Corpus-derived symbols pass through _sql_str, so quote and
    backslash characters in the vocabulary cannot break or skew the
    generated expression (code-review round 10)."""
    qa, qb = _sql_str(a), _sql_str(b)
    return (
        f"aggregate({col}, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{qa}' and x = '{qb}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        f"else concat(acc, array(x)) end)"
    )


def _learn_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """The BPE training loop shared by the train half
    (``bpe_learned_merges``) and the apply half (``bpe_encode_stats``):
    returns the ranked merge list AND the final re-segmented vocabulary
    (word, freq, syms) with all merges applied.  See
    ``bpe_learned_merges`` for the scale shape.

    k-regime note (VERDICT r10): one Spark job + checkpoint per merge is
    the right shape at k={BPE_N_MERGES} but NOT at the k≈32000
    production regime — there each merge touches only words containing
    the merged pair, so the production loop maintains the pair-count
    table INCREMENTALLY (subtract the counts of pairs destroyed by the
    merge, add the newly created neighbors — the classic
    pair-count-delta trick) instead of recounting the vocabulary, and
    batches argmaxes driver-side.  This implementation deliberately
    keeps the textbook full-recount form: it is the one an oracle (and
    a replica) can replay exactly."""
    d = load_table(spark, sf_dir, "documents")
    # kept (both): loop lineage cut; each round's driver argmax reads it
    vocab = materialize(
        d.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn("syms", F.split("word", "")),
        "learn_bpe.vocab round 0",
    )

    merges: list[tuple[int, str, int]] = []
    for rank in range(1, BPE_N_MERGES + 1):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    # sequence(1, 0) DESCENDS in Spark, so 1-symbol words
                    # must short-circuit to an empty pair list
                    F.expr(
                        "case when size(syms) >= 2 then "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i - 1] as a, syms[i] as b)) "
                        "else cast(array() as array<struct<a: string, b: string>>) end"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        a, b, cnt = pairs[0]["a"], pairs[0]["b"], pairs[0]["cnt"]
        merges.append((rank, f"{a}{b}", int(cnt)))
        vocab = materialize(
            vocab.withColumn("syms", F.expr(_merge_pair_expr("syms", a, b))),
            f"learn_bpe.vocab round {rank}",
        )
    return merges, vocab


@register("bpe_learned_merges", tags=("text", "llm", "tokenizer", "rows-only"))
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_N_MERGES} learned BPE merges over the corpus:
    (merge_rank, pair, cnt) — each row the argmax of the pair-count
    table AFTER applying all previous merges, ties broken (cnt desc,
    pair asc) so the learned tokenizer is deterministic.

    Scale shape: the corpus collapses ONCE to the distinct-word
    frequency table (the standard BPE-training trick); each iteration is
    one map-side-combinable pair-count aggregate, a top-1
    TakeOrderedAndProject, and a pure-map re-segmentation fold.  The
    only driver traffic is ONE (pair, count) row per iteration — the
    same bounded-loop shape as the Lloyd iterations in
    kmeans_refined_ivf_cells.  The vocab table persists across
    iterations (loop-invariant checkpoint discipline).  (Loop body
    shared with the apply half: ``_learn_bpe``.)
    """
    merges, _ = _learn_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, cnt bigint"
    )


# --- Zipf rank-frequency fit (round 10) -----------------------------------------


@register(
    "zipf_fit_by_source",
    oracle="""
WITH cnt AS (
    SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS freq
    FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY source, tok
), ranked AS (
    SELECT source, freq,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY freq DESC, tok) AS rnk
    FROM cnt
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(REGR_SLOPE(ln(freq), ln(rnk)), 4) AS zipf_slope,
       ROUND(REGR_INTERCEPT(ln(freq), ln(rnk)), 4) AS zipf_intercept,
       ROUND(REGR_R2(ln(freq), ln(rnk)), 4) AS r2
FROM ranked GROUP BY source
""",
    tags=("text", "llm", "corpus-stats"),
)
def zipf_fit_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: least-squares slope/intercept/R² of
    ln(frequency) on ln(rank) over the source's token vocabulary —
    natural text sits near slope -1; synthetic, templated, or spammy
    sources show up as flat or kinked rank-frequency curves, making this
    a corpus-forensics signal next to the entropy and repetition gates.

    Scale shape: one map-side-combinable (source, token) count, one
    window partitioned by source for the rank (bounded by per-source
    vocabulary, not corpus size), one regr_* aggregate.  Both engines
    compute the same ln() pairs; round(4) absorbs the summation-order
    ulp noise in the regression moments.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    cnt = (
        d.select("source", F.explode(tokens_col()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(F.col("freq").desc(), "tok")
    ranked = cnt.withColumn("rnk", F.row_number().over(w))
    lf, lr = F.log("freq"), F.log("rnk")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 4).alias("r2"),
    )


# --- Heaps'-law vocabulary growth (round 10) ------------------------------------

HEAPS_CHECKPOINTS = 10


@register(
    "heaps_vocab_growth",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), firsts AS (
    SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok
), doc_tokens AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
), cuts AS (
    SELECT 1 AS decile, quantile_disc(doc_id, 0.1) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 2 AS decile, quantile_disc(doc_id, 0.2) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 3 AS decile, quantile_disc(doc_id, 0.3) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 4 AS decile, quantile_disc(doc_id, 0.4) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 5 AS decile, quantile_disc(doc_id, 0.5) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 6 AS decile, quantile_disc(doc_id, 0.6) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 7 AS decile, quantile_disc(doc_id, 0.7) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 8 AS decile, quantile_disc(doc_id, 0.8) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 9 AS decile, quantile_disc(doc_id, 0.9) AS cutoff FROM doc_tokens
    UNION ALL
    SELECT 10 AS decile, quantile_disc(doc_id, 1.0) AS cutoff FROM doc_tokens
)
SELECT c.decile AS checkpoint,
       (SELECT CAST(SUM(n_toks) AS BIGINT) FROM doc_tokens
        WHERE doc_id <= c.cutoff) AS cum_tokens,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts
        WHERE first_doc <= c.cutoff) AS cum_vocab
FROM cuts c
""",
    tags=("text", "llm", "corpus-stats"),
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-token count vs
    cumulative token count at {HEAPS_CHECKPOINTS} doc_id-ordered corpus
    checkpoints — Zipf's companion diagnostic (natural text grows
    V ~ K·n^0.5; a flattening curve flags dedup-worthy repetition, a
    too-steep one flags noise/garbage influx).

    Scale shape: NO expanding distinct-count — each token contributes
    only its FIRST doc (one map-side-combinable min per token), so a
    checkpoint's vocabulary is a count of firsts at-or-before the
    cutoff; cutoffs are exact discrete quantiles of doc_id.  Everything
    is one count table + one tiny (10-row) broadcast of cutoffs.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("tok"))
    firsts = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = d.select("doc_id", F.size(tokens_col()).alias("n_toks"))
    qs = [i / HEAPS_CHECKPOINTS for i in range(1, HEAPS_CHECKPOINTS + 1)]
    cutrow = doc_tokens.agg(
        *[
            F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY doc_id)").alias(
                f"c{i}"
            )
            for i, q in enumerate(qs, start=1)
        ]
    )
    cuts = cutrow.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("checkpoint"), F.col(f"c{i}").alias("cutoff")
                    )
                    for i in range(1, HEAPS_CHECKPOINTS + 1)
                ]
            )
        ).alias("c")
    ).select("c.checkpoint", "c.cutoff")
    toks_leq = doc_tokens.crossJoin(F.broadcast(cuts)).where(
        F.col("doc_id") <= F.col("cutoff")
    )
    vocab_leq = firsts.crossJoin(F.broadcast(cuts)).where(
        F.col("first_doc") <= F.col("cutoff")
    )
    t_agg = toks_leq.groupBy("checkpoint").agg(
        F.sum("n_toks").cast("bigint").alias("cum_tokens")
    )
    v_agg = vocab_leq.groupBy("checkpoint").agg(
        F.count(F.lit(1)).cast("bigint").alias("cum_vocab")
    )
    return t_agg.join(v_agg, "checkpoint").select(
        "checkpoint", "cum_tokens", "cum_vocab"
    )


# --- round 11: corpus concentration / coverage forensics -----------------------

from pyspark.sql import Window  # noqa: E402  (module tail, round-11 wave)

COVERAGE_KS = (10, 100)  # top-k cuts for vocab_coverage_topk


@register(
    "gini_concentration_by_source",
    oracle="""
WITH r AS (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS rnk
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(2.0 * SUM(rnk * n_chars) / (COUNT(*) * CAST(SUM(n_chars) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM r GROUP BY source
""",
    tags=("text", "llm", "corpus-stats"),
)
def gini_concentration_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source — the concentration
    audit behind shard packing and sampling decisions: a source whose
    byte mass sits in a few giant documents (high Gini) needs document
    splitting before fixed-size packing; a near-uniform source doesn't.

    Uses the sorted-rank identity G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n.  The
    rank-weighted sum is computed WITHOUT any per-source sort of the
    document grain (VERDICT r11 #5 — a dominant source made the former
    per-source row_number window data-sized):

    1. ties collapse to the VALUE GRAIN first (the depth-histogram
       precedent): a tie block of count c starting after o predecessors
       contributes x·(c·o + c(c+1)/2) regardless of internal order, so
       per-(source, n_chars) counts carry everything;
    2. the predecessor count o comes from the skyline's hierarchical
       bit-length buckets: a cumulative count within (source, bucket)
       over DISTINCT values plus a per-source offset window over the
       ≤ ~64-row bucket table — every window partition is bounded by
       the value-domain density of one power-of-two band, never by row
       count.

    All arithmetic is exact integers lifted to DECIMAL(38,0) for the
    final rank-mass products (bigint would overflow near 1e9 docs per
    source), so both engines agree bit-exactly before the final
    round(6) division — the DuckDB oracle keeps the direct one-window
    form and hashes identically."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("bucket", F.length(F.bin("n_chars")).cast("int"))
    )
    wv = (
        Window.partitionBy("source", "bucket")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vb = g.withColumn("cum_b", F.sum("c").over(wv))
    bt = g.groupBy("source", "bucket").agg(F.sum("c").alias("bc"))
    wb = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bto = bt.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).cast("bigint").alias("boff"),
    )
    j = vb.join(F.broadcast(bto), ["source", "bucket"])
    # rows strictly before this tie block in the (n_chars, doc_id) order
    o = F.col("boff") + F.col("cum_b") - F.col("c")
    # Lift to DECIMAL(38,0) BEFORE the products: c*(c+1) and c*o wrap
    # BIGINT once a source nears ~3e9 docs — the same wrap class ADVICE
    # r14 caught in the L-moment weights (helpers.pwm_grain_weights has
    # the full story).  c*(c+1) is even, so decimal `/` cast back is
    # exact; values at any non-wrapping scale are unchanged.
    tri = F.expr(
        "CAST((CAST(c AS DECIMAL(38,0)) * (c + 1)) / 2 AS DECIMAL(38,0))"
    )
    rank_mass = F.col("n_chars").cast("decimal(38,0)") * (
        F.col("c").cast("decimal(38,0)") * o + tri
    )
    n = F.sum("c")
    return j.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars") * F.col("c")).cast("bigint").alias("total_chars"),
        F.round(
            2.0
            * F.sum(rank_mass).cast("double")
            / (n * F.sum(F.col("n_chars") * F.col("c")).cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@register(
    "doclen_log2_histogram",
    oracle="""
WITH b AS (
    SELECT source, length(bin(n_chars)) AS bucket, n_chars FROM documents
), c AS (
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY source, bucket
)
SELECT source, bucket, n_docs, total_chars,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY source), 6) AS share,
       ROUND(CAST(SUM(n_docs) OVER (PARTITION BY source ORDER BY bucket)
                  AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source), 6) AS cum_share
FROM c
""",
    tags=("text", "llm", "corpus-stats"),
)
def doclen_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram per source with cumulative
    share — the size-distribution profile read before choosing sequence
    length, packing bin size, and maxPartitionBytes for a corpus.

    The log2 bucket is the BIT LENGTH of n_chars (length of the binary
    string), never float log2, so bucket edges at exact powers of two
    cannot flip between engines.  One grouped count + two per-source
    windows over ≤ ~20 buckets."""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "source",
        F.length(F.bin("n_chars")).cast("int").alias("bucket"),
        "n_chars",
    )
    c = b.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    wsrc = Window.partitionBy("source")
    wcum = Window.partitionBy("source").orderBy("bucket")
    return c.select(
        "source",
        "bucket",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(wsrc), 6).alias(
            "share"
        ),
        F.round(
            F.sum("n_docs").over(wcum).cast("double") / F.sum("n_docs").over(wsrc), 6
        ).alias("cum_share"),
    )


@register(
    "vocab_coverage_topk",
    oracle=f"""
WITH cnt AS (
    SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY lang, tok
), ranked AS (
    SELECT lang, freq,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS rnk
    FROM cnt
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(freq) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CASE WHEN rnk <= {COVERAGE_KS[0]} THEN freq ELSE 0 END) AS DOUBLE)
             / SUM(freq), 6) AS cov_top{COVERAGE_KS[0]},
       ROUND(CAST(SUM(CASE WHEN rnk <= {COVERAGE_KS[1]} THEN freq ELSE 0 END) AS DOUBLE)
             / SUM(freq), 6) AS cov_top{COVERAGE_KS[1]}
FROM ranked GROUP BY lang
""",
    tags=("text", "llm", "corpus-stats", "tokenizer"),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary per language: what
    fraction of all running tokens the 10 and 100 most frequent types
    absorb — the concentration companion to zipf_fit_by_source and the
    first number read when sizing a tokenizer vocabulary or a stopword
    list.

    One map-side-combinable (lang, token) count, one per-lang rank
    window (freq desc, token asc tiebreak — fully deterministic), one
    aggregate with conditional sums.  All counts exact integers; two
    final divisions rounded."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(tokens_col()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "tok")
    ranked = cnt.select("lang", "freq", F.row_number().over(w).alias("rnk"))
    k1, k2 = COVERAGE_KS
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.when(F.col("rnk") <= k1, F.col("freq")).otherwise(0)).cast(
                "double"
            )
            / F.sum("freq"),
            6,
        ).alias(f"cov_top{k1}"),
        F.round(
            F.sum(F.when(F.col("rnk") <= k2, F.col("freq")).otherwise(0)).cast(
                "double"
            )
            / F.sum("freq"),
            6,
        ).alias(f"cov_top{k2}"),
    )


# --- round 11: BPE apply half ----------------------------------------------------


def _bpe_oracle_sql() -> str:
    """DuckDB oracle for ``bpe_encode_stats``: replays the ENTIRE
    training loop as {BPE_N_MERGES} unrolled stages, then encodes.

    The merge application uses the space-delimited string trick: the
    symbol sequence is rendered as '  s1  s2  ...  ' (every symbol
    wrapped in double spaces) and each learned merge is ONE
    ``replace(s, ' a  b ', ' ab ')`` — SQL replace is greedy
    left-to-right non-overlapping, exactly the BPE fold's semantics
    (each match consumes one boundary space from the double delimiter,
    which the replacement restores, so the invariant survives runs like
    'a a a' -> '(aa) a').  The per-stage argmax replays Spark's exact
    tie-break (cnt DESC, a, b — binary collation on both engines)."""
    stages = []
    for i in range(1, BPE_N_MERGES + 1):
        prev = f"v{i - 1}"
        stages.append(f"""
p{i} AS (
    SELECT z[1] AS a, z[2] AS b, SUM(freq) AS cnt FROM (
        SELECT freq, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
        FROM (SELECT freq, list_filter(string_split(s, ' '), x -> x <> '') AS l
              FROM {prev})
    ) GROUP BY 1, 2
),
t{i} AS (SELECT a, b FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
v{i} AS (
    SELECT word, freq,
           CASE WHEN t{i}.a IS NULL THEN s
                ELSE replace(s, ' ' || t{i}.a || '  ' || t{i}.b || ' ',
                             ' ' || t{i}.a || t{i}.b || ' ')
           END AS s
    FROM {prev} LEFT JOIN t{i} ON TRUE
)""")
    return f"""
WITH w AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
),
v0 AS (
    SELECT word, freq,
           '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS s
    FROM w
),{",".join(stages)},
enc AS (
    SELECT word,
           CAST(len(list_filter(string_split(s, ' '), x -> x <> '')) AS BIGINT)
               AS n_syms
    FROM v{BPE_N_MERGES}
),
soc AS (
    SELECT source, word, CAST(COUNT(*) AS BIGINT) AS occ
    FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY source, word
),
docs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT soc.source, docs.n_docs,
       CAST(SUM(occ) AS BIGINT) AS ws_tokens,
       CAST(SUM(occ * length(soc.word)) AS BIGINT) AS char_tokens,
       CAST(SUM(occ * n_syms) AS BIGINT) AS bpe_tokens,
       ROUND(CAST(SUM(occ * length(soc.word)) AS DOUBLE)
             / SUM(occ * n_syms), 6) AS compression,
       ROUND(CAST(SUM(occ * n_syms) AS DOUBLE) / SUM(occ), 6) AS fertility
FROM soc JOIN enc ON soc.word = enc.word JOIN docs ON docs.source = soc.source
GROUP BY soc.source, docs.n_docs
"""


@register(
    "bpe_encode_stats",
    oracle=_bpe_oracle_sql(),
    tags=("text", "llm", "tokenizer"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE APPLY half (VERDICT r10 #2): encode the corpus with the
    learned merge table and report per-source whitespace / char-level /
    BPE token counts, the compression ratio vs the char baseline, and
    tokenizer fertility (BPE tokens per whitespace word) — the numbers a
    tokenizer change is judged by before a retrain.

    Encoding rides the SAME re-segmented vocabulary the training loop
    already produced (``_learn_bpe`` — train/apply symmetry, no second
    fold), so the corpus-sized work is one (source, word) occurrence
    count joined to the vocab's final symbol counts on the word key.
    ORACLE-EXACT despite the data-dependent model: the oracle replays
    the whole training loop as {BPE_N_MERGES} unrolled SQL stages (see
    ``_bpe_oracle_sql`` — greedy-replace merge application, identical
    argmax tie-break), closing the gap bpe_learned_merges had to leave
    rows-only (the k-argmax LOOP is not one SQL query, but its UNROLLED
    form is).  All counts integer-exact; two final rounded divisions.

    The k≫5 regime: each unrolled stage re-reads the full vocab CTE, so
    the oracle grows linearly in k — fine at k=5, the wrong tool at
    k=50k (production replays the merge table, not the training loop).
    """
    _, vocab = _learn_bpe(spark, sf_dir)
    enc = vocab.select("word", F.size("syms").cast("bigint").alias("n_syms"))
    d = load_table(spark, sf_dir, "documents")
    soc = (
        d.select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    )
    docs = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        soc.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("occ").cast("bigint").alias("ws_tokens"),
            F.sum(F.col("occ") * F.length("word")).cast("bigint").alias("char_tokens"),
            F.sum(F.col("occ") * F.col("n_syms")).cast("bigint").alias("bpe_tokens"),
            F.round(
                F.sum(F.col("occ") * F.length("word")).cast("double")
                / F.sum(F.col("occ") * F.col("n_syms")),
                6,
            ).alias("compression"),
            F.round(
                F.sum(F.col("occ") * F.col("n_syms")).cast("double") / F.sum("occ"), 6
            ).alias("fertility"),
        )
        .join(F.broadcast(docs), "source")
        .select(
            "source",
            "n_docs",
            "ws_tokens",
            "char_tokens",
            "bpe_tokens",
            "compression",
            "fertility",
        )
    )


# --- round 11 wave 2: classifier calibration vs the rule gate --------------------


def _calibration_oracle_sql() -> str:
    return f"""
WITH gq AS ({_gopher_oracle_sql()}),
scored AS (
    SELECT d.doc_id, {QC_P_SQL} AS p FROM documents d
),
binned AS (
    SELECT LEAST(CAST(FLOOR(s.p * 10) AS INT), 9) AS bin, s.p, gq.keep
    FROM scored s JOIN gq ON gq.doc_id = s.doc_id
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(p) / COUNT(*), 6) AS avg_p,
       ROUND(CAST(SUM(keep) AS DOUBLE) / COUNT(*), 6) AS rule_keep_rate
FROM binned GROUP BY bin
"""


@register(
    "score_calibration_bins",
    oracle=_calibration_oracle_sql(),
    tags=("text", "llm", "quality", "ml-eval"),
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the model-based quality filter against the
    rule-based one: documents bucketed by classifier probability decile,
    each bin reporting its mean score and the fraction the GOPHER rule
    gate would keep — the calibration read before trusting a learned
    filter to replace (or pre-screen for) the rule set.  Two
    INDEPENDENT filter families disagreeing at high score is the signal
    every curation pipeline wants surfaced.

    Both inputs are shared single definitions (``qc_p_col`` /
    ``QC_P_SQL`` for the model, the gopher rule constants for the
    label), so this can never drift from the filters it audits.  The
    probability is round(6)-ed BEFORE the decile floor on both engines;
    one doc-keyed equi-join + one ≤10-key aggregate."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", qc_p_col().alias("p"))
    keep = gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    binned = scored.join(keep, "doc_id").select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "p",
        "keep",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.sum("p") / F.count(F.lit(1)), 6).alias("avg_p"),
        F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 6).alias(
            "rule_keep_rate"
        ),
    )


# --- round 11 wave 4: language-ID evaluation --------------------------------------


@register(
    "lang_id_confusion",
    oracle=f"""
WITH guessed AS ({_lang_id_sql()}),
conf AS (
    SELECT labeled_lang, guessed_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM guessed GROUP BY labeled_lang, guessed_lang
)
SELECT labeled_lang, guessed_lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY labeled_lang), 6) AS row_share,
       labeled_lang = guessed_lang AS correct
FROM conf
""",
    tags=("text", "llm", "ml-eval"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against the
    declared ``lang`` label: per (labeled, guessed) cell the document
    count and its share of the labeled row — the evaluation every
    language-ID heuristic needs BEFORE its output gates corpus routing
    (``lang_corpus_stats`` consumers).  The diagonal flag makes per-lang
    accuracy one filtered aggregate away.

    Reuses the ONE lang-ID definition on both engines
    (``lang_id_heuristic`` / ``_lang_id_sql``), so the matrix can never
    drift from the classifier it evaluates; one |langs|² aggregate +
    one row-share window over it."""
    guessed = lang_id_heuristic(spark, sf_dir)
    conf = guessed.groupBy("labeled_lang", "guessed_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("labeled_lang")
    return conf.select(
        "labeled_lang",
        "guessed_lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6).alias(
            "row_share"
        ),
        (F.col("labeled_lang") == F.col("guessed_lang")).alias("correct"),
    )


@register(
    "cohens_kappa_langid",
    oracle=f"""
WITH guessed AS ({_lang_id_sql()}),
conf AS (
    SELECT labeled_lang, guessed_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM guessed GROUP BY 1, 2
), tot AS (
    SELECT CAST(SUM(n) AS HUGEINT) AS nt,
           CAST(SUM(CASE WHEN labeled_lang = guessed_lang THEN n ELSE 0 END)
                AS HUGEINT) AS diag
    FROM conf
), rows_ AS (SELECT labeled_lang AS l, CAST(SUM(n) AS HUGEINT) AS ni FROM conf GROUP BY 1),
cols_ AS (SELECT guessed_lang AS l, CAST(SUM(n) AS HUGEINT) AS nj FROM conf GROUP BY 1),
xm AS (SELECT CAST(SUM(r.ni * c.nj) AS HUGEINT) AS cross_mass
       FROM rows_ r JOIN cols_ c USING (l))
SELECT CAST(tot.nt AS BIGINT) AS n_docs,
       ROUND(CAST(tot.diag AS DOUBLE) / CAST(tot.nt AS DOUBLE), 6)
           AS observed_agreement,
       ROUND(CAST(xm.cross_mass AS DOUBLE) / (CAST(tot.nt AS DOUBLE) * CAST(tot.nt AS DOUBLE)), 6)
           AS expected_agreement,
       ROUND(CAST(tot.diag * tot.nt - xm.cross_mass AS DOUBLE)
             / CAST(tot.nt * tot.nt - xm.cross_mass AS DOUBLE), 6) AS kappa
FROM tot, xm
""",
    tags=("text", "llm", "ml-eval"),
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the heuristic language identifier against the
    declared label — chance-corrected agreement, the one-number summary
    read next to ``lang_id_confusion``'s full matrix (raw accuracy
    flatters any classifier on a skewed label mix; kappa doesn't).

    Determinism: every input is an exact integer count, and kappa is
    computed through the all-integer identity
    κ = (diag·N − Σᵢ nᵢ·n₍ᵢ₎) / (N² − Σᵢ nᵢ·n₍ᵢ₎) — numerator and
    denominator are exact DECIMAL(38,0) (HUGEINT on the oracle; N ~10¹²
    at the design point puts the products near 10²⁴, past int64), so
    both engines divide the identical pair of integers; round(6) on the
    three ratios.  Languages never guessed (or never labeled)
    contribute zero cross mass — the inner join on the label realizes
    that without a special case.  Degenerate precondition (documented,
    not guarded — the EB-shrinkage convention): kappa is undefined when
    expected agreement is 1 (a single language on BOTH sides makes the
    denominator N² − Σnᵢn₍ᵢ₎ zero); both engines then emit the same
    NULL/NaN, and a corpus with one language has nothing to correct
    for chance anyway.  Reuses the ONE lang-ID definition
    (``lang_id_heuristic`` / ``_lang_id_sql``); everything after the
    per-doc argmax is a |langs|²-row aggregate."""
    guessed = lang_id_heuristic(spark, sf_dir)
    conf = guessed.groupBy("labeled_lang", "guessed_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = conf.agg(
        F.sum("n").cast("decimal(38,0)").alias("nt"),
        F.sum(
            F.when(F.col("labeled_lang") == F.col("guessed_lang"), F.col("n")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(38,0)")
        .alias("diag"),
    )
    rows_ = conf.groupBy(F.col("labeled_lang").alias("l")).agg(
        F.sum("n").cast("decimal(38,0)").alias("ni")
    )
    cols_ = conf.groupBy(F.col("guessed_lang").alias("l")).agg(
        F.sum("n").cast("decimal(38,0)").alias("nj")
    )
    xm = (
        rows_.join(cols_, "l")
        .agg(F.sum(F.col("ni") * F.col("nj")).cast("decimal(38,0)").alias("cross_mass"))
    )
    return (
        tot.crossJoin(F.broadcast(xm))
        .select(
            F.col("nt").cast("bigint").alias("n_docs"),
            F.round(F.col("diag").cast("double") / F.col("nt").cast("double"), 6).alias(
                "observed_agreement"
            ),
            F.round(
                F.col("cross_mass").cast("double")
                / (F.col("nt").cast("double") * F.col("nt").cast("double")),
                6,
            ).alias("expected_agreement"),
            F.round(
                (F.col("diag") * F.col("nt") - F.col("cross_mass")).cast("double")
                / (F.col("nt") * F.col("nt") - F.col("cross_mass")).cast("double"),
                6,
            ).alias("kappa"),
        )
    )


# --- round 12: duplicate-n-gram coverage + segment-grain dedup ------------------

DUPG_N = 3  # n-gram order for the within-doc duplication metric
SEG_TOKENS = 10  # tokens per dedup segment (the paragraph proxy)


@register(
    "dup_ngram_char_fraction",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), grams AS (
    SELECT doc_id, source,
           unnest(list_transform(range(1, len(t) - {DUPG_N} + 2),
                  i -> array_to_string(t[i:i+{DUPG_N - 1}], ' '))) AS g
    FROM toks WHERE len(t) >= {DUPG_N}
), per AS (
    SELECT doc_id, source, g,
           CAST(COUNT(*) AS BIGINT) AS c,
           CAST(LENGTH(MIN(g)) AS BIGINT) AS glen
    FROM grams GROUP BY doc_id, source, g
)
SELECT doc_id, source,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS DOUBLE)
             / SUM(c * glen), 6) AS dup_char_share
FROM per GROUP BY doc_id, source
""",
    tags=("text", "llm", "quality"),
)
def dup_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate 3-gram character coverage — the Rae et
    al. 2021 (Gopher A1.1) "duplicate n-gram fraction" repetition rule
    that ``gopher_quality_flags``' top-2-gram cap approximates: the
    share of n-gram character mass sitting in n-grams that occur at
    least twice IN THE SAME DOCUMENT.  High values mark boilerplate /
    looping generations that slip past unigram ratios.

    One explode to the (doc, gram) grain + one doc-keyed aggregate —
    linear in corpus tokens like the exact-substring family; counts and
    char masses are exact integers, one rounded division per doc."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split("text", " ").alias("t")
    ).where(F.size("t") >= DUPG_N)
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {DUPG_N - 1}), "
                f"i -> array_join(slice(t, i, {DUPG_N}), ' '))"
            )
        ).alias("g"),
    )
    per = grams.groupBy("doc_id", "source", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.length(F.min("g")).cast("bigint").alias("glen"),
    )
    dup_mass = F.sum(
        F.when(F.col("c") >= 2, F.col("c") * F.col("glen")).otherwise(0)
    )
    return per.groupBy("doc_id", "source").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_grams"),
        F.round(
            dup_mass.cast("double") / F.sum(F.col("c") * F.col("glen")), 6
        ).alias("dup_char_share"),
    )


@register(
    "segment_dedup_stats",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), segs AS (
    SELECT doc_id, source,
           CAST(u.i AS INT) AS seg_idx,
           array_to_string(t[(u.i * {SEG_TOKENS} + 1):(u.i * {SEG_TOKENS} + {SEG_TOKENS})], ' ') AS seg
    FROM toks, LATERAL (SELECT unnest(range(0, len(t) // {SEG_TOKENS})) AS i) u
), keep AS (
    SELECT seg, MIN(doc_id * 1000000 + seg_idx) AS first_occ,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM segs GROUP BY seg
), flagged AS (
    SELECT s.source,
           CASE WHEN s.doc_id * 1000000 + s.seg_idx = k.first_occ THEN 0 ELSE 1 END AS removed
    FROM segs s JOIN keep k ON k.seg = s.seg
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(removed) AS BIGINT) AS n_removed,
       ROUND(CAST(SUM(removed) AS DOUBLE) / COUNT(*), 6) AS removed_share
FROM flagged GROUP BY source
""",
    tags=("text", "llm", "dedup"),
)
def segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-grain exact dedup across the corpus (the CCNet paragraph
    dedup, with fixed {SEG}-token segments standing in for paragraphs —
    the fixture text carries no newlines): every full segment is hashed
    corpus-wide, the FIRST occurrence (smallest (doc_id, seg_idx))
    survives, and each source reports its removed-segment share — the
    boilerplate census between doc-grain ``dedup_exact_documents`` and
    substring-grain ``substring_span_removal``.

    Linear plan: one segment explode (⌊tokens/{SEG}⌋ per doc), one
    segment-keyed aggregate for the first-occurrence key, one equi-join
    back, one source rollup.  The first-occurrence key packs
    (doc_id, seg_idx) into one BIGINT (seg_idx < 1e6 by construction:
    it is bounded by tokens/{SEG} per document) so the min is a single
    integer aggregate on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.split("text", " ").alias("t"))
    segs = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) div {SEG_TOKENS}), "
                f"i -> array_join(slice(t, (i - 1) * {SEG_TOKENS} + 1, {SEG_TOKENS}), ' '))"
            )
        ).alias("seg_idx0", "seg"),
    ).select(
        "doc_id",
        "source",
        F.col("seg_idx0").cast("int").alias("seg_idx"),
        "seg",
    )
    keep = segs.groupBy("seg").agg(
        F.min(F.col("doc_id") * 1_000_000 + F.col("seg_idx")).alias("first_occ"),
    )
    flagged = segs.join(keep, "seg").select(
        "source",
        F.when(
            F.col("doc_id") * 1_000_000 + F.col("seg_idx") == F.col("first_occ"),
            0,
        )
        .otherwise(1)
        .alias("removed"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("removed").cast("bigint").alias("n_removed"),
        F.round(F.sum("removed").cast("double") / F.count(F.lit(1)), 6).alias(
            "removed_share"
        ),
    )


segment_dedup_stats.__doc__ = segment_dedup_stats.__doc__.replace(
    "{SEG}", str(SEG_TOKENS)
)


# --- Hill tail-index estimator over document lengths (round 13) ----------------

HILL_K = 100  # top-order statistics entering the estimator


@register(
    "hill_tail_index_doclen",
    oracle=f"""
WITH lens AS (
    SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
), ranked AS (
    SELECT ntok,
           ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id) AS rn
    FROM lens
), top AS (SELECT * FROM ranked WHERE rn <= {HILL_K + 1}),
thr AS (SELECT CAST(MAX(CASE WHEN rn = {HILL_K + 1} THEN ntok END) AS DOUBLE) AS xk
        FROM top)
SELECT CAST({HILL_K} AS INT) AS k_order_stats,
       CAST(thr.xk AS BIGINT) AS threshold_ntok,
       ROUND(SUM(ln(ntok / thr.xk)) / {HILL_K}, 6) AS mean_log_excess,
       ROUND({HILL_K} / SUM(ln(ntok / thr.xk)), 6) AS alpha_hill
FROM top, thr WHERE rn <= {HILL_K}
GROUP BY thr.xk
""",
    tags=("text", "llm", "stats", "profiling"),
)
def hill_tail_index_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail index over the top
    {K} order statistics — the "how heavy is the long-document tail?"
    read that sizes packing budgets, chunk policies, and per-task skew
    headroom (a Pareto-ish tail with small α means a few giant docs
    dominate token mass; ``zipf_fit_by_source`` asks the same question
    of the VOCABULARY, this asks it of document sizes).

    α̂ = k / Σᵢ ln(x⁽ⁱ⁾/x⁽ᵏ⁺¹⁾) over the k largest lengths with the
    (k+1)-th as threshold.  The top-(k+1) frontier is a
    TakeOrderedAndProject under the deterministic (ntok desc, doc_id)
    total order — ties at the cut resolve identically on both engines —
    and the k-term log sum follows the chi-square convention (bounded
    grid, round 6); lengths are exact integers throughout.  At 100 TB
    the ordered pass keeps k+1 rows per partition and merges k·P on the
    driver — the pinned top-k discipline, never a global sort.

    Degenerate preconditions (documented per the EB-shrinkage
    convention, ADVICE r13): the corpus must have MORE than {K} docs
    (otherwise the (k+1)-th threshold is NULL and every output column
    follows it) and a non-flat top-{K} tail (if all top-{K} lengths tie
    with the threshold, Σln(x/xk) = 0 and α̂ divides by zero — NULL on
    Spark doubles vs Inf on DuckDB).  Both are corpus-shape
    pathologies, not data errors: a sub-{K}-doc corpus has no tail to
    estimate and a flat tail has α̂ = ∞ by definition; callers sizing
    packing budgets should treat either as "no heavy tail"."""
    d = load_table(spark, sf_dir, "documents")
    lens = d.select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
    top = lens.orderBy(F.desc("ntok"), "doc_id").limit(HILL_K + 1).select(
        "ntok",
        F.row_number()
        .over(Window.orderBy(F.desc("ntok"), F.asc("doc_id")))
        .alias("rn"),
    )
    thr = top.agg(
        F.max(F.when(F.col("rn") == HILL_K + 1, F.col("ntok")))
        .cast("double")
        .alias("xk")
    )
    return (
        top.where(F.col("rn") <= HILL_K)
        .crossJoin(F.broadcast(thr))
        .groupBy("xk")
        .agg(
            F.lit(HILL_K).cast("int").alias("k_order_stats"),
            F.round(
                F.sum(F.log(F.col("ntok") / F.col("xk"))) / HILL_K, 6
            ).alias("mean_log_excess"),
            F.round(
                HILL_K / F.sum(F.log(F.col("ntok") / F.col("xk"))), 6
            ).alias("alpha_hill"),
        )
        .select(
            "k_order_stats",
            F.col("xk").cast("bigint").alias("threshold_ntok"),
            "mean_log_excess",
            "alpha_hill",
        )
    )


hill_tail_index_doclen.__doc__ = hill_tail_index_doclen.__doc__.replace(
    "{K}", str(HILL_K)
)


# --- round 14: vocabulary-richness estimators -----------------------------------


@register(
    "vocab_richness_estimators",
    oracle="""
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS tk FROM documents
), tf AS (
    SELECT source, tk, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), fof AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
    FROM tf GROUP BY 1
)
SELECT source, n_tokens, vocab, f1, f2,
       ROUND(vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
           AS chao1,
       ROUND(CAST(f1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass
FROM fof ORDER BY source
""",
    tags=("text", "llm", "stats", "profiling"),
)
def vocab_richness_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-richness estimators from the frequency-of-
    frequencies spectrum: Chao1's lower bound on the TRUE vocabulary
    size (bias-corrected form, finite even when no token occurs exactly
    twice) and the Good–Turing unseen-probability mass f1/N ("what
    fraction of the next batch's tokens will be words this source has
    never shown us?") — the two numbers that tell a data-mixture
    planner which sources are lexically saturated vs still yielding new
    vocabulary, the estimator-grade companion to the ``heaps_vocab_
    growth`` curve and the ``capture_recapture_dups`` shape applied to
    vocabulary instead of duplicates.

    Two map-side-combinable aggregates — (source, token) term counts,
    then the per-source spectrum reduction — with every count an exact
    BIGINT; the estimators are one double expression each, round 6.
    At 100 TB the (source, token) grain is the same shuffle the TF-IDF
    / unigram-LM family already rides (hash-partitioned by the
    composite key, no skew pivot: the hottest token spreads across
    sources), and the spectrum frame is |sources| rows.  Degenerate
    note (EB convention): an empty source cannot occur (the grain
    derives from its own tokens); chao1's +1 denominator and gt's N ≥
    f1 ≥ 0 keep both estimators finite on every real spectrum."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tk"))
        .groupBy("source", "tk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    fof = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    return fof.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(
            F.col("vocab")
            + F.col("f1").cast("double") * (F.col("f1") - 1) / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6).alias(
            "gt_unseen_mass"
        ),
    ).orderBy("source")


# --- round 14: rank-biased overlap between the lexical and dense rankers --------

RBO_P = 0.9  # persistence: weight (1-p)p^(d-1) on depth d
RBO_DEPTH = 10  # truncation depth = both systems' top-k

# Truncated, normalized RBO over the bounded depth spine: weights sum to
# exactly 1 over d=1..DEPTH, so rbo in [0, 1].
_RBO_W = f"((1.0 - {RBO_P}) * power({RBO_P}, d - 1) / (1.0 - power({RBO_P}, {RBO_DEPTH})))"


@register(
    "rbo_retrieval_agreement",
    oracle=f"""
WITH {_BM25_SCORED_CTE},
lex AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS ra
    FROM bm25_scored ORDER BY bm25 DESC, doc_id LIMIT {RBO_DEPTH}
),
{_SCORED_Q0_CTE},
dense AS (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rb
    FROM scored_q0 ORDER BY cos_sim DESC, vec_id LIMIT {RBO_DEPTH}
),
m AS (
    SELECT GREATEST(ra, rb) AS deepest FROM lex JOIN dense USING (doc_id)
),
spine AS (SELECT CAST(unnest(range(1, {RBO_DEPTH} + 1)) AS INT) AS d),
xd AS (
    SELECT d,
           CAST((SELECT COUNT(*) FROM m WHERE deepest <= d) AS BIGINT) AS x
    FROM spine
)
SELECT CAST({RBO_DEPTH} AS INT) AS depth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_overlap_total,
       ROUND(SUM({_RBO_W} * x / d), 6) AS rbo
FROM xd
""",
    tags=("text", "llm", "retrieval", "stats"),
)
def rbo_retrieval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010; truncated at depth {D},
    p={P}, weights normalized to sum 1) between the two retrieval
    systems the engine already ships: the LEXICAL BM25 top-{D} and the
    DENSE cosine top-{D} against query 0 — the "do my rankers agree, and
    at the top where it matters?" audit read before trusting
    ``rrf_fused_topk_docs``'s fusion (RBO ≈ 1 means fusion is redundant;
    RBO ≈ 0 means the two systems retrieve from disjoint pools and
    fusion genuinely widens recall).  Top-weighted by construction,
    unlike Kendall/Spearman on ranks.

    Composes the two existing ONE-definition scoring machineries
    (``bm25_scored_df`` / ``_BM25_SCORED_CTE`` and ``scored_vs_query0``
    / ``_SCORED_Q0_CTE``) — no third copy of either scorer; both
    top-{D}s are TakeOrderedAndProject frontiers on round(6)-stable
    orders.  The overlap-at-depth table is |matches| ≤ {D} rows joined
    to a {D}-row spine (bounded, broadcast), and the statistic is one
    {D}-term weighted sum (shared weight text, chi-square convention,
    round 6).  At 100 TB the cost is the two scorers' documented linear
    passes; the RBO arithmetic is constant-size."""
    from .similarity import scored_vs_query0
    from ..catalog import load_table as _lt

    lex = (
        bm25_scored_df(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RBO_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .alias("ra"),
        )
    )
    dense = (
        scored_vs_query0(_lt(spark, sf_dir, "embeddings"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(RBO_DEPTH)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
            .alias("rb"),
        )
    )
    m = lex.join(dense, "doc_id").select(
        F.greatest("ra", "rb").alias("deepest")
    )
    spine = spark.range(1, RBO_DEPTH + 1).select(F.col("id").cast("int").alias("d"))
    xd = (
        spine.join(F.broadcast(m), F.col("deepest") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("deepest").cast("bigint").alias("x"))
    )
    tot = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap_total"))
    return (
        xd.agg(F.sum(F.expr(_RBO_W) * F.col("x") / F.col("d")).alias("s"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(RBO_DEPTH).cast("int").alias("depth"),
            "n_overlap_total",
            F.round(F.col("s"), 6).alias("rbo"),
        )
    )


rbo_retrieval_agreement.__doc__ = rbo_retrieval_agreement.__doc__.format(
    D=RBO_DEPTH, P=RBO_P
)


# --- round 15 wave 3: per-doc LM surprise outliers -----------------------------

PPL_TOP_K = 10
PPL_GRID = 1_000_000_000  # 1e-9 NLL quantization grid (FLOOR-quantize conv.)


@register(
    "doc_perplexity_outliers",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
    FROM documents
), freq AS (
    SELECT term, COUNT(*) AS n FROM toks GROUP BY term
), total AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM freq),
q AS (
    SELECT toks.doc_id, toks.source,
           CAST(FLOOR(-ln(freq.n / total.t) * {PPL_GRID}) AS BIGINT) AS qn
    FROM toks JOIN freq USING (term), total
), pd AS (
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(qn) AS BIGINT) AS qs
    FROM q GROUP BY doc_id, source
)
SELECT doc_id, source, n_toks,
       ROUND(CAST(qs AS DOUBLE) / (n_toks * {PPL_GRID}.0), 6) AS doc_nll
FROM pd
ORDER BY CAST(qs AS DOUBLE) / (n_toks * {PPL_GRID}.0) DESC, doc_id
LIMIT {PPL_TOP_K}
""",
    tags=("text", "llm", "quality", "lm"),
)
def doc_perplexity_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {K} most SURPRISING documents under the corpus unigram LM —
    the per-document drill-down of ``unigram_logprob_by_source``'s
    per-source bands: quality pipelines pull exactly this list to
    eyeball before choosing a perplexity filter threshold (the top of
    it is where mojibake, rare-token spam, and wrong-language slips
    concentrate).

    Determinism upgrade over the per-source aggregate: each token's
    −ln(n/N) (one identical double op on exact integer counts) is
    FLOOR-quantized to the 1e-9 grid (helpers.py convention), so the
    per-document sum is an EXACT INTEGER regardless of summation order
    — the ranking key qs/n_toks is a bit-identical double on both
    engines and ties break on doc_id, making the top-{K} fully
    deterministic (TakeOrderedAndProject, never a global sort)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").cast("double").alias("t"))
    q = (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            F.floor(-F.log(F.col("n") / F.col("t")) * PPL_GRID)
            .cast("bigint")
            .alias("qn"),
        )
    )
    pd_ = q.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        F.sum("qn").cast("bigint").alias("qs"),
    )
    scored = pd_.select(
        "doc_id",
        "source",
        "n_toks",
        (F.col("qs").cast("double") / (F.col("n_toks") * float(PPL_GRID))).alias(
            "nll_exact"
        ),
    )
    return (
        scored.orderBy(F.desc("nll_exact"), F.asc("doc_id"))
        .limit(PPL_TOP_K)
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.round("nll_exact", 6).alias("doc_nll"),
        )
    )


doc_perplexity_outliers.__doc__ = doc_perplexity_outliers.__doc__.replace(
    "{K}", str(PPL_TOP_K)
)


BURST_TOP_WORDS = 20


@register(
    "burstiness_word_stats",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), dc AS (
    SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY 1, 2
), w AS (
    SELECT term,
           CAST(SUM(c) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS sum_c2
    FROM dc GROUP BY 1
), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
top AS (
    SELECT term, n_total, doc_freq, sum_c2 FROM w
    ORDER BY n_total DESC, term LIMIT {BURST_TOP_WORDS}
)
SELECT term, n_total, doc_freq,
       ROUND((CAST(sum_c2 AS DOUBLE)
              - CAST(n_total AS DOUBLE) * n_total / (SELECT d FROM nd))
             / n_total, 6) AS burstiness_vmr
FROM top
""",
    tags=("text", "llm", "corpus-stats"),
)
def burstiness_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (variance-to-mean ratio across documents, zeros
    included) of the {W} highest-frequency corpus words — Church &
    Gale's contagion diagnostic: function words land near VMR ≈ 1
    (Poisson-scattered), while topical/templated words are BURSTY
    (VMR ≫ 1: absent from most docs, piled up in a few).  Bursty
    high-frequency words are the fingerprint of boilerplate and
    near-duplicate template families, so this list is read next to
    ``dup_ngram_char_fraction`` when tuning dedup aggressiveness.

    VMR = Var(c)/E[c] over ALL D documents with zero counts included —
    via the computational identity on exact integer moments
    (Σc, Σc² per word over its PRESENT docs; absent docs contribute
    nothing to either), one identical double op sequence, round(6).
    Top-{W} selection keys on (n_total DESC, term) — exact integers,
    TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dc = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = dc.groupBy("term").agg(
        F.sum("c").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    top = w.orderBy(F.desc("n_total"), F.asc("term")).limit(BURST_TOP_WORDS)
    return top.crossJoin(F.broadcast(nd)).select(
        "term",
        "n_total",
        "doc_freq",
        F.round(
            (
                F.col("sum_c2").cast("double")
                - F.col("n_total").cast("double") * F.col("n_total") / F.col("d")
            )
            / F.col("n_total"),
            6,
        ).alias("burstiness_vmr"),
    )


burstiness_word_stats.__doc__ = burstiness_word_stats.__doc__.replace(
    "{W}", str(BURST_TOP_WORDS)
)


# --- round 15 wave 4: n-gram entropy information profile -----------------------

ENTROPY_ORDERS = (1, 2, 3)
ENTROPY_GRID = 1_000_000_000


@register(
    "ngram_entropy_orders",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
    {" UNION ALL ".join(
        f"SELECT CAST({n} AS INT) AS n, "
        f"unnest(list_transform(range(1, len(toks) + 2 - {n}), "
        f"i -> array_to_string(list_slice(toks, i, i + {n} - 1), ' '))) AS gram "
        f"FROM t"
        for n in ENTROPY_ORDERS
    )}
), cnt AS (
    SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY 1, 2
), tot AS (
    SELECT n, CAST(SUM(c) AS BIGINT) AS nt,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM cnt GROUP BY 1
), q AS (
    SELECT cnt.n,
           CAST(FLOOR((CAST(c AS DOUBLE) / tot.nt)
                      * ln(CAST(tot.nt AS DOUBLE) / c) * {ENTROPY_GRID})
                AS BIGINT) AS qh
    FROM cnt JOIN tot USING (n)
)
SELECT q.n AS gram_order,
       (SELECT n_distinct FROM tot WHERE tot.n = q.n) AS n_distinct,
       (SELECT nt FROM tot WHERE tot.n = q.n) AS n_grams,
       ROUND(CAST(SUM(qh) AS DOUBLE) / {ENTROPY_GRID}, 6) AS entropy_nats
FROM q GROUP BY q.n
""",
    tags=("text", "llm", "corpus-stats"),
)
def ngram_entropy_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus 1/2/3-gram distributions — the
    information profile behind LM difficulty estimates: H₁ bounds any
    unigram model's cross-entropy, H₂−H₁ approximates the conditional
    entropy H(next|prev) (what a bigram LM can exploit —
    ``bigram_perplexity_by_source`` measures the model side of the same
    quantity), and a flat H₂≈2·H₁ profile says tokens are near-i.i.d.
    (synthetic or shuffled text) while natural corpora drop sharply.

    Determinism: each distinct gram's p·ln(1/p) term (one identical
    double op on exact integer counts) is FLOOR-quantized to the 1e-9
    grid BEFORE the data-sized sum over the gram vocabulary
    (helpers.py convention — vocabulary grain is data-sized, so a raw
    float sum would be order-dependent), making the entropy an exact
    integer sum divided once, round(6).  Scale: grams explode ~3× the
    token stream and immediately collapse to map-side-combined counts;
    the per-order totals frame broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.split("text", " ").alias("toks"))
    parts = []
    for n in ENTROPY_ORDERS:
        parts.append(
            t.select(
                F.lit(n).cast("int").alias("n"),
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(toks) + 1 - {n}), "
                        f"i -> concat_ws(' ', slice(toks, i, {n})))"
                    )
                ).alias("gram"),
            )
        )
    grams = parts[0]
    for p in parts[1:]:
        grams = grams.unionByName(p)
    cnt = grams.groupBy("n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cnt.groupBy("n").agg(
        F.sum("c").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    q = cnt.join(F.broadcast(tot), "n").select(
        "n",
        "n_distinct",
        "nt",
        F.floor(
            (F.col("c").cast("double") / F.col("nt"))
            * F.log(F.col("nt").cast("double") / F.col("c"))
            * ENTROPY_GRID
        )
        .cast("bigint")
        .alias("qh"),
    )
    return q.groupBy("n", "n_distinct", "nt").agg(
        F.round(
            F.sum("qh").cast("double") / ENTROPY_GRID, 6
        ).alias("entropy_nats")
    ).select(
        F.col("n").alias("gram_order"),
        "n_distinct",
        F.col("nt").alias("n_grams"),
        "entropy_nats",
    )

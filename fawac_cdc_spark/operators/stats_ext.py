"""Statistical-inference surface, wave II (round 12 extension).

Classical analyst statistics the round-12 hypothesis-testing wave did
not yet cover, each re-expressed with the repo's exact cross-engine
arithmetic conventions: Spearman rank correlation (midranks over a
bounded grain), one-way ANOVA from per-group moment sums, Welch's
unequal-variance t, exact-decimal max drawdown, a deterministic
md5-coin randomization (permutation) test, Herfindahl–Hirschman
concentration, an EMD-based t-closeness audit (the ordered-attribute
companion to ``k_anonymity_audit`` / ``l_diversity_audit``), and
empirical-Bayes beta-binomial shrinkage of per-part return rates.

Reference anchors: the reference logs per-step eval statistics and
compares run configurations (``train_fawac_iql.py:145-166``,
``fawac.py:597-611``); this module generalizes that monitoring surface
to the inference toolkit an analyst runs on the same warehouse.

Scale notes (100 TB design point): every operator reduces the scan to
either a BOUNDED grain (calendar days, event types, priority × decile
grids, sources) or a map-side-combinable moment aggregate before any
window/join; the only row-expanding stage is the permutation test's
32× replicate explode, which follows ``poisson_bootstrap_ci``'s
round-15 discipline: ALL string work (md5 + 8-hex conv chunks carrying
two 16-bit coins each) at the order grain, an explicit-width hash
repartition before the explode (the CPU-amplified stage must not
inherit the scan's split count, and AQE would coalesce a column-only
repartition of this few-MB grain right back to one partition), and
only array access + integer arithmetic on the exploded rows.
Per-term double sums over bounded grids follow the source_kl_drift /
chi_square convention: exact-integer inputs, identical operand order,
round(6) on final statistics only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .helpers import (
    MONEY,
    bucketed_predecessor_counts,
    materialize,
    money,
    pwm_grain_weights,
)

# --- Spearman ----------------------------------------------------------------


def _midrank2(grain: DataFrame, col: str, out: str) -> DataFrame:
    """(value, 2*midrank) over a BOUNDED grain frame.

    Collapses to the value grain (ties carry counts) and derives
    2*midrank = 2*cum_before + c + 1 — an exact INTEGER, so Pearson on
    midranks (= Spearman) needs no float ranks.  The window runs over
    the value grain of an already-bounded frame (calendar days), the
    same shape ``rolling_corr_types_daily`` pins."""
    g = grain.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
    return g.select(
        col,
        (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1).alias(out),
    )


@register(
    "spearman_corr_daily",
    oracle="""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
    FROM events GROUP BY 1
), gx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY x),
rx AS (
    SELECT x, 2 * COALESCE(SUM(c) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2x
    FROM gx
), gy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY y),
ry AS (
    SELECT y, 2 * COALESCE(SUM(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2y
    FROM gy
), j AS (
    SELECT r2x, r2y FROM d JOIN rx USING (x) JOIN ry USING (y)
), s AS (
    SELECT COUNT(*) AS n, SUM(r2x) AS sx, SUM(r2y) AS sy,
           SUM(r2x * r2x) AS sxx, SUM(r2y * r2y) AS syy,
           SUM(r2x * r2y) AS sxy
    FROM j
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)),
             6) AS rho_spearman
FROM s
""",
    tags=("analytics", "stats", "robust"),
)
def spearman_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily event count and daily
    total value — the monotone-association monitor that survives the
    heavy-tailed value column where Pearson (``rolling_corr_types_daily``)
    saturates on outliers; tie-aware via midranks.

    Ranks never touch a data-sized sort: the scan reduces to the
    BOUNDED calendar-day grain first, midranks come from the value
    grain of that frame as exact integers (2·midrank = 2·cum_before +
    c + 1, ``mann_whitney_flag_test``'s identity), and Spearman is
    Pearson on those integers — five exact integer moments, one double
    division, round(6)."""
    e = load_table(spark, sf_dir, "events")
    # kept: two or more consumers, no ReusedExchange without it
    d = materialize(
        e.groupBy(F.col("ts").cast("date").alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            (F.sum(money("value")) * 100).cast("bigint").alias("y"),
        ),
        "spearman_corr_daily.d",
    )
    rx = _midrank2(d, "x", "r2x")
    ry = _midrank2(d, "y", "r2y")
    j = d.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
    )
    n = F.col("n")
    return s.select(
        n.cast("bigint").alias("n_days"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("rho_spearman"),
    )


# --- one-way ANOVA -----------------------------------------------------------

# Shared single-row formula texts (the effect_size_flags discipline):
# kk = #groups, nn = N, aa = sum_g s_g^2/n_g, ss = S, qq = sum x^2.
_ANOVA_SSB = "(aa - ss * ss / nn)"
_ANOVA_SSW = "(qq - aa)"


@register(
    "anova_f_event_types",
    oracle=f"""
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           SUM(CAST(value AS DECIMAL(18,2))) AS s_g,
           SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS q_g
    FROM events GROUP BY 1
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk,
           CAST(SUM(n_g) AS DOUBLE) AS nn,
           SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g) AS aa,
           CAST(SUM(s_g) AS DOUBLE) AS ss,
           CAST(SUM(q_g) AS DOUBLE) AS qq
    FROM g
)
SELECT CAST(kk AS INT) AS k_types,
       CAST(nn AS BIGINT) AS n_events,
       ROUND(({_ANOVA_SSB} / (kk - 1.0)) / ({_ANOVA_SSW} / (nn - kk)), 6) AS f_stat,
       ROUND({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}), 6) AS eta_sq
FROM m
""",
    tags=("analytics", "stats"),
)
def anova_f_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of event value across event types, with the
    η² effect size — "do the type means differ at all?", the k-group
    generalization the pairwise tests (``mann_whitney_flag_test``,
    ``effect_size_flags``) build toward.

    One map-side-combinable pass collects exact per-type decimal
    moments (n, Σx, Σx²); between/within sums of squares come from the
    computational identity SSB = Σ s_g²/n_g − S²/N, so the only
    engine-ordered float sum is the k-term Σ s_g²/n_g over the BOUNDED
    type grain (chi_square/source_kl_drift convention: exact inputs,
    identical operand order, round(6) on the final F and η²)."""
    e = load_table(spark, sf_dir, "events")
    v = money("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(v).alias("s_g"),
        F.sum(v * v).alias("q_g"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum("n_g").cast("double").alias("nn"),
        F.sum(
            F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g")
        ).alias("aa"),
        F.sum("s_g").cast("double").alias("ss"),
        F.sum("q_g").cast("double").alias("qq"),
    )
    return m.selectExpr(
        "CAST(kk AS INT) AS k_types",
        "CAST(nn AS BIGINT) AS n_events",
        f"ROUND(({_ANOVA_SSB} / (kk - 1.0)) / ({_ANOVA_SSW} / (nn - kk)), 6) AS f_stat",
        f"ROUND({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}), 6) AS eta_sq",
    )


# --- Welch's t ---------------------------------------------------------------

# Shared formula texts over the six exact moments (nn/nr counts,
# sn/sr sums, qn/qr sums of squares — effect_size_flags' frame).
_W_VN = "((qn - sn * sn / nn) / (nn - 1.0))"
_W_VR = "((qr - sr * sr / nr) / (nr - 1.0))"
_W_SE2 = f"({_W_VN} / nn + {_W_VR} / nr)"
_W_T = f"ROUND((sn / nn - sr / nr) / SQRT({_W_SE2}), 6)"
_W_DF = (
    f"ROUND({_W_SE2} * {_W_SE2} / "
    f"(({_W_VN} / nn) * ({_W_VN} / nn) / (nn - 1.0) + "
    f"({_W_VR} / nr) * ({_W_VR} / nr) / (nr - 1.0)), 6)"
)


@register(
    "welch_t_flags",
    oracle=f"""
WITH m AS (
    SELECT CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS DOUBLE) AS nn,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS nr,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sn,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sr,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS qn,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS qr
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
)
SELECT CAST(nn AS BIGINT) AS n_n, CAST(nr AS BIGINT) AS n_r,
       {_W_T} AS t_welch,
       {_W_DF} AS df_welch
FROM m
""",
    tags=("analytics", "stats"),
)
def welch_t_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic and Welch–Satterthwaite
    degrees of freedom between return flags N and R on
    ``l_extendedprice`` — the significance companion to
    ``effect_size_flags``' Cohen's d (same six moments, no
    equal-variance assumption the pooled form would smuggle in).

    One conditional-aggregate pass, exact decimal moments cast to
    double once, t and df from ONE shared formula text on both engines,
    round(6)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = money("l_extendedprice")
    isn = F.col("l_returnflag") == "N"
    isr = F.col("l_returnflag") == "R"
    m = li.where(F.col("l_returnflag").isin("N", "R")).agg(
        F.sum(F.when(isn, 1).otherwise(0)).cast("double").alias("nn"),
        F.sum(F.when(isr, 1).otherwise(0)).cast("double").alias("nr"),
        F.sum(F.when(isn, p)).cast("double").alias("sn"),
        F.sum(F.when(isr, p)).cast("double").alias("sr"),
        F.sum(F.when(isn, p * p)).cast("double").alias("qn"),
        F.sum(F.when(isr, p * p)).cast("double").alias("qr"),
    )
    return m.selectExpr(
        "CAST(nn AS BIGINT) AS n_n",
        "CAST(nr AS BIGINT) AS n_r",
        f"{_W_T} AS t_welch",
        f"{_W_DF} AS df_welch",
    )


# --- max drawdown ------------------------------------------------------------


@register(
    "max_drawdown_daily",
    oracle="""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS pnl
    FROM events GROUP BY 1
), c AS (
    SELECT day,
           SUM(pnl) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM d
), r AS (
    SELECT day, cum,
           MAX(cum) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
    FROM c
)
SELECT CAST(day AS VARCHAR) AS trough_day,
       CAST(runmax AS DOUBLE) AS peak_cum,
       CAST(cum AS DOUBLE) AS trough_cum,
       CAST(runmax - cum AS DOUBLE) AS max_drawdown
FROM r
ORDER BY runmax - cum DESC, day
LIMIT 1
""",
    tags=("analytics", "timeseries"),
)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily event value — the
    peak-to-trough risk statistic every monitoring dashboard puts next
    to the equity/health curve; reports the trough day, the running
    peak it fell from, and the exact drawdown.

    The scan reduces to the BOUNDED calendar-day grain before any
    window (``rolling_corr_types_daily``'s pinned shape); cumulative
    sum, running max, and the drawdown are EXACT DECIMAL end to end
    (no float can move the argmax), and the trough row is one
    TakeOrderedAndProject with the earliest-day tiebreak."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(money("value")).alias("pnl")
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    r = d.select(
        "day",
        F.sum("pnl").over(wc).alias("cum"),
    ).select(
        "day",
        "cum",
        F.max("cum").over(wc).alias("runmax"),
    )
    return (
        r.orderBy((F.col("runmax") - F.col("cum")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").cast("string").alias("trough_day"),
            F.col("runmax").cast("double").alias("peak_cum"),
            F.col("cum").cast("double").alias("trough_cum"),
            (F.col("runmax") - F.col("cum")).cast("double").alias("max_drawdown"),
        )
    )


# --- randomization (permutation) test ----------------------------------------

PERM_REPS = 32
# Spark coin: ONE array access + div/mod per exploded row — the digests
# are conv'd in 8-hex chunks at the ORDER grain (the low bit of a 4-hex
# slice is bit 0 / bit 16 of its 8-hex chunk, so the coins are
# bit-identical to the oracle's per-replicate 4-hex slices); see
# poisson_bootstrap_ci's round-15 profile for why no string work may
# ride the 32x explode.
_PERM_COIN_SPARK = (
    "CAST((CASE WHEN b % 2 = 0"
    " THEN element_at(cs, CAST(b div 2 AS INT) + 1) div 65536"
    " ELSE element_at(cs, CAST(b div 2 AS INT) + 1) END) % 2 AS INT)"
)
_PERM_COIN_DUCK = (
    "CAST('0x' || substr(ds[r.b // 8 + 1], (r.b % 8) * 4 + 1, 4) AS INT) % 2"
)


@register(
    "permutation_test_mean_diff",
    oracle=f"""
WITH reps AS (SELECT unnest(range(0, {PERM_REPS})) AS b),
base AS (
    SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
           CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) AS INT) % 2 AS grp,
           list_transform(range(0, {PERM_REPS // 8}),
               i -> md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(i AS VARCHAR))) AS ds
    FROM orders
), obs AS (
    SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN grp = 1 THEN x END) AS DOUBLE)
               / SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
           - CAST(SUM(CASE WHEN grp = 0 THEN x END) AS DOUBLE)
               / SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS obs_diff
    FROM base
), w AS (
    SELECT r.b, {_PERM_COIN_DUCK} AS coin, x
    FROM base, reps r
), per AS (
    SELECT b,
           CAST(SUM(CASE WHEN coin = 1 THEN x END) AS DOUBLE) / SUM(coin)
           - CAST(SUM(CASE WHEN coin = 0 THEN x END) AS DOUBLE)
               / (COUNT(*) - SUM(coin)) AS diff_b
    FROM w GROUP BY b
)
SELECT CAST({PERM_REPS} AS INT) AS n_reps,
       (SELECT n_a FROM obs) AS n_a,
       (SELECT n_b FROM obs) AS n_b,
       ROUND((SELECT obs_diff FROM obs), 6) AS obs_diff,
       ROUND((1.0 + SUM(CASE WHEN ABS(diff_b) >= ABS((SELECT obs_diff FROM obs))
                             THEN 1 ELSE 0 END)) / ({PERM_REPS} + 1.0), 6) AS p_value
FROM per
""",
    tags=("analytics", "stats", "ab-test", "sampling"),
)
def permutation_test_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization (permutation) test for the difference
    in mean order value between the md5-parity order cohorts — the
    assumption-free significance readout for the A/A harness
    ``two_proportion_ab_test`` set up: under a healthy pipeline the
    observed split is just one more random relabeling, so the p-value
    is uniform.

    The {R} relabelings are DETERMINISTIC md5 coins replayed
    identically by both engines, hoisted to the order grain before the
    replicate explode ({R}//8 digests carry eight 16-bit coins each —
    ``poisson_bootstrap_ci``'s discipline); each replicate's mean
    difference is two exact decimal sums and two divisions, so all
    {R} diffs are bit-identical doubles and the ≥-count cannot drift.
    p uses the add-one permutation estimator (Phipson–Smyth)."""
    o = load_table(spark, sf_dir, "orders")
    from .helpers import md5_bucket

    n_dig = PERM_REPS // 8
    base = o.select(
        money("o_totalprice").alias("x"),
        md5_bucket("o_orderkey", 2).alias("grp"),
    )
    obs = base.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        (
            F.sum(F.when(F.col("grp") == 1, F.col("x"))).cast("double")
            / F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            - F.sum(F.when(F.col("grp") == 0, F.col("x"))).cast("double")
            / F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        ).alias("obs_diff"),
    )
    # All string work (16 codegen'd 8-hex convs/order — lambda
    # transform() runs interpreted) at the order grain behind a
    # pre-explode hash repartition; see poisson_bootstrap_ci.
    chunk_convs = ", ".join(
        f"CAST(conv(substr(md5(CAST(o_orderkey AS STRING) || ':{j}'), "
        f"{q * 8 + 1}, 8), 16, 10) AS BIGINT)"
        for j in range(n_dig)
        for q in range(4)
    )
    # Explicit width: a column-only repartition is AQE-coalesced back
    # to one partition on this few-MB grain (see poisson_bootstrap_ci).
    wbase = o.repartition(
        spark.sparkContext.defaultParallelism, "o_orderkey"
    ).select(
        money("o_totalprice").alias("x"),
        F.expr(f"array({chunk_convs})").alias("cs"),
    )
    w = wbase.select(
        "x",
        "cs",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_REPS - 1))).alias("b"),
    ).select("b", "x", F.expr(_PERM_COIN_SPARK).alias("coin"))
    per = w.groupBy("b").agg(
        (
            F.sum(F.when(F.col("coin") == 1, F.col("x"))).cast("double")
            / F.sum("coin")
            - F.sum(F.when(F.col("coin") == 0, F.col("x"))).cast("double")
            / (F.count(F.lit(1)) - F.sum("coin"))
        ).alias("diff_b")
    )
    return per.crossJoin(F.broadcast(obs)).agg(
        F.lit(PERM_REPS).cast("int").alias("n_reps"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.round(F.max("obs_diff"), 6).alias("obs_diff"),
        F.round(
            (
                1.0
                + F.sum(
                    F.when(
                        F.abs(F.col("diff_b")) >= F.abs(F.col("obs_diff")), 1
                    ).otherwise(0)
                )
            )
            / (PERM_REPS + 1.0),
            6,
        ).alias("p_value"),
    )


permutation_test_mean_diff.__doc__ = permutation_test_mean_diff.__doc__.replace(
    "{R}", str(PERM_REPS)
)


# --- HHI concentration --------------------------------------------------------


@register(
    "hhi_source_concentration",
    oracle="""
WITH c AS (
    SELECT source, CAST(SUM(n_chars) AS BIGINT) AS ch
    FROM documents GROUP BY source
), s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS ns,
           CAST(SUM(ch) AS BIGINT) AS tot,
           CAST(SUM(CAST(ch AS DECIMAL(38,0)) * ch) AS DOUBLE) AS num,
           CAST(MAX(ch) AS DOUBLE) AS mx
    FROM c
)
SELECT ns AS n_sources,
       tot AS total_chars,
       ROUND(num / (CAST(tot AS DOUBLE) * tot), 6) AS hhi,
       ROUND(CAST(tot AS DOUBLE) * tot / num, 6) AS effective_sources,
       ROUND(mx / tot, 6) AS top_share
FROM s
""",
    tags=("text", "analytics", "concentration"),
)
def hhi_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of corpus characters across
    sources, with the effective source count (1/HHI) and the single
    largest source's share — the one-number "is this corpus really
    diverse?" gauge next to ``gini_concentration_by_source``'s full
    Lorenz treatment (HHI is what mixture-rebalancing jobs threshold
    on).

    Two map-side-combinable aggregates: per-source char totals (exact
    BIGINT), then Σ share² computed as Σ ch² / (Σ ch)² with the
    numerator lifted to DECIMAL(38,0) — exact integers until three
    final divisions, round(6)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("ch"))
    s = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("ch").cast("bigint").alias("tot"),
        F.sum(F.col("ch").cast("decimal(38,0)") * F.col("ch"))
        .cast("double")
        .alias("num"),
        F.max("ch").cast("double").alias("mx"),
    )
    tot_d = F.col("tot").cast("double")
    return s.select(
        F.col("ns").alias("n_sources"),
        F.col("tot").alias("total_chars"),
        F.round(F.col("num") / (tot_d * tot_d), 6).alias("hhi"),
        F.round(tot_d * tot_d / F.col("num"), 6).alias("effective_sources"),
        F.round(F.col("mx") / tot_d, 6).alias("top_share"),
    )


# --- t-closeness --------------------------------------------------------------

T_CLOSENESS_T = 0.2  # release threshold on the EMD (standard textbook default)
T_CLOSE_BUCKETS = 10


@register(
    "t_closeness_audit",
    oracle=f"""
WITH b AS (
    SELECT list_transform(
               quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE),
                             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
               x -> CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS bs
    FROM orders
), assigned AS (
    SELECT o_orderpriority,
           CAST({T_CLOSE_BUCKETS} - len(list_filter(b.bs,
               x -> CAST(o_totalprice AS DECIMAL(18,2)) > x)) AS INT) AS dec
    FROM orders, b
), grid AS (
    SELECT p.o_orderpriority, d.dec
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
         (SELECT unnest(range(1, {T_CLOSE_BUCKETS + 1})) AS dec) d
), cnt AS (
    SELECT o_orderpriority, dec, CAST(COUNT(*) AS BIGINT) AS n_gd
    FROM assigned GROUP BY 1, 2
), cells AS (
    SELECT g.o_orderpriority, g.dec, COALESCE(c.n_gd, 0) AS n_gd
    FROM grid g LEFT JOIN cnt c
      ON c.o_orderpriority = g.o_orderpriority AND c.dec = g.dec
), cum AS (
    SELECT o_orderpriority, dec, n_gd,
           SUM(n_gd) OVER (PARTITION BY o_orderpriority ORDER BY dec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_gd,
           SUM(n_gd) OVER (PARTITION BY o_orderpriority) AS n_g
    FROM cells
), gdec AS (
    SELECT dec, SUM(n_gd) AS nd FROM cells GROUP BY dec
), gcum AS (
    SELECT dec, SUM(nd) OVER (ORDER BY dec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d
    FROM gdec
), tot AS (SELECT CAST(SUM(n_gd) AS BIGINT) AS n FROM cells)
SELECT c.o_orderpriority,
       CAST(MAX(c.n_g) AS BIGINT) AS n_orders,
       ROUND(SUM(ABS(CAST(c.cum_gd AS DECIMAL(38,0)) * tot.n
                     - CAST(g.cum_d AS DECIMAL(38,0)) * c.n_g))
             / (CAST(MAX(c.n_g) AS DOUBLE) * MAX(tot.n)
                * ({T_CLOSE_BUCKETS} - 1)), 6) AS emd,
       CAST(CASE WHEN ROUND(SUM(ABS(CAST(c.cum_gd AS DECIMAL(38,0)) * tot.n
                     - CAST(g.cum_d AS DECIMAL(38,0)) * c.n_g))
             / (CAST(MAX(c.n_g) AS DOUBLE) * MAX(tot.n)
                * ({T_CLOSE_BUCKETS} - 1)), 6) <= {T_CLOSENESS_T}
            THEN 1 ELSE 0 END AS INT) AS within_t
FROM cum c JOIN gcum g USING (dec), tot
GROUP BY c.o_orderpriority
""",
    tags=("governance", "privacy", "analytics"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) of order price against the
    quasi-identifier ``o_orderpriority``: per priority group, the Earth
    Mover's Distance between the group's price-decile distribution and
    the global one, flagged against t = {T} — the ordered-attribute
    privacy gate that k-anonymity (``k_anonymity_audit``) and
    l-diversity (``l_diversity_audit``) cannot express (a group can be
    k-anonymous and l-diverse yet leak "this group skews expensive").

    Deciles come from the broadcast-quantile-boundary recipe
    (``assign_spend_deciles``' bounds-before-compare discipline, decile
    1 = most expensive); the EMD over an ordered discrete domain with
    unit spacing is Σ|cumdiff| / (k−1), computed CROSS-MULTIPLIED —
    |cum_gd·N − cum_d·n_g| in DECIMAL(38,0), exact integers — with one
    double division per group, round(6) BEFORE the threshold compare.
    All windows run over the |groups|×{K} grid."""
    o = load_table(spark, sf_dir, "orders")
    p = money("o_totalprice")
    bounds = o.agg(
        F.expr(
            "transform(percentile(cast(cast(o_totalprice as decimal(18,2)) "
            "as double), array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), "
            "x -> cast(round(x, 6) as decimal(18,6)))"
        ).alias("bs")
    )
    assigned = o.crossJoin(F.broadcast(bounds)).select(
        "o_orderpriority",
        (
            T_CLOSE_BUCKETS
            - F.expr(
                "size(filter(bs, x -> cast(o_totalprice as decimal(18,2)) > x))"
            )
        )
        .cast("int")
        .alias("dec"),
    )
    cnt = assigned.groupBy("o_orderpriority", "dec").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gd")
    )
    groups = o.select("o_orderpriority").distinct()
    spine = F.explode(
        F.sequence(F.lit(1), F.lit(T_CLOSE_BUCKETS))
    ).alias("dec")
    grid = groups.select("o_orderpriority", spine)
    cells = grid.join(cnt, ["o_orderpriority", "dec"], "left").select(
        "o_orderpriority",
        "dec",
        F.coalesce(F.col("n_gd"), F.lit(0)).alias("n_gd"),
    )
    wg = (
        Window.partitionBy("o_orderpriority")
        .orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("o_orderpriority")
    cum = cells.select(
        "o_orderpriority",
        "dec",
        F.sum("n_gd").over(wg).alias("cum_gd"),
        F.sum("n_gd").over(wn).alias("n_g"),
    )
    glob = cells.groupBy("dec").agg(F.sum("n_gd").alias("nd"))
    wd = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    gcum = glob.select("dec", F.sum("nd").over(wd).alias("cum_d"))
    tot = cells.agg(F.sum("n_gd").cast("bigint").alias("n"))
    emd_raw = F.round(
        F.sum(
            F.abs(
                F.col("cum_gd").cast("decimal(38,0)") * F.col("n")
                - F.col("cum_d").cast("decimal(38,0)") * F.col("n_g")
            )
        )
        / (
            F.max("n_g").cast("double")
            * F.max("n")
            * (T_CLOSE_BUCKETS - 1)
        ),
        6,
    )
    return (
        cum.join(F.broadcast(gcum), "dec")
        .crossJoin(F.broadcast(tot))
        .groupBy("o_orderpriority")
        .agg(
            F.max("n_g").cast("bigint").alias("n_orders"),
            emd_raw.alias("emd"),
            F.when(emd_raw <= T_CLOSENESS_T, 1)
            .otherwise(0)
            .cast("int")
            .alias("within_t"),
        )
    )


t_closeness_audit.__doc__ = t_closeness_audit.__doc__.replace(
    "{T}", str(T_CLOSENESS_T)
).replace("{K}", str(T_CLOSE_BUCKETS))


# --- empirical-Bayes shrinkage ------------------------------------------------

EB_MIN_N = 10  # parts with fewer lineitems don't estimate a rate at all
EB_TOPK = 15
# Method-of-moments beta prior over FLOOR-quantized per-part rates
# (r6 = k*1e6 div n, exact integer on both engines): m and v from the
# exact integer sums (p parts, sr = SUM r6, sq = SUM r6^2), then
# alpha + beta = m(1-m)/v - 1.  ONE formula text on both engines.
# Degenerate-input guard (ADVICE r12): the MoM expression divides by
# the rate variance v and goes non-positive when v > m(1-m), so
# alpha+beta clamps to a weak unit prior (total pseudo-count 1.0) when
# v = 0 (all per-part rates equal — no shrinkage signal at all) or the
# raw expression is <= 0 (over-dispersed beyond the beta family).  The
# v<=0 branch is checked FIRST so neither engine ever evaluates the
# division against a zero variance.
_EB_M = "(sr / (p * 1000000.0))"
_EB_V = (
    "((sq / 1000000000000.0 - (sr / 1000000.0) * (sr / 1000000.0) / p)"
    " / (p - 1.0))"
)
_EB_AB_RAW = f"({_EB_M} * (1.0 - {_EB_M}) / {_EB_V} - 1.0)"
_EB_AB = (
    f"(CASE WHEN {_EB_V} <= 0.0 THEN 1.0"
    f" WHEN {_EB_AB_RAW} <= 0.0 THEN 1.0"
    f" ELSE {_EB_AB_RAW} END)"
)
_EB_AL = f"({_EB_M} * {_EB_AB})"


@register(
    "eb_shrunk_part_rates",
    oracle=f"""
WITH g AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
    FROM lineitem GROUP BY 1 HAVING COUNT(*) >= {EB_MIN_N}
), q AS (
    SELECT l_partkey, n, k, (k * 1000000) // n AS r6 FROM g
), mo AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS p,
           CAST(SUM(r6) AS DOUBLE) AS sr,
           CAST(SUM(CAST(r6 AS DECIMAL(38,0)) * r6) AS DOUBLE) AS sq
    FROM q
)
SELECT l_partkey,
       n AS n_lineitems,
       k AS k_returns,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
       ROUND((k + {_EB_AL}) / (n + {_EB_AB}), 6) AS shrunk_rate
FROM q, mo
ORDER BY (k + {_EB_AL}) / (n + {_EB_AB}) DESC, l_partkey
LIMIT {EB_TOPK}
""",
    tags=("analytics", "stats", "ml-eval"),
)
def eb_shrunk_part_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-part return rates
    (top {K} parts by shrunken rate) — the "worst offenders" ranking
    done right: raw rates over-rank small-n parts (3/10 beats 25/100),
    so every part's rate shrinks toward the corpus prior in proportion
    to its evidence, the standard method-of-moments EB recipe.

    Determinism across engines: per-part rates quantize to the exact
    integer grid r6 = k·10⁶ div n (integer floor division — n is
    bounded per part, so no decimal-rounding boundary exists), the
    prior moments are exact integer sums cast to double once, and
    alpha/beta/shrunken rates come from ONE shared formula text — so
    the ranking doubles are bit-identical and the top-{K} set cannot
    drift.  Degenerate corpora (zero rate variance, or variance beyond
    the beta family's reach) clamp alpha+beta to a weak unit prior
    instead of dividing by zero — see the ``_EB_AB`` comment (ADVICE
    r12).  The ranking itself is one TakeOrderedAndProject over the
    part grain; at 100 TB the part grain is the bounded dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("k"),
        )
        .where(F.col("n") >= EB_MIN_N)
    )
    q = g.select(
        "l_partkey",
        "n",
        "k",
        F.expr("(k * CAST(1000000 AS BIGINT)) div n").alias("r6"),
    )
    mo = q.agg(
        F.count(F.lit(1)).cast("double").alias("p"),
        F.sum("r6").cast("double").alias("sr"),
        F.sum(F.col("r6").cast("decimal(38,0)") * F.col("r6"))
        .cast("double")
        .alias("sq"),
    )
    shrunk = F.expr(f"(k + {_EB_AL}) / (n + {_EB_AB})")
    return (
        q.crossJoin(F.broadcast(mo))
        .orderBy(shrunk.desc(), "l_partkey")
        .limit(EB_TOPK)
        .select(
            "l_partkey",
            F.col("n").alias("n_lineitems"),
            F.col("k").alias("k_returns"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
            F.round(shrunk, 6).alias("shrunk_rate"),
        )
    )


eb_shrunk_part_rates.__doc__ = eb_shrunk_part_rates.__doc__.replace(
    "{K}", str(EB_TOPK)
)


# --- Page–Hinkley drift -------------------------------------------------------

PH_DELTA = 0.5  # tolerated per-day drift in the daily mean (dollars)
PH_LAMBDA = 20.0  # alarm threshold on the PH statistic


def _ph_daily_frames(spark: SparkSession, sf_dir: str):
    """(daily, base): the exact per-(type, day) mean frame and the
    per-type reference mean — ONE definition shared by the batch
    detector and the streaming twin's feed builder, so the doubles the
    stream consumes are bit-identical to the batch scan's."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    daily = e.groupBy("event_type", day.alias("day")).agg(
        (F.sum(money("value")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    base = e.groupBy("event_type").agg(
        (F.sum(money("value")).cast("double") / F.count(F.lit(1))).alias("mu")
    )
    return daily, base


def ph_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, rn, day, m, mu): the day-ordered per-type daily-mean
    series with the pinned reference mean — the feed contract of
    ``streaming.cdc.page_hinkley_stream`` (rn is the per-type day
    ordinal, the stream's ordering key)."""
    daily, base = _ph_daily_frames(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        daily.join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            F.row_number().over(w).cast("int").alias("rn"),
            F.col("day").cast("string").alias("day"),
            "m",
            "mu",
        )
    )


@register(
    "page_hinkley_by_type",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m
    FROM events GROUP BY event_type, CAST(ts AS DATE)
), base AS (
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu
    FROM events GROUP BY event_type
), r AS (
    SELECT d.event_type, d.day,
           SUM(d.m - b.mu - {PH_DELTA}) OVER (PARTITION BY d.event_type
               ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM daily d JOIN base b USING (event_type)
), ph AS (
    SELECT event_type, day,
           ROUND(run - MIN(run) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + 0.000000001, 6) AS ph
    FROM r
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(MAX(ph), 6) AS peak_ph,
       CAST(MIN(CASE WHEN ph > {PH_LAMBDA} THEN day END) AS VARCHAR)
           AS first_alarm_day,
       CAST(MAX(CASE WHEN ph > {PH_LAMBDA} THEN 1 ELSE 0 END) AS INT) AS alarmed
FROM ph GROUP BY event_type
""",
    tags=("analytics", "monitoring", "drift"),
)
def page_hinkley_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector per event type (Page 1954, the
    sequential form): running sum of daily-mean deviations beyond a
    tolerated drift δ, minus its running minimum — the one-sided
    change detector that ALARMS (PH > λ) instead of just charting the
    excursion like ``cusum_drift_by_type``; reports the first alarm
    day per type.

    Same determinism story as CUSUM: exact-decimal daily/global means,
    the running sum and running min accumulate identical doubles in
    day order, PH rounds to 6 BEFORE the λ compare (bounds-before-
    compare), and the windows run over the bounded per-type day grain.
    The round(6) applies the repo's +1e-9 half-way-tie nudge on ALL
    THREE sides (this Spark scan, the DuckDB oracle above, and the
    streaming twin's Python round in ``streaming/cdc.py``) so a double
    landing exactly on the 1e-6 grid midpoint cannot split half-up vs
    banker's rounding across engines (ADVICE r12)."""
    daily, base = _ph_daily_frames(spark, sf_dir)
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = daily.join(F.broadcast(base), "event_type").withColumn(
        "run", F.sum(F.col("m") - F.col("mu") - PH_DELTA).over(w_run)
    )
    ph = r.select(
        "event_type",
        "day",
        F.round(F.col("run") - F.min("run").over(w_run) + 1e-9, 6).alias("ph"),
    )
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("ph"), 6).alias("peak_ph"),
        F.min(F.when(F.col("ph") > PH_LAMBDA, F.col("day")))
        .cast("string")
        .alias("first_alarm_day"),
        F.max(F.when(F.col("ph") > PH_LAMBDA, 1).otherwise(0))
        .cast("int")
        .alias("alarmed"),
    )


# --- Mood's median test --------------------------------------------------------


@register(
    "mood_median_event_types",
    oracle="""
WITH v AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), med AS (
    SELECT quantile_cont(CAST(c AS DOUBLE), 0.5) AS m FROM v
), g AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN c > med.m THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN c > med.m THEN 0 ELSE 1 END) AS BIGINT) AS b
    FROM v, med GROUP BY event_type
), tot AS (
    SELECT CAST(SUM(a) AS DOUBLE) AS ta, CAST(SUM(b) AS DOUBLE) AS tb,
           CAST(SUM(a + b) AS DOUBLE) AS n,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM g
), terms AS (
    SELECT (g.a - (g.a + g.b) * tot.ta / tot.n)
           * (g.a - (g.a + g.b) * tot.ta / tot.n)
           / ((g.a + g.b) * tot.ta / tot.n)
         + (g.b - (g.a + g.b) * tot.tb / tot.n)
           * (g.b - (g.a + g.b) * tot.tb / tot.n)
           / ((g.a + g.b) * tot.tb / tot.n) AS t
    FROM g, tot
)
SELECT (SELECT k FROM tot) AS k_types,
       (SELECT CAST(n AS BIGINT) FROM tot) AS n_events,
       (SELECT CAST(ta AS BIGINT) FROM tot) AS n_above,
       (SELECT k - 1 FROM tot) AS dof,
       ROUND(SUM(t), 6) AS chi2
FROM terms
""",
    tags=("analytics", "stats", "robust"),
)
def mood_median_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: does any type's value
    distribution sit above/below the grand median? — the k-group
    nonparametric companion to ``anova_f_event_types`` (no moments, no
    normality) and the k-group generalization of the two-sample
    Mann–Whitney already served.

    The grand median is ONE exact percentile over integer cents (the
    accepted exact-oracle convention; at most a half-integer, so the
    c > m comparison is exact), the k×2 contingency table is exact
    integers, and the chi-square terms follow the chi_square_type_hour
    convention (identical operand order, round(6) on the final sum)."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", (money("value") * 100).cast("bigint").alias("c")
    )
    med = v.agg(F.expr("percentile(CAST(c AS DOUBLE), 0.5)").alias("m"))
    g = (
        v.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("c") > F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(F.col("c") > F.col("m"), 0).otherwise(1))
            .cast("bigint")
            .alias("b"),
        )
    )
    tot = g.agg(
        F.sum("a").cast("double").alias("ta"),
        F.sum("b").cast("double").alias("tb"),
        F.sum(F.col("a") + F.col("b")).cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ea = (F.col("a") + F.col("b")) * F.col("ta") / F.col("n")
    eb = (F.col("a") + F.col("b")) * F.col("tb") / F.col("n")
    terms = g.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("a") - ea) * (F.col("a") - ea) / ea
            + (F.col("b") - eb) * (F.col("b") - eb) / eb
        ).alias("t"),
        "k",
        "n",
        "ta",
    )
    return terms.agg(
        F.max("k").alias("k_types"),
        F.max("n").cast("bigint").alias("n_events"),
        F.max("ta").cast("bigint").alias("n_above"),
        (F.max("k") - 1).cast("bigint").alias("dof"),
        F.round(F.sum("t"), 6).alias("chi2"),
    )


# --- Brown–Forsythe variance homogeneity ---------------------------------------


@register(
    "brown_forsythe_event_types",
    oracle=f"""
WITH v AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
), med AS (
    SELECT event_type,
           CAST(quantile_cont(CAST(c AS DOUBLE), 0.5) * 2 AS BIGINT) AS m2
    FROM v GROUP BY event_type
), z AS (
    SELECT v.event_type, ABS(2 * v.c - med.m2) AS z2
    FROM v JOIN med USING (event_type)
), g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(z2) AS DECIMAL(38,0)) AS s_g,
           SUM(CAST(z2 AS DECIMAL(38,0)) * z2) AS q_g
    FROM z GROUP BY event_type
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk,
           CAST(SUM(n_g) AS DOUBLE) AS nn,
           SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g) AS aa,
           CAST(SUM(s_g) AS DOUBLE) AS ss,
           CAST(SUM(q_g) AS DOUBLE) AS qq
    FROM g
)
SELECT CAST(kk AS INT) AS k_types,
       CAST(nn AS BIGINT) AS n_events,
       ROUND(({_ANOVA_SSB} / (kk - 1.0)) / ({_ANOVA_SSW} / (nn - kk)), 6) AS f_bf
FROM m
""",
    tags=("analytics", "stats", "robust"),
)
def brown_forsythe_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across event types —
    ANOVA's prerequisite check, done the robust way: a one-way ANOVA on
    |x − median_g| (the median-centered Levene variant that survives
    heavy tails).  Together with ``anova_f_event_types`` this is the
    textbook two-step an analyst actually runs.

    Exactness: per-type medians are exact percentiles over integer
    cents, so 2·median is an exact integer and z2 = |2c − m2| is an
    exact BIGINT per row; the ANOVA moment formula then reuses the
    ``anova_f_event_types`` shared texts on decimal-lifted sums (units
    cancel in F).  The only engine-ordered float sum is the k-term
    Σ s_g²/n_g (chi-square convention), round(6) on F."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", (money("value") * 100).cast("bigint").alias("c")
    )
    med = v.groupBy("event_type").agg(
        (F.expr("percentile(CAST(c AS DOUBLE), 0.5)") * 2)
        .cast("bigint")
        .alias("m2")
    )
    z = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("c") - F.col("m2")).alias("z2")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z2").cast("decimal(38,0)").alias("s_g"),
        F.sum(F.col("z2").cast("decimal(38,0)") * F.col("z2")).alias("q_g"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum("n_g").cast("double").alias("nn"),
        F.sum(
            F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g")
        ).alias("aa"),
        F.sum("s_g").cast("double").alias("ss"),
        F.sum("q_g").cast("double").alias("qq"),
    )
    return m.selectExpr(
        "CAST(kk AS INT) AS k_types",
        "CAST(nn AS BIGINT) AS n_events",
        f"ROUND(({_ANOVA_SSB} / (kk - 1.0)) / ({_ANOVA_SSW} / (nn - kk)), 6) AS f_bf",
    )


# --- partial autocorrelation (Durbin–Levinson) ---------------------------------

from .analytics import (  # noqa: E402 — ONE definition each
    ACF_MAX_LAG,
    ACF_ORACLE_CTES,
    SESSION_GAP_SECONDS,
    acf_monthly_frames,
    session_transition_counts,
)


def _dl_stages() -> list[list[str]]:
    """Durbin–Levinson unrolled to ACF_MAX_LAG as chained column-text
    stages over the rounded ACF inputs r1..rK — the generated-shared-
    formula-text discipline (``markov_removal_attribution``'s Leibniz
    texts): both engines evaluate the IDENTICAL float op sequence.

    Stage pair per order k: first compute the reflection coefficient
    phi_k_k from level k-1, then update phi_k_j (j<k).  Every stage
    carries r1..rK and ALL phi levels computed so far (the full
    triangle is O(K²) columns — trivially bounded)."""
    stages: list[list[str]] = []
    carried = [f"r{j}" for j in range(1, ACF_MAX_LAG + 1)] + ["phi_1_1"]
    stages.append(
        [f"r{j}" for j in range(1, ACF_MAX_LAG + 1)] + ["(r1) AS phi_1_1"]
    )
    for k in range(2, ACF_MAX_LAG + 1):
        num = f"r{k} " + " ".join(f"- phi_{k-1}_{j} * r{k-j}" for j in range(1, k))
        den = "1.0 " + " ".join(f"- phi_{k-1}_{j} * r{j}" for j in range(1, k))
        stages.append(carried + [f"(({num}) / ({den})) AS phi_{k}_{k}"])
        carried = carried + [f"phi_{k}_{k}"]
        stages.append(
            carried
            + [
                f"(phi_{k-1}_{j} - phi_{k}_{k} * phi_{k-1}_{k-j}) AS phi_{k}_{j}"
                for j in range(1, k)
            ]
        )
        carried = carried + [f"phi_{k}_{j}" for j in range(1, k)]
    return stages


def _pacf_oracle_sql() -> str:
    piv = ", ".join(
        f"MAX(CASE WHEN lag = {k} THEN r END) AS r{k}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    ctes = []
    prev = "piv"
    for i, stage in enumerate(_dl_stages()):
        name = f"dl{i}"
        ctes.append(f"{name} AS (SELECT {', '.join(stage)} FROM {prev})")
        prev = name
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS lag, r{k} AS acf,"
        f" ROUND(phi_{k}_{k}, 6) AS pacf FROM {prev}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH {ACF_ORACLE_CTES},
piv AS (
    SELECT {piv} FROM per_lag
),
{", ".join(ctes)}
{rows}
"""


@register(
    "pacf_monthly_revenue",
    oracle=_pacf_oracle_sql(),
    tags=("analytics", "timeseries", "stats"),
)
def pacf_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of monthly order revenue to lag {K} via
    the Durbin–Levinson recursion — the AR-order picker read next to
    ``acf_monthly_revenue``'s raw correlogram (ACF says "there is
    memory", PACF says "how many AR terms"), over the SAME per-lag
    Pearson autocorrelation estimates.

    The rhos round to 6 BEFORE entering the recursion on both engines,
    so Durbin–Levinson consumes identical doubles; the recursion itself
    is machine-generated chained formula text evaluated identically by
    both engines (the ``markov_removal_attribution`` discipline), over
    ONE bounded row.  The per-lag rhos come from the ONE shared
    machinery ``analytics.acf_monthly_frames`` / ``ACF_ORACLE_CTES``
    (ADVICE r12 — formerly a thrice-copied block); the only data-sized
    pass is its DECIMAL-exact month aggregate."""
    _, per_lag = acf_monthly_frames(spark, sf_dir)
    cur = per_lag.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ]
    )
    for stage in _dl_stages():
        cur = cur.selectExpr(*stage)
    stack_args = ", ".join(
        f"{k}, r{k}, ROUND(phi_{k}_{k}, 6)" for k in range(1, ACF_MAX_LAG + 1)
    )
    return cur.selectExpr(
        f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, acf, pacf)"
    ).select(F.col("lag").cast("int").alias("lag"), "acf", "pacf")


pacf_monthly_revenue.__doc__ = pacf_monthly_revenue.__doc__.replace(
    "{K}", str(ACF_MAX_LAG)
)


# --- McNemar's paired test ------------------------------------------------------


@register(
    "mcnemar_halves_test",
    oracle="""
WITH bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0,
           CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                          MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS span
    FROM events
), conv AS (
    SELECT user_id,
           MAX(CASE WHEN date_diff('day', bounds.d0, CAST(ts AS DATE)) * 2
                         < bounds.span THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN date_diff('day', bounds.d0, CAST(ts AS DATE)) * 2
                         >= bounds.span THEN 1 ELSE 0 END) AS in_b
    FROM events, bounds
    WHERE event_type = 'purchase'
    GROUP BY user_id
), cells AS (
    SELECT CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_only,
           CAST(SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second_only
    FROM conv
)
SELECT n_both, n_first_only, n_second_only,
       CASE WHEN n_first_only + n_second_only = 0 THEN NULL
            ELSE ROUND((ABS(CAST(n_first_only - n_second_only AS DOUBLE)) - 1.0)
                 * (ABS(CAST(n_first_only - n_second_only AS DOUBLE)) - 1.0)
                 / (n_first_only + n_second_only), 6) END AS mcnemar_chi2
FROM cells
""",
    tags=("analytics", "stats", "ab-test"),
)
def mcnemar_halves_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) on paired per-user
    conversion between the first and second half of the observation
    window — "did the set of converting users CHANGE?", the paired
    companion to the independent-cohort ``two_proportion_ab_test``
    (pairing on user removes the between-user variance that test eats).

    The half boundary derives from the data's own day span with exact
    integer arithmetic (day_offset·2 < span), per-user presence flags
    are one MAX-aggregate, the 2×2 discordant cells are exact BIGINTs,
    and the statistic is one shared-formula double, round(6)."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    bounds = e.agg(
        F.min(day).alias("d0"),
        (F.datediff(F.max(day), F.min(day)) + 1).cast("bigint").alias("span"),
    )
    off2 = F.datediff(day, F.col("d0")) * 2
    conv = (
        e.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(F.when(off2 < F.col("span"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(off2 >= F.col("span"), 1).otherwise(0)).alias("in_b"),
        )
    )
    cells = conv.agg(
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_only"),
        F.sum(F.when((F.col("in_a") == 0) & (F.col("in_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_second_only"),
    )
    d = (F.col("n_first_only") - F.col("n_second_only")).cast("double")
    disc = F.col("n_first_only") + F.col("n_second_only")
    return cells.select(
        "n_both",
        "n_first_only",
        "n_second_only",
        F.when(
            disc != 0,
            F.round((F.abs(d) - 1.0) * (F.abs(d) - 1.0) / disc, 6),
        ).alias("mcnemar_chi2"),
    )


# --- Cochran–Armitage trend test -------------------------------------------------

# Shared formula texts over the exact sums (nt = N, kt = K, s1 = Σn_i·t_i,
# s2 = Σn_i·t_i², st = Σt_i·k_i); pbar = K/N.
_CA_T = "(st - s1 * kt / nt)"
_CA_VAR = "((kt / nt) * (1.0 - kt / nt) * (s2 - s1 * s1 / nt))"


@register(
    "cochran_armitage_trend",
    oracle=f"""
WITH spend AS (
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
    FROM orders GROUP BY o_custkey
), b AS (
    SELECT list_transform(
               quantile_cont(CAST(s AS DOUBLE),
                             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
               x -> CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS bs
    FROM spend
), ranked AS (
    SELECT o_custkey,
           CAST(10 - len(list_filter(b.bs, x -> s > x)) AS INT) AS decile
    FROM spend, b
), conv AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
), g AS (
    SELECT r.decile AS t,
           CAST(COUNT(*) AS BIGINT) AS n_i,
           CAST(SUM(CASE WHEN c.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_i
    FROM ranked r LEFT JOIN conv c ON c.o_custkey = r.o_custkey
    GROUP BY r.decile
), s AS (
    SELECT CAST(SUM(n_i) AS DOUBLE) AS nt,
           CAST(SUM(k_i) AS DOUBLE) AS kt,
           CAST(SUM(n_i * t) AS DOUBLE) AS s1,
           CAST(SUM(n_i * t * t) AS DOUBLE) AS s2,
           CAST(SUM(CAST(t AS BIGINT) * k_i) AS DOUBLE) AS st
    FROM g
)
SELECT CAST(nt AS BIGINT) AS n_customers,
       CAST(kt AS BIGINT) AS k_converted,
       ROUND({_CA_T} / SQRT({_CA_VAR}), 6) AS z_trend
FROM s
""",
    tags=("analytics", "stats", "ab-test", "lift"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for a monotone trend in urgent-order
    conversion across the spend deciles — "do bigger spenders convert
    more, MONOTONICALLY?", the ordered-groups upgrade over the
    unordered chi-square and the significance companion to
    ``customer_decile_lift``'s descriptive table (decile index = the
    CA score, so decile 1 = top spend).

    Deciles come from the SAME broadcast-quantile-boundary assignment
    as the lift table (:func:`assign_spend_deciles` semantics inlined
    per engine); conversion is the key-only DISTINCT/LEFT-JOIN probe of
    the A/B family; all five moments are exact integers cast to double
    once, and T/Var(T) are ONE shared formula text, round(6) on z."""
    from .analytics import assign_spend_deciles

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum(money("o_totalprice")).alias("s"))
    ranked = assign_spend_deciles(spend)
    conv = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    g = (
        ranked.join(conv, "o_custkey", "left")
        .groupBy(F.col("decile").alias("t"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_i"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("k_i"),
        )
    )
    s = g.agg(
        F.sum("n_i").cast("double").alias("nt"),
        F.sum("k_i").cast("double").alias("kt"),
        F.sum(F.col("n_i") * F.col("t")).cast("double").alias("s1"),
        F.sum(F.col("n_i") * F.col("t") * F.col("t")).cast("double").alias("s2"),
        F.sum(F.col("t").cast("bigint") * F.col("k_i")).cast("double").alias("st"),
    )
    return s.selectExpr(
        "CAST(nt AS BIGINT) AS n_customers",
        "CAST(kt AS BIGINT) AS k_converted",
        f"ROUND({_CA_T} / SQRT({_CA_VAR}), 6) AS z_trend",
    )


# --- dispersion (variance-to-mean) index ------------------------------------------


@register(
    "dispersion_index_hourly",
    oracle="""
WITH hrs AS (
    SELECT event_type,
           CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h
    FROM events
), bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs),
counts AS (
    SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n
    FROM hrs GROUP BY event_type, h
), spine AS (
    SELECT unnest(range(h0, h1 + 1)) AS h, h0 FROM bounds
), types AS (SELECT DISTINCT event_type FROM hrs),
grid AS (
    SELECT t.event_type, COALESCE(c.n, 0) AS x
    FROM types t CROSS JOIN spine s
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = s.h
), m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
    FROM grid GROUP BY event_type
)
SELECT event_type, n_hours, sx AS n_events,
       ROUND((sxx - CAST(sx AS DOUBLE) * sx / n_hours) / (n_hours - 1)
             / (CAST(sx AS DOUBLE) / n_hours), 6) AS dispersion_index,
       CAST(CASE WHEN ROUND((sxx - CAST(sx AS DOUBLE) * sx / n_hours)
                            / (n_hours - 1)
                            / (CAST(sx AS DOUBLE) / n_hours), 6) > 1.0
                 THEN 1 ELSE 0 END AS INT) AS overdispersed
FROM m
""",
    tags=("analytics", "stats", "timeseries"),
)
def dispersion_index_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean (Fano) dispersion index of hourly event counts
    per type on the zero-filled hour spine — the one-number Poisson
    check run before trusting any count model or Poisson-based anomaly
    threshold (index ≈ 1: Poisson-like; > 1: bursty/overdispersed, use
    negative binomial).

    Reuses the SHARED hourly spine derivation (``hourly_count_spine``;
    oracle mirrors its CTEs) so zero hours count; sample variance and
    mean come from exact integer moments with one shared expression,
    rounded BEFORE the > 1 flag compare."""
    from .windows import hourly_count_spine

    g = hourly_count_spine(spark, sf_dir)
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("n_events").cast("bigint").alias("sx"),
        F.sum(F.col("n_events").cast("decimal(38,0)") * F.col("n_events"))
        .cast("double")
        .alias("sxx"),
    )
    disp = F.round(
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n_hours"))
        / (F.col("n_hours") - 1)
        / (F.col("sx").cast("double") / F.col("n_hours")),
        6,
    )
    return m.select(
        "event_type",
        "n_hours",
        F.col("sx").alias("n_events"),
        disp.alias("dispersion_index"),
        F.when(disp > 1.0, 1).otherwise(0).cast("int").alias("overdispersed"),
    )


# --- Theil inequality with between/within decomposition ---------------------------

# Shared per-row term texts (x = customer spend in cents as DOUBLE,
# xt/nt = corpus totals, xg/ng = the customer's nation totals).  The
# per-row ln terms FLOOR-quantize to the 1e-9 grid so the data-sized
# sums are exact integers (the silhouette/centroid-drift convention:
# quantize deterministic doubles, sum exactly; grid-boundary ulps are
# absorbed by the final round(6)).
_THEIL_Q = 1_000_000_000
_THEIL_TOT_TERM = f"CAST(FLOOR((x / xt) * LN(x * nt / xt) * {_THEIL_Q}) AS BIGINT)"
_THEIL_WIT_TERM = f"CAST(FLOOR((x / xt) * LN(x * ng / xg) * {_THEIL_Q}) AS BIGINT)"
_THEIL_BET_TERM = "(xg / xt) * LN((xg / xt) * (nt / ng))"


@register(
    "theil_inequality_by_nation",
    oracle=f"""
WITH spend AS (
    SELECT o.o_custkey,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                AS DOUBLE) AS x,
           MAX(c.c_nationkey) AS nation
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey
), g AS (
    SELECT nation, CAST(COUNT(*) AS DOUBLE) AS ng, CAST(SUM(x) AS DOUBLE) AS xg
    FROM spend GROUP BY nation
), tot AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS nt, CAST(SUM(x) AS DOUBLE) AS xt
    FROM spend
), rowterms AS (
    SELECT {_THEIL_TOT_TERM} AS t_tot,
           {_THEIL_WIT_TERM} AS t_wit
    FROM spend JOIN g USING (nation), tot
), bet AS (
    SELECT ROUND(SUM({_THEIL_BET_TERM}), 6) AS theil_between
    FROM g, tot
)
SELECT (SELECT CAST(nt AS BIGINT) FROM tot) AS n_customers,
       ROUND(CAST(SUM(t_tot) AS DOUBLE) / {_THEIL_Q}, 6) AS theil_total,
       (SELECT theil_between FROM bet) AS theil_between,
       ROUND(CAST(SUM(t_wit) AS DOUBLE) / {_THEIL_Q}, 6) AS theil_within
FROM rowterms
""",
    tags=("analytics", "stats", "concentration"),
)
def theil_inequality_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend with its exact
    between-/within-nation decomposition (T = T_B + T_W) — the
    inequality measure that, unlike Gini, DECOMPOSES additively, so it
    answers "is spend inequality a between-market or within-market
    phenomenon?" the way ``near_dup_source_modularity`` answers it for
    duplication.

    Scale shape: one customer-grain rollup, one 25-row nation rollup
    (broadcast), and two map-side-combinable integer sums — the
    per-customer ln terms FLOOR-quantize to the 1e-9 grid (shared
    formula text, silhouette convention) so the data-sized sums are
    exact integers; only the bounded 25-term between sum follows the
    chi-square float-sum convention.  round(6) on all three indices."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey")
        .agg(
            (F.sum(money("o_totalprice")) * 100)
            .cast("bigint")
            .cast("double")
            .alias("x"),
            F.max("c_nationkey").alias("nation"),
        )
    )
    g = spend.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum("x").cast("double").alias("xg"),
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("double").alias("nt"),
        F.sum("x").cast("double").alias("xt"),
    )
    rowterms = (
        spend.join(F.broadcast(g), "nation")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            f"{_THEIL_TOT_TERM} AS t_tot",
            f"{_THEIL_WIT_TERM} AS t_wit",
        )
    )
    bet = (
        g.crossJoin(F.broadcast(tot))
        .agg(F.round(F.expr(f"SUM({_THEIL_BET_TERM})"), 6).alias("theil_between"))
    )
    nt = tot.select(F.col("nt").cast("bigint").alias("n_customers"))
    return (
        rowterms.agg(
            F.round(F.sum("t_tot").cast("double") / _THEIL_Q, 6).alias(
                "theil_total"
            ),
            F.round(F.sum("t_wit").cast("double") / _THEIL_Q, 6).alias(
                "theil_within"
            ),
        )
        .crossJoin(F.broadcast(bet))
        .crossJoin(F.broadcast(nt))
        .select(
            "n_customers", "theil_total", "theil_between", "theil_within"
        )
    )


# --- Ljung–Box portmanteau test ---------------------------------------------------


@register(
    "ljung_box_monthly",
    oracle=f"""
WITH {ACF_ORACLE_CTES},
nm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM m)
SELECT CAST((SELECT n FROM nm) AS BIGINT) AS n_months,
       CAST({ACF_MAX_LAG} AS BIGINT) AS dof,
       ROUND((SELECT n FROM nm) * ((SELECT n FROM nm) + 2)
             * SUM(r * r / ((SELECT n FROM nm) - lag)), 6) AS q_stat
FROM per_lag
""",
    tags=("analytics", "timeseries", "stats"),
)
def ljung_box_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau Q over the first {K} autocorrelations of
    monthly revenue — the "is there ANY serial structure?" gate read
    before the per-lag ACF/PACF detail (large Q rejects white noise
    jointly instead of eyeballing {K} separate bars).

    Reuses the ONE shared per-lag Pearson machinery of
    ``analytics.acf_monthly_frames`` / ``ACF_ORACLE_CTES`` (ADVICE
    r12 — formerly a thrice-copied block; rhos round to 6 BEFORE
    entering Q, so both engines square identical doubles); Q itself is
    a {K}-term float sum over the bounded lag grid (chi-square
    convention), round(6)."""
    m, per_lag = acf_monthly_frames(spark, sf_dir)
    nm = m.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        per_lag.crossJoin(F.broadcast(nm))
        .agg(
            F.max("n").cast("bigint").alias("n_months"),
            F.lit(ACF_MAX_LAG).cast("bigint").alias("dof"),
            F.round(
                F.max("n")
                * (F.max("n") + 2)
                * F.sum(
                    F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
                ),
                6,
            ).alias("q_stat"),
        )
    )


ljung_box_monthly.__doc__ = ljung_box_monthly.__doc__.replace(
    "{K}", str(ACF_MAX_LAG)
)


# --- session entropy rate -----------------------------------------------------------


@register(
    "session_entropy_rate",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {SESSION_GAP_SECONDS} SECOND
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM ordered
),
trans AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id, sess_id
                                  ORDER BY ts, event_id) AS dst
    FROM sessioned
),
c AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS nij
    FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
), ci AS (SELECT src, SUM(nij) AS ni FROM c GROUP BY src),
tot AS (SELECT CAST(SUM(nij) AS DOUBLE) AS n FROM c),
terms AS (
    SELECT -(c.nij / tot.n) * LN(c.nij / CAST(ci.ni AS DOUBLE)) AS t
    FROM c JOIN ci USING (src), tot
)
SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_transitions,
       ROUND(SUM(t), 6) AS entropy_rate_nats,
       ROUND(EXP(SUM(t)), 6) AS perplexity
FROM terms
""",
    tags=("analytics", "session", "information"),
)
def session_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the within-session event chain —
    H = −Σ_ij p(i,j)·ln p(j|i) over the SAME transitions
    ``session_transition_matrix`` counts (and
    ``markov_removal_attribution`` models): the one number that says
    how predictable user behavior is (low = rigid funnels, high ≈
    ln|types| = users wander), with its perplexity companion.

    The transition table is ``analytics.session_transition_counts``
    (30-min strict gap, (ts, event_id) order); counts are exact
    integers; the ≤|types|² ln terms follow the mutual_info convention
    (identical operand order, round(6) on the final sum)."""
    c = session_transition_counts(load_table(spark, sf_dir, "events")).select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n").alias("nij"),
    )
    ci = c.groupBy("src").agg(F.sum("nij").alias("ni"))
    tot = c.agg(F.sum("nij").cast("double").alias("n"))
    terms = (
        c.join(F.broadcast(ci), "src")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                -(F.col("nij") / F.col("n"))
                * F.log(F.col("nij") / F.col("ni").cast("double"))
            ).alias("t"),
            "n",
        )
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_transitions"),
        F.round(F.sum("t"), 6).alias("entropy_rate_nats"),
        F.round(F.exp(F.sum("t")), 6).alias("perplexity"),
    )


# --- Wald–Wolfowitz runs test --------------------------------------------------------


@register(
    "runs_test_daily_sign",
    oracle="""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS pnl
    FROM events GROUP BY 1
), ch AS (
    SELECT day, pnl,
           LAG(pnl) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS prev
    FROM d
), s AS (
    SELECT day, CASE WHEN pnl > prev THEN 1 ELSE 0 END AS up
    FROM ch WHERE prev IS NOT NULL AND pnl <> prev
), r AS (
    SELECT up,
           CASE WHEN LAG(up) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND UNBOUNDED FOLLOWING) IS NULL
                  OR up <> LAG(up) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                PRECEDING AND UNBOUNDED FOLLOWING)
                THEN 1 ELSE 0 END AS new_run
    FROM s
), agg AS (
    SELECT CAST(SUM(up) AS DOUBLE) AS n1,
           CAST(SUM(1 - up) AS DOUBLE) AS n2,
           CAST(SUM(new_run) AS BIGINT) AS runs
    FROM r
)
SELECT CAST(n1 AS BIGINT) AS n_up,
       CAST(n2 AS BIGINT) AS n_down,
       runs AS n_runs,
       ROUND((runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) AS z
FROM agg
""",
    tags=("analytics", "stats", "timeseries", "robust"),
)
def runs_test_daily_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the up/down sign sequence of daily
    total event value — "do good and bad days cluster, or alternate
    like noise?", the distribution-free randomness check that catches
    regime structure the mean-based monitors (CUSUM, Page–Hinkley)
    only see as drift.

    Signs come from EXACT DECIMAL day-over-day comparisons (zero-change
    days dropped, the standard convention, so no float can flip a
    sign); the run count is one lag-compare over the bounded day grain,
    and the normal z is one shared formula over three exact integers,
    round(6)."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(money("value")).alias("pnl")
    )
    wd = Window.orderBy("day")
    ch = d.select("day", "pnl", F.lag("pnl").over(wd).alias("prev"))
    s = ch.where(
        F.col("prev").isNotNull() & (F.col("pnl") != F.col("prev"))
    ).select("day", F.when(F.col("pnl") > F.col("prev"), 1).otherwise(0).alias("up"))
    r = s.select(
        "up",
        F.when(
            F.lag("up").over(wd).isNull() | (F.col("up") != F.lag("up").over(wd)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = r.agg(
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
        F.sum("new_run").cast("bigint").alias("runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        F.col("runs").alias("n_runs"),
        F.round((F.col("runs") - mu) / F.sqrt(var), 6).alias("z"),
    )


# --- Kruskal-Wallis H (round 13) ----------------------------------------------

# Shared formula text (interpolated into BOTH engines): the per-group
# rank-mass term and the tie-corrected H.  w2g is the exact integer
# 2*(rank sum) of the group (sum of ng*(2*cum_before + c + 1) over the
# value grain), so t = (w2g/2)^2 / ng up to the one double cast; nn/t3
# are the exact totals lifted to double once.
_KW_T = "(CAST(w2g AS DOUBLE) * CAST(w2g AS DOUBLE) / (4.0 * ng))"
_KW_H = (
    "((12.0 / (nn * (nn + 1.0)) * st - 3.0 * (nn + 1.0))"
    " / (1.0 - t3 / (nn * nn * nn - nn)))"
)

# ONE oracle definition of the per-type rank-mass machinery (value
# grain, predecessor counts, exact 2*(rank sum) per type, exact
# totals) — shared by kruskal_wallis_event_types and the Dunn post-hoc
# so the pairwise z's can never drift from the H they follow.
_KW_CTES = """x AS (
    SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM events
), g AS (
    SELECT v, event_type, CAST(COUNT(*) AS BIGINT) AS ng FROM x GROUP BY 1, 2
), vg AS (
    SELECT v, CAST(SUM(ng) AS BIGINT) AS c FROM g GROUP BY 1
), r AS (
    SELECT v, c,
           COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM vg
), per_type AS (
    SELECT g.event_type,
           CAST(SUM(g.ng) AS BIGINT) AS ng,
           CAST(SUM(CAST(g.ng AS HUGEINT) * (2 * r.cb + r.c + 1)) AS HUGEINT) AS w2g
    FROM g JOIN r USING (v) GROUP BY 1
), tot AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS nn,
           CAST(SUM(CASE WHEN c > 1
                         THEN CAST(c AS HUGEINT) * c * c - c ELSE 0 END)
                AS DOUBLE) AS t3
    FROM vg
)"""


def _kw_rank_frames(spark: SparkSession, sf_dir: str):
    """(per_type, tot): the Spark half of ``_KW_CTES`` — per event type
    the exact (ng, w2g = 2*(rank sum) as DECIMAL(38,0)) over the
    integer-cent value grain with bit-length-bucket predecessor counts,
    plus the 1-row exact totals (nn, t3) lifted to double.  Shared by
    Kruskal–Wallis and the Dunn post-hoc."""
    e = load_table(spark, sf_dir, "events")
    x = e.select(
        "event_type", (money("value") * 100).cast("bigint").alias("v")
    )
    g = x.groupBy("v", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    vg = g.groupBy("v").agg(F.sum("ng").cast("bigint").alias("c"))
    r = bucketed_predecessor_counts(vg, "v", "c")
    per_type = (
        g.join(r, "v")
        .groupBy("event_type")
        .agg(
            F.sum("ng").cast("bigint").alias("ng"),
            F.sum(
                F.col("ng").cast("decimal(38,0)")
                * (2 * F.col("cb") + F.col("c") + 1).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("w2g"),
        )
    )
    tot = r.agg(
        F.sum("c").cast("double").alias("nn"),
        F.sum(
            F.when(
                F.col("c") > 1,
                F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
                - F.col("c"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("t3"),
    )
    return per_type, tot


@register(
    "kruskal_wallis_event_types",
    oracle=f"""
WITH {_KW_CTES}, terms AS (
    SELECT {_KW_T} AS t FROM per_type
)
SELECT CAST((SELECT COUNT(*) FROM per_type) AS INT) AS k_types,
       CAST(tot.nn AS BIGINT) AS n_events,
       CAST((SELECT COUNT(*) - 1 FROM per_type) AS BIGINT) AS dof,
       ROUND({_KW_H}, 6) AS h_stat
FROM (SELECT SUM(t) AS st FROM terms), tot
""",
    tags=("analytics", "stats", "robust"),
)
def kruskal_wallis_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across ALL event types on the event value — the
    k-group generalization of ``mann_whitney_flag_test`` (rank-based
    one-way ANOVA), read next to the parametric ``anova_f_event_types``
    and the median-based ``mood_median_event_types`` when normality is
    in doubt; tie-corrected via the standard 1 − Σ(t³−t)/(N³−N) factor.

    Same no-global-sort rank machinery as Mann–Whitney: values collapse
    to the integer-cent VALUE GRAIN, predecessor counts come from the
    bit-length-bucket hierarchy (every window is bucket-scoped; no
    data-sized single-task sort), and 2·(rank sum) per group is an
    exact DECIMAL(38,0)/HUGEINT integer — H touches doubles only in the
    final k-term formula (shared text ``_KW_H``, chi-square convention,
    round 6).  Machinery shared with ``dunn_posthoc_event_types``
    (``_kw_rank_frames`` / ``_KW_CTES``)."""
    per_type, tot = _kw_rank_frames(spark, sf_dir)
    agg = per_type.agg(
        F.count(F.lit(1)).cast("int").alias("k_types"),
        F.sum(F.expr(_KW_T)).alias("st"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "k_types",
            F.col("nn").cast("bigint").alias("n_events"),
            (F.col("k_types") - 1).cast("bigint").alias("dof"),
            F.round(F.expr(_KW_H), 6).alias("h_stat"),
        )
    )


# --- best single changepoint in daily revenue (round 13) ----------------------

# Shared formula texts: the variance-reduction score of splitting the
# day-ordered series after position k (SSE_total - SSE_left - SSE_right
# with the sum-of-squares terms cancelled: only segment sums survive),
# and the two segment means.  sl/s are EXACT decimal prefix/grand sums
# (window cumsum of DECIMAL money in day order — bit-identical across
# engines), k/tn exact counts lifted to double; every float op below is
# the identical text on both sides and the score rounds to 6 BEFORE the
# argmax (bounds-before-compare).
_CP_RED = (
    "round((cast(sl as double) * cast(sl as double) / k"
    " + (cast(s as double) - cast(sl as double))"
    " * (cast(s as double) - cast(sl as double)) / (tn - k))"
    " - cast(s as double) * cast(s as double) / tn, 6)"
)
_CP_LMEAN = "round(cast(sl as double) / k, 6)"
_CP_RMEAN = "round((cast(s as double) - cast(sl as double)) / (tn - k), 6)"


@register(
    "best_changepoint_daily",
    oracle=f"""
WITH daily AS (
    SELECT o_orderdate AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
    FROM orders GROUP BY 1
), pre AS (
    SELECT day,
           SUM(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS k
    FROM daily
), tot AS (SELECT SUM(x) AS s, CAST(COUNT(*) AS DOUBLE) AS tn FROM daily),
scored AS (
    SELECT day, k, sl, s, tn, {_CP_RED} AS red
    FROM pre, tot WHERE k < tn
)
SELECT CAST(tn AS BIGINT) AS n_days,
       CAST(day AS VARCHAR) AS split_day,
       CAST(k AS BIGINT) AS k_left,
       red AS sse_reduction,
       {_CP_LMEAN} AS left_mean,
       {_CP_RMEAN} AS right_mean
FROM scored ORDER BY red DESC, day LIMIT 1
""",
    tags=("analytics", "timeseries", "stats"),
)
def best_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint in daily order revenue — binary
    segmentation's first split: the day boundary maximizing the
    between-segment variance reduction (equivalently, the split a
    one-break piecewise-constant fit would choose), with the two
    segment means — the structural-break detector read next to the
    drift family (CUSUM charts the excursion, Page–Hinkley alarms,
    this one LOCATES the break).

    O(T) after the rollup: the candidate scores need only the exact
    decimal prefix sums (the Σx² terms cancel in the reduction), so the
    whole search is one window cumsum + one broadcast totals attach +
    one TakeOrderedAndProject over the bounded day grain; ties break to
    the earliest day on the round-6 score.  At 100 TB the day grain is
    the bounded dimension (the repo's standard rollup argument)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(money("o_totalprice")).alias("x")
    )
    wpre = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.sum("x").over(wpre).alias("sl"),
        F.row_number().over(Window.orderBy("day")).cast("double").alias("k"),
    )
    tot = daily.agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).cast("double").alias("tn")
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("tn"))
        .withColumn("red", F.expr(_CP_RED))
    )
    return (
        scored.orderBy(F.desc("red"), "day")
        .limit(1)
        .select(
            F.col("tn").cast("bigint").alias("n_days"),
            F.col("day").cast("string").alias("split_day"),
            F.col("k").cast("bigint").alias("k_left"),
            F.col("red").alias("sse_reduction"),
            F.expr(_CP_LMEAN).alias("left_mean"),
            F.expr(_CP_RMEAN).alias("right_mean"),
        )
    )


# --- Welch's heteroscedastic one-way ANOVA (round 13) --------------------------

# Shared formula texts over the k-row weight frame's aggregates:
# a_num = sum of w_g*(m_g - weighted mean)^2, lam = sum of
# (1 - w_g/W)^2/(n_g - 1); kk exact count lifted to double.
_WELCH_F = (
    "((a_num / (kk - 1.0))"
    " / (1.0 + 2.0 * (kk - 2.0) / (kk * kk - 1.0) * lam))"
)
_WELCH_DF2 = "((kk * kk - 1.0) / (3.0 * lam))"


@register(
    "welch_anova_event_types",
    oracle=f"""
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           SUM(CAST(value AS DECIMAL(18,2))) AS s_g,
           SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS q_g
    FROM events GROUP BY 1
), w0 AS (
    SELECT n_g,
           CAST(s_g AS DOUBLE) / n_g AS m_g,
           CASE WHEN n_g >= 2
                THEN (CAST(q_g AS DOUBLE)
                      - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g)
                     / (n_g - 1.0)
                ELSE 0.0 END AS var_g
    FROM g
), w AS (
    SELECT n_g, m_g, n_g / var_g AS w_g
    FROM w0 WHERE n_g >= 2 AND var_g > 0.0
), t1 AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk,
           CAST(SUM(n_g) AS BIGINT) AS n_events,
           SUM(w_g) AS sw, SUM(w_g * m_g) AS swm
    FROM w
), t2 AS (
    SELECT SUM(w_g * (m_g - t1.swm / t1.sw) * (m_g - t1.swm / t1.sw)) AS a_num,
           SUM((1.0 - w_g / t1.sw) * (1.0 - w_g / t1.sw) / (n_g - 1.0)) AS lam
    FROM w, t1
)
SELECT CAST(t1.kk AS INT) AS k_types,
       t1.n_events,
       ROUND({_WELCH_F}, 6) AS f_welch,
       ROUND({_WELCH_DF2}, 6) AS df2
FROM t1, t2
""",
    tags=("analytics", "stats"),
)
def welch_anova_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across event types — the
    k-group generalization of ``welch_t_flags``, read when the classic
    ``anova_f_event_types`` is untrustworthy because group variances
    differ (its equal-variance assumption is exactly what
    ``brown_forsythe_event_types`` tests); reports Welch's F and its
    Satterthwaite denominator degrees of freedom.

    Same moment discipline as the ANOVA family: per-group (n, Σx, Σx²)
    are EXACT decimal sums, each group's mean/variance/weight derives
    from them in the identical double op sequence on both engines, and
    the k-term weight sums follow the chi-square convention (bounded
    group grid, round 6 on the final statistics).  One map-side-
    combinable aggregate + two k-row reductions.

    Degenerate groups — ``n_g < 2`` (no variance estimate exists) or
    zero sample variance (infinite weight) — are EXCLUDED from the
    weight frame on BOTH engines (ADVICE r13: a raw 1/0 here yields
    NULL on Spark doubles but Inf on DuckDB, a silent cross-engine
    divergence; the fixture has no such groups, so hashes are
    unchanged).  ``k_types``/``n_events`` therefore count the
    ANALYZABLE groups, matching scipy's behavior of refusing
    singleton groups rather than folding them in."""
    e = load_table(spark, sf_dir, "events")
    v = money("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(v).alias("s_g"),
        F.sum(v * v).alias("q_g"),
    )
    w0 = g.select(
        "n_g",
        (F.col("s_g").cast("double") / F.col("n_g")).alias("m_g"),
        F.when(
            F.col("n_g") >= 2,
            (
                F.col("q_g").cast("double")
                - F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g")
            )
            / (F.col("n_g") - 1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("var_g"),
    )
    w = w0.where((F.col("n_g") >= 2) & (F.col("var_g") > 0.0)).select(
        "n_g", "m_g", (F.col("n_g") / F.col("var_g")).alias("w_g")
    )
    t1 = w.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum("n_g").cast("bigint").alias("n_events"),
        F.sum("w_g").alias("sw"),
        F.sum(F.col("w_g") * F.col("m_g")).alias("swm"),
    )
    t2 = (
        w.crossJoin(F.broadcast(t1))
        .agg(
            F.sum(
                F.col("w_g")
                * (F.col("m_g") - F.col("swm") / F.col("sw"))
                * (F.col("m_g") - F.col("swm") / F.col("sw"))
            ).alias("a_num"),
            F.sum(
                (1.0 - F.col("w_g") / F.col("sw"))
                * (1.0 - F.col("w_g") / F.col("sw"))
                / (F.col("n_g") - 1.0)
            ).alias("lam"),
        )
    )
    return (
        t1.crossJoin(F.broadcast(t2))
        .select(
            F.col("kk").cast("int").alias("k_types"),
            "n_events",
            F.round(F.expr(_WELCH_F), 6).alias("f_welch"),
            F.round(F.expr(_WELCH_DF2), 6).alias("df2"),
        )
    )


# --- Friedman test over (day x event type) blocks (round 13) -------------------

# Shared formula texts: r2j is the exact integer 2*(rank sum) of a
# treatment over the complete blocks (midranks via the count identity
# 2r = 2*cnt_less + cnt_eq + 1 on exact decimal cell values), so
# t = (r2j/2)^2 up to one double cast; bb/kk exact counts lifted to
# double.  Plain midrank Friedman (no tie-correction factor): decimal
# day-sums virtually never tie, and when they do both engines assign
# the identical midranks, so the statistic is engine-stable either way.
_FRIED_T = "(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE) / 4.0)"
_FRIED_CHI = "(12.0 / (bb * kk * (kk + 1.0)) * st - 3.0 * bb * (kk + 1.0))"

# ONE CTE text for the Friedman block-rank machinery, shared by
# friedman_daily_types and kendall_w_daily_types (round 14) so the W can
# never drift from the chi-square it rescales.
_FRIED_CTES = f"""cell AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           SUM(CAST(value AS DECIMAL(18,2))) AS val
    FROM events GROUP BY 1, 2
), kf AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
full_days AS (
    SELECT day FROM cell GROUP BY day
    HAVING COUNT(*) = (SELECT k FROM kf)
), c2 AS (
    SELECT cell.* FROM cell JOIN full_days USING (day)
), r AS (
    SELECT a.day, a.event_type,
           CAST(SUM(CASE WHEN b.val < a.val THEN 2
                         WHEN b.val = a.val THEN 1 ELSE 0 END) AS BIGINT)
               + 1 AS r2
    FROM c2 a JOIN c2 b ON a.day = b.day
    GROUP BY a.day, a.event_type
), rj AS (
    SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2j FROM r GROUP BY 1
), bb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bb FROM full_days),
ag AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk, SUM({_FRIED_T}) AS st FROM rj
)"""


def _fried_frames(spark: SparkSession, sf_dir: str):
    """(bb, ag): the Spark half of ``_FRIED_CTES`` — the 1-row complete-
    block count (bb, double) and the 1-row k-term reduction (kk, st =
    sum of squared half-rank-sums).  Shared by the Friedman test and
    Kendall's W (round 14) so both statistics derive from the SAME rank
    frames."""
    e = load_table(spark, sf_dir, "events")
    cell = e.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.sum(money("value")).alias("val"))
    kf = e.agg(F.count_distinct("event_type").cast("bigint").alias("k"))
    full_days = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(kf))
        .where(F.col("c") == F.col("k"))
        .select("day")
    )
    c2 = cell.join(full_days, "day", "left_semi")
    a = c2.select("day", "event_type", F.col("val").alias("va"))
    b = c2.select(F.col("day").alias("day_b"), F.col("val").alias("vb"))
    r = (
        a.join(b, F.col("day") == F.col("day_b"))
        .groupBy("day", "event_type")
        .agg(
            (
                F.sum(
                    F.when(F.col("vb") < F.col("va"), 2)
                    .when(F.col("vb") == F.col("va"), 1)
                    .otherwise(0)
                ).cast("bigint")
                + 1
            ).alias("r2")
        )
    )
    rj = r.groupBy("event_type").agg(F.sum("r2").cast("bigint").alias("r2j"))
    bb = full_days.agg(F.count(F.lit(1)).cast("double").alias("bb"))
    ag = rj.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum(F.expr(_FRIED_T)).alias("st"),
    )
    return bb, ag


@register(
    "friedman_daily_types",
    oracle=f"""
WITH {_FRIED_CTES}
SELECT CAST(ag.kk AS INT) AS k_types,
       CAST(bb.bb AS BIGINT) AS n_blocks,
       CAST(ag.kk - 1 AS BIGINT) AS dof,
       ROUND({_FRIED_CHI}, 6) AS chi2_friedman
FROM ag, bb
""",
    tags=("analytics", "stats", "robust"),
)
def friedman_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test of event types over day blocks: each day with ALL
    types present is one block, the types are ranked within the day by
    their exact-decimal revenue sum, and the chi-square statistic asks
    whether any type systematically out-ranks the others ACROSS days —
    the repeated-measures companion to ``kruskal_wallis_event_types``
    (KW pools all values; Friedman blocks out the day effect, so a
    global busy-day shift cannot masquerade as a type difference).

    Midranks come from the count identity 2r = 2·|less| + |equal| + 1
    over a within-day self-join — the day grain is bounded and each
    day contributes k² comparisons (k = |types|), so the join is
    O(days·k²), never data-sized; 2·(rank sum) per type stays an exact
    integer and only the final k-term formula touches doubles (shared
    text, chi-square convention, round 6).  Incomplete days are
    excluded (the classical complete-block design), with the block
    count reported.  Degenerate precondition (documented, not guarded —
    the EB-shrinkage convention): with ZERO complete blocks the
    statistic divides by b = 0 and both engines emit the same
    NULL/NaN; the fixture's daily grid is complete by construction,
    and a corpus with no complete blocks has no repeated-measures
    question to ask."""
    bb, ag = _fried_frames(spark, sf_dir)
    return (
        ag.crossJoin(F.broadcast(bb))
        .select(
            F.col("kk").cast("int").alias("k_types"),
            F.col("bb").cast("bigint").alias("n_blocks"),
            (F.col("kk") - 1).cast("bigint").alias("dof"),
            F.round(F.expr(_FRIED_CHI), 6).alias("chi2_friedman"),
        )
    )


# --- Dunn's post-hoc pairwise comparisons (round 13) ---------------------------

# Shared formula texts over the pair frame (na/nb exact counts,
# w2a/w2b exact 2*(rank sum) integers, nn/t3 the shared exact totals):
# mean ranks and the tie-corrected Dunn z.
_DUNN_MRA = "(CAST(w2a AS DOUBLE) / (2.0 * na))"
_DUNN_MRB = "(CAST(w2b AS DOUBLE) / (2.0 * nb))"
_DUNN_Z = (
    f"(({_DUNN_MRA} - {_DUNN_MRB})"
    " / sqrt((nn * (nn + 1.0) / 12.0 - t3 / (12.0 * (nn - 1.0)))"
    " * (1.0 / na + 1.0 / nb)))"
)


@register(
    "dunn_posthoc_event_types",
    oracle=f"""
WITH {_KW_CTES}, pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.ng AS na, b.ng AS nb, a.w2g AS w2a, b.w2g AS w2b
    FROM per_type a JOIN per_type b ON a.event_type < b.event_type
)
SELECT type_a, type_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND({_DUNN_MRA}, 6) AS mean_rank_a,
       ROUND({_DUNN_MRB}, 6) AS mean_rank_b,
       ROUND({_DUNN_Z}, 6) AS z
FROM pairs, tot
""",
    tags=("analytics", "stats", "robust"),
)
def dunn_posthoc_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise z for every event-type pair — the
    follow-up a significant ``kruskal_wallis_event_types`` demands
    (H says "SOME type differs"; Dunn says WHICH pairs), with the
    standard tie-corrected variance N(N+1)/12 − Σ(t³−t)/(12(N−1)) and
    mean ranks from the SAME rank-mass machinery (``_kw_rank_frames`` /
    ``_KW_CTES`` — one definition, so the z's can never drift from the
    H they follow).  Consumers apply their own multiplicity control
    over the k(k−1)/2 rows (the BH machinery lives in
    ``bh_fdr_type_hour``).

    The pair frame is the k-row per-type table self-joined on the type
    order — k² tiny rows; the 1-row totals attach by broadcast; every
    input to the z is an exact integer, one shared-text double formula,
    round 6."""
    per_type, tot = _kw_rank_frames(spark, sf_dir)
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("ng").alias("na"),
        F.col("w2g").alias("w2a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("ng").alias("nb"),
        F.col("w2g").alias("w2b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    return pairs.crossJoin(F.broadcast(tot)).select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(F.expr(_DUNN_MRA), 6).alias("mean_rank_a"),
        F.round(F.expr(_DUNN_MRB), 6).alias("mean_rank_b"),
        F.round(F.expr(_DUNN_Z), 6).alias("z"),
    )


# --- round 14: concordance / stratified / survival-comparison classics ---------

# Kendall's W rescales the Friedman chi-square: W = chi2 / (b * (k - 1)).
_KENDALL_W = f"({_FRIED_CHI} / (bb * (kk - 1.0)))"


@register(
    "kendall_w_daily_types",
    oracle=f"""
WITH {_FRIED_CTES}
SELECT CAST(ag.kk AS INT) AS k_types,
       CAST(bb.bb AS BIGINT) AS n_blocks,
       ROUND({_KENDALL_W}, 6) AS w_kendall
FROM ag, bb
""",
    tags=("analytics", "stats", "robust"),
)
def kendall_w_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W over the (day x event
    type) rank blocks — the EFFECT SIZE for ``friedman_daily_types``
    (W = chi2 / (b*(k-1)), in [0, 1]: 0 = days rank the types at
    random, 1 = every day ranks them identically), the number a report
    quotes next to the test's p-value.

    Rides the SAME rank frames as Friedman (``_fried_frames`` /
    ``_FRIED_CTES`` — one definition, so W can never drift from the
    chi-square it rescales); same scale shape (O(days*k^2) bounded
    self-join, exact integer rank sums, one shared-text double formula,
    round 6) and the same zero-complete-blocks degenerate note."""
    bb, ag = _fried_frames(spark, sf_dir)
    return ag.crossJoin(F.broadcast(bb)).select(
        F.col("kk").cast("int").alias("k_types"),
        F.col("bb").cast("bigint").alias("n_blocks"),
        F.round(F.expr(_KENDALL_W), 6).alias("w_kendall"),
    )


# Shared formula texts over the per-stratum 2x2 counts (a = exposed
# cases, b = exposed non-cases, c = unexposed cases, d = unexposed
# non-cases, nn = a+b+c+d, all exact BIGINTs lifted to double):
_MH_OR = "(sad / sbc)"
_MH_CHI = "((sa - se) * (sa - se) / sv)"


# ONE CTE text for the per-ship-year discount/return 2x2 counts, shared
# by mantel_haenszel_returns and simpsons_paradox_audit (round 14).
_MH_STRATA_CTE = """s AS (
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS yr,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) > 0.05
                          AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) > 0.05
                          AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) <= 0.05
                          AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(18,2)) <= 0.05
                          AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM lineitem GROUP BY 1
)"""


def _mh_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(yr, a, b, c, d): the per-ship-year discount/return 2x2 counts —
    the ONE Spark definition (oracle mirror: ``_MH_STRATA_CTE``), shared
    by the CMH test and the Simpson's-paradox audit."""
    li = load_table(spark, sf_dir, "lineitem")
    exp_ = money("l_discount") > 0.05
    case = F.col("l_returnflag") == "R"
    return li.groupBy(F.year("l_shipdate").cast("int").alias("yr")).agg(
        F.sum(F.when(exp_ & case, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(exp_ & ~case, 1).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(~exp_ & case, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(~exp_ & ~case, 1).otherwise(0)).cast("bigint").alias("d"),
    )


@register(
    "mantel_haenszel_returns",
    oracle=f"""
WITH {_MH_STRATA_CTE}, t AS (
    SELECT CAST(COUNT(*) AS INT) AS n_strata,
           SUM(CAST(a AS DOUBLE) * d / (a + b + c + d)) AS sad,
           SUM(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS sbc,
           SUM(CAST(a AS DOUBLE)) AS sa,
           SUM(CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)) AS se,
           SUM(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
               / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
                  * (a + b + c + d - 1.0))) AS sv
    FROM s WHERE a + b + c + d >= 2
)
SELECT n_strata,
       CAST(sa AS BIGINT) AS n_exposed_cases,
       ROUND({_MH_OR}, 6) AS or_mh,
       ROUND({_MH_CHI}, 6) AS chi2_cmh
FROM t
""",
    tags=("analytics", "stats"),
)
def mantel_haenszel_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Mantel–Haenszel test + MH common odds ratio for the
    deep-discount → return association, STRATIFIED by ship year — the
    confounder-adjusted 2x2 the pooled ``two_proportion_ab_test`` shape
    gets wrong when the stratum mix shifts (Simpson's-paradox-proof
    association reading; uncorrected CMH, no continuity term).

    One map-side-combinable aggregate builds the per-year 2x2 counts as
    exact BIGINTs; the k-row stratum frame reduces through the standard
    MH sums (ad/n, bc/n, E = row*col/n, V = hypergeometric variance) in
    the identical double op sequence on both engines (bounded year
    grid, chi-square convention, round 6 on the final OR and chi2).
    Degenerate strata with n < 2 are excluded on BOTH engines (V
    divides by n-1; same convention as welch_anova's weight frame); a
    zero sbc (no discordant exposure anywhere) makes the OR NULL-vs-Inf
    cross-engine — documented corpus-shape pathology, unreachable on a
    fixture with both flags in every year."""
    s = _mh_strata(spark, sf_dir)
    nn = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    t = s.where(nn >= 2).agg(
        F.count(F.lit(1)).cast("int").alias("n_strata"),
        F.sum(F.col("a").cast("double") * F.col("d") / nn).alias("sad"),
        F.sum(F.col("b").cast("double") * F.col("c") / nn).alias("sbc"),
        F.sum(F.col("a").cast("double")).alias("sa"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / nn
        ).alias("se"),
        F.sum(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nn.cast("double") * nn * (nn - 1.0))
        ).alias("sv"),
    )
    return t.select(
        "n_strata",
        F.col("sa").cast("bigint").alias("n_exposed_cases"),
        F.round(F.expr(_MH_OR), 6).alias("or_mh"),
        F.round(F.expr(_MH_CHI), 6).alias("chi2_cmh"),
    )


# Log-rank shared formula texts over the event-day frame (d, d1 exact
# integers; n, n1 exact at-risk integers lifted to double):
_LR_E1 = "SUM(CAST(d AS DOUBLE) * n1 / n)"
_LR_V = (
    "SUM(CASE WHEN n > 1 THEN CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)"
    " * (1.0 - CAST(n1 AS DOUBLE) / n) * (n - d) / (n - 1.0)"
    " ELSE 0.0 END)"
)


@register(
    "logrank_test_purchase",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
               AS grp,
           MIN(epoch_us(ts)) AS t0,
           MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
           (SELECT MAX(epoch_us(ts)) FROM events) AS tmax
    FROM events GROUP BY user_id
), subj AS (
    SELECT grp,
           CAST(CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
                     ELSE (tmax - t0) // 86400000000 END AS INT) AS day,
           CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS is_event
    FROM u
), days AS (
    SELECT day,
           CAST(SUM(is_event) AS BIGINT) AS d,
           CAST(SUM(CASE WHEN grp = 1 THEN is_event ELSE 0 END) AS BIGINT) AS d1,
           CAST(COUNT(*) AS BIGINT) AS leaving,
           CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaving1
    FROM subj GROUP BY day
), risk AS (
    SELECT day, d, d1,
           (SELECT COUNT(*) FROM subj)
               - COALESCE(SUM(leaving) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
           (SELECT COUNT(*) FROM subj WHERE grp = 1)
               - COALESCE(SUM(leaving1) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
    FROM days
), ev AS (SELECT * FROM risk WHERE d > 0), t AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_days,
           CAST(SUM(d1) AS BIGINT) AS o1,
           {_LR_E1} AS e1, {_LR_V} AS v
    FROM ev
)
SELECT n_event_days, o1, ROUND(e1, 6) AS e1,
       ROUND((o1 - e1) * (o1 - e1) / v, 6) AS chi2_logrank
FROM t
""",
    tags=("analytics", "stats", "survival"),
)
def logrank_test_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) test comparing the days-until-first-
    purchase survival curves of two deterministic md5-coin user cohorts
    — the hypothesis test that goes with ``survival_km_purchase``'s
    estimator (KM draws the curves; log-rank says whether they differ),
    censoring-correct where a naive mean-latency comparison is not.

    Same subject/risk-set machinery as the KM query: users collapse to
    one row (grain aggregate), day-grain counts, at-risk sizes from an
    exclusive prefix sum over the BOUNDED day spine (the documented
    single-partition bounded-frame window), pooled and group-1 tallies
    carried side by side as exact integers; O, E, V reduce over event
    days in the identical double op sequence (chi-square convention,
    round 6).  The md5 cohort split is the portable helpers.md5_int32
    coin — bit-identical on both engines.  Degenerate preconditions
    (EB-convention note): single-subject risk sets contribute V = 0 by
    the guarded term, and a corpus where the cohorts never co-occupy a
    risk set leaves V = 0 → chi2 NULL-vs-Inf cross-engine (no
    comparison to make); unreachable on the md5-halved fixture."""
    from .helpers import md5_int32

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tmax = e.agg(F.max(us).alias("tmax"))
    u = (
        e.groupBy("user_id")
        .agg(
            F.min(us).alias("t0"),
            F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
        )
        .crossJoin(F.broadcast(tmax))
        .select(
            (md5_int32(F.col("user_id").cast("string")) % 2).alias("grp"),
            F.when(
                F.col("tp").isNotNull(), F.expr("(tp - t0) div 86400000000")
            )
            .otherwise(F.expr("(tmax - t0) div 86400000000"))
            .cast("int")
            .alias("day"),
            F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("is_event"),
        )
    )
    days = u.groupBy("day").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("leaving1"),
    )
    tot = u.agg(
        F.count(F.lit(1)).alias("n_subj"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_subj1"),
    )
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = days.crossJoin(F.broadcast(tot)).select(
        "day",
        "d",
        "d1",
        (
            F.col("n_subj") - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).cast("bigint").alias("n"),
        (
            F.col("n_subj1")
            - F.coalesce(F.sum("leaving1").over(wprev), F.lit(0))
        ).cast("bigint").alias("n1"),
    )
    t = risk.where(F.col("d") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_days"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.expr(_LR_E1).alias("e1"),
        F.expr(_LR_V).alias("v"),
    )
    return t.select(
        "n_event_days",
        "o1",
        F.round(F.col("e1"), 6).alias("e1"),
        F.round(
            (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"),
            6,
        ).alias("chi2_logrank"),
    )


@register(
    "grubbs_outlier_daily",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS day,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(rev) AS DOUBLE) AS s,
           CAST(SUM(CAST(rev AS DECIMAL(38,4)) * rev) AS DOUBLE) AS q
    FROM daily
), sc AS (
    SELECT daily.day, CAST(rev AS DOUBLE) AS x, n_days, s, q,
           ABS(CAST(rev AS DOUBLE) - s / n_days) AS dev
    FROM daily, m
), best AS (
    SELECT day, x, n_days, dev,
           SQRT((q - s * s / n_days) / (n_days - 1.0)) AS sd
    FROM sc
    ORDER BY dev DESC, day ASC LIMIT 1
)
SELECT n_days,
       CAST(day AS VARCHAR) AS outlier_day,
       ROUND(x, 6) AS outlier_revenue,
       ROUND(dev / sd, 6) AS g_stat
FROM best
""",
    tags=("analytics", "stats", "robust"),
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic (maximum studentized deviate) over daily
    order revenue — "is the most extreme day a statistical outlier?",
    the single-outlier companion to the per-row ``mad_robust_outliers``
    and ``rolling_zscore_anomalies`` batch screens (Grubbs asks about
    THE extreme; those flag many).

    Daily revenues are exact DECIMAL sums; n/Σx/Σx² reduce in one
    1-row moment frame (Σx² exact DECIMAL(38,4) — day revenue squared
    stays far inside 38 digits at any plausible scale), so mean/sd
    derive from identical doubles on both engines; the argmax day is a
    TakeOrdered top-1 under the deterministic (|dev| DESC, day) order —
    exact-decimal inputs mean the deviation doubles are bit-identical
    cross-engine and the tie-break is total.  One aggregate + one
    broadcast of the 1-row moments + top-1: no global sort, no second
    scan.  Degenerate note (EB convention): a constant series has
    sd = 0 → G NULL-vs-NaN cross-engine; a one-day corpus divides by
    n-1 = 0.  Both are "no outlier question to ask" shapes."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(money("o_totalprice")).alias("rev")
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("rev").cast("double").alias("s"),
        F.sum(F.col("rev").cast("decimal(38,4)") * F.col("rev"))
        .cast("double")
        .alias("q"),
    )
    sc = daily.crossJoin(F.broadcast(m)).select(
        "day",
        F.col("rev").cast("double").alias("x"),
        "n_days",
        "s",
        "q",
        F.abs(F.col("rev").cast("double") - F.col("s") / F.col("n_days")).alias(
            "dev"
        ),
    )
    best = sc.orderBy(F.desc("dev"), F.asc("day")).limit(1)
    sd = F.sqrt(
        (F.col("q") - F.col("s") * F.col("s") / F.col("n_days"))
        / (F.col("n_days") - 1.0)
    )
    return best.select(
        "n_days",
        F.col("day").cast("string").alias("outlier_day"),
        F.round(F.col("x"), 6).alias("outlier_revenue"),
        F.round(F.col("dev") / sd, 6).alias("g_stat"),
    )


@register(
    "bowker_symmetry_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
), cnt AS (
    SELECT prev_type AS a, event_type AS b, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL AND prev_type <> event_type
    GROUP BY 1, 2
), pairs AS (
    SELECT LEAST(a, b) AS x, GREATEST(a, b) AS y,
           CAST(SUM(CASE WHEN a < b THEN n ELSE 0 END) AS BIGINT) AS nxy,
           CAST(SUM(CASE WHEN a > b THEN n ELSE 0 END) AS BIGINT) AS nyx
    FROM cnt GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS INT) AS n_pairs_tested,
       CAST(SUM(nxy + nyx) AS BIGINT) AS n_transitions,
       ROUND(SUM(CAST((nxy - nyx) AS DOUBLE) * (nxy - nyx) / (nxy + nyx)), 6)
           AS chi2_bowker
FROM pairs WHERE nxy + nyx > 0
""",
    tags=("analytics", "stats", "markov"),
)
def bowker_symmetry_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's test of symmetry on the user event-type transition
    matrix — the k×k generalization of ``mcnemar_halves_test``: do
    users flow view→purchase at the same rate as purchase→view, for
    every unordered type pair at once?  A significant chi2 means the
    session graph has DIRECTION (funnels), which is exactly what
    ``session_transition_matrix`` displays and this tests.

    Transitions come from one LAG window per user (the state-chain
    grain, partitioned by user_id — horizontal, never data-sized per
    task) under the total (ts, event_id) order, so ties cannot flip
    pairs cross-engine; the off-diagonal counts fold to unordered
    pairs via LEAST/GREATEST (k²→k(k-1)/2 tiny rows) and the statistic
    is one exact-integer-ratio sum, round 6.  Pairs never observed in
    either direction drop out (0/0 is outside the test's domain — the
    classical dof only counts discordant-capable pairs)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    cnt = (
        seq.where(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != F.col("event_type"))
        )
        .groupBy(
            F.col("prev_type").alias("a"), F.col("event_type").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    pairs = cnt.groupBy(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    ).agg(
        F.sum(F.when(F.col("a") < F.col("b"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("nxy"),
        F.sum(F.when(F.col("a") > F.col("b"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("nyx"),
    )
    disc = F.col("nxy") + F.col("nyx")
    return pairs.where(disc > 0).agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs_tested"),
        F.sum(disc).cast("bigint").alias("n_transitions"),
        F.round(
            F.sum(
                (F.col("nxy") - F.col("nyx")).cast("double")
                * (F.col("nxy") - F.col("nyx"))
                / disc
            ),
            6,
        ).alias("chi2_bowker"),
    )


# --- round 14 wave 2: split-conformal prediction interval audit ----------------

CONF_ALPHA = 0.1  # target 90% coverage
CONF_GRID = 1_000_000  # FLOOR-quantize grid for residuals (helpers.py)
# md5 decile split: 0-4 train (fit the per-type mean), 5-7 calibration
# (order statistic), 8-9 test (empirical coverage).
_CONF_BUCKET_DUCK = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % 10"
)


@register(
    "conformal_residual_coverage",
    oracle=f"""
WITH scored AS (
    SELECT {_CONF_BUCKET_DUCK} AS bucket,
           event_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
    FROM events
), mu AS (
    SELECT event_type,
           CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m
    FROM scored WHERE bucket <= 4 GROUP BY 1
), resid AS (
    SELECT s.bucket,
           CAST(FLOOR(ABS(s.v - mu.m) * {CONF_GRID}) AS BIGINT) AS rq
    FROM scored s JOIN mu USING (event_type)
    WHERE s.bucket >= 5
), cal AS (SELECT rq FROM resid WHERE bucket <= 7),
tst AS (SELECT rq FROM resid WHERE bucket >= 8),
kk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
           CAST(CEIL((1.0 - {CONF_ALPHA}) * (COUNT(*) + 1)) AS BIGINT) AS k
    FROM cal
), qh AS (
    SELECT rq AS q FROM cal ORDER BY rq LIMIT 1
    OFFSET (SELECT k - 1 FROM kk)
)
SELECT (SELECT n_cal FROM kk) AS n_cal,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tst) AS n_test,
       (SELECT k FROM kk) AS k_order,
       ROUND((SELECT CAST(q AS DOUBLE) FROM qh) / {CONF_GRID}, 6) AS q_hat,
       ROUND((SELECT CAST(SUM(CASE WHEN rq <= (SELECT q FROM qh)
                                   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
              FROM tst), 6) AS coverage
""",
    tags=("analytics", "stats", "llm"),
)
def conformal_residual_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction-interval audit on event values: fit
    the trivial per-type mean on an md5-decile TRAIN split, take the
    conformal quantile q̂ = the ⌈(1−α)(n+1)⌉-th smallest absolute
    residual on a disjoint CALIBRATION split, and report the EMPIRICAL
    coverage of |v − μ_type| ≤ q̂ on a held-out TEST split — the
    distribution-free guarantee check (coverage ≈ 90% by the conformal
    theorem REGARDLESS of the value distribution) that a model-serving
    pipeline runs before trusting its intervals; the inferential
    companion to ``score_calibration_bins`` (calibration of
    probabilities) on the regression side.

    Determinism: the three-way split is the portable md5 coin on
    event_id; the per-type train means derive from exact decimal sums;
    residual doubles (identical cross-engine) are FLOOR-quantized to
    the 1e-6 grid BEFORE selection (helpers.py convention), so q̂ is an
    exact integer ORDER STATISTIC — the conformal quantile is defined
    as a k-th smallest, no interpolation seam — and coverage compares
    exact integers.  Scale: Spark finds the k-th smallest via the
    sign-safe ``rank_bucket`` grain hierarchy (value-grain counts →
    bucket-scoped cumulative → first grain with cum ≥ k), never a
    global sort; the oracle keeps the direct ORDER BY/OFFSET form.
    Degenerate note (EB convention): an empty CALIBRATION split leaves
    q̂ and coverage NULL on both engines (no quantile exists); an empty
    TEST split leaves coverage NULL on both while q̂ still reports the
    calibration quantile — q̂ projects from the calibration frames
    only, NOT from inside the test-split aggregate (ADVICE r14: the
    former placement went NULL on Spark while the oracle's scalar
    subquery didn't)."""
    from .helpers import md5_int32

    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        (md5_int32(F.col("event_id").cast("string")) % 10).alias("bucket"),
        "event_type",
        money("value").cast("double").alias("v"),
    )
    mu = (
        scored.where(F.col("bucket") <= 4)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("v").cast(MONEY)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    resid = (
        scored.where(F.col("bucket") >= 5)
        .join(F.broadcast(mu), "event_type")
        .select(
            "bucket",
            F.floor(F.abs(F.col("v") - F.col("m")) * CONF_GRID)
            .cast("bigint")
            .alias("rq"),
        )
    )
    cal = resid.where(F.col("bucket") <= 7).select("rq")
    tst = resid.where(F.col("bucket") >= 8).select("rq")
    kk = cal.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.ceil((1.0 - CONF_ALPHA) * (F.count(F.lit(1)) + 1))
        .cast("bigint")
        .alias("k"),
    )
    # k-th smallest via the shared sign-safe grain hierarchy
    gr = cal.groupBy("rq").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cum = bucketed_predecessor_counts(gr, "rq", "c").select(
        "rq", (F.col("cb") + F.col("c")).alias("cum")
    )
    qh = (
        cum.crossJoin(F.broadcast(kk))
        .where(F.col("cum") >= F.col("k"))
        .agg(F.min("rq").alias("q"))
    )
    cov = (
        tst.crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.round(
                F.sum(F.when(F.col("rq") <= F.col("q"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )
    # q_hat projects from the CALIBRATION frames only (ADVICE r14): the
    # former F.max("q") inside the tst aggregate went NULL on an empty
    # test split while the oracle's scalar subquery still reported the
    # calibration quantile — degenerate-case cross-engine divergence.
    qhat = qh.select(
        F.round(F.col("q").cast("double") / CONF_GRID, 6).alias("q_hat")
    )
    return (
        kk.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal", "n_test", F.col("k").alias("k_order"), "q_hat", "coverage"
        )
    )


# --- round 14 wave 3: KW effect sizes / energy distance / L-moments ------------

# Effect sizes rescale the tie-corrected H: eta^2_H = (H - k + 1)/(n - k),
# epsilon^2 = H/((n*n - 1)/(n + 1)) = H*(n + 1)/(n*n - 1).
_KW_ETA2 = f"(({_KW_H} - kk + 1.0) / (nn - kk))"
_KW_EPS2 = f"({_KW_H} * (nn + 1.0) / (nn * nn - 1.0))"


@register(
    "kw_effect_sizes_event_types",
    oracle=f"""
WITH {_KW_CTES}, terms AS (
    SELECT {_KW_T} AS t FROM per_type
), ag AS (
    SELECT CAST((SELECT COUNT(*) FROM per_type) AS DOUBLE) AS kk,
           (SELECT SUM(t) FROM terms) AS st
)
SELECT CAST(ag.kk AS INT) AS k_types,
       CAST(tot.nn AS BIGINT) AS n_events,
       ROUND({_KW_ETA2}, 6) AS eta2_h,
       ROUND({_KW_EPS2}, 6) AS epsilon2
FROM ag, tot
""",
    tags=("analytics", "stats", "robust"),
)
def kw_effect_sizes_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the Kruskal–Wallis test: η²_H = (H−k+1)/(n−k)
    and ε² = H·(n+1)/(n²−1) — the "is the significant difference LARGE?"
    numbers a report quotes next to ``kruskal_wallis_event_types``'s
    p-value (with n in the hundred-thousands, H is always significant;
    the effect sizes say whether anyone should care), playing the same
    role for KW that ``kendall_w_daily_types`` plays for Friedman.

    Rides the SAME ``_kw_rank_frames`` / ``_KW_CTES`` machinery as H
    itself (one definition — the effect sizes can never drift from the
    statistic they rescale), so the sign-safe bucket hierarchy, exact
    DECIMAL rank masses, shared-text double formulas and round(6) all
    carry over; this query only adds two rescaling expressions on the
    same 1-row frames."""
    per_type, tot = _kw_rank_frames(spark, sf_dir)
    ag = per_type.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum(F.expr(_KW_T)).alias("st"),
    )
    return ag.crossJoin(F.broadcast(tot)).select(
        F.col("kk").cast("int").alias("k_types"),
        F.col("nn").cast("bigint").alias("n_events"),
        F.round(F.expr(_KW_ETA2), 6).alias("eta2_h"),
        F.round(F.expr(_KW_EPS2), 6).alias("epsilon2"),
    )


@register(
    "energy_distance_type_hours",
    oracle="""
WITH c AS (
    SELECT CAST(EXTRACT(HOUR FROM ts) AS INT) AS hr,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY 1
), tot AS (
    SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c
), g AS (
    SELECT x.hr AS i, y.hr AS j, ABS(x.hr - y.hr) AS dij,
           x.ca AS cai, x.cb AS cbi, y.ca AS caj, y.cb AS cbj
    FROM c x, c y
), s AS (
    SELECT SUM(CAST(dij AS DOUBLE) * cai * cbj) AS sab,
           SUM(CAST(dij AS DOUBLE) * cai * caj) AS saa,
           SUM(CAST(dij AS DOUBLE) * cbi * cbj) AS sbb
    FROM g
)
SELECT tot.na AS n_a, tot.nb AS n_b,
       ROUND(2.0 * sab / (CAST(na AS DOUBLE) * nb)
             - saa / (CAST(na AS DOUBLE) * na)
             - sbb / (CAST(nb AS DOUBLE) * nb), 6) AS energy_dist
FROM s, tot
""",
    tags=("analytics", "stats"),
)
def energy_distance_type_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's two-sample ENERGY DISTANCE between the hour-of-day
    distributions of click and view events:
    E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the metric-space two-sample test
    completing the trio on this axis (KS reads the worst ECDF gap, CvM
    the integrated squared gap, energy the full pairwise-distance
    geometry; E = 0 iff the distributions are equal), and the 1-D form
    of the statistic that generalizes to embeddings.

    The hour grain makes every expectation a 24×24 GRID sum: per-hour
    counts are exact BIGINTs, |i−j| is an exact integer, and each
    d·count·count term stays integer-exact until the three grid sums
    (≤ 576 terms, chi-square convention) divide by the exact pair
    counts — one rounded double at the end.  The grid self-join is the
    Friedman O(k²) bounded-join discipline on a 24-row frame; at 100 TB
    only the first per-hour aggregate touches data.  Degenerate note
    (EB convention, shared with cvm/KS): an empty sample on either side
    divides by zero (NULL-vs-Inf cross-engine)."""
    e = load_table(spark, sf_dir, "events")
    c = (
        e.where(F.col("event_type").isin("click", "view"))
        .groupBy(F.hour("ts").cast("int").alias("hr"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    y = c.select(
        F.col("hr").alias("hr_y"),
        F.col("ca").alias("caj"),
        F.col("cb").alias("cbj"),
    )
    g = c.crossJoin(F.broadcast(y)).select(
        F.abs(F.col("hr") - F.col("hr_y")).cast("double").alias("dij"),
        F.col("ca").alias("cai"),
        F.col("cb").alias("cbi"),
        "caj",
        "cbj",
    )
    s = g.agg(
        F.sum(F.col("dij") * F.col("cai") * F.col("cbj")).alias("sab"),
        F.sum(F.col("dij") * F.col("cai") * F.col("caj")).alias("saa"),
        F.sum(F.col("dij") * F.col("cbi") * F.col("cbj")).alias("sbb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            2.0 * F.col("sab") / (nad * F.col("nb"))
            - F.col("saa") / (nad * F.col("na"))
            - F.col("sbb") / (nbd * F.col("nb")),
            6,
        ).alias("energy_dist"),
    )


# L-moment ratios from the probability-weighted moments b0/b1/b2:
# lambda1 = b0, lambda2 = 2*b1 - b0, lambda3 = 6*b2 - 6*b1 + b0.
_LMOM_L1 = "(b0 / 100.0)"
_LMOM_L2 = "((2.0 * b1 - b0) / 100.0)"
_LMOM_TAU2 = "((2.0 * b1 - b0) / b0)"
_LMOM_TAU3 = "((6.0 * b2 - 6.0 * b1 + b0) / (2.0 * b1 - b0))"


@register(
    "l_moments_event_values",
    oracle=f"""
WITH x AS (
    SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM events
), g AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY v
), r AS (
    SELECT v, c,
           COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM g
), w AS (
    SELECT v, c, cb,
           CAST(c AS HUGEINT) * cb + (CAST(c AS HUGEINT) * (c - 1)) // 2 AS w1,
           CAST(c AS HUGEINT) * cb * cb
               + 2 * CAST(cb AS HUGEINT) * ((CAST(c AS HUGEINT) * (c - 1)) // 2)
               + (CAST(c - 1 AS HUGEINT) * c * (2 * c - 1)) // 6
               - (CAST(c AS HUGEINT) * cb
                  + (CAST(c AS HUGEINT) * (c - 1)) // 2) AS w2
    FROM r
), t AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS HUGEINT) * c) AS DOUBLE) AS sb0,
           CAST(SUM(CAST(v AS HUGEINT) * w1) AS DOUBLE) AS sb1,
           CAST(SUM(CAST(v AS HUGEINT) * w2) AS DOUBLE) AS sb2
    FROM w
), b AS (
    SELECT n,
           sb0 / n AS b0,
           sb1 / (CAST(n AS DOUBLE) * (n - 1.0)) AS b1,
           sb2 / (CAST(n AS DOUBLE) * (n - 1.0) * (n - 2.0)) AS b2
    FROM t
)
SELECT n AS n_events,
       ROUND({_LMOM_L1}, 6) AS l1,
       ROUND({_LMOM_L2}, 6) AS l2,
       ROUND({_LMOM_TAU2}, 6) AS l_cv,
       ROUND({_LMOM_TAU3}, 6) AS l_skew
FROM b
""",
    tags=("analytics", "stats", "robust", "profiling"),
)
def l_moments_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample L-moments of the event value distribution — the
    order-statistic moment family (Hosking 1990): L-location λ₁,
    L-scale λ₂, L-CV τ₂ and L-skewness τ₃.  L-moments exist whenever
    the mean does, are far less outlier-sensitive than classical
    skewness (which needs finite third moments — see
    ``hill_tail_index_doclen`` for why heavy tails make that
    optimistic), and are THE standard summary for fitting heavy-tailed
    distributions; the robust companion to the classical moment profile
    in ``event_value_stats``.

    The textbook formula needs the SORTED sample (b_r weights x₍ᵢ₎ by
    falling factorials of its rank) — the banned global sort.  Here
    each probability-weighted moment folds to the VALUE GRAIN in closed
    form: a grain value with count c and exact predecessor count cb
    (the sign-safe ``rank_bucket`` hierarchy) occupies ranks cb+1..cb+c,
    so Σ(i−1) = c·cb + c(c−1)/2 and Σ(i−1)(i−2) telescope to exact
    integer weights W₁/W₂ — every numerator is an exact
    DECIMAL(38,0)/HUGEINT, with the exactly-divisible quotients taken
    via decimal ``/`` cast back to DECIMAL(38,0) (NOT ``div``, which
    returns BIGINT on decimal operands and wraps past c ≈ 3.8×10⁶ on a
    single grain — ADVICE r14; the oracle's HUGEINT ``//`` is exact).
    DECIMAL window: the c³/6 quotient rides a DECIMAL(38,6)
    intermediate (32 integer digits) — exact to c ≈ 8.4×10¹⁰ duplicate
    rows of ONE cent value, and the n³-sized W₂ sums hold to
    n ≈ 10¹²·³ rows — both far beyond the design point
    (``tests/test_properties.py`` pins the c = 5×10⁶ grain that the old
    ``div`` form silently wrapped).
    Degenerate note (EB convention): n < 3 divides by zero (no third
    L-moment exists); a constant sample has λ₂ = 0 → τ₃ NULL-vs-NaN
    cross-engine (no shape to measure)."""
    e = load_table(spark, sf_dir, "events")
    x = e.select((money("value") * 100).cast("bigint").alias("v"))
    g = x.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    r = bucketed_predecessor_counts(g, "v", "c")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    w = pwm_grain_weights(r).select("v", "c", "w1", "w2")
    t = w.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(dec(F.col("v")) * F.col("c")).cast("double").alias("sb0"),
        F.sum(dec(F.col("v")) * F.col("w1")).cast("double").alias("sb1"),
        F.sum(dec(F.col("v")) * F.col("w2")).cast("double").alias("sb2"),
    )
    nd = F.col("n").cast("double")
    b = t.select(
        "n",
        (F.col("sb0") / F.col("n")).alias("b0"),
        (F.col("sb1") / (nd * (F.col("n") - 1.0))).alias("b1"),
        (F.col("sb2") / (nd * (F.col("n") - 1.0) * (F.col("n") - 2.0))).alias(
            "b2"
        ),
    )
    return b.select(
        F.col("n").alias("n_events"),
        F.round(F.expr(_LMOM_L1), 6).alias("l1"),
        F.round(F.expr(_LMOM_L2), 6).alias("l2"),
        F.round(F.expr(_LMOM_TAU2), 6).alias("l_cv"),
        F.round(F.expr(_LMOM_TAU3), 6).alias("l_skew"),
    )


# --- round 14 wave 4: quantile treatment effects --------------------------------

# Deciles are the k-th-smallest order statistics with k = ceil(q * n)
# (type-1 / inverse-ECDF quantile: exact, no interpolation seam).
_QTE_DECILES = (1, 2, 3, 4, 5, 6, 7, 8, 9)


@register(
    "decile_treatment_effects",
    oracle=f"""
WITH x AS (
    SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
               AS grp,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
    FROM events
), n AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY grp
), d AS (SELECT CAST(unnest([{", ".join(str(d) for d in _QTE_DECILES)}]) AS INT) AS dec),
k AS (
    SELECT grp, dec, n, CAST(CEIL(dec * n / 10.0) AS BIGINT) AS kth
    FROM n, d
), q AS (
    SELECT k.grp, k.dec,
           (SELECT MIN(v) FROM (
               SELECT v, SUM(CAST(1 AS BIGINT))
                   OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS rn
               FROM x WHERE x.grp = k.grp) WHERE rn >= k.kth) AS qv
    FROM k
)
SELECT a.dec AS decile,
       ROUND(CAST(a.qv AS DOUBLE) / 100, 6) AS q_treat,
       ROUND(CAST(b.qv AS DOUBLE) / 100, 6) AS q_control,
       ROUND(CAST(a.qv - b.qv AS DOUBLE) / 100, 6) AS qte
FROM q a JOIN q b ON a.dec = b.dec AND a.grp = 1 AND b.grp = 0
ORDER BY decile
""",
    tags=("analytics", "stats", "robust"),
)
def decile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the EXACT decile-by-decile difference
    of the event-value distribution between the two md5-coin user
    cohorts (``logrank_test_purchase``'s split) — the distributional
    read an A/B mean difference hides (a treatment that helps the
    median but hurts the tail nets to zero in ``two_proportion``-style
    means; the QTE column shows WHERE in the distribution the effect
    lives).  Deciles are type-1 (inverse-ECDF) order statistics
    k = ⌈q·n⌉ — exact values from the sample, no interpolation seam.

    Scale shape: values collapse to the integer-cent grain PER COHORT,
    exclusive predecessor counts come from the shared
    ``bucketed_predecessor_counts`` hierarchy (sign-safe, bucket-scoped
    windows — never a global sort), and each decile is the first grain
    value whose inclusive cumulative reaches k: the 18-row (cohort ×
    decile) frame joins the grain ONCE via a broadcast inequality on
    the tiny side, reduced by MIN.  The oracle keeps the direct
    windowed-ECDF form.  All comparisons are exact integers; the three
    output columns are rounded doubles of exact cents."""
    from .helpers import md5_int32

    e = load_table(spark, sf_dir, "events")
    x = e.select(
        (md5_int32(F.col("user_id").cast("string")) % 2).alias("grp"),
        (money("value") * 100).cast("bigint").alias("v"),
    )
    gr = x.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # per-cohort predecessor counts: run the shared hierarchy with the
    # cohort folded into the bucket key via partitioned windows
    cum = None
    for grp in (0, 1):
        part = bucketed_predecessor_counts(
            gr.where(F.col("grp") == grp).select("v", "c"), "v", "c"
        ).withColumn("grp", F.lit(grp))
        cum = part if cum is None else cum.unionByName(part)
    cum = cum.select("grp", "v", (F.col("cb") + F.col("c")).alias("cum"))
    n = x.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # ONE spine definition: the oracle interpolates _QTE_DECILES, so the
    # Spark side explodes the SAME tuple — a hardcoded range(1, 10) here
    # would silently diverge if the constant were ever edited (ADVICE r14).
    d = spark.sql(
        "SELECT explode(array({})) AS dec".format(
            ", ".join(f"CAST({q} AS INT)" for q in _QTE_DECILES)
        )
    )
    k = n.crossJoin(F.broadcast(d)).select(
        F.col("grp").alias("grp_k"),
        "dec",
        F.ceil(F.col("dec") * F.col("n") / 10.0).alias("kth"),
    )
    q = (
        cum.join(
            F.broadcast(k),
            (F.col("grp") == F.col("grp_k")) & (F.col("cum") >= F.col("kth")),
        )
        .groupBy("grp", "dec")
        .agg(F.min("v").alias("qv"))
    )
    a = q.where(F.col("grp") == 1).select(
        F.col("dec").alias("decile"), F.col("qv").alias("qa")
    )
    b = q.where(F.col("grp") == 0).select(
        F.col("dec").alias("dec_b"), F.col("qv").alias("qb")
    )
    return (
        a.join(F.broadcast(b), F.col("decile") == F.col("dec_b"))
        .select(
            "decile",
            F.round(F.col("qa").cast("double") / 100, 6).alias("q_treat"),
            F.round(F.col("qb").cast("double") / 100, 6).alias("q_control"),
            F.round((F.col("qa") - F.col("qb")).cast("double") / 100, 6).alias(
                "qte"
            ),
        )
        .orderBy("decile")
    )


# --- round 14 wave 5: Simpson audit + daily-OLS regression diagnostics ---------


@register(
    "simpsons_paradox_audit",
    oracle=f"""
WITH {_MH_STRATA_CTE}, pooled AS (
    SELECT CAST(SUM(a) AS DOUBLE) * SUM(d)
               / (CAST(SUM(b) AS DOUBLE) * SUM(c)) AS or_pooled
    FROM s
), per AS (
    SELECT yr,
           CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c) AS or_s
    FROM s WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
), agg AS (
    SELECT CAST(COUNT(*) AS INT) AS n_strata_tested,
           CAST(SUM(CASE WHEN (or_s > 1.0) <> (p.or_pooled > 1.0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
           MAX(p.or_pooled) AS or_pooled
    FROM per, pooled p
)
SELECT n_strata_tested, n_flipped,
       ROUND(or_pooled, 6) AS or_pooled,
       CAST(CASE WHEN n_flipped = n_strata_tested AND n_strata_tested > 0
                 THEN 1 ELSE 0 END AS INT) AS full_reversal
FROM agg
""",
    tags=("analytics", "stats"),
)
def simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit on the discount → return association:
    does the POOLED odds ratio point the same way as each ship-year
    stratum's own odds ratio?  ``n_flipped`` counts strata whose
    association direction disagrees with the pooled direction, and
    ``full_reversal`` = 1 is the textbook paradox (every stratum
    reverses the aggregate) — the alarm that says "do not read the
    pooled number; use ``mantel_haenszel_returns``'s adjusted OR".

    Shares the per-stratum 2x2 frame with the CMH test
    (``_mh_strata`` / ``_MH_STRATA_CTE`` — one definition, so the audit
    can never disagree with the test about what a stratum IS).  Strata
    with any empty cell are excluded (their OR is 0/0-degenerate; the
    classical audit only reads defined directions).  All counts exact
    BIGINTs; the direction comparison is on identical doubles; one
    rounded output column."""
    s = _mh_strata(spark, sf_dir)
    pooled = s.agg(
        (
            F.sum("a").cast("double") * F.sum("d")
            / (F.sum("b").cast("double") * F.sum("c"))
        ).alias("or_pooled")
    )
    per = s.where(
        (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
    ).select(
        (
            F.col("a").cast("double") * F.col("d")
            / (F.col("b").cast("double") * F.col("c"))
        ).alias("or_s")
    )
    agg = per.crossJoin(F.broadcast(pooled)).agg(
        F.count(F.lit(1)).cast("int").alias("n_strata_tested"),
        F.sum(
            F.when(
                (F.col("or_s") > 1.0) != (F.col("or_pooled") > 1.0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_flipped"),
        F.max("or_pooled").alias("or_pooled"),
    )
    return agg.select(
        "n_strata_tested",
        "n_flipped",
        F.round(F.col("or_pooled"), 6).alias("or_pooled"),
        F.when(
            (F.col("n_flipped") == F.col("n_strata_tested"))
            & (F.col("n_strata_tested") > 0),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("full_reversal"),
    )


# Daily-OLS residual machinery (shared by Durbin-Watson and Cook's
# distance): regress exact-decimal daily revenue on the integer day
# index; residuals are FLOOR-quantized to the 1e-6 grid so every
# data-sized reduction is exact.
OLS_GRID = 1_000_000

_DAILY_OLS_CTES = f"""daily AS (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
), idx AS (
    SELECT day, y,
           CAST(datediff('day', (SELECT MIN(day) FROM daily), day) AS BIGINT) AS t
    FROM daily
), m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS DOUBLE) AS st, CAST(SUM(t * t) AS DOUBLE) AS stt,
           SUM(y) AS sy, SUM(t * y) AS sty
    FROM idx
), fit AS (
    SELECT n, st, stt,
           (n * sty - st * sy) / (n * stt - st * st) AS slope,
           (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n AS icept
    FROM m
), resid AS (
    SELECT idx.day, idx.t, fit.n, fit.st, fit.stt,
           CAST(FLOOR((idx.y - (fit.icept + fit.slope * idx.t))
                      * {OLS_GRID}) AS BIGINT) AS eq
    FROM idx, fit
)"""


def _daily_ols_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, t, n, st, stt, eq): the Spark half of ``_DAILY_OLS_CTES`` —
    exact-decimal daily revenue regressed on the integer day index in
    one closed form (the ``ols_two_feature`` moment discipline), with
    the residual FLOOR-quantized to the 1e-6 grid (helpers.py
    convention) so Durbin–Watson and Cook's distance reduce over exact
    integers.  The moments ride ONE map-side-combinable aggregate and a
    1-row broadcast; no window touches the orders scan."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(money("o_totalprice")).cast("double").alias("y")
    )
    dmin = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(dmin)).select(
        "day", "y", F.datediff("day", "d0").cast("bigint").alias("t")
    )
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    slope = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    fit = m.select(
        "n",
        "st",
        "stt",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("st")) / F.col("n")).alias("icept"),
    )
    return idx.crossJoin(F.broadcast(fit)).select(
        "day",
        "t",
        "n",
        "st",
        "stt",
        F.floor(
            (F.col("y") - (F.col("icept") + F.col("slope") * F.col("t")))
            * OLS_GRID
        )
        .cast("bigint")
        .alias("eq"),
    )


@register(
    "durbin_watson_daily",
    oracle=f"""
WITH {_DAILY_OLS_CTES}, lagged AS (
    SELECT eq, LAG(eq) OVER (ORDER BY t) AS ep, n FROM resid
), sums AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN ep IS NOT NULL
                         THEN CAST(eq - ep AS HUGEINT) * (eq - ep)
                         ELSE 0 END) AS DOUBLE) AS sd2,
           CAST(SUM(CAST(eq AS HUGEINT) * eq) AS DOUBLE) AS se2
    FROM lagged
)
SELECT n_days,
       ROUND(sd2 / se2, 6) AS dw,
       ROUND(1.0 - sd2 / se2 / 2.0, 6) AS rho_lag1_approx
FROM sums
""",
    tags=("analytics", "stats", "timeseries"),
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic of the daily-revenue trend residuals —
    THE autocorrelation alarm every regression report runs before
    quoting OLS standard errors (DW ≈ 2 means independent residuals;
    DW → 0 means positive serial correlation and the trend's t-stats
    are fiction), complementing ``acf_monthly_revenue`` (which reads
    the raw series; DW reads what the TREND FIT leaves behind) with
    ``rho_lag1_approx`` = 1 − DW/2 as the familiar translation.

    The OLS fit is the shared closed-form moment discipline
    (``_daily_ols_residuals`` / ``_DAILY_OLS_CTES``, one definition
    with Cook's distance); residuals are FLOOR-quantized to the 1e-6
    grid so both quadratic sums are exact DECIMAL(38,0)/HUGEINT
    integers — the lag-1 difference rides one bounded day-grain window
    (the documented bounded-frame single-partition case).  Degenerate
    note (EB convention): a constant series has se2 = 0 → DW
    NULL-vs-NaN cross-engine (no residual process to test)."""
    r = _daily_ols_residuals(spark, sf_dir)
    w = Window.orderBy("t")
    lagged = r.select(
        "eq", "n", F.lag("eq").over(w).alias("ep")
    )
    dec = F.col("eq").cast("decimal(38,0)")
    sums = lagged.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("eq") - F.col("ep")).cast("decimal(38,0)")
                * (F.col("eq") - F.col("ep")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("sd2"),
        F.sum(dec * F.col("eq")).cast("double").alias("se2"),
    )
    return sums.select(
        "n_days",
        F.round(F.col("sd2") / F.col("se2"), 6).alias("dw"),
        F.round(1.0 - F.col("sd2") / F.col("se2") / 2.0, 6).alias(
            "rho_lag1_approx"
        ),
    )


COOKS_TOP = 5


@register(
    "cooks_distance_top_days",
    oracle=f"""
WITH {_DAILY_OLS_CTES}, sse AS (
    SELECT CAST(SUM(CAST(eq AS HUGEINT) * eq) AS DOUBLE)
               / ({OLS_GRID}.0 * {OLS_GRID}) AS sse_v
    FROM resid
), scored AS (
    SELECT day,
           CAST(eq AS DOUBLE) / {OLS_GRID} AS e,
           1.0 / n + (t - st / n) * (t - st / n) / (stt - st * st / n) AS h,
           sse_v / (n - 2.0) AS s2
    FROM resid, sse
), cook AS (
    SELECT day, ROUND(e, 6) AS residual, ROUND(h, 6) AS leverage,
           ROUND(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)), 6) AS cooks_d
    FROM scored
)
SELECT * FROM cook ORDER BY cooks_d DESC, day LIMIT {COOKS_TOP}
""",
    tags=("analytics", "stats", "robust"),
)
def cooks_distance_top_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {K} most influential days of the daily-revenue trend fit by
    Cook's distance D = e²·h / (p·s²·(1−h)²) — "which single days are
    dragging the trend line?", the influence diagnostic that separates
    a big residual (``grubbs_outlier_daily``'s question) from a big
    residual AT HIGH LEVERAGE (this one — an extreme day at the series
    edge bends the slope far more than the same residual mid-series).

    Same ONE-definition residual machinery as Durbin–Watson
    (``_daily_ols_residuals``): leverage is the closed form
    1/n + (t−t̄)²/Sxx from the already-broadcast exact moments, s² from
    the exact quantized SSE, and the top-{K} is a TakeOrderedAndProject
    under the deterministic (D desc, day) order — residual doubles are
    grid-quantized so the ranking can never flip cross-engine."""
    r = _daily_ols_residuals(spark, sf_dir)
    sse = r.agg(
        (
            F.sum(F.col("eq").cast("decimal(38,0)") * F.col("eq")).cast("double")
            / (float(OLS_GRID) * OLS_GRID)
        ).alias("sse_v")
    )
    h = 1.0 / F.col("n") + (F.col("t") - F.col("st") / F.col("n")) * (
        F.col("t") - F.col("st") / F.col("n")
    ) / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
    scored = r.crossJoin(F.broadcast(sse)).select(
        "day",
        (F.col("eq").cast("double") / OLS_GRID).alias("e"),
        h.alias("h"),
        (F.col("sse_v") / (F.col("n") - 2.0)).alias("s2"),
    )
    cook = scored.select(
        "day",
        F.round(F.col("e"), 6).alias("residual"),
        F.round(F.col("h"), 6).alias("leverage"),
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (2.0 * F.col("s2") * (1.0 - F.col("h")) * (1.0 - F.col("h"))),
            6,
        ).alias("cooks_d"),
    )
    return cook.orderBy(F.desc("cooks_d"), F.asc("day")).limit(COOKS_TOP)


cooks_distance_top_days.__doc__ = cooks_distance_top_days.__doc__.format(
    K=COOKS_TOP
)


# --- round 15 wave 1: variance homogeneity / exact KS / ICC / trend ------------

# Bartlett shared formula texts over the bounded type grain: vg is the
# per-type sample variance, sp2 the pooled variance; the correction C
# uses only counts.
_BART_SP2 = "(swv / (nn - kk))"
_BART_T = f"(((nn - kk) * LN({_BART_SP2}) - swl) / cc)"


@register(
    "bartlett_test_event_types",
    oracle=f"""
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s_g,
           CAST(SUM(CAST(value AS DECIMAL(18,2))
                    * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS q_g
    FROM events GROUP BY 1
), v AS (
    SELECT n_g,
           (q_g - s_g * s_g / n_g) / (n_g - 1.0) AS vg
    FROM g
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk,
           CAST(SUM(n_g) AS DOUBLE) AS nn,
           SUM((n_g - 1.0) * vg) AS swv,
           SUM((n_g - 1.0) * LN(vg)) AS swl,
           SUM(1.0 / (n_g - 1.0)) AS sinv
    FROM v
), c AS (
    SELECT kk, nn, swv, swl,
           1.0 + (sinv - 1.0 / (nn - kk)) / (3.0 * (kk - 1.0)) AS cc
    FROM m
)
SELECT CAST(kk AS INT) AS k_types,
       CAST(nn AS BIGINT) AS n_events,
       CAST(kk - 1 AS INT) AS dof,
       ROUND({_BART_T}, 6) AS bartlett_t
FROM c
""",
    tags=("analytics", "stats"),
)
def bartlett_test_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across event types — the
    parametric variance-homogeneity check that decides between classic
    ANOVA (``anova_f_event_types``) and its heteroscedasticity-robust
    replacements (``welch_anova_event_types``,
    ``brown_forsythe_event_types``): under normality T ~ χ²(k−1), and a
    large T says the pooled-variance F is the wrong test.  Bartlett is
    the sensitive-but-fragile member of that trio (it reacts to
    non-normality as much as to variance), which is exactly why a
    dashboard shows it NEXT TO Brown-Forsythe rather than instead.

    One map-side-combinable pass collects exact per-type decimal
    moments (n, Σx, Σx²); each type's variance touches doubles in one
    identical op sequence (the ``welch_t_flags`` _W_VN shape), and the
    three k-term reductions (Σ(n−1)v, Σ(n−1)ln v, Σ1/(n−1)) run over
    the BOUNDED type grain (chi_square convention: exact inputs,
    identical operand order, round(6) on the final T only).
    Degenerate note (EB convention): a type with n<2 or zero variance
    has no ln(v) — NULL propagates on both engines identically."""
    e = load_table(spark, sf_dir, "events")
    v = money("value")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(v).cast("double").alias("s_g"),
        F.sum(v * v).cast("double").alias("q_g"),
    )
    vg = g.select(
        "n_g",
        (
            (F.col("q_g") - F.col("s_g") * F.col("s_g") / F.col("n_g"))
            / (F.col("n_g") - 1.0)
        ).alias("vg"),
    )
    m = vg.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum("n_g").cast("double").alias("nn"),
        F.sum((F.col("n_g") - 1.0) * F.col("vg")).alias("swv"),
        F.sum((F.col("n_g") - 1.0) * F.log("vg")).alias("swl"),
        F.sum(1.0 / (F.col("n_g") - 1.0)).alias("sinv"),
    )
    c = m.select(
        "kk",
        "nn",
        "swv",
        "swl",
        (
            1.0
            + (F.col("sinv") - 1.0 / (F.col("nn") - F.col("kk")))
            / (3.0 * (F.col("kk") - 1.0))
        ).alias("cc"),
    )
    return c.selectExpr(
        "CAST(kk AS INT) AS k_types",
        "CAST(nn AS BIGINT) AS n_events",
        "CAST(kk - 1 AS INT) AS dof",
        f"ROUND({_BART_T}, 6) AS bartlett_t",
    )


@register(
    "ks_test_flag_values",
    oracle="""
WITH x AS (
    SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           l_returnflag AS f
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), g AS (
    SELECT v,
           CAST(SUM(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
    FROM x GROUP BY v
), cum AS (
    SELECT v,
           SUM(c1) OVER (ORDER BY v) AS m1,
           SUM(c2) OVER (ORDER BY v) AS m2
    FROM g
), n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g),
d AS (
    SELECT MAX(ABS(CAST(m1 * (SELECT n2 FROM n) AS BIGINT)
                   - CAST(m2 * (SELECT n1 FROM n) AS BIGINT))) AS dnum
    FROM cum
)
SELECT CAST((SELECT n1 FROM n) AS BIGINT) AS n_n,
       CAST((SELECT n2 FROM n) AS BIGINT) AS n_r,
       ROUND(CAST((SELECT dnum FROM d) AS DOUBLE)
             / ((SELECT n1 FROM n) * CAST((SELECT n2 FROM n) AS DOUBLE)),
             6) AS ks_d,
       ROUND(CAST((SELECT MIN(v) FROM cum
                   WHERE ABS(CAST(m1 * (SELECT n2 FROM n) AS BIGINT)
                             - CAST(m2 * (SELECT n1 FROM n) AS BIGINT))
                         = (SELECT dnum FROM d)) AS DOUBLE) / 100,
             6) AS ks_at_value
FROM d
""",
    tags=("analytics", "stats", "robust"),
)
def ks_test_flag_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the 'N' and
    'R' return-flag cohorts on line-item price — sup-norm ECDF distance
    over the CONTINUOUS value domain (``ks_test_type_hours`` compares
    over the bounded 24-hour grid; this is the order-statistic form a
    drift monitor wants on a numeric feature), plus the value where the
    ECDFs diverge most (where in the price range the two populations
    actually differ).

    Exactness at scale: prices collapse to the integer-cent grain with
    BOTH cohort counts per grain value, one pass of the shared
    ``bucketed_prefix_sums`` hierarchy (sign-safe buckets, bucket-scoped
    windows — never a data-sized sorted partition) yields both running
    ECDFs simultaneously, and the sup is taken over the cross-multiplied
    INTEGER comparison |m1·n2 − m2·n1| — no float ever enters the
    argmax, so the D statistic and its location are exact on both
    engines (one double division + round(6) at the end).  The oracle
    keeps the direct single-window form."""
    from .helpers import bucketed_prefix_sums

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("N", "R")
    )
    g = (
        li.select(
            (money("l_extendedprice") * 100).cast("bigint").alias("v"),
            F.col("l_returnflag").alias("f"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("f") == "N", 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("f") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    cum = bucketed_prefix_sums(g, "v", ["c1", "c2"])
    n = g.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    scored = cum.crossJoin(F.broadcast(n)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("cum_c1") * F.col("n2") - F.col("cum_c2") * F.col("n1")
        ).alias("dn"),
    )
    d = scored.agg(F.max("dn").alias("dnum"))
    at = (
        scored.crossJoin(F.broadcast(d))
        .where(F.col("dn") == F.col("dnum"))
        .agg(F.min("v").alias("v_at"))
    )
    return (
        n.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n1").alias("n_n"),
            F.col("n2").alias("n_r"),
            F.round(
                F.col("dnum").cast("double")
                / (F.col("n1") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
            F.round(F.col("v_at").cast("double") / 100, 6).alias(
                "ks_at_value"
            ),
        )
    )


# ICC shared formula texts over the exact moments: aaq is the
# FLOOR-quantized between-user raw term (integer cents^2), so both
# engines feed bit-identical inputs to the final double formula.
_ICC_SSB = "(aaq - ss * ss / nn)"
_ICC_SSW = "(qq - aaq)"
_ICC_MSB = f"({_ICC_SSB} / (kk - 1.0))"
_ICC_MSW = f"({_ICC_SSW} / (nn - kk))"
_ICC_N0 = "((nn - sn2 / nn) / (kk - 1.0))"


@register(
    "icc_user_events",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_u,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS s_u
    FROM events GROUP BY 1
), q AS (
    SELECT CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS DOUBLE) AS qq
    FROM events
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS kk,
           CAST(SUM(n_u) AS DOUBLE) AS nn,
           CAST(SUM(s_u) AS DOUBLE) AS ss,
           CAST(SUM((CAST(s_u AS HUGEINT) * s_u) // n_u) AS DOUBLE) AS aaq,
           CAST(SUM(CAST(n_u AS HUGEINT) * n_u) AS DOUBLE) AS sn2
    FROM u
)
SELECT CAST(kk AS INT) AS k_users,
       CAST(nn AS BIGINT) AS n_events,
       ROUND({_ICC_MSB} / {_ICC_MSW}, 6) AS f_users,
       ROUND(({_ICC_MSB} - {_ICC_MSW})
             / ({_ICC_MSB} + ({_ICC_N0} - 1.0) * {_ICC_MSW}), 6) AS icc1
FROM m, q
""",
    tags=("analytics", "stats"),
)
def icc_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1) — the one-way intraclass correlation of event values
    within users: how much of the value variance is explained by WHO
    generated the event.  The repeated-measures companion to
    ``anova_f_event_types`` (types are a bounded factor; users are a
    data-sized random factor), and the statistic behind "do we need
    user-level clustering of standard errors?" — ICC near 0 says events
    are exchangeable, ICC near 1 says effective sample size is #users.
    Unbalanced design uses the n₀ correction (Σn is per-user counts):
    ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW), n₀ = (N − Σn_u²/N)/(k−1).

    Scale + determinism: the user grain is ONE map-side-combinable pass
    (count, exact cent sum per user).  The between-user raw term
    Σ s_u²/n_u is a DATA-SIZED sum of rationals — an order-dependent
    float sum at scale — so it is FLOOR-QUANTIZED to the integer cent²
    grid per user (s_u² div n_u: HUGEINT ``//`` on the oracle, exact
    DECIMAL-product ``div`` on Spark — s_u² is exact in DECIMAL(38,0)
    to |s_u| ≈ 10¹⁹ cents, and the BIGINT quotient holds to
    s_u²/n_u < 2⁶³, i.e. user lifetime value below ~$92M-√n — the
    helpers.py FLOOR-quantize convention, deviation < 1 cent² per
    user).  Everything else is exact integers; the final formula is
    one identical double op sequence, round(6)."""
    e = load_table(spark, sf_dir, "events")
    cents = (money("value") * 100).cast("bigint")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_u"),
        F.sum(cents).cast("bigint").alias("s_u"),
    )
    q = e.agg(F.sum(cents * cents).cast("double").alias("qq"))
    m = u.agg(
        F.count(F.lit(1)).cast("double").alias("kk"),
        F.sum("n_u").cast("double").alias("nn"),
        F.sum("s_u").cast("double").alias("ss"),
        F.sum(F.expr("(CAST(s_u AS DECIMAL(38,0)) * s_u) div n_u"))
        .cast("double")
        .alias("aaq"),
        F.sum(F.col("n_u") * F.col("n_u")).cast("double").alias("sn2"),
    )
    return m.crossJoin(F.broadcast(q)).selectExpr(
        "CAST(kk AS INT) AS k_users",
        "CAST(nn AS BIGINT) AS n_events",
        f"ROUND({_ICC_MSB} / {_ICC_MSW}, 6) AS f_users",
        f"ROUND(({_ICC_MSB} - {_ICC_MSW})"
        f" / ({_ICC_MSB} + ({_ICC_N0} - 1.0) * {_ICC_MSW}), 6) AS icc1",
    )


@register(
    "mann_kendall_trend_daily",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS yc
    FROM orders GROUP BY 1
), s AS (
    SELECT CAST(SUM(CASE WHEN b.yc > a.yc THEN 1
                         WHEN b.yc < a.yc THEN -1 ELSE 0 END) AS BIGINT) AS s
    FROM daily a JOIN daily b ON a.day < b.day
), t AS (
    SELECT CAST(COALESCE(SUM(CAST(c AS BIGINT) * (c - 1) * (2 * c + 5)), 0)
                AS BIGINT) AS tie_term
    FROM (SELECT COUNT(*) AS c FROM daily GROUP BY yc) WHERE c > 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
v AS (
    SELECT (SELECT n FROM n) AS n_days,
           (SELECT s FROM s) AS s_stat,
           ((SELECT n FROM n) * ((SELECT n FROM n) - 1.0)
                * (2.0 * (SELECT n FROM n) + 5.0)
            - (SELECT tie_term FROM t)) / 18.0 AS var_s
)
SELECT n_days, s_stat, ROUND(var_s, 6) AS var_s,
       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                  ELSE 0.0 END, 6) AS z_mk
FROM v
""",
    tags=("analytics", "stats", "timeseries"),
)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily order revenue: S = Σ_{i<j}
    sign(y_j − y_i), tie-corrected Var(S), and the continuity-corrected
    Z — the NONPARAMETRIC companion to ``theil_sen_monthly_trend``
    (whose slope estimates the trend MK tests; together they are the
    standard monotone-trend toolkit for series with outliers, where an
    OLS slope t-test is fragile).

    Exactness: daily revenue is the exact integer cent sum, so every
    sign comparison, S, and the tie term Σc(c−1)(2c+5) are exact
    integers; Var(S) and Z are one identical double op sequence,
    round(6).  Scale: the pairwise comparison is a CALENDAR-bounded
    grid self-join (days × days — bounded by time span, never by row
    count; ``theil_sen_monthly_trend``'s shape, allowlisted the same
    way), and the day grain itself is one map-side-combinable pass."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("yc")
    )
    a = daily.select(F.col("day").alias("da"), F.col("yc").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("yc").alias("yb"))
    s = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    t = (
        daily.groupBy("yc")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast("bigint")
                    * (F.col("c") - 1)
                    * (2 * F.col("c") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    v = (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(t))
        .select(
            "n_days",
            "s_stat",
            (
                (
                    F.col("n_days") * (F.col("n_days") - 1.0)
                    * (2.0 * F.col("n_days") + 5.0)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_s"),
        )
    )
    return v.select(
        "n_days",
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1) / F.sqrt("var_s"),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1) / F.sqrt("var_s"),
            )
            .otherwise(0.0),
            6,
        ).alias("z_mk"),
    )


# --- round 15 wave 2: cross-correlation / extreme values / turning points ------

CCF_MAX_LAG = 7
# ln2/ln3 as an exact repr literal so both engines share one double
# (libm vs JVM log may differ in the last ulp on computed logs).
_LN2_OVER_LN3 = "0.6309297535714574"
_GEV_C = f"(2.0 / (3.0 + t3) - {_LN2_OVER_LN3})"
_GEV_SHAPE = "(7.8590 * cg + 2.9554 * cg * cg)"


@register(
    "ccf_daily_types",
    oracle=f"""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, event_type FROM events
    WHERE event_type IN ('click', 'view')
), cnts AS (
    SELECT day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b
    FROM d GROUP BY 1
), span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM cnts),
spine AS (
    SELECT CAST(unnest(generate_series((SELECT d0 FROM span),
                                       (SELECT d1 FROM span),
                                       INTERVAL 1 DAY)) AS DATE) AS day
), s AS (
    SELECT spine.day, COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
    FROM spine LEFT JOIN cnts USING (day)
), lags AS (SELECT CAST(unnest(range(0, {CCF_MAX_LAG + 1})) AS INT) AS lag),
j AS (
    SELECT l.lag, x.a, y.b
    FROM lags l CROSS JOIN s x JOIN s y ON y.day = x.day + l.lag
), m AS (
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
           CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab,
           CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
           CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb
    FROM j GROUP BY 1
)
SELECT lag, n AS n_days,
       ROUND((n * sab - sa * sb)
             / SQRT((n * saa - sa * sa) * (n * sbb - sb * sb)), 6) AS ccf
FROM m
""",
    tags=("analytics", "stats", "timeseries"),
)
def ccf_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the daily click and view count
    series at lags 0..{L}: does click volume LEAD view volume (or vice
    versa), and by how many days?  The lead-lag companion to
    ``acf_monthly_revenue`` (autocorrelation of one series) and
    ``rolling_corr_types_daily`` (contemporaneous correlation only) —
    the CCF peak's lag is the standard read for "which series is the
    leading indicator", feeding anomaly root-causing and forecast
    feature selection.

    Exactness: both series are zero-filled INTEGER counts on the
    calendar-bounded day spine, so every lagged co-moment (Σab, Σa²,
    Σb², sums, n) is an exact integer — the correlation touches doubles
    in one identical op sequence per lag, round(6).  Scale: the spine
    is calendar-bounded; each lag aligns via an EQUI-join on the
    date_add-shifted key (never an inequality scan), and the {L1}-row
    lag frame rides a broadcast."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    cnts = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    span = cnts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    s = (
        spine.join(cnts, "day", "left")
        .select(
            "day",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    lags = spark.sql(
        f"SELECT explode(sequence(0, {CCF_MAX_LAG})) AS lag"
    ).select(F.col("lag").cast("int").alias("lag"))
    x = s.crossJoin(F.broadcast(lags)).select(
        "lag", "a", F.expr("date_add(day, lag)").alias("day2")
    )
    y = s.select(F.col("day").alias("day2"), "b")
    j = x.join(F.broadcast(y), "day2")
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
    )
    return m.select(
        "lag",
        F.col("n").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
            / F.sqrt(
                (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
                * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
            ),
            6,
        ).alias("ccf"),
    )


ccf_daily_types.__doc__ = ccf_daily_types.__doc__.replace(
    "{L1}", str(CCF_MAX_LAG + 1)
).replace("{L}", str(CCF_MAX_LAG))


@register(
    "gev_shape_daily_max",
    oracle=f"""
WITH dm AS (
    SELECT CAST(ts AS DATE) AS day,
           MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS v
    FROM events WHERE value IS NOT NULL GROUP BY 1
), g AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM dm GROUP BY v
), r AS (
    SELECT v, c,
           COALESCE(SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
    FROM g
), w AS (
    SELECT v, c, cb,
           CAST(c AS HUGEINT) * cb + (CAST(c AS HUGEINT) * (c - 1)) // 2 AS w1,
           CAST(c AS HUGEINT) * cb * cb
               + 2 * CAST(cb AS HUGEINT) * ((CAST(c AS HUGEINT) * (c - 1)) // 2)
               + (CAST(c - 1 AS HUGEINT) * c * (2 * c - 1)) // 6
               - (CAST(c AS HUGEINT) * cb
                  + (CAST(c AS HUGEINT) * (c - 1)) // 2) AS w2
    FROM r
), t AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS HUGEINT) * c) AS DOUBLE) AS sb0,
           CAST(SUM(CAST(v AS HUGEINT) * w1) AS DOUBLE) AS sb1,
           CAST(SUM(CAST(v AS HUGEINT) * w2) AS DOUBLE) AS sb2
    FROM w
), b AS (
    SELECT n, sb0 / n AS b0,
           sb1 / (CAST(n AS DOUBLE) * (n - 1.0)) AS b1,
           sb2 / (CAST(n AS DOUBLE) * (n - 1.0) * (n - 2.0)) AS b2
    FROM t
), lm AS (
    SELECT n, {_LMOM_L1} AS l1, {_LMOM_L2} AS l2, {_LMOM_TAU3} AS t3 FROM b
), cg_t AS (SELECT n, l1, l2, t3, {_GEV_C} AS cg FROM lm)
SELECT n AS n_days,
       ROUND(l1, 6) AS l1, ROUND(l2, 6) AS l2, ROUND(t3, 6) AS l_skew,
       ROUND({_GEV_SHAPE}, 6) AS gev_shape
FROM cg_t
""",
    tags=("analytics", "stats", "robust", "timeseries"),
)
def gev_shape_daily_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEV shape parameter of the DAILY BLOCK MAXIMA of event values,
    estimated from sample L-moments (Hosking 1990's rational
    approximation: c = 2/(3+τ₃) − ln2/ln3, κ ≈ 7.8590c + 2.9554c²) —
    extreme-value theory's capacity-planning read: κ > 0 means daily
    peaks are bounded-tail (Weibull domain), κ ≈ 0 Gumbel, κ < 0
    heavy-tailed Fréchet peaks where "the worst day so far" keeps being
    beaten (the block-maxima counterpart to the exceedance-based
    ``hill_tail_index_doclen``).

    Machinery reuse: the block maxima collapse to a value grain, and
    the probability-weighted moments ride the SAME sign-safe
    ``bucketed_predecessor_counts`` + ``pwm_grain_weights`` path as
    ``l_moments_event_values`` — exact integer weights, doubles in one
    identical op sequence, ln2/ln3 pinned as a shared repr literal
    (computed logs can differ by an ulp across libm implementations).
    Degenerate note (EB convention): fewer than 3 distinct-day maxima
    or a constant series leaves τ₃ (and κ) NULL on both engines."""
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    dm = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.max((money("value") * 100).cast("bigint")).alias("v")
    )
    g = dm.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    r = bucketed_predecessor_counts(g, "v", "c")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    w = pwm_grain_weights(r).select("v", "c", "w1", "w2")
    t = w.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(dec(F.col("v")) * F.col("c")).cast("double").alias("sb0"),
        F.sum(dec(F.col("v")) * F.col("w1")).cast("double").alias("sb1"),
        F.sum(dec(F.col("v")) * F.col("w2")).cast("double").alias("sb2"),
    )
    nd = F.col("n").cast("double")
    b = t.select(
        "n",
        (F.col("sb0") / F.col("n")).alias("b0"),
        (F.col("sb1") / (nd * (F.col("n") - 1.0))).alias("b1"),
        (F.col("sb2") / (nd * (F.col("n") - 1.0) * (F.col("n") - 2.0))).alias(
            "b2"
        ),
    )
    lm = b.selectExpr(
        "n",
        f"{_LMOM_L1} AS l1",
        f"{_LMOM_L2} AS l2",
        f"{_LMOM_TAU3} AS t3",
    )
    return lm.selectExpr("*", f"{_GEV_C} AS cg").selectExpr(
        "n AS n_days",
        "ROUND(l1, 6) AS l1",
        "ROUND(l2, 6) AS l2",
        "ROUND(t3, 6) AS l_skew",
        f"ROUND({_GEV_SHAPE}, 6) AS gev_shape",
    )


POT_PCTS = (50, 75, 90, 95)


@register(
    "pot_mean_excess_doclen",
    oracle=f"""
WITH g AS (
    SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1
), cum AS (
    SELECT v, SUM(c) OVER (ORDER BY v) AS m FROM g
), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
ps AS (SELECT CAST(unnest([{", ".join(str(p) for p in POT_PCTS)}]) AS INT) AS p),
k AS (
    SELECT p, ((SELECT n FROM n) * p + 99) // 100 AS kth FROM ps
), u AS (
    SELECT p, (SELECT MIN(v) FROM cum WHERE m >= k.kth) AS u FROM k
)
SELECT u.p AS p_pct,
       CAST(u.u AS BIGINT) AS u_chars,
       CAST(SUM(g.c) AS BIGINT) AS n_exceed,
       ROUND(CAST(SUM(g.c * (g.v - u.u)) AS DOUBLE) / SUM(g.c), 6)
           AS mean_excess
FROM u JOIN g ON g.v > u.u
GROUP BY 1, 2
""",
    tags=("analytics", "stats", "robust", "llm"),
)
def pot_mean_excess_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold mean-excess frontier for document length:
    at each of the {P} exact order-statistic thresholds, the exceedance
    count and the mean excess E[X − u | X > u] — the mean-residual-life
    read used to CHOOSE the POT threshold before fitting a generalized
    Pareto tail (a mean excess that grows linearly in u is the GPD
    signature; its slope's sign matches ``hill_tail_index_doclen``'s
    verdict, and the flat/linear breakpoint is where the tail model
    starts).  Together with ``gev_shape_daily_max`` this completes the
    block-maxima + threshold-exceedance EVT pair.

    Exactness: thresholds are exact k-th smallest order statistics
    (k = ⌈p·n/100⌉ via pure integer arithmetic) from the shared
    ``bucketed_predecessor_counts`` grain hierarchy — never a global
    sort; exceedance sums are exact integers over the grain, divided
    once, round(6).  The 4-row threshold frame attaches by broadcast
    inequality join against the grain (conformal's shape)."""
    from .helpers import bucketed_prefix_sums

    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.col("n_chars").cast("bigint").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = bucketed_prefix_sums(g, "v", ["c"]).select(
        "v", "c", F.col("cum_c").alias("m")
    )
    n = g.agg(F.sum("c").cast("bigint").alias("n"))
    ps = spark.sql(
        "SELECT explode(array({})) AS p".format(
            ", ".join(f"CAST({p} AS INT)" for p in POT_PCTS)
        )
    )
    k = ps.crossJoin(F.broadcast(n)).select(
        "p", F.expr("(n * p + 99) div 100").alias("kth")
    )
    u = (
        cum.crossJoin(F.broadcast(k))
        .where(F.col("m") >= F.col("kth"))
        .groupBy("p")
        .agg(F.min("v").alias("u"))
    )
    return (
        g.join(F.broadcast(u), F.col("v") > F.col("u"))
        .groupBy("p", "u")
        .agg(
            F.sum("c").cast("bigint").alias("n_exceed"),
            F.round(
                F.sum(F.col("c") * (F.col("v") - F.col("u"))).cast("double")
                / F.sum("c"),
                6,
            ).alias("mean_excess"),
        )
        .select(
            F.col("p").alias("p_pct"),
            F.col("u").cast("bigint").alias("u_chars"),
            "n_exceed",
            "mean_excess",
        )
    )


pot_mean_excess_doclen.__doc__ = pot_mean_excess_doclen.__doc__.replace(
    "{P}", str(len(POT_PCTS))
)


@register(
    "turning_points_daily",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS yc
    FROM orders GROUP BY 1
), w AS (
    SELECT yc,
           LAG(yc) OVER (ORDER BY day) AS pv,
           LEAD(yc) OVER (ORDER BY day) AS nx
    FROM daily
), t AS (
    SELECT CAST(SUM(CASE WHEN pv IS NOT NULL AND nx IS NOT NULL
                          AND CAST(yc - pv AS HUGEINT) * (nx - yc) < 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w
)
SELECT n AS n_days, tp AS turning_points,
       ROUND(2.0 * (n - 2) / 3.0, 6) AS expected_tp,
       ROUND((tp - 2.0 * (n - 2) / 3.0)
             / SQRT((16.0 * n - 29.0) / 90.0), 6) AS z_tp
FROM t
""",
    tags=("analytics", "stats", "timeseries"),
)
def turning_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test for randomness of the daily revenue series:
    count strict local extrema (sign change of consecutive differences),
    compare with the i.i.d. expectation 2(n−2)/3, and report the normal
    z — the third member of the randomness panel next to
    ``runs_test_daily_sign`` (signs vs median) and
    ``durbin_watson_daily`` (residual autocorrelation): too FEW turning
    points means momentum/trend, too MANY means alternation faster than
    chance (e.g. a day-parity batch artifact).

    Exactness: daily revenue is the exact integer cent sum; the strict
    sign test rides an exact HUGEINT/DECIMAL product (no overflow at
    any revenue scale), and the lag/lead windows run over the
    calendar-bounded day grain.  The only doubles are the closed-form
    moments of T, round(6)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("yc")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "yc",
        F.lag("yc").over(w).alias("pv"),
        F.lead("yc").over(w).alias("nx"),
    )
    t = lagged.agg(
        F.sum(
            F.when(
                F.col("pv").isNotNull()
                & F.col("nx").isNotNull()
                & (
                    (F.col("yc") - F.col("pv")).cast("decimal(38,0)")
                    * (F.col("nx") - F.col("yc"))
                    < 0
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return t.select(
        F.col("n").alias("n_days"),
        F.col("tp").alias("turning_points"),
        F.round(2.0 * (F.col("n") - 2) / 3.0, 6).alias("expected_tp"),
        F.round(
            (F.col("tp") - 2.0 * (F.col("n") - 2) / 3.0)
            / F.sqrt((16.0 * F.col("n") - 29.0) / 90.0),
            6,
        ).alias("z_tp"),
    )


# --- round 15 wave 4: partial correlation / Hurst / Lorenz ---------------------

# Shared pairwise-correlation text over exact integer co-moments of the
# zero-filled daily count spine (n, s*, q** columns).
_PC_R = "((nn * {sxy} - {sx} * {sy}) / SQRT((nn * {sxx} - {sx} * {sx}) * (nn * {syy} - {sy} * {sy})))"


@register(
    "partial_corr_daily_types",
    oracle=f"""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, event_type FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
), cnts AS (
    SELECT day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
    FROM d GROUP BY 1
), span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM cnts),
spine AS (
    SELECT CAST(unnest(generate_series((SELECT d0 FROM span),
                                       (SELECT d1 FROM span),
                                       INTERVAL 1 DAY)) AS DATE) AS day
), s AS (
    SELECT COALESCE(a, 0) AS a, COALESCE(b, 0) AS b, COALESCE(c, 0) AS c
    FROM spine LEFT JOIN cnts USING (day)
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
           CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
           CAST(SUM(c) AS DOUBLE) AS sc,
           CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
           CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb,
           CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS scc,
           CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab,
           CAST(SUM(CAST(a AS HUGEINT) * c) AS DOUBLE) AS sac,
           CAST(SUM(CAST(b AS HUGEINT) * c) AS DOUBLE) AS sbc
    FROM s
), r AS (
    SELECT CAST(nn AS BIGINT) AS n_days,
           {_PC_R.format(sxy="sab", sx="sa", sy="sb", sxx="saa", syy="sbb")} AS rab,
           {_PC_R.format(sxy="sac", sx="sa", sy="sc", sxx="saa", syy="scc")} AS rac,
           {_PC_R.format(sxy="sbc", sx="sb", sy="sc", sxx="sbb", syy="scc")} AS rbc
    FROM m
)
SELECT n_days,
       ROUND(rab, 6) AS r_click_view,
       ROUND(rac, 6) AS r_click_purchase,
       ROUND(rbc, 6) AS r_view_purchase,
       ROUND((rab - rac * rbc) / SQRT((1.0 - rac * rac) * (1.0 - rbc * rbc)),
             6) AS r_click_view_given_purchase
FROM r
""",
    tags=("analytics", "stats", "timeseries"),
)
def partial_corr_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order PARTIAL correlation between daily click and view
    counts CONTROLLING for purchase count: r_ab·c = (r_ab − r_ac·r_bc)
    / √((1−r_ac²)(1−r_bc²)) — the confounder check that tells whether
    the click↔view co-movement ``ccf_daily_types`` measures survives
    removing overall-traffic days (a high r_ab that collapses once
    purchases are partialled out is common-cause load, not a funnel
    relationship).

    Exactness: all three series are zero-filled integer counts on the
    shared calendar spine, so the 3×3 co-moment matrix is exact
    integers in one map-side pass; the three pairwise correlations
    share ONE interpolated formula text, and the partial is a closed
    double form, round(6) on outputs only."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view", "purchase")
    )
    cnts = e.groupBy(F.to_date("ts").alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(col)
            for t, col in (("click", "a"), ("view", "b"), ("purchase", "c"))
        ]
    )
    span = cnts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    s = spine.join(cnts, "day", "left").select(
        *[F.coalesce(col, F.lit(0)).alias(col) for col in ("a", "b", "c")]
    )
    m = s.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        *[F.sum(col).cast("double").alias(f"s{col}") for col in ("a", "b", "c")],
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("scc"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
        F.sum(F.col("a") * F.col("c")).cast("double").alias("sac"),
        F.sum(F.col("b") * F.col("c")).cast("double").alias("sbc"),
    )
    r = m.selectExpr(
        "CAST(nn AS BIGINT) AS n_days",
        f"{_PC_R.format(sxy='sab', sx='sa', sy='sb', sxx='saa', syy='sbb')} AS rab",
        f"{_PC_R.format(sxy='sac', sx='sa', sy='sc', sxx='saa', syy='scc')} AS rac",
        f"{_PC_R.format(sxy='sbc', sx='sb', sy='sc', sxx='sbb', syy='scc')} AS rbc",
    )
    return r.selectExpr(
        "n_days",
        "ROUND(rab, 6) AS r_click_view",
        "ROUND(rac, 6) AS r_click_purchase",
        "ROUND(rbc, 6) AS r_view_purchase",
        "ROUND((rab - rac * rbc)"
        " / SQRT((1.0 - rac * rac) * (1.0 - rbc * rbc)), 6)"
        " AS r_click_view_given_purchase",
    )


HURST_KS = (1, 2, 4, 8, 16)


@register(
    "hurst_aggvar_daily",
    oracle=f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS yc
    FROM orders GROUP BY 1
), span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
spine AS (
    SELECT CAST(unnest(generate_series((SELECT d0 FROM span),
                                       (SELECT d1 FROM span),
                                       INTERVAL 1 DAY)) AS DATE) AS day
), idx AS (
    SELECT CAST(datediff('day', (SELECT d0 FROM span), spine.day) AS BIGINT)
               AS t,
           COALESCE(yc, 0) AS yc
    FROM spine LEFT JOIN daily USING (day)
), n AS (SELECT CAST(MAX(t) + 1 AS BIGINT) AS n FROM idx),
ks AS (SELECT CAST(unnest([{", ".join(str(k) for k in HURST_KS)}]) AS INT) AS k),
blocks AS (
    SELECT ks.k, idx.t // ks.k AS blk, SUM(yc) AS s
    FROM idx, ks
    WHERE idx.t // ks.k < (SELECT n FROM n) // ks.k
    GROUP BY 1, 2
), vk AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_blocks,
           (CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)
            - CAST(SUM(s) AS DOUBLE) * SUM(s) / COUNT(*))
               / (CAST(k AS DOUBLE) * k * COUNT(*)) AS var_k
    FROM blocks GROUP BY 1
), pts AS (
    SELECT LN(CAST(k AS DOUBLE)) AS x, LN(var_k) AS y FROM vk
), fit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM pts
)
SELECT (SELECT n FROM n) AS n_days,
       CAST({len(HURST_KS)} AS INT) AS n_scales,
       ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS aggvar_slope,
       ROUND(1.0 + (m * sxy - sx * sy) / (m * sxx - sx * sx) / 2.0, 6)
           AS hurst_h
FROM fit
""",
    tags=("analytics", "stats", "timeseries"),
)
def hurst_aggvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by the AGGREGATED-VARIANCE
    method: variance of k-day block means scales as k^(2H−2), so the
    log-log OLS slope β over k ∈ {K} gives H = 1 + β/2 — the
    long-range-dependence read (H ≈ 0.5 short-memory, H → 1 persistent
    trends, H < 0.5 mean-reverting) that says whether
    ``acf_monthly_revenue``'s slow decay is genuine long memory; it
    also decides if day-level bootstrap CIs need block resampling.

    Exactness: block sums are exact integer cents over the bounded day
    grain (complete blocks only — the ragged tail is dropped on both
    engines by the same integer predicate); each scale's variance
    comes from the computational identity on exact Σs, Σs², and the
    5-point log-log fit is a closed double form.  Scale: the k-grid is
    a broadcast constant; everything else is one map-side pass plus a
    ≤|days|×{NK}-row aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("yc")
    )
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        "d0",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
    )
    # Zero-filled calendar index: an order-less day is a 0-revenue
    # observation, so every k-block exists and B = n div k exactly —
    # without the spine the block POPULATION would vary by which days
    # happen to be non-empty, silently changing the variance definition
    # per scale.
    idx = spine.join(daily, "day", "left").select(
        F.datediff("day", "d0").cast("bigint").alias("t"),
        F.coalesce("yc", F.lit(0)).alias("yc"),
    )
    n = idx.agg((F.max("t") + 1).cast("bigint").alias("n"))
    ks = spark.sql(
        "SELECT explode(array({})) AS k".format(
            ", ".join(f"CAST({k} AS INT)" for k in HURST_KS)
        )
    )
    blocks = (
        idx.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .where(F.expr("t div k") < F.expr("n div k"))
        .groupBy("k", F.expr("t div k").alias("blk"))
        .agg(F.sum("yc").alias("s"))
    )
    vk = blocks.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (
            (
                F.sum(
                    F.col("s").cast("decimal(38,0)") * F.col("s")
                ).cast("double")
                - F.sum("s").cast("double") * F.sum("s") / F.count(F.lit(1))
            )
            / (F.col("k").cast("double") * F.col("k") * F.count(F.lit(1)))
        ).alias("var_k"),
    )
    pts = vk.select(
        F.log(F.col("k").cast("double")).alias("x"),
        F.log("var_k").alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = "(m * sxy - sx * sy) / (m * sxx - sx * sx)"
    return fit.crossJoin(F.broadcast(n)).selectExpr(
        "n AS n_days",
        f"CAST({len(HURST_KS)} AS INT) AS n_scales",
        f"ROUND({slope}, 6) AS aggvar_slope",
        f"ROUND(1.0 + {slope} / 2.0, 6) AS hurst_h",
    )


LORENZ_DECILES = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10)


@register(
    "lorenz_curve_customer_spend",
    oracle=f"""
WITH cust AS (
    SELECT o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS v
    FROM orders GROUP BY 1
), g AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM cust GROUP BY v
), cum AS (
    SELECT v, c,
           SUM(c) OVER (ORDER BY v) AS mc,
           SUM(CAST(v AS HUGEINT) * c) OVER (ORDER BY v) AS ms
    FROM g
), tot AS (
    SELECT CAST(SUM(c) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS HUGEINT) * c) AS HUGEINT) AS s
    FROM g
), ds AS (SELECT CAST(unnest([{", ".join(str(d) for d in LORENZ_DECILES)}]) AS INT) AS dec),
k AS (
    SELECT dec, ((SELECT n FROM tot) * dec + 9) // 10 AS kth FROM ds
), pick AS (
    SELECT k.dec, k.kth,
           (SELECT MIN(v) FROM cum WHERE mc >= k.kth) AS vq
    FROM k
)
SELECT p.dec AS decile,
       CAST(p.kth AS BIGINT) AS n_cust_cum,
       ROUND(CAST(cum.ms - CAST(cum.v AS HUGEINT) * (cum.mc - p.kth) AS DOUBLE)
             / CAST((SELECT s FROM tot) AS DOUBLE), 6) AS spend_share_cum
FROM pick p JOIN cum ON cum.v = p.vq
""",
    tags=("analytics", "stats", "robust"),
)
def lorenz_curve_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve of customer lifetime spend at decile grid
    points: L(d) = share of total spend held by the poorest ⌈d·n/10⌉
    customers — the concentration curve behind
    ``gini_concentration_by_source``'s scalar (a dashboard plots THIS;
    the Gini is twice the area above it) and the whale-risk read for
    revenue planning (L(9) near 0.5 means the top decile carries half
    the business).

    Value-atomic exactness: customer spends collapse to the integer
    cent grain; one pass of the shared ``bucketed_prefix_sums``
    hierarchy carries BOTH running totals (count and HUGEINT/DECIMAL
    spend mass); the decile boundary is the exact k-th smallest
    (⌈d·n/10⌉ by integer arithmetic), and the partial tie block at the
    boundary value contributes exactly (kth − predecessors)·v — all
    integers until one final division, round(6).  Never a global sort;
    the 10-row decile frame broadcasts."""
    from .helpers import bucketed_prefix_sums

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("v")
    )
    g = cust.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    gm = g.select("v", "c", (F.col("v").cast("decimal(38,0)") * F.col("c")).alias("vm"))
    cum = bucketed_prefix_sums(gm, "v", ["c", "vm"]).select(
        "v", "c", F.col("cum_c").alias("mc"), F.col("cum_vm").alias("ms")
    )
    tot = g.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("c")).alias("s"),
    )
    ds = spark.sql(
        "SELECT explode(array({})) AS dec".format(
            ", ".join(f"CAST({d} AS INT)" for d in LORENZ_DECILES)
        )
    )
    k = ds.crossJoin(F.broadcast(tot)).select(
        "dec", F.expr("(n * dec + 9) div 10").alias("kth"), "s"
    )
    pick = (
        cum.crossJoin(F.broadcast(k))
        .where(F.col("mc") >= F.col("kth"))
        .groupBy("dec", "kth", "s")
        .agg(F.min("v").alias("vq"))
    )
    return (
        pick.join(F.broadcast(cum.select("v", "mc", "ms")), F.col("vq") == F.col("v"))
        .select(
            F.col("dec").alias("decile"),
            F.col("kth").cast("bigint").alias("n_cust_cum"),
            F.round(
                (
                    F.col("ms")
                    - F.col("v").cast("decimal(38,0)")
                    * (F.col("mc") - F.col("kth"))
                ).cast("double")
                / F.col("s").cast("double"),
                6,
            ).alias("spend_share_cum"),
        )
    )


# --- round 15 wave 5: binary segmentation depth 2 / Sen CI / Bowley ------------

# Segment-parametrized changepoint reduction (the _CP_RED shape with the
# segment total/length as parameters): score of splitting a segment with
# prefix {sl}, candidate size {k}, segment mass {sseg}, length {nseg}.
# NO round(6) here, deliberately breaking the house convention: the
# score is in squared cents-of-revenue (~5x10^13 at sf0.1), past the
# 2^43 magnitude where a 6-decimal value is not representable in a
# double — Spark's BigDecimal-based round and DuckDB's multiply-based
# round then disagree by one ulp on IDENTICAL inputs (measured at
# sf0.1: ...872.0 vs ...871.99).  The unrounded score is one identical
# double op sequence over exact decimal prefixes on both engines, so
# raw values hash-match and the day-tie argmax stays deterministic.
_CP2_RED = (
    "((cast({sl} as double) * cast({sl} as double) / {k}"
    " + (cast({sseg} as double) - cast({sl} as double))"
    " * (cast({sseg} as double) - cast({sl} as double)) / ({nseg} - {k}))"
    " - cast({sseg} as double) * cast({sseg} as double) / {nseg})"
)


@register(
    "top2_changepoints_daily",
    oracle=f"""
WITH daily AS (
    SELECT o_orderdate AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
    FROM orders GROUP BY 1
), pre AS (
    SELECT day,
           SUM(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS k
    FROM daily
), tot AS (SELECT SUM(x) AS s, CAST(COUNT(*) AS DOUBLE) AS tn FROM daily),
full_scored AS (
    SELECT day, k, sl, s, tn,
           {_CP2_RED.format(sl="sl", k="k", sseg="s", nseg="tn")} AS red
    FROM pre, tot WHERE k < tn
), cp1 AS (SELECT * FROM full_scored ORDER BY red DESC, day LIMIT 1),
left_scored AS (
    SELECT p.day, p.k,
           {_CP2_RED.format(sl="p.sl", k="p.k", sseg="c.sl", nseg="c.k")} AS red
    FROM pre p, cp1 c WHERE p.k < c.k
), right_scored AS (
    SELECT p.day, p.k - c.k AS k,
           {_CP2_RED.format(sl="(p.sl - c.sl)", k="(p.k - c.k)",
                            sseg="(c.s - c.sl)", nseg="(c.tn - c.k)")} AS red
    FROM pre p, cp1 c WHERE p.k > c.k AND p.k < c.tn
)
SELECT 'full' AS segment, CAST(day AS VARCHAR) AS split_day,
       CAST(k AS BIGINT) AS k_in_segment, red AS sse_reduction
FROM cp1
UNION ALL
SELECT 'left', CAST(day AS VARCHAR), CAST(k AS BIGINT), red
FROM (SELECT * FROM left_scored ORDER BY red DESC, day LIMIT 1)
UNION ALL
SELECT 'right', CAST(day AS VARCHAR), CAST(k AS BIGINT), red
FROM (SELECT * FROM right_scored ORDER BY red DESC, day LIMIT 1)
""",
    tags=("analytics", "timeseries", "stats"),
)
def top2_changepoints_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary segmentation to DEPTH 2 on daily revenue: the best single
    changepoint (``best_changepoint_daily``'s split) plus the best
    sub-split of each resulting half — the three-row output a
    structural-break dashboard plots as nested break candidates, and
    the standard greedy step toward multi-changepoint detection (each
    sub-split's sse_reduction is exactly the gain PELT/BinSeg would
    evaluate next; a near-zero left/right reduction says one break
    explains the series).

    Everything derives from the SAME exact-decimal prefix-sum frame as
    the depth-1 query: a sub-segment's score needs only the global
    prefix sl, the parent split's (k₁, sl₁) scalars, and the shared
    segment-parametrized formula text — so the depth-2 search is two
    more broadcast attaches + TakeOrderedAndProject over the bounded
    day grain, never a second scan.  Ties break to the earliest day on
    the RAW double score (see the _CP2_RED note: at squared-revenue
    magnitudes a 6-decimal round is unrepresentable and
    engine-divergent, so the raw identical-op-sequence double is the
    deterministic object here).  A length-≤1 half yields no row for
    that segment, identically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(money("o_totalprice")).alias("x")
    )
    wpre = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.sum("x").over(wpre).alias("sl"),
        F.row_number().over(Window.orderBy("day")).cast("double").alias("k"),
    )
    tot = daily.agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).cast("double").alias("tn")
    )
    full_scored = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.col("k") < F.col("tn"))
        .withColumn(
            "red",
            F.expr(_CP2_RED.format(sl="sl", k="k", sseg="s", nseg="tn")),
        )
    )
    cp1 = (
        full_scored.orderBy(F.desc("red"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("day1"),
            F.col("k").alias("k1"),
            F.col("sl").alias("sl1"),
            "s",
            "tn",
            F.col("red").alias("red1"),
        )
    )
    with_cp1 = pre.crossJoin(F.broadcast(cp1))
    left_best = (
        with_cp1.where(F.col("k") < F.col("k1"))
        .withColumn(
            "red",
            F.expr(_CP2_RED.format(sl="sl", k="k", sseg="sl1", nseg="k1")),
        )
        .orderBy(F.desc("red"), F.asc("day"))
        .limit(1)
        .select(
            F.lit("left").alias("segment"),
            F.col("day").cast("string").alias("split_day"),
            F.col("k").cast("bigint").alias("k_in_segment"),
            F.col("red").alias("sse_reduction"),
        )
    )
    right_best = (
        with_cp1.where((F.col("k") > F.col("k1")) & (F.col("k") < F.col("tn")))
        .withColumn(
            "red",
            F.expr(
                _CP2_RED.format(
                    sl="(sl - sl1)",
                    k="(k - k1)",
                    sseg="(s - sl1)",
                    nseg="(tn - k1)",
                )
            ),
        )
        .orderBy(F.desc("red"), F.asc("day"))
        .limit(1)
        .select(
            F.lit("right").alias("segment"),
            F.col("day").cast("string").alias("split_day"),
            (F.col("k") - F.col("k1")).cast("bigint").alias("k_in_segment"),
            F.col("red").alias("sse_reduction"),
        )
    )
    first = cp1.select(
        F.lit("full").alias("segment"),
        F.col("day1").cast("string").alias("split_day"),
        F.col("k1").cast("bigint").alias("k_in_segment"),
        F.col("red1").alias("sse_reduction"),
    )
    return first.unionByName(left_best).unionByName(right_best)


# z_{0.975} as an exact repr literal (shared by both engines).
_Z975 = "1.959963984540054"
SEN_SLOPE_GRID = 1_000_000


@register(
    "sen_slope_ci_monthly",
    oracle=f"""
WITH m AS (
    SELECT (EXTRACT(YEAR FROM o_orderdate) * 12
            + EXTRACT(MONTH FROM o_orderdate)) AS midx,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS rc
    FROM orders GROUP BY 1
), sl AS (
    SELECT CAST(FLOOR((CAST(b.rc - a.rc AS DOUBLE) / (b.midx - a.midx))
                      * {SEN_SLOPE_GRID}) AS BIGINT) AS q
    FROM m a JOIN m b ON b.midx > a.midx
), g AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS c FROM sl GROUP BY q),
cum AS (SELECT q, SUM(c) OVER (ORDER BY q) AS mc FROM g),
mm AS (SELECT CAST(SUM(c) AS BIGINT) AS mp FROM g),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM m),
ties AS (
    SELECT CAST(COALESCE(SUM(CAST(c AS BIGINT) * (c - 1) * (2 * c + 5)), 0)
                AS BIGINT) AS tie_term
    FROM (SELECT COUNT(*) AS c FROM m GROUP BY rc) WHERE c > 1
), cc AS (
    SELECT CAST(FLOOR({_Z975} * SQRT(
               ((SELECT n FROM nn) * ((SELECT n FROM nn) - 1.0)
                    * (2.0 * (SELECT n FROM nn) + 5.0)
                - (SELECT tie_term FROM ties)) / 18.0)) AS BIGINT) AS c
), ranks AS (
    SELECT GREATEST(1, CAST(FLOOR(((SELECT mp FROM mm) - c) / 2.0) AS BIGINT)
                       + 1) AS k_lo,
           ((SELECT mp FROM mm) + 1) // 2 AS k_med,
           LEAST((SELECT mp FROM mm),
                 CAST(CEIL(((SELECT mp FROM mm) + c) / 2.0) AS BIGINT) + 1)
               AS k_hi
    FROM cc
)
SELECT (SELECT n FROM nn) AS n_months,
       (SELECT mp FROM mm) AS n_pairs,
       ROUND(CAST((SELECT MIN(q) FROM cum WHERE mc >= r.k_lo) AS DOUBLE)
             / ({SEN_SLOPE_GRID} * 100.0), 6) AS slope_lo,
       ROUND(CAST((SELECT MIN(q) FROM cum WHERE mc >= r.k_med) AS DOUBLE)
             / ({SEN_SLOPE_GRID} * 100.0), 6) AS slope_med,
       ROUND(CAST((SELECT MIN(q) FROM cum WHERE mc >= r.k_hi) AS DOUBLE)
             / ({SEN_SLOPE_GRID} * 100.0), 6) AS slope_hi
FROM ranks r
""",
    tags=("analytics", "stats", "robust", "timeseries"),
)
def sen_slope_ci_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's slope with its distribution-free 95% confidence interval on
    monthly revenue: the pairwise-slope order statistics at the
    Gilbert (1987) ranks k_lo = ⌊(M−C)/2⌋+1, k_hi = ⌈(M+C)/2⌉+1 with
    C = ⌊z₀.₉₇₅·√Var(S)⌋ from the Mann-Kendall variance — the interval
    that turns ``theil_sen_monthly_trend``'s point slope and
    ``mann_kendall_trend_daily``'s yes/no into "the trend is between
    lo and hi per month" (a CI straddling zero reads as no trend, the
    same verdict as an insignificant MK Z).

    Exact-order-statistic discipline: pairwise slopes are
    FLOOR-quantized to the 1e-6 cents/month grid (both engines floor
    the SAME double — exact integer cent diffs divided once), so every
    rank selection is an exact integer k-th smallest over the
    quantized-slope grain via prefix sums; the lower median (rank
    ⌊(M+1)/2⌋) replaces the interpolated median by design.  Scale: the
    pair join is the calendar-bounded month grid
    (``theil_sen_monthly_trend``'s allowlisted shape)."""
    from .helpers import bucketed_prefix_sums

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx")
    ).agg(
        F.sum((money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rc")
    )
    a = m.select(F.col("midx").alias("ma"), F.col("rc").alias("ra"))
    b = m.select(F.col("midx").alias("mb"), F.col("rc").alias("rb"))
    # try_divide: ANSI mode may evaluate the fused BNLJ projection on a
    # pair before the mb > ma condition filters it (div-by-zero on the
    # diagonal); matched rows always have mb > ma, so no NULL survives.
    sl = a.join(F.broadcast(b), F.col("mb") > F.col("ma")).select(
        F.floor(
            F.expr(
                "try_divide(CAST(rb - ra AS DOUBLE), mb - ma)"
                f" * {SEN_SLOPE_GRID}"
            )
        )
        .cast("bigint")
        .alias("q")
    )
    g = sl.groupBy("q").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cum = bucketed_prefix_sums(g, "q", ["c"]).select(
        "q", F.col("cum_c").alias("mc")
    )
    mm = g.agg(F.sum("c").cast("bigint").alias("mp"))
    nn = m.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        m.groupBy("rc")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast("bigint")
                    * (F.col("c") - 1)
                    * (2 * F.col("c") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    ranks = (
        mm.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "mp",
            "n",
            f"CAST(FLOOR({_Z975} * SQRT((n * (n - 1.0) * (2.0 * n + 5.0)"
            " - tie_term) / 18.0)) AS BIGINT) AS c",
        )
        .selectExpr(
            "mp",
            "n",
            "GREATEST(1, CAST(FLOOR((mp - c) / 2.0) AS BIGINT) + 1) AS k_lo",
            "(mp + 1) div 2 AS k_med",
            "LEAST(mp, CAST(CEIL((mp + c) / 2.0) AS BIGINT) + 1) AS k_hi",
        )
    )
    with_r = cum.crossJoin(F.broadcast(ranks))
    sel = [
        with_r.where(F.col("mc") >= F.col(k))
        .agg(F.min("q").alias(f"q_{k}"))
        for k in ("k_lo", "k_med", "k_hi")
    ]
    out = nn.crossJoin(F.broadcast(mm))
    for s in sel:
        out = out.crossJoin(F.broadcast(s))
    denom = SEN_SLOPE_GRID * 100.0
    return out.select(
        F.col("n").alias("n_months"),
        F.col("mp").alias("n_pairs"),
        F.round(F.col("q_k_lo").cast("double") / denom, 6).alias("slope_lo"),
        F.round(F.col("q_k_med").cast("double") / denom, 6).alias("slope_med"),
        F.round(F.col("q_k_hi").cast("double") / denom, 6).alias("slope_hi"),
    )


BOWLEY_PCTS = (10, 25, 50, 75, 90)


@register(
    "bowley_skewness_values",
    oracle=f"""
WITH g AS (
    SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
), cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS mc FROM g),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
q AS (
    SELECT {", ".join(
        f"(SELECT MIN(v) FROM cum WHERE mc >= ((SELECT n FROM n) * {p} + 99) // 100) AS q{p}"
        for p in BOWLEY_PCTS
    )}
)
SELECT (SELECT n FROM n) AS n_events,
       ROUND(CAST(q25 AS DOUBLE) / 100, 6) AS q25,
       ROUND(CAST(q50 AS DOUBLE) / 100, 6) AS q50,
       ROUND(CAST(q75 AS DOUBLE) / 100, 6) AS q75,
       ROUND(CAST(q75 + q25 - 2 * q50 AS DOUBLE) / (q75 - q25), 6)
           AS bowley_skew,
       ROUND(CAST(q90 + q10 - 2 * q50 AS DOUBLE) / (q90 - q10), 6)
           AS kelly_skew
FROM q
""",
    tags=("analytics", "stats", "robust"),
)
def bowley_skewness_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile (Bowley) and decile (Kelly) skewness of the event value
    distribution — the outlier-immune shape coefficients computed from
    exact order statistics only: Bowley = (Q₃+Q₁−2·Q₂)/(Q₃−Q₁) in
    [−1, 1], Kelly the same on the 10/90 deciles.  The robust
    counterpart to the moment-based skewness family and the L-skewness
    τ₃ (``l_moments_event_values``): three estimators of "which way
    does the distribution lean" with different breakdown points, read
    together when tails are suspect (``hill_tail_index_doclen``'s
    territory).

    All five quantiles are exact type-1 k-th smallest order statistics
    (k = ⌈p·n/100⌉, pure integer arithmetic) over the shared
    cent-grain prefix-sum hierarchy — one grain pass serves every
    rank; ratios are one identical double op sequence, round(6)."""
    from .helpers import bucketed_prefix_sums

    e = load_table(spark, sf_dir, "events")
    g = (
        e.select((money("value") * 100).cast("bigint").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cum = bucketed_prefix_sums(g, "v", ["c"]).select(
        "v", F.col("cum_c").alias("mc")
    )
    n = g.agg(F.sum("c").cast("bigint").alias("n"))
    with_n = cum.crossJoin(F.broadcast(n))
    out = n
    for p in BOWLEY_PCTS:
        qp = (
            with_n.where(F.col("mc") >= F.expr(f"(n * {p} + 99) div 100"))
            .agg(F.min("v").alias(f"q{p}"))
        )
        out = out.crossJoin(F.broadcast(qp))
    return out.select(
        F.col("n").alias("n_events"),
        F.round(F.col("q25").cast("double") / 100, 6).alias("q25"),
        F.round(F.col("q50").cast("double") / 100, 6).alias("q50"),
        F.round(F.col("q75").cast("double") / 100, 6).alias("q75"),
        F.round(
            (F.col("q75") + F.col("q25") - 2 * F.col("q50")).cast("double")
            / (F.col("q75") - F.col("q25")),
            6,
        ).alias("bowley_skew"),
        F.round(
            (F.col("q90") + F.col("q10") - 2 * F.col("q50")).cast("double")
            / (F.col("q90") - F.col("q10")),
            6,
        ).alias("kelly_skew"),
    )

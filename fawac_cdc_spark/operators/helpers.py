"""Shared expression helpers for oracle-exact cross-engine arithmetic.

The driver compares Spark results against DuckDB with an order-insensitive
value hash, so floating-point aggregation must be *bit-identical* across
engines. Two tools make that possible:

1. DECIMAL-cast aggregation. The fixture money columns are exact 2-decimal
   values stored as doubles (verified: max |x - round(x,2)| == 0 at sf0.01).
   Casting to DECIMAL(18,2) recovers the exact decimal in both engines;
   sums/products in decimal are exact integers arithmetic; casting the final
   decimal back to double is deterministic IEEE-754 nearest — identical bits
   in Spark and DuckDB regardless of row order. Doing `CAST(sum AS DOUBLE) /
   count` keeps averages exact too (one double division of identical inputs).

2. Portable md5-based hashing. Spark's `hash()` (murmur3) and DuckDB's
   `hash()` disagree, so any hash-dependent operator (sampling, MinHash,
   SimHash, fingerprints) uses md5 hex prefixes converted to integers:
   Spark `conv(substr(md5(s),1,8),16,10)`, DuckDB `CAST('0x'||substr(md5(s)
   ,1,8) AS BIGINT)` — same 32-bit value in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def money(col: Column | str) -> Column:
    """Exact decimal view of a 2-decimal money column stored as double."""
    return _c(col).cast(MONEY)


def dmoney_sql(col: str) -> str:
    """DuckDB-side equivalent of :func:`money`."""
    return f"CAST({col} AS DECIMAL(18,2))"


def sum_money_as_double(col: Column | str) -> Column:
    """Exact decimal sum surfaced as double (bit-identical across engines)."""
    return F.sum(money(col)).cast("double")


def avg_money_as_double(col: Column | str) -> Column:
    """Exact average: decimal sum cast to double, divided by count."""
    return F.sum(money(col)).cast("double") / F.count(F.lit(1))


def md5_int32(col: Column | str, prefix_len: int = 8) -> Column:
    """First ``prefix_len`` hex chars of md5 as a non-negative bigint.

    Portable across Spark and DuckDB (see module docstring).
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, prefix_len), 16, 10).cast("bigint")


def md5_int32_sql(expr: str, prefix_len: int = 8) -> str:
    """DuckDB-side equivalent of :func:`md5_int32`."""
    return f"CAST('0x' || substr(md5({expr}), 1, {prefix_len}) AS BIGINT)"


def md5_bucket(col: Column | str, modulus: int, prefix_len: int = 4) -> Column:
    """Engine-portable bucket id in [0, modulus): first ``prefix_len``
    md5 hex chars of the value's STRING form, as int, modulo ``modulus``.

    The deterministic assignment primitive behind pack sharding and
    train/val/test splits — one definition so the Spark expression can
    never drift from its DuckDB mirror (:func:`md5_bucket_sql`).

    Uniformity: exactly uniform iff ``modulus`` divides 16^prefix_len;
    otherwise the pigeonhole remainder gives the low buckets one extra
    preimage (e.g. modulus 100 over 16^4 skews each bucket by <=0.16%
    relative — fine for split ASSIGNMENT, which only needs determinism
    and approximate proportions).  Anything that converts the bucket to
    a sampling RATE (coin = bucket/modulus < p) must use a modulus
    dividing 16^prefix_len — see ``weighted_source_mixture``'s dyadic
    coin for the worked example of why (a 10000 modulus put a ~7%
    relative bias on p=0.5 that both engines shared, so oracle parity
    could never catch it)."""
    return (
        F.conv(F.substring(F.md5(_c(col).cast("string")), 1, prefix_len), 16, 10)
        .cast("int")
        % modulus
    )


def md5_bucket_sql(expr: str, modulus: int, prefix_len: int = 4) -> str:
    """DuckDB-side equivalent of :func:`md5_bucket`."""
    return (
        f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, {prefix_len}) "
        f"AS INT) % {modulus}"
    )


def rank_bucket(col: Column | str) -> Column:
    """Order-preserving bit-length bucket key for the no-global-sort rank
    machinery (Mann-Whitney / Kruskal-Wallis / Dunn / Gini-style
    predecessor counts) over a BIGINT value grain.

    Splits the domain into <=127 CONTIGUOUS buckets so that v1 < v2 in
    different buckets implies bucket(v1) < bucket(v2); each window is
    bucket-scoped and an exclusive prefix sum over the (tiny) bucket
    totals restores global predecessor counts without a data-sized
    single-task sort.  Nonnegative v keeps the historical key
    ``length(bin(v))`` (1..64, doubling ranges); negative v maps to
    ``-length(bin(-v-1))`` so more-negative values take strictly smaller
    buckets — the plain ``F.length(F.bin(v))`` key emitted the 64-char
    two's-complement for negatives, ranking them into the TOP bucket and
    silently diverging from an exact ORDER BY v (ADVICE r13).  For
    nonnegative data the key is bit-identical to the historical one, so
    existing parity hashes are unchanged.
    """
    c = _c(col)
    return (
        F.when(c >= 0, F.length(F.bin(c)))
        .otherwise(-F.length(F.bin(-c - F.lit(1))))
        .cast("int")
    )


def fan_out(df, *keys: str):
    """Explicit-width hash repartition BEFORE a CPU-amplifying explode.

    The round-15 poisson_bootstrap_ci profile (BASELINE.md) established
    the discipline this helper names: a stage whose per-row CPU is
    k-fold amplified past its input bytes (shingle/n-gram explodes with
    an md5 per element, replicate explodes, wide ``stack()`` melts) must
    run at full width even when the scan yields few input splits — the
    sf fixtures are single-row-group parquet files, so every scan is ONE
    task, and size-based AQE coalescing cannot see downstream CPU
    amplification (a column-only repartition of a few-MB grain is
    coalesced right back to one partition; an explicit count is exempt).

    Width: ``defaultParallelism`` — scale-adaptive via the session,
    never a constant.  Keys must be high-cardinality (doc_id, orderkey)
    so the hash spreads evenly.  The shuffle moves only the slim
    pre-explode rows; at 100 TB it is one extra pass of the base grain
    against a k~100x amplified compute stage downstream — and the
    pipelines this guards all shuffle their exploded stream right after
    anyway, so the relative cost stays bounded by ~1/k.
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(width, *[F.col(k) for k in keys])


def fan_out_if_narrow(df, *keys: str):
    """:func:`fan_out`, applied ONLY when the input's physical
    parallelism is below the fan-out width.

    For a PURE MAP directly over a scan the repartition is load-bearing
    exactly when the scan yields fewer splits than cores (the
    single-row-group fixture layout); with ample splits the scan's
    natural parallelism already carries the per-row CPU and the
    repartition would move the full payload once for nothing (guide §8:
    move heavy bytes minimally).  This guard derives the decision from
    the input's split count — scale-adaptive, never a constant.

    VALIDITY: only apply this helper DIRECTLY over a file scan (or a
    plain projection/filter of one).  ``df.rdd.getNumPartitions()``
    reads the PRE-AQE partition count — exact for a scan (AQE never
    coalesces scan splits) but misleading for a shuffled/coalesced
    intermediate, where the pre-AQE count is the session shuffle width,
    not the executed width: the guard would silently no-op on a frame
    AQE later collapses to one partition.  For a known one-partition
    checkpoint or AQE-coalesced intermediate use unconditional
    :func:`fan_out` at the call site instead.  The RDD conversion also
    costs a driver-side physical planning pass per call — fine at query
    build time, not inside per-round loops.
    """
    if df.rdd.getNumPartitions() >= df.sparkSession.sparkContext.defaultParallelism:
        return df
    return fan_out(df, *keys)


def one_row_audit(
    label_col: str,
    label: str,
    flagged: "DataFrame",  # noqa: F821 — forward ref, imported lazily
    total: "DataFrame",  # noqa: F821
    flagged_name: str,
    total_name: str,
):
    """One labeled audit row: (label, count(flagged), count(total)) via
    two one-row aggregates attached with a broadcast-trivial cross join —
    the shared shape of every multi-rule audit surface
    (``data_quality_expectations``, ``erasure_cascade_audit``).  Factored
    here so count semantics / naming fixes hit every audit at once
    (code-review round 10)."""
    f = flagged.agg(F.count(F.lit(1)).cast("bigint").alias(flagged_name))
    t = total.agg(F.count(F.lit(1)).cast("bigint").alias(total_name))
    return f.crossJoin(t).select(
        F.lit(label).alias(label_col), flagged_name, total_name
    )


def pwm_grain_weights(r, cnt_col: str = "c", cb_col: str = "cb"):
    """Append exact probability-weighted-moment rank weights w1/w2 to a
    ``(value, count, exclusive-predecessor-count)`` grain frame (the
    :func:`bucketed_predecessor_counts` output): a grain with count c at
    predecessor count cb occupies ranks cb+1..cb+c, so

        w1 = Σ (i-1)       = c·cb + c(c-1)/2
        w2 = Σ (i-1)(i-2)  = c·cb² + 2·cb·c(c-1)/2 + (c-1)c(2c-1)/6 - w1

    All arithmetic is exact DECIMAL(38,0).  The exactly-divisible
    quotients use decimal ``/`` cast back to DECIMAL(38,0) — NOT ``div``,
    which returns BIGINT even on decimal operands and silently wraps once
    (c-1)c(2c-1)/6 > 2⁶³, i.e. one grain count past ~3.8×10⁶ (ADVICE
    r14; the DuckDB oracle's HUGEINT ``//`` never wraps).  The ``/``
    intermediate is DECIMAL(38,6) (32 integer digits), so w2 stays exact
    to c ≈ 8.4×10¹⁰ duplicate rows of ONE grain value — far beyond any
    single-value pileup at the 100 TB design point.  ONE definition:
    ``l_moments_event_values`` and the large-count property test in
    ``tests/test_properties.py`` both import this."""
    c, cb = F.col(cnt_col), F.col(cb_col)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s1 = F.expr(
        f"CAST((CAST({cnt_col} AS DECIMAL(38,0)) * ({cnt_col} - 1)) / 2"
        " AS DECIMAL(38,0))"
    )
    s2 = F.expr(
        f"CAST((CAST({cnt_col} - 1 AS DECIMAL(38,0)) * {cnt_col}"
        f" * (2 * {cnt_col} - 1)) / 6 AS DECIMAL(38,0))"
    )
    w1 = dec(c) * cb + s1
    return r.withColumns(
        {
            "w1": w1.alias("w1"),
            "w2": (dec(c) * cb * cb + 2 * dec(cb) * s1 + s2 - w1).alias("w2"),
        }
    )


def bucketed_prefix_sums(gr, val_col: str, cnt_cols: list[str]):
    """INCLUSIVE prefix sums of one or more count columns over a value
    grain without a global sort — the generalized form of the
    :func:`bucketed_predecessor_counts` machinery (one bucket pass,
    N simultaneous running totals; round 15, for the two-sample ECDF
    comparisons that need both cohorts' cumulatives at every value).

    Returns the grain columns plus ``cum_<name>`` per count column:
    the total of that count over all grain values <= this value.
    Same plan shape as the single-count form: sign-safe
    :func:`rank_bucket` buckets, bucket-scoped windows, and one
    broadcast exclusive prefix over the <=127-row bucket-total frame.
    """
    from pyspark.sql import Window

    # fan_out on the bucket key: both consumers (the bucket-scoped
    # cumulative windows and the bucket-totals aggregate) otherwise run
    # at AQE's size-coalesced width — one task for a few-MB grain whose
    # window work is data-sized (explode discipline; parallelism bounded
    # by the <=127 bucket cardinality, measured 2.02 -> 1.61 s on the
    # two-cohort ECDF shape at sf0.1).
    gb = fan_out(gr.withColumn("bucket", rank_bucket(val_col)), "bucket")
    wv = (
        Window.partitionBy("bucket")
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vb = gb.withColumns(
        {f"cum_b_{c}": F.sum(c).over(wv) for c in cnt_cols}
    )
    bt = gb.groupBy("bucket").agg(
        *[F.sum(c).alias(f"bc_{c}") for c in cnt_cols]
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bto = bt.select(
        "bucket",
        *[
            F.coalesce(F.sum(f"bc_{c}").over(wb), F.lit(0)).alias(f"boff_{c}")
            for c in cnt_cols
        ],
    )
    return vb.join(F.broadcast(bto), "bucket").select(
        val_col,
        *cnt_cols,
        *[
            (F.col(f"boff_{c}") + F.col(f"cum_b_{c}")).alias(f"cum_{c}")
            for c in cnt_cols
        ],
    )


def bucketed_predecessor_counts(gr, val_col: str = "v", cnt_col: str = "c"):
    """(val, cnt, cb): exact EXCLUSIVE predecessor counts over a value
    grain without a global sort — the shared machinery behind every
    rank/order-statistic operator (Mann-Whitney/KW/Dunn ranks, L-moment
    PWM weights, conformal/decile order statistics).

    ``gr`` is a grain frame (one row per distinct value with its count);
    the value is bucketed with the sign-safe :func:`rank_bucket`, each
    bucket cumulates internally (bucket-scoped window — the plan-pinned
    no-global-sort discipline), and an exclusive prefix sum over the
    <=127-row bucket totals (broadcast) restores global positions:
    a value with predecessor count cb occupies ranks cb+1 .. cb+cnt.
    (Thin wrapper over :func:`bucketed_prefix_sums` — ONE definition of
    the bucket machinery.)
    """
    return bucketed_prefix_sums(gr, val_col, [cnt_col]).select(
        val_col,
        cnt_col,
        (F.col(f"cum_{cnt_col}") - F.col(cnt_col)).alias("cb"),
    )

"""Markov-chain (removal-effect) attribution — round 12 extension.

The data-driven alternative to the positional rules in
``multi_touch_attribution``: model each session as a first-order Markov
chain over touchpoint states (START → channels → CONV/EXIT), and credit
each channel by its REMOVAL EFFECT — how much the chain's conversion
probability drops when that channel is deleted (its transitions
redirected to EXIT).  This is the standard "Markov attribution" model
(Anderl et al. 2014) every marketing-analytics warehouse ships next to
first/last/linear-touch.

Exactness strategy (the ``ols_two_feature`` precedent, scaled up): the
transition COUNTS collapse to one bounded row of exact integers; the
absorption probability p(START → CONV) solves the linear system
(I − Q)p = r by CRAMER'S RULE, with every determinant emitted as ONE
machine-generated Leibniz formula text — fixed term order, fixed factor
order — shared verbatim by the Spark plan and the DuckDB oracle, so all
float products/sums are bit-identical.  Removing a channel is just the
same Cramer solve on the submatrix without that state's row/column
(row totals unchanged: redirected mass flows to EXIT by construction).

Scale shape: the sessionized transition pass is the
``session_transition_matrix`` window discipline (per-user partitions,
(ts, event_id) total order); everything after is arithmetic on one
~35-number row.  The state space is the BOUNDED channel vocabulary —
the 100 TB knob is |channels|, not rows.

Reference anchors: generalizes the reference's episode-rollout
accounting (``fawac.py:597-611``) to the absorbing-chain credit model.
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..streaming.batch_equiv import sessionize
from .analytics import SESSION_GAP_SECONDS

# The touchpoint vocabulary is pinned (the KS_TYPE_A convention: fixture
# event types are stable); 'purchase' is the conversion event.
MARKOV_CHANNELS = ("click", "error", "signup", "view")
MARKOV_CONV = "purchase"
_LETTER = {"click": "c", "error": "e", "signup": "g", "view": "v"}
_TRANSIENT = ("s",) + tuple(_LETTER[ch] for ch in MARKOV_CHANNELS)


def _a_entry(i: str, j: str) -> str | None:
    """Entry text of A = diag(N) - T over transient states; None marks a
    structural zero (nothing ever transitions INTO START)."""
    if i == j:
        # t_ss does not exist (START is never a destination)
        return "n_s" if i == "s" else f"(n_{i} - t_{i}{i})"
    if j == "s":
        return None
    return f"(0.0 - t_{i}{j})"


def _x_entry(i: str, j: str) -> str | None:
    """A with the START column replaced by the CONV rhs (Cramer)."""
    if j == "s":
        return f"t_{i}k"
    return _a_entry(i, j)


def _leibniz(idx: tuple[str, ...], entry) -> str:
    """Leibniz determinant over the given state order — fixed permutation
    enumeration order and fixed factor order, so the emitted text (and
    therefore the float op sequence) is identical on both engines.
    Products containing a structural zero are dropped (adding exact 0.0
    is an IEEE identity, so omission cannot change the value)."""
    n = len(idx)
    terms: list[str] = []
    for perm in permutations(range(n)):
        inv = 0
        for a in range(n):
            for b in range(a + 1, n):
                inv += perm[a] > perm[b]
        factors = [entry(idx[r], idx[perm[r]]) for r in range(n)]
        if any(f is None for f in factors):
            continue
        sign = "+" if inv % 2 == 0 else "-"
        terms.append(f"{sign} {' * '.join(factors)}")
    return "(0.0 " + " ".join(terms) + ")"


def _det_cols() -> list[str]:
    """The ten determinant columns: full chain + one pair per removed
    channel (same text feeds Spark selectExpr and the oracle CTE)."""
    cols = [
        f"{_leibniz(_TRANSIENT, _a_entry)} AS det_a",
        f"{_leibniz(_TRANSIENT, _x_entry)} AS det_x",
    ]
    for ch in MARKOV_CHANNELS:
        lt = _LETTER[ch]
        sub = tuple(t for t in _TRANSIENT if t != lt)
        cols.append(f"{_leibniz(sub, _a_entry)} AS det_a_{lt}")
        cols.append(f"{_leibniz(sub, _x_entry)} AS det_x_{lt}")
    return cols


_P_COLS = ["(det_x / det_a) AS p"] + [
    f"(det_x_{_LETTER[ch]} / det_a_{_LETTER[ch]}) AS p_{_LETTER[ch]}"
    for ch in MARKOV_CHANNELS
]
_RE_COLS = ["p"] + [
    f"(1.0 - p_{_LETTER[ch]} / p) AS re_{_LETTER[ch]}" for ch in MARKOV_CHANNELS
]
_RE_TOT = "(" + " + ".join(f"re_{_LETTER[ch]}" for ch in MARKOV_CHANNELS) + ")"


def _mat_sums_sql() -> list[str]:
    """The bounded conditional-count row: 30 transition cells + 5 row
    totals, identical CASE texts on both engines (exact integers cast to
    double once)."""
    cols: list[str] = []
    names = {"s": "START", **{_LETTER[ch]: ch for ch in MARKOV_CHANNELS}}
    dsts = {**{_LETTER[ch]: ch for ch in MARKOV_CHANNELS}, "k": "CONV", "x": "EXIT"}
    for i, src in names.items():
        for j, dst in dsts.items():
            cols.append(
                "CAST(SUM(CASE WHEN src = '{s}' AND dst = '{d}' THEN 1 ELSE 0 "
                "END) AS DOUBLE) AS t_{i}{j}".format(s=src, d=dst, i=i, j=j)
            )
        cols.append(
            f"CAST(SUM(CASE WHEN src = '{src}' THEN 1 ELSE 0 END) AS DOUBLE)"
            f" AS n_{i}"
        )
    return cols


_TRANS_CTE_SQL = f"""ordered AS (
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
kept AS (
    SELECT user_id, sess_id, ts, event_id,
           CASE WHEN event_type = '{MARKOV_CONV}' THEN 'CONV'
                ELSE event_type END AS st
    FROM (
        SELECT *, COALESCE(SUM(CASE WHEN event_type = '{MARKOV_CONV}'
                   THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id, sess_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS prior_p
        FROM sessioned
    ) WHERE prior_p = 0
),
seq AS (
    SELECT st, ROW_NUMBER() OVER wk AS rn, LEAD(st) OVER wk AS nxt
    FROM kept WINDOW wk AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)
),
trans AS (
    SELECT 'START' AS src, st AS dst FROM seq WHERE rn = 1
    UNION ALL
    SELECT st, COALESCE(nxt, 'EXIT') FROM seq WHERE st <> 'CONV'
)"""


def _oracle_sql() -> str:
    mat = ",\n           ".join(_mat_sums_sql())
    dets = ",\n           ".join(_det_cols())
    probs = ",\n           ".join(_P_COLS)
    res = ",\n           ".join(_RE_COLS)
    rows = "\nUNION ALL\n".join(
        f"SELECT '{ch}' AS channel,"
        f" ROUND(p, 6) AS base_conv_prob,"
        f" ROUND(p * (1.0 - re_{_LETTER[ch]}), 6) AS removal_conv_prob,"
        f" ROUND(re_{_LETTER[ch]}, 6) AS removal_effect,"
        f" ROUND(re_{_LETTER[ch]} / {_RE_TOT}, 6) AS attribution_share"
        f" FROM res"
        for ch in MARKOV_CHANNELS
    )
    return f"""
WITH {_TRANS_CTE_SQL},
mat AS (
    SELECT {mat}
    FROM trans
),
dets AS (
    SELECT {dets}
    FROM mat
),
probs AS (
    SELECT {probs}
    FROM dets
),
res AS (
    SELECT {res}
    FROM probs
)
{rows}
"""


@register(
    "markov_removal_attribution",
    oracle=_oracle_sql(),
    tags=("analytics", "product", "attribution", "markov"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over sessionized touchpoints —
    see the module docstring for the model and the determinism design.
    Emits one row per channel: the chain's base conversion probability,
    the conversion probability with the channel removed, the removal
    effect 1 − p'/p, and the normalized attribution share.

    Session/path semantics: the ``session_agg`` 30-minute strict-gap
    rule, (ts, event_id) total order, FIRST-conversion truncation (a
    session's events after its first '{conv}' are ignored), START as a
    synthetic source state, EXIT as the non-converting absorber."""
    sessioned = sessionize(load_table(spark, sf_dir, "events"))
    ws = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    kept = (
        sessioned.withColumn(
            "prior_p",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == MARKOV_CONV, 1).otherwise(0)
                ).over(ws.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .where(F.col("prior_p") == 0)
        .select(
            "user_id",
            "session_seq",
            "ts",
            "event_id",
            F.when(F.col("event_type") == MARKOV_CONV, F.lit("CONV"))
            .otherwise(F.col("event_type"))
            .alias("st"),
        )
    )
    seq = kept.select(
        "st",
        F.row_number().over(ws).alias("rn"),
        F.lead("st").over(ws).alias("nxt"),
    )
    starts = seq.where(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("st").alias("dst")
    )
    steps = seq.where(F.col("st") != "CONV").select(
        F.col("st").alias("src"),
        F.coalesce(F.col("nxt"), F.lit("EXIT")).alias("dst"),
    )
    trans = starts.unionAll(steps)
    # one conditional-aggregate pass over the bounded transition stream;
    # the CASE texts come from the SAME generator as the oracle
    agg_exprs = []
    for c in _mat_sums_sql():
        expr_text, alias = c.rsplit(" AS ", 1)
        agg_exprs.append(F.expr(expr_text).alias(alias))
    mat = trans.agg(*agg_exprs)
    dets = mat.selectExpr(*_det_cols())
    probs = dets.selectExpr(*_P_COLS)
    res = probs.selectExpr(*_RE_COLS)
    stack_args = ", ".join(
        f"'{ch}', ROUND(p * (1.0 - re_{_LETTER[ch]}), 6), "
        f"ROUND(re_{_LETTER[ch]}, 6), ROUND(re_{_LETTER[ch]} / {_RE_TOT}, 6)"
        for ch in MARKOV_CHANNELS
    )
    return res.selectExpr(
        "ROUND(p, 6) AS base_conv_prob",
        f"stack({len(MARKOV_CHANNELS)}, {stack_args}) AS "
        "(channel, removal_conv_prob, removal_effect, attribution_share)",
    ).select(
        "channel",
        "base_conv_prob",
        "removal_conv_prob",
        "removal_effect",
        "attribution_share",
    )


markov_removal_attribution.__doc__ = markov_removal_attribution.__doc__.replace(
    "{conv}", MARKOV_CONV
)

"""Scale-GROWTH drill for the composed modern pipeline (VERDICT r13 #5).

The round-13 skewed-corpus drill proved the DOMINANCE bounds (hot source,
hot template); nothing yet measured GROWTH — the composed
``traindata_modern_pipeline`` multiplies seven stages' constants, and a
super-linear stage hides at any single fixture size.  This drill times
the full pipeline (and its semantic stage alone) on x1 / x2 / x5 / x10
replicated documents+embeddings fixtures and prints the scaling curve;
results go to BASELINE.md ("Scale-growth drill" section).

Fixture construction — replicas must be GENUINELY NEW documents, or the
pipeline itself deletes them and nothing grows:

- exact dedup keys on the text hash, near-dedup on shingles: replica k
  prefixes EVERY token with ``<k>x`` so every shingle differs from the
  original and from every other replica (text statistics — token count,
  length ratios — stay in the same quality band);
- semantic dedup keys on cosine cells: replica embeddings are fresh
  md5-seeded pseudo-random vectors in the original component range
  (~U[-0.35, 0.35], dim 64), NOT copies — copied vectors are exact
  semantic dups, which would first collapse the corpus back to x1 and
  meanwhile blow the within-cell pair join up quadratically in the
  replication factor: a statement about the fixture, not the plan;
- doc_id/vec_id remap to ``id + 5000*k`` keeps the doc<->vec pairing of
  the originals intact for every replica.

Expected shape: ~linear in the replication factor (every stage is a
scan, a bounded-fanout gram/shingle expansion, a cell-blocked pair join
whose cell count is fixed while cell size grows ~s — the one designed
sub-quadratic term — or a (source, shard)-bounded window).

Usage:  python tools/growth_drill.py [--out DIR] [--sf SF_DIR]
Prints one JSON line {fixture: seconds}; median of 3 warm runs each.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SCALES = (1, 2, 5, 10)
ID_STRIDE = 5000  # > max doc_id at sf0.1, keeps replica ids collision-free
EMB_DIM = 64
EMB_RANGE = 0.35  # matches the fixture embeddings' component range


def _noise_component(seed_cols, i: "F.Column") -> "F.Column":
    """Deterministic ~U[-EMB_RANGE, EMB_RANGE] float from md5(seed, i) —
    the portable md5->int trick from operators/helpers.py."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("_", *seed_cols, i.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return (
        ((h % 2001) - 1000).cast("double") / 1000.0 * EMB_RANGE
    ).cast("float")


def build_fixtures(spark, sf_dir: str, out: str) -> dict[int, str]:
    from fawac_cdc_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    dirs: dict[int, str] = {}
    for s in SCALES:
        k = F.col("k")
        docs = (
            d.select(
                "*", F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("k")
            )
            .select(
                (F.col("doc_id") + F.lit(ID_STRIDE) * k).alias("doc_id"),
                F.when(k == 0, F.col("text"))
                .otherwise(
                    F.array_join(
                        F.transform(
                            F.split("text", " "),
                            lambda t: F.concat(k.cast("string"), F.lit("x"), t),
                        ),
                        " ",
                    )
                )
                .alias("text"),
                "lang",
                "source",
                "k",
            )
            .withColumn("n_chars", F.length("text").cast("long"))
            .drop("k")
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        embs = (
            e.select(
                "*", F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("k")
            )
            .select(
                (F.col("vec_id") + F.lit(ID_STRIDE) * k).alias("vec_id"),
                F.when(k == 0, F.col("embedding"))
                .otherwise(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
                        lambda i: _noise_component(
                            [F.col("vec_id").cast("string"), k.cast("string")], i
                        ),
                    )
                )
                .alias("embedding"),
                "label",
            )
        )
        path = os.path.join(out, f"x{s}")
        docs.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(path, "documents.parquet")
        )
        embs.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(path, "embeddings.parquet")
        )
        dirs[s] = path
    return dirs


def timed(make_df, runs: int = 3) -> float:
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        make_df().count()
        times.append(time.monotonic() - t0)
    return sorted(times)[len(times) // 2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/growth_drill")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from fawac_cdc_spark.registry import all_specs
    from fawac_cdc_spark.session import get_spark

    spark = get_spark("growth-drill")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = build_fixtures(spark, args.sf, args.out)
    specs = all_specs()
    pipe = specs["traindata_modern_pipeline"].fn
    sem = specs["semantic_dedup_cell_stats"].fn
    r: dict[str, float] = {}
    for s in SCALES:
        r[f"pipeline_x{s}"] = timed(lambda s=s: pipe(spark, dirs[s]))
        r[f"semantic_x{s}"] = timed(lambda s=s: sem(spark, dirs[s]))
    # survivor counts so a collapsing corpus can't masquerade as speed
    for s in SCALES:
        r[f"final_rows_x{s}"] = pipe(spark, dirs[s]).count()
    print(json.dumps({k: round(v, 3) for k, v in r.items()}))
    spark.stop()


if __name__ == "__main__":
    main()

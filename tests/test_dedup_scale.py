"""Scale-hardening properties of the near-dedup family:

- hot-shingle DF cap bounds candidate generation under stop-phrase skew
- connected-component survivors collapse transitive chains the
  single-pass min-id rule cannot
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fawac_cdc_spark.functions.dedup import (
    MAX_SHINGLE_DF,
    capped_shingles,
    connected_components_min_label,
    jaccard_candidate_pairs,
)


def _shingle_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, shingle string")


def test_df_cap_drops_stop_phrase_shingle(spark):
    """One stop-phrase shingle across 100 docs would alone contribute
    C(100,2)=4950 candidate pairs; with the cap at 10 it contributes 0."""
    rows = [(i, "the quick brown") for i in range(100)]
    # each doc also carries a unique shingle so docs stay non-empty
    rows += [(i, f"unique shingle {i}") for i in range(100)]
    sh = _shingle_frame(spark, rows)
    capped = capped_shingles(sh, max_df=10)
    kept = {r["shingle"] for r in capped.select("shingle").distinct().collect()}
    assert "the quick brown" not in kept
    assert len(kept) == 100  # all unique shingles survive
    pairs = jaccard_candidate_pairs(sh, threshold=0.0, max_df=10)
    assert pairs.count() == 0


def test_df_cap_bounds_candidates_but_keeps_real_dups(spark):
    """Real near-dups (sharing several below-cap shingles) still pair up
    while the injected hot shingle adds no pairs."""
    rows = []
    # docs 0 and 1 share 3 rare shingles -> jaccard 3/3 = 1.0
    for s in ("alpha beta gamma", "beta gamma delta", "gamma delta epsilon"):
        rows += [(0, s), (1, s)]
    # 100 unrelated docs all sharing one stop-phrase shingle
    rows += [(i, "the quick brown") for i in range(2, 102)]
    rows += [(i, f"unique shingle {i}") for i in range(2, 102)]
    sh = _shingle_frame(spark, rows)
    pairs = jaccard_candidate_pairs(sh, threshold=0.5, max_df=10).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (0, 1)
    assert pairs[0]["jaccard"] == 1.0


def test_default_cap_is_scale_safe():
    """With the default cap, a single hot join key contributes at most
    cap*(cap-1)/2 pairs — constant, independent of corpus size."""
    assert MAX_SHINGLE_DF * (MAX_SHINGLE_DF - 1) / 2 <= 5000


def test_connected_components_collapse_chain(spark):
    """Chain a-b, b-c WITHOUT a direct a-c candidate must still land in
    one component with the min id as the label (the case the single-pass
    drop rule under-merges)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    vertices = spark.range(1, 6).select(F.col("id").alias("doc_id"))
    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components_min_label(edges, vertices).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_connected_components_two_components_and_isolated(spark):
    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "doc_a long, doc_b long"
    )
    vertices = spark.createDataFrame(
        [(10,), (20,), (30,), (40,), (50,), (60,)], "doc_id long"
    )
    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components_min_label(edges, vertices).collect()
    }
    assert labels == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40, 60: 60}


def test_min_label_cc_refuses_unconverged_chain(spark):
    """A path 0-1-...-7 needs 7 propagation rounds plus one confirming
    round: with fewer, vertex 7 still carries a partial label, so the
    loop must raise instead of returning it; with enough it converges
    to one component."""
    import pytest

    n = 8
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_min_label(chain, verts, max_iter=4)
    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components_min_label(chain, verts, max_iter=n).collect()
    }
    assert labels == {i: 0 for i in range(n)}


def test_capped_shingles_plan_broadcasts_hot_list(spark):
    """The anti-join against the hot-shingle list must broadcast (the hot
    list is tiny by construction) — no shuffle of the shingle stream."""
    sh = _shingle_frame(spark, [(i, f"s{i % 7}") for i in range(100)])
    plan = capped_shingles(sh, max_df=10)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_simhash_banding_recall_guarantee_and_miss(spark):
    """Pigeonhole recall: any pair with hamming <= n_bands-1 is always
    found; a pair with differing bits touching ALL bands is missed even
    when hamming <= max_hamming (the documented ANN recall caveat,
    simhash_candidate_pairs docstring)."""
    from fawac_cdc_spark.functions.dedup import (
        SIMHASH_BAND_BITS,
        SIMHASH_WIDE_BANDS,
        simhash_candidate_pairs,
    )

    base = 0x0123_4567_89AB_CDE  # arbitrary 60-bit fingerprint
    # hamming=3 <= n_bands-1: bits 0,1,2 all fall in band 0 -> bands 1-3
    # intact -> guaranteed hit.
    guaranteed = base ^ 0b111
    # hamming=6 spread over ALL 4 bands (2+2+1+1): no band intact -> miss.
    spread = (
        base
        ^ (0b11)  # band 0: bits 0,1
        ^ (0b11 << SIMHASH_BAND_BITS)  # band 1: bits 15,16
        ^ (1 << (2 * SIMHASH_BAND_BITS))  # band 2: bit 30
        ^ (1 << (3 * SIMHASH_BAND_BITS))  # band 3: bit 45
    )
    assert bin(base ^ spread).count("1") == 6
    fp = spark.createDataFrame(
        [(1, base), (2, guaranteed), (3, spread)], "doc_id long, simhash long"
    )
    pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_candidate_pairs(fp).collect()
    }
    assert (1, 2, 3) in pairs  # h=3: guaranteed by pigeonhole
    assert not any(p[:2] == (1, 3) for p in pairs)  # h=6 all-bands spread: missed
    # Raising n_bands to 7 x 8-bit bands restores the guarantee for h=6.
    wide = simhash_candidate_pairs(fp, n_bands=7, band_bits=8, max_hamming=6)
    assert any(
        (r["doc_a"], r["doc_b"]) == (1, 3) for r in wide.collect()
    ), "7 bands (h <= 6 guaranteed) must find the spread pair"
    assert SIMHASH_WIDE_BANDS * SIMHASH_BAND_BITS == 60


def test_star_cc_matches_min_label_on_fixture_graph(spark):
    """Both CC algorithms must produce identical labels on the real
    near-dup pair graph (and on a random graph with multiple components)."""
    from fawac_cdc_spark.functions.dedup import (
        connected_components_min_label,
        connected_components_star,
    )

    # random-ish multi-component graph: 60 vertices, edges within 6 groups
    rows = [(i,) for i in range(60)]
    verts = spark.createDataFrame(rows, "doc_id long")
    edges = [
        (g * 10 + (i * 7 + 3) % 10, g * 10 + (i * 3 + 1) % 10)
        for g in range(6)
        for i in range(8)
    ]
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_a long, doc_b long"
    )
    want = {
        r["doc_id"]: r["component"]
        for r in connected_components_min_label(e, verts).collect()
    }
    got_df, _ = connected_components_star(e, verts)
    got = {r["doc_id"]: r["component"] for r in got_df.collect()}
    assert got == want


def test_star_cc_collapses_adversarial_chain_in_log_rounds(spark):
    """A path graph 0-1-...-63 has diameter 63: min-label needs ~63
    shuffle rounds, large-star/small-star must close it in O(log n)."""
    from fawac_cdc_spark.functions.dedup import connected_components_star

    n = 64
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, rounds = connected_components_star(chain, verts, max_iter=16)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 10, f"expected O(log n) rounds, used {rounds}"


def test_star_cc_refuses_unconverged_labels(spark):
    """Exhausting max_iter without fingerprint convergence must raise
    (strict default) or warn (strict=False) — never silently return
    labels that are not component labels (ADVICE r5)."""
    import warnings

    import pytest

    from fawac_cdc_spark.functions.dedup import connected_components_star

    n = 64
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain, verts, max_iter=1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels, _ = connected_components_star(chain, verts, max_iter=1, strict=False)
        labels.count()
    assert any("did not converge" in str(w.message) for w in caught)


# --- parameter dials: the registered queries pin test-scale defaults; ---
# --- production raises them.  Execute the claim, don't assert it.     ---


def test_substring_dup_parity_at_n16(spark, sf_dir):
    """The gram length is a dial (production ~50 tokens); the plan is
    length-independent, so parity must hold at n=16 over the same
    fixtures, not just at the registered n=8."""
    from fawac_cdc_spark.functions.dedup import (
        substring_dup_oracle_sql,
        substring_dup_stats_df,
    )
    from tools.parity import compare_frames, make_duckdb

    spark_pdf = substring_dup_stats_df(spark, sf_dir, n=16).toPandas()
    oracle_pdf = make_duckdb(sf_dir).execute(substring_dup_oracle_sql(16)).df()
    assert not compare_frames(spark_pdf, oracle_pdf)
    # n=16 grams are strictly rarer than n=8 grams, so duplication can
    # only shrink — guard that the dial actually moved the result
    n8 = substring_dup_stats_df(spark, sf_dir, n=8).count()
    assert len(spark_pdf) <= n8


def test_semantic_dedup_parity_at_larger_k(spark, sf_dir):
    """SemDeDup's cell count k is the blocking dial (paper: k ~ sqrt(n));
    parity must hold at k=16, not just the registered k=8.  Note k=16
    cells are NOT refinements of the k=8 cells (assignment re-runs from
    scratch), so per-pair counts are not monotone in k — the invariants
    are: every cell non-empty (each seed is its own nearest centroid)
    and dropped + survivors == vectors per cell."""
    from fawac_cdc_spark.functions.similarity import (
        semantic_dedup_cell_stats_df,
        semantic_dedup_oracle_sql,
    )
    from tools.parity import compare_frames, make_duckdb

    spark_pdf = semantic_dedup_cell_stats_df(spark, sf_dir, n_cells=16).toPandas()
    oracle_pdf = make_duckdb(sf_dir).execute(semantic_dedup_oracle_sql(16)).df()
    assert not compare_frames(spark_pdf, oracle_pdf)
    assert len(spark_pdf) == 16
    assert (spark_pdf["n_vectors"] >= 1).all()
    assert (
        spark_pdf["n_dropped"] + spark_pdf["n_survivors"] == spark_pdf["n_vectors"]
    ).all()


def test_df_cap_bounds_aggregation_buffers(spark):
    """The hot-shingle anti-join must sit BELOW the collect_list
    aggregate in the plan: filtering before collecting bounds every
    aggregation buffer by max_df, whereas collect-then-filter builds a
    stop-phrase shingle's full doc-id list (multi-GB at corpus scale)
    before dropping it."""
    rows = [(i, "the quick brown") for i in range(50)]
    rows += [(i, f"unique {i}") for i in range(50)]
    sh = _shingle_frame(spark, rows)
    pairs = jaccard_candidate_pairs(sh, threshold=0.0, max_df=10, persist=False)
    opt = pairs._jdf.queryExecution().optimizedPlan().toString()
    anti_pos = opt.find("Join LeftAnti")
    collect_pos = opt.find("collect_list")
    assert anti_pos != -1 and collect_pos != -1
    # optimizedPlan prints top-down, so the aggregate (consumer) appears
    # BEFORE the anti-join (producer) iff the cap feeds the collect
    assert collect_pos < anti_pos


# --- exact-substring span removal (round 9): the apply half -------------


def test_span_removal_idempotent(spark, sf_dir):
    """dedup(dedup(x)) == dedup(x) (SURVEY §5.2.3): a second removal pass
    over the rewritten corpus finds ZERO duplicated spans and returns
    every text unchanged.  This is idempotence BY CONSTRUCTION, not by
    fixture luck: any original gram surviving in two rewritten docs would
    have been corpus-duplicated (hence excised) in pass 1, and any NEW
    gram created by an excision contains the doc-unique span marker, so
    it can never appear in a second document."""
    from fawac_cdc_spark.functions.dedup import substring_span_removal_df

    pass1 = substring_span_removal_df(spark, sf_dir).localCheckpoint(eager=True)
    assert pass1.where(F.col("n_spans_removed") > 0).count() > 0  # fixture bites
    rewritten = pass1.select("doc_id", F.col("kept_text").alias("text"))
    pass2 = substring_span_removal_df(spark, sf_dir, docs=rewritten)
    assert pass2.where(F.col("n_spans_removed") > 0).count() == 0
    # and the texts round-trip exactly
    diff = (
        pass1.select("doc_id", F.md5("kept_text").alias("h1"))
        .join(pass2.select("doc_id", F.md5("kept_text").alias("h2")), "doc_id")
        .where(F.col("h1") != F.col("h2"))
    )
    assert diff.count() == 0


def test_span_removal_agrees_with_detection(spark, sf_dir):
    """The apply half excises spans from EXACTLY the documents the
    detection half (substring_dup_stats) flags: same doc_id set, and
    every flagged doc loses at least one covered token."""
    from fawac_cdc_spark.functions.dedup import (
        substring_dup_stats_df,
        substring_span_removal_df,
    )

    flagged = {
        r["doc_id"] for r in substring_dup_stats_df(spark, sf_dir).collect()
    }
    removed = {
        r["doc_id"]
        for r in substring_span_removal_df(spark, sf_dir)
        .where(F.col("n_spans_removed") > 0)
        .collect()
    }
    assert flagged == removed


def test_span_removal_firstseen_keeps_first_occurrence(spark, sf_dir):
    """First-seen semantics: the smallest doc_id of every duplicated gram
    keeps its text intact unless a DIFFERENT earlier gram covers it —
    concretely, the set of rewritten docs is a strict subset of the
    symmetric form's, and the minimum doc_id of every symmetric dup
    cluster survives unrewritten when it is globally first."""
    from fawac_cdc_spark.functions.dedup import substring_span_removal_df
    from fawac_cdc_spark.streaming.batch_equiv import span_removal_firstseen_df

    sym = substring_span_removal_df(spark, sf_dir)
    fs = span_removal_firstseen_df(spark, sf_dir)
    sym_docs = {
        r["doc_id"] for r in sym.where(F.col("n_spans_removed") > 0).collect()
    }
    fs_docs = {
        r["doc_id"] for r in fs.where(F.col("n_spans_removed") > 0).collect()
    }
    assert fs_docs < sym_docs  # strictly fewer docs rewritten
    # chars removed can only shrink per doc (fewer grams count as dup)
    joined = (
        sym.select("doc_id", F.col("chars_removed").alias("sym_chars"))
        .join(fs.select("doc_id", F.col("chars_removed").alias("fs_chars")), "doc_id")
        .where(F.col("fs_chars") > F.col("sym_chars"))
    )
    assert joined.count() == 0


def test_decontam_span_removal_idempotent_and_clean_docs_unchanged(spark, sf_dir):
    """Decontam-by-excision invariants: (1) clean training docs come back
    with their ORIGINAL text hash; (2) a second pass against the same
    eval set removes nothing (idempotent by the doc-unique-marker
    argument — no benchmark text contains a marker)."""
    from fawac_cdc_spark.functions.decontam import (
        _EVAL_BUCKETS,
        _GRAM_N,
        decontam_span_removal,
    )
    from fawac_cdc_spark.functions.dedup import positioned_grams, rewrite_excising

    from fawac_cdc_spark.catalog import load_table

    out = decontam_span_removal(spark, sf_dir).localCheckpoint(eager=True)
    assert out.where(F.col("n_spans_removed") > 0).count() > 0

    docs = load_table(spark, sf_dir, "documents")
    clean_mismatch = (
        out.where(F.col("n_spans_removed") == 0)
        .join(docs.select("doc_id", F.md5("text").alias("orig_hash")), "doc_id")
        .where(F.col("kept_text_hash") != F.col("orig_hash"))
    )
    assert clean_mismatch.count() == 0

    # pass 2: rebuild kept_text (the registered query only hashes), rerun
    # the excision against the SAME eval gram set, expect zero coverage
    is_eval = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _EVAL_BUCKETS
        == 0
    )
    t_all = docs.select("doc_id", F.split("text", " ").alias("toks"), is_eval.alias("is_eval"))
    evalg = (
        positioned_grams(t_all.where("is_eval"), _GRAM_N).select("gram").distinct()
    )
    # rewritten train corpus
    t_train = t_all.where(~F.col("is_eval")).select("doc_id", "toks")
    pass1 = rewrite_excising(
        t_train,
        positioned_grams(t_train, _GRAM_N)
        .join(evalg, "gram")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {_GRAM_N - 1})")).alias("p"))
        .distinct(),
    ).localCheckpoint(eager=True)
    t2 = pass1.select("doc_id", F.split("kept_text", " ").alias("toks"))
    still_covered = positioned_grams(t2, _GRAM_N).join(evalg, "gram")
    assert still_covered.count() == 0


def test_span_removal_parity_at_n16(spark, sf_dir):
    """The gram length is a dial (production ~50 tokens); the rewrite is
    length-independent, so oracle parity must hold at n=16 too — and
    rarer grams can only shrink the removed-char total per doc."""
    from fawac_cdc_spark.functions.dedup import (
        substring_span_removal_df,
        substring_span_removal_oracle_sql,
    )
    from tools.parity import compare_frames, make_duckdb

    spark_pdf = (
        substring_span_removal_df(spark, sf_dir, n=16)
        .select(
            "doc_id",
            F.md5("kept_text").alias("kept_text_hash"),
            "n_spans_removed",
            "chars_removed",
        )
        .toPandas()
    )
    oracle_pdf = make_duckdb(sf_dir).execute(substring_span_removal_oracle_sql(16)).df()
    assert not compare_frames(spark_pdf, oracle_pdf)
    n8 = (
        substring_span_removal_df(spark, sf_dir, n=8)
        .toPandas()
        .set_index("doc_id")["chars_removed"]
    )
    n16 = spark_pdf.set_index("doc_id")["chars_removed"]
    assert (n16 <= n8.loc[n16.index]).all()

"""Entity-resolution suite: behavioral pins beyond the oracle parity
gate (tests/test_oracle_parity.py covers value equality; these pin the
SEMANTIC guarantees the entries claim)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pim_etl_spark.operators.entity_resolution import (
    MATCH_THRESHOLD,
    base_cluster_labels,
    candidate_pairs,
    dirty_records,
    er_golden_record,
    er_incremental_link,
    er_linkage_quality,
    scored_pairs,
)


@pytest.fixture(scope="module")
def quality_row(spark, sf_dir):
    return er_linkage_quality(spark, sf_dir).collect()[0]


def test_blocking_has_perfect_pair_completeness(spark, sf_dir):
    """Every planted truth pair must survive the RAW blocking passes
    (cap=None): B shares (brand digits, type) with its A twin, C
    shares both keys — a raw blocking miss would be silent recall loss
    downstream. The capped path's (measured, gated) recall lives in
    er_blocking_candidates' pair_completeness_e4; its invariants are
    pinned in test_block_cap_* below."""
    norm = dirty_records(spark, sf_dir)
    cand = candidate_pairs(norm, cap=None)
    x = norm.alias("x")
    y = norm.alias("y")
    truth = x.join(
        y, (F.col("x.pk") == F.col("y.pk")) & (F.col("x.rec_id") < F.col("y.rec_id"))
    ).select(F.col("x.rec_id").alias("rec_a"), F.col("y.rec_id").alias("rec_b"))
    missed = truth.join(cand, ["rec_a", "rec_b"], "left_anti").count()
    assert missed == 0


def test_block_cap_bounds_pairs_and_subsets_candidates(spark, sf_dir):
    """The block-size cap, forced low enough to fire at this SF
    (cap=4; BLOCK_CAP itself first fires at sf0.01): (a) capped
    candidates are a SUBSET of the raw candidates (splitting a block
    can only remove pairs, never invent them); (b) the pair volume
    strictly drops whenever any block exceeds the cap; (c) the largest
    capped block stays near the cap (sub-bucketing is a genuine cap,
    not a relabel); (d) the split is deterministic (two evaluations
    agree exactly)."""
    norm = dirty_records(spark, sf_dir).cache()
    raw = candidate_pairs(norm, cap=None).cache()
    capped = candidate_pairs(norm, cap=4).cache()
    assert capped.join(raw, ["rec_a", "rec_b"], "left_anti").count() == 0
    n_raw, n_capped = raw.count(), capped.count()
    assert 0 < n_capped < n_raw
    from pim_etl_spark.operators.entity_resolution import blocking_keys

    max_block = (
        blocking_keys(norm, cap=4)
        .groupBy("bkey")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
        .mx
    )
    # overlapping sorted-neighborhood cells hold at most 2*cap records
    # BY CONSTRUCTION — the pin is the exact invariant
    assert max_block <= 2 * 4
    again = {(r.rec_a, r.rec_b) for r in candidate_pairs(norm, cap=4).collect()}
    assert {(r.rec_a, r.rec_b) for r in capped.collect()} == again


def test_distributed_positions_match_single_window_reference(spark, sf_dir):
    """Round-9 rewrite pin: the distributed position assignment (range
    exchange + per-slice rank + broadcast prefix-sum offsets) must
    reproduce EXACTLY the key set of the single-window reference
    formula — forced to 1024 shuffle partitions so raw blocks (max 13
    rows at sf0.001, vs ~8 rows per range slice) genuinely SPAN
    slices, exercising the multi-slice offset arithmetic rather than
    the one-slice identity case."""
    from pyspark.sql import Window

    from pim_etl_spark.operators.entity_resolution import blocking_keys

    norm = dirty_records(spark, sf_dir).cache()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1024")
        got = {(r.rec_id, r.bkey) for r in blocking_keys(norm, cap=4).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # reference: the pre-round-9 single-window sorted-neighborhood
    # formula, inlined (one task per raw block — fine at test scale)
    bt = norm.select(
        "rec_id", "cents", "psize",
        F.concat(F.lit("bt|"), F.col("bdig"), F.lit("|"), F.col("ptype")).alias("bkey"),
    )
    ts = norm.select(
        "rec_id", "cents", "psize",
        F.concat(F.lit("ts|"), F.col("ptype"), F.lit("|"), F.col("psize").cast("string")).alias("bkey"),
    )
    raw = bt.unionByName(ts)
    # sanity: the forced slice width is finer than the biggest raw
    # block, so the spanning path is really what got exercised above
    n_rows = raw.count()
    max_block = raw.groupBy("bkey").count().agg(F.max("count")).first()[0]
    assert max_block > n_rows / 1024, (max_block, n_rows)
    sizes = raw.groupBy("bkey").agg(F.count(F.lit(1)).alias("sz"))
    win = Window.partitionBy("bkey").orderBy("cents", "psize", "rec_id")
    bpos = raw.join(sizes, "bkey").select(
        "rec_id", "bkey", "sz", (F.row_number().over(win) - 1).alias("pos")
    )
    cell = F.expr("pos DIV 4")
    keys_arr = F.when(F.col("sz") <= 4, F.array(F.col("bkey"))).otherwise(
        F.array(
            F.concat("bkey", F.lit("#"), cell.cast("string")),
            F.concat("bkey", F.lit("#"), (cell + 1).cast("string")),
        )
    )
    want = {
        (r.rec_id, r.bkey)
        for r in bpos.select("rec_id", F.explode(keys_arr).alias("bkey")).collect()
    }
    assert got == want


def test_capped_blocking_is_run_deterministic_where_cap_fires(spark):
    """Round-9 race regression pin: with the BLOCK_CAP path firing on
    real blocks (sf0.01, raw max block 50 > 32), three fresh
    evaluations of the capped key set must agree EXACTLY. This is the
    test that catches pid inconsistency between the offsets branch and
    the rank branch: when an explicit-N repartitionByRange flipped the
    AQE stage-cache race (before the ranked slice was
    cache-materialized), four runs produced four different key sets —
    position arithmetic composed against two independently-sampled
    boundary sets. Key sets, not aggregates: a count can collide, the
    exact (rec_id, bkey) set cannot."""
    from pim_etl_spark.operators.entity_resolution import blocking_keys

    norm = dirty_records(spark, "/root/testdata/sf0.01").cache()
    runs = [
        {(r.rec_id, r.bkey) for r in blocking_keys(norm).collect()}
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_capped_blocking_recall_floor_where_cap_fires(spark):
    """Round-8 ADVICE: BLOCK_CAP recall was measured-only — a future
    change to the planted-perturbation magnitudes (drifts today are
    <= 50 cents / 1 size unit, inside the sort-key adjacency
    assumption) would silently degrade blocking recall. Pin a FLOOR at
    sf0.01, the smallest SF where BLOCK_CAP fires on real blocks (raw
    max block 50 > 32): capped pair completeness >= 9900/10000."""
    sf01 = "/root/testdata/sf0.01"
    norm = dirty_records(spark, sf01).cache()
    cand = candidate_pairs(norm)  # BLOCK_CAP default
    x = norm.alias("x")
    y = norm.alias("y")
    truth = x.join(
        y, (F.col("x.pk") == F.col("y.pk")) & (F.col("x.rec_id") < F.col("y.rec_id"))
    ).select(F.col("x.rec_id").alias("rec_a"), F.col("y.rec_id").alias("rec_b"))
    n_truth = truth.count()
    n_cov = truth.join(cand, ["rec_a", "rec_b"], "left_semi").count()
    assert n_truth > 0
    assert n_cov * 10000 // n_truth >= 9900, (n_cov, n_truth)


def test_matcher_recall_is_total_and_precision_honest(quality_row):
    """The planted perturbations were designed inside the score
    margin, so recall is exactly 1; precision < 1 records the genuine
    indistinguishable-twin collisions (never 0 of them at sf>=0.001)."""
    assert quality_row.recall_e4 == 10000
    assert quality_row.fn == 0
    assert 0 < quality_row.precision_e4 <= 10000
    assert quality_row.n_candidates < quality_row.n_records * (quality_row.n_records - 1) // 2


def test_scores_are_bounded_and_integer(spark, sf_dir):
    mm = scored_pairs(spark, sf_dir).agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).collect()[0]
    assert 0 <= mm.lo <= mm.hi <= 100


def test_golden_record_conserves_membership(spark, sf_dir):
    """Cluster sizes sum to the record count (no record lost or
    double-assigned by the fixed-round label propagation), and every
    multi-source cluster carries a canonical value for each field."""
    norm_n = dirty_records(spark, sf_dir).count()
    golden = er_golden_record(spark, sf_dir)
    agg = golden.agg(
        F.sum("n_members").alias("total"),
        F.sum(F.when(F.col("canonical_name").isNull(), 1).otherwise(0)).alias("null_names"),
    ).collect()[0]
    assert agg.total == norm_n
    assert agg.null_names == 0


def test_golden_survivorship_prefers_longest_name(spark, sf_dir):
    """B's devoweled name is strictly shorter than A's original, so no
    3-source cluster may surface a devoweled canonical name."""
    bad = (
        er_golden_record(spark, sf_dir)
        .filter((F.col("n_sources") >= 2) & (~F.col("canonical_name").rlike("[aeiou]")))
        .count()
    )
    assert bad == 0


def test_incremental_link_assigns_b_records_correctly(spark, sf_dir):
    """Steady-state linking: every B record links (is_new = 0 — its A
    twin is always in the index and inside the score margin) and the
    assignment lands in the truth cluster except for planted
    indistinguishable twins (bounded, measured, deterministic)."""
    res = er_incremental_link(spark, sf_dir).cache()
    agg = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_new").alias("n_new"),
        F.sum("is_correct").alias("n_correct"),
    ).collect()[0]
    assert agg.n_new == 0
    assert agg.n_correct >= agg.n * 9 // 10


def test_base_labels_are_canonical_members(spark, sf_dir):
    """Every base cluster label is itself a member record id of the
    cluster (min-label invariant), so labels are stable join keys."""
    norm = dirty_records(spark, sf_dir).cache()
    lbl = base_cluster_labels(norm, scored_pairs(spark, sf_dir))
    dangling = lbl.join(
        norm.select(F.col("rec_id").alias("lbl")), "lbl", "left_anti"
    ).count()
    assert dangling == 0


def test_thresholded_score_equals_unthresholded(spark):
    """The match score built on levenshtein(a, b, 4) must equal the
    r12 score built on the full distance, over every real candidate
    pair at sf0.001 — including pairs where the threshold fires (-1 →
    term 0) and pairs at the exact lev == 4 / 5 boundary."""
    from pim_etl_spark.operators.entity_resolution import scored_pairs

    sf_dir = "/root/testdata/sf0.001"
    scored = scored_pairs(spark, sf_dir)
    # reconstruct the unthresholded lev-term from the projected exact
    # name_lev feature and compare against the shipped score
    fx_cols = scored.select(
        "rec_a",
        "rec_b",
        "score",
        (
            F.col("brand_eq").cast("long") * 30
            + F.col("type_eq").cast("long") * 10
            + F.greatest(F.lit(0).cast("long"), F.lit(20) - 5 * F.col("size_diff"))
            + F.greatest(
                F.least(
                    F.lit(20).cast("long"),
                    (
                        (F.col("tok_jac_e4") * 2 - (F.col("tok_jac_e4") * 2) % 1000) / 1000
                    ).cast("long"),
                ),
                F.greatest(F.lit(0).cast("long"), F.lit(20) - 4 * F.col("name_lev")),
            )
            + F.greatest(
                F.lit(0).cast("long"),
                F.lit(20)
                - ((F.col("cents_diff") - F.col("cents_diff") % 10) / 10).cast("long"),
            )
        ).alias("ref_score"),
    )
    bad = fx_cols.filter(F.col("score") != F.col("ref_score")).count()
    assert bad == 0
    # the threshold path must actually exercise both branches
    dist = scored.select(
        F.sum((F.col("name_lev") > 4).cast("int")).alias("over"),
        F.sum((F.col("name_lev") <= 4).cast("int")).alias("under"),
    ).collect()[0]
    assert dist["over"] > 0 and dist["under"] > 0

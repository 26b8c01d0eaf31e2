"""Unit tests for the round-5b operators: Gini / KS audits, Cramer
bivariate OLS, CUPED, conformal intervals, learning curves, weighted
reservoir sampling, and incremental corpus dedup — known-answer and
invariance properties the DuckDB oracle can't check."""

import math

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------------------
# gini_by_group
# ----------------------------------------------------------------------


def test_gini_known_answers(spark):
    """Equal values → G = 0 exactly; all mass on one of n holders →
    G = (n−1)/n exactly (both are pure integer identities)."""
    from panelsplit_spark.operators.quality import gini_by_group

    rows = [("eq", 7, i) for i in range(5)] + [
        ("conc", 0, 0), ("conc", 0, 1), ("conc", 0, 2), ("conc", 10, 3)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "id"])
    out = {r["g"]: r for r in gini_by_group(df, ["g"], "x", "id").collect()}
    assert out["eq"]["gini"] == 0.0
    assert out["conc"]["gini"] == 0.75  # (n-1)/n with n=4
    assert out["conc"]["total_units"] == 10


def test_gini_zero_total_is_null(spark):
    from panelsplit_spark.operators.quality import gini_by_group

    df = spark.createDataFrame([("z", 0, 1), ("z", 0, 2)], ["g", "x", "id"])
    assert gini_by_group(df, ["g"], "x", "id").collect()[0]["gini"] is None


# ----------------------------------------------------------------------
# ks_one_vs_rest
# ----------------------------------------------------------------------


def test_ks_disjoint_supports_is_one(spark):
    """Segment a on 1..10, segment b on 11..20: D = 1 exactly for both
    one-vs-rest comparisons (d_num = n_seg·n_rest)."""
    from panelsplit_spark.operators.quality import ks_one_vs_rest

    rows = [("a", v) for v in range(1, 11)] + [
        ("b", v) for v in range(11, 21)
    ]
    df = spark.createDataFrame(rows, ["seg", "v"])
    out = {r["segment"]: r for r in ks_one_vs_rest(df, "seg", "v").collect()}
    for s in ("a", "b"):
        assert out[s]["ks_d"] == 1.0
        assert out[s]["d_num"] == out[s]["n_seg"] * out[s]["n_rest"]


def test_ks_identical_distributions_is_zero(spark):
    from panelsplit_spark.operators.quality import ks_one_vs_rest

    rows = [(s, v) for s in ("a", "b") for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, ["seg", "v"])
    for r in ks_one_vs_rest(df, "seg", "v").collect():
        assert r["ks_d"] == 0.0


# ----------------------------------------------------------------------
# group_ols2
# ----------------------------------------------------------------------


def test_group_ols2_recovers_planted_plane(spark):
    """y = 3 + 2·x1 − 5·x2 exactly → coefficients are exact ratios of
    integers and must come back as exact doubles."""
    from panelsplit_spark.operators.timeseries import group_ols2

    pts = [(x1, x2) for x1 in range(6) for x2 in range(4)]
    rows = [("g", x1, x2, 3 + 2 * x1 - 5 * x2) for x1, x2 in pts]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    r = group_ols2(df, ["g"], "x1", "x2", "y").collect()[0]
    assert r["b1"] == 2.0
    assert r["b2"] == -5.0
    assert r["b0"] == 3.0


def test_group_ols2_singular_group_is_null(spark):
    """Constant x2 is collinear with the intercept: det = 0 → NULLs,
    never a division error."""
    from panelsplit_spark.operators.timeseries import group_ols2

    rows = [("g", x1, 9, 2 * x1) for x1 in range(5)]
    df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
    r = group_ols2(df, ["g"], "x1", "x2", "y").collect()[0]
    assert r["b1"] is None and r["b2"] is None and r["b0"] is None


def test_exact_line_beyond_int64(spark):
    """x ≈ 2³¹ makes n·Σx² ≈ 2⁶⁸, far past LONG, while the centered
    co-moments stay small: the decimal(38,0) co-moments must be the
    exact integers, the slope the exact ratio rounded once to double
    and the intercept the fixed-order double expression."""
    from fractions import Fraction

    from panelsplit_spark.operators.timeseries import (
        dec38,
        exact_comoment,
        exact_line,
    )

    xs = [2**31 + i for i in range(8)]
    ys = [7 * i * i - 3 * i + 11 for i in range(8)]
    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
    x, y = F.col("x"), F.col("y")
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(dec38(x) * x).alias("sxx"),
        F.sum(dec38(x) * y).alias("sxy"),
    )
    b1, b0 = exact_line("n", "sx", "sy", "sxx", "sxy")
    r = m.select(
        exact_comoment("n", "sx", "sx", "sxx").alias("cxx"),
        exact_comoment("n", "sx", "sy", "sxy").alias("cxy"),
        b1.alias("b1"),
        b0.alias("b0"),
    ).collect()[0]
    n, sx, sy = len(xs), sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    sxy = sum(u * v for u, v in zip(xs, ys))
    assert n * sxx >= 2**63
    cxx, cxy = n * sxx - sx * sx, n * sxy - sx * sy
    assert (int(r["cxx"]), int(r["cxy"])) == (cxx, cxy)
    assert r["b1"] == float(Fraction(cxy, cxx))
    assert r["b0"] == (float(sy) - r["b1"] * float(sx)) / float(n)


# ----------------------------------------------------------------------
# cuped_adjust
# ----------------------------------------------------------------------


def test_cuped_paired_covariate_exact(spark):
    """x distribution identical in both arms and y = 2x + 10·treated:
    θ = 2 exactly, raw lift = CUPED lift = 10 exactly (the covariate
    explains none of the arm difference), ρ² strictly inside (0, 1)."""
    from panelsplit_spark.operators.evaluation import cuped_adjust

    rows = []
    for t in (0, 1):
        for x in (1, 2, 3):
            rows.append((x, 2 * x + 10 * t, t))
    df = spark.createDataFrame(rows, ["x", "y", "treated"])
    r = cuped_adjust(df, "x", "y", "treated").collect()[0]
    assert r["theta"] == 2.0
    assert r["diff_raw"] == 10.0
    assert r["diff_cuped"] == 10.0
    assert 0.0 < r["rho2"] < 1.0
    assert r["n_t"] == 3 and r["n_c"] == 3


def test_cuped_constant_covariate_null_theta(spark):
    from panelsplit_spark.operators.evaluation import cuped_adjust

    rows = [(5, 1, 0), (5, 2, 1), (5, 3, 0), (5, 4, 1)]
    df = spark.createDataFrame(rows, ["x", "y", "treated"])
    r = cuped_adjust(df, "x", "y", "treated").collect()[0]
    assert r["theta"] is None and r["diff_cuped"] is None
    assert r["diff_raw"] == 1.0  # (2+4)/2 - (1+3)/2


# ----------------------------------------------------------------------
# split_conformal_ols / learning_curve_ols
# ----------------------------------------------------------------------


def test_conformal_noiseless_line_full_coverage(spark):
    """y = 5x exactly: the fit is exact, every score is 0, q̂ = 0 and
    test coverage is exactly 1.0; split sizes partition the input; the
    conformal rank matches the textbook ⌈(n_cal+1)(1−α)⌉."""
    from panelsplit_spark.operators.evaluation import split_conformal_ols

    n = 400
    df = spark.range(n).select(
        F.col("id").cast("string").alias("rid"),
        (F.col("id") % 37).alias("x"),
        ((F.col("id") % 37) * 5).alias("y"),
    )
    r = split_conformal_ols(df, "rid", "x", "y", alpha_bp=1000).collect()[0]
    assert r["n_train"] + r["n_cal"] + r["n_test"] == n
    assert r["qhat_mu"] == 0
    assert r["coverage"] == 1.0
    assert r["k"] == min(
        math.ceil((r["n_cal"] + 1) * 0.9), r["n_cal"]
    )


def test_learning_curve_noiseless_line(spark):
    """y = 7x exactly → every nested cut recovers slope 7, intercept 0,
    test MSE 0; train sizes are strictly increasing (nested bands)."""
    from panelsplit_spark.operators.evaluation import learning_curve_ols

    df = spark.range(3000).select(
        F.col("id").cast("string").alias("rid"),
        (F.col("id") % 23).alias("x"),
        ((F.col("id") % 23) * 7).alias("y"),
    )
    rows = sorted(
        learning_curve_ols(df, "rid", "x", "y").collect(),
        key=lambda r: r["cut_bp"],
    )
    assert [r["cut_bp"] for r in rows] == [1000, 2000, 4000, 8000]
    ns = [r["n_train"] for r in rows]
    assert ns == sorted(ns) and ns[0] < ns[-1]
    for r in rows:
        assert r["slope"] == 7.0
        assert r["intercept"] == 0.0
        assert r["test_mse"] == 0.0


# ----------------------------------------------------------------------
# weighted_reservoir_topk
# ----------------------------------------------------------------------


def test_reservoir_partition_invariant_and_exact_k(spark):
    from panelsplit_spark.operators.sampling import weighted_reservoir_topk

    df = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("w")
    )
    a = weighted_reservoir_topk(df, "doc_id", "w", 25).collect()
    b = weighted_reservoir_topk(
        df.repartition(7), "doc_id", "w", 25
    ).collect()
    assert len(a) == 25
    assert {(r["doc_id"], r["score_micro"]) for r in a} == {
        (r["doc_id"], r["score_micro"]) for r in b
    }


def test_reservoir_weight_bias(spark):
    """Rows with 100× the weight must be overrepresented in the sample
    relative to their population share (a smoke check of the ES-key
    direction: heavier → larger ln(u)/w key)."""
    from panelsplit_spark.operators.sampling import weighted_reservoir_topk

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, F.lit(1000)).otherwise(F.lit(10)).alias("w"),
    )
    picked = weighted_reservoir_topk(df, "doc_id", "w", 100).collect()
    heavy = sum(1 for r in picked if r["doc_id"] < 100)
    # heavy rows are 10% of the population but ~53% of total weight
    assert heavy > 30


def test_reservoir_drops_nonpositive_weights(spark):
    from panelsplit_spark.operators.sampling import weighted_reservoir_topk

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 5, F.lit(0)).otherwise(F.lit(3)).alias("w"),
    )
    out = weighted_reservoir_topk(df, "doc_id", "w", 10).collect()
    assert {r["doc_id"] for r in out} == set(range(5, 10))


# ----------------------------------------------------------------------
# incremental_band_dedup
# ----------------------------------------------------------------------


def test_incremental_dedup_statuses(spark):
    """Exact corpus twin → dup_corpus; within-batch exact twin → the
    smaller id is admitted, the larger is dup_batch; novel text →
    admitted."""
    from panelsplit_spark.operators.dedup import incremental_band_dedup

    t_a = "the quick brown fox jumps over the lazy dog today"
    t_b = "pack my box with five dozen liquor jugs right now"
    t_c = "sphinx of black quartz judge my vow and more words"
    corpus = spark.createDataFrame([(1, t_a)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, t_a), (11, t_b), (12, t_b), (13, t_c)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_band_dedup(corpus, batch).collect()
    }
    assert out == {
        10: "dup_corpus",
        11: "admitted",
        12: "dup_batch",
        13: "admitted",
    }


def test_incremental_dedup_corpus_dup_does_not_shadow_batch_twin(spark):
    """A batch text whose only smaller-id twin was itself rejected as
    dup_corpus must NOT be demoted to dup_batch: the surviving copy is
    the one admitted."""
    from panelsplit_spark.operators.dedup import incremental_band_dedup

    t_a = "the quick brown fox jumps over the lazy dog today"
    # doc 20 shares LSH bands with the corpus doc (same text); doc 21
    # has DIFFERENT text that shares no shingles with the corpus but
    # matches doc 20's md5? impossible — so instead: 20 is corpus-dup,
    # 21 carries the same text as 20 (also corpus-dup). Both must be
    # dup_corpus; neither becomes dup_batch.
    corpus = spark.createDataFrame([(1, t_a)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(20, t_a), (21, t_a)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_band_dedup(corpus, batch).collect()
    }
    assert out == {20: "dup_corpus", 21: "dup_corpus"}


# ----------------------------------------------------------------------
# acf_lags
# ----------------------------------------------------------------------


def test_acf_periodic_series(spark):
    """A period-7 series: ACF at lag 7 is ~1 (shifted vector equals the
    original), and a deleted day shrinks only the touching lags'
    n_pairs — the date equi-join must not slide positions."""
    import datetime

    from panelsplit_spark.operators.timeseries import acf_lags

    base = datetime.date(2024, 3, 1)
    pattern = [10, 40, 20, 50, 30, 70, 60]
    rows = [
        (base + datetime.timedelta(days=i), pattern[i % 7])
        for i in range(35)
        if i != 17  # gap day
    ]
    df = spark.createDataFrame(rows, ["day", "v"])
    out = {r["lag"]: r for r in acf_lags(df, "day", "v", 7).collect()}
    assert abs(out[7]["acf"] - 1.0) < 1e-12
    # 34 observed days; lag-7 pairs lose BOTH the missing day and its
    # +7 partner: 35-7=28 full pairs minus 2 broken ones
    assert out[7]["n_pairs"] == 26

def test_acf_constant_series_null(spark):
    import datetime

    from panelsplit_spark.operators.timeseries import acf_lags

    base = datetime.date(2024, 3, 1)
    rows = [(base + datetime.timedelta(days=i), 5) for i in range(10)]
    df = spark.createDataFrame(rows, ["day", "v"])
    for r in acf_lags(df, "day", "v", 3).collect():
        assert r["acf"] is None


# ----------------------------------------------------------------------
# power_mde
# ----------------------------------------------------------------------


def test_power_mde_matches_python_formula(spark):
    from panelsplit_spark.operators.evaluation import (
        Z_ALPHA_975,
        Z_POWER_80,
        power_mde,
    )

    ys = [3, 7, 11, 2, 9, 5, 8, 4]
    rows = [("g", y, i % 2) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, ["g", "y", "t"])
    r = power_mde(df, ["g"], "y", "t").collect()[0]
    n, sy, syy = len(ys), sum(ys), sum(y * y for y in ys)
    var = (n * syy - sy * sy) / (n * (n - 1.0))
    n_t = sum(1 for i in range(len(ys)) if i % 2 == 1)
    n_c = n - n_t
    mde = (Z_ALPHA_975 + Z_POWER_80) * math.sqrt(
        var * (1.0 / n_t + 1.0 / n_c)
    )
    assert r["n_t"] == n_t and r["n_c"] == n_c
    assert abs(r["var_units"] - var) < 1e-12
    assert abs(r["mde_abs"] - mde) < 1e-12


def test_power_mde_empty_arm_null(spark):
    from panelsplit_spark.operators.evaluation import power_mde

    rows = [("g", y, 0) for y in (1, 2, 3)]
    df = spark.createDataFrame(rows, ["g", "y", "t"])
    r = power_mde(df, ["g"], "y", "t").collect()[0]
    assert r["mde_abs"] is None and r["var_units"] is not None


# ----------------------------------------------------------------------
# streaming reservoir: the semilattice fold identity
# ----------------------------------------------------------------------


def test_reservoir_semilattice_fold(spark):
    """topk(topk(A) ∪ topk(B)) == topk(A ∪ B) — the identity that makes
    the streaming reservoir's drained state chop-invariant."""
    from panelsplit_spark.operators.sampling import weighted_reservoir_topk

    df = spark.range(400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 53 + 1).alias("w")
    )
    a = df.where(F.col("doc_id") % 2 == 0)
    b = df.where(F.col("doc_id") % 2 == 1)
    k = 20
    whole = weighted_reservoir_topk(df, "doc_id", "w", k).collect()
    # the stream merge re-folds on the stored key (order by score, id),
    # never recomputing scores
    merged = (
        weighted_reservoir_topk(a, "doc_id", "w", k)
        .unionByName(weighted_reservoir_topk(b, "doc_id", "w", k))
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(k)
        .collect()
    )
    assert {(r["doc_id"], r["score_micro"]) for r in whole} == {
        (r["doc_id"], r["score_micro"]) for r in merged
    }


# ----------------------------------------------------------------------
# survivorship_golden
# ----------------------------------------------------------------------


def test_survivorship_rules(spark):
    """Longest member wins (id tiebreak), plurality language with
    value-order tiebreak, audit facts exact."""
    from panelsplit_spark.operators.dedup import survivorship_golden

    docs = spark.createDataFrame(
        [
            (1, 100, "en", "s1"),
            (2, 300, "de", "s2"),
            (3, 300, "de", "s1"),
            (4, 50, "fr", "s3"),
            (7, 80, "en", "s1"),
            (8, 80, "en", "s1"),
        ],
        ["doc_id", "n_chars", "lang", "source"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)],
        ["id", "cluster"],
    )
    out = {
        r["cluster"]: r
        for r in survivorship_golden(docs, clusters).collect()
    }
    c1 = out[1]
    assert c1["canonical_id"] == 2  # 300 chars, tie with 3 → min id
    assert c1["canonical_chars"] == 300
    assert c1["top_lang"] == "de"  # 2×de vs 1×en 1×fr
    assert c1["n_members"] == 4
    assert c1["n_sources"] == 3
    assert c1["total_chars"] == 750
    c7 = out[7]
    assert c7["canonical_id"] == 7 and c7["top_lang"] == "en"


def test_survivorship_lang_tie_breaks_by_value(spark):
    from panelsplit_spark.operators.dedup import survivorship_golden

    docs = spark.createDataFrame(
        [(1, 10, "zz", "s"), (2, 10, "aa", "s")],
        ["doc_id", "n_chars", "lang", "source"],
    )
    clusters = spark.createDataFrame([(1, 1), (2, 1)], ["id", "cluster"])
    r = survivorship_golden(docs, clusters).collect()[0]
    assert r["top_lang"] == "aa"  # 1-1 tie → lexicographically first


# ----------------------------------------------------------------------
# rule_ablation / referential_audit / mergeable MDE moments
# ----------------------------------------------------------------------


def test_rule_ablation_known_masks(spark):
    """Masks constructed by hand: rule 0 fails 3 docs and is sole
    blocker for 2; rule 1 fails 2, sole for 1; rule 2 never fires."""
    from panelsplit_spark.operators.quality import rule_ablation

    masks = [0, 0, 1, 1, 3, 2]  # 2 pass, 2 sole-r0, 1 both, 1 sole-r1
    df = spark.createDataFrame([(m,) for m in masks], ["fail_mask"])
    out = {r["rule_id"]: r for r in rule_ablation(df, n_rules=3).collect()}
    assert out[0]["n_fail"] == 3 and out[0]["n_sole_blocker"] == 2
    assert out[1]["n_fail"] == 2 and out[1]["n_sole_blocker"] == 1
    assert out[2]["n_fail"] == 0 and out[2]["n_sole_blocker"] == 0
    assert out[0]["n_pass"] == 2 and out[0]["n_docs"] == 6
    assert out[0]["pass_rate_without"] == (2 + 2) / 6


def test_referential_audit_counts_orphans(spark):
    from panelsplit_spark.operators.quality import referential_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "k: int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "k: int")
    r = referential_audit(
        [("c.k->p", child, "k", parent, "k")]
    ).collect()[0]
    assert r["n_child"] == 5
    assert r["n_keys"] == 3  # NULL not counted as a distinct key
    assert r["n_orphans"] == 2  # 99 and NULL
    assert r["orphan_rate"] == 0.4


def test_mde_moments_merge_equals_whole(spark):
    """Element-wise summed moment frames over two disjoint halves must
    finish to the SAME MDE rows as the one-pass operator — the
    streaming gate's chop-invariance, checked batch-side."""
    from pyspark.sql import functions as SF

    from panelsplit_spark.operators.evaluation import (
        mde_from_moments,
        mde_moments,
        power_mde,
    )

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 17).alias("y"),
        (F.col("id") % 2).alias("t"),
    )
    whole = power_mde(df, ["g"], "y", "t").collect()
    lo = mde_moments(df.where(F.col("id") < 100), ["g"], "y", "t")
    hi = mde_moments(df.where(F.col("id") >= 100), ["g"], "y", "t")
    merged = (
        lo.unionByName(hi)
        .groupBy("g")
        .agg(
            SF.sum("n").alias("n"),
            SF.sum("sy").alias("sy"),
            SF.sum("syy").cast("decimal(38,0)").alias("syy"),
            SF.sum("n_t").alias("n_t"),
        )
    )
    folded = mde_from_moments(merged, ["g"]).collect()
    key = lambda rows: {  # noqa: E731
        r["g"]: tuple(r)[1:] for r in rows
    }
    assert key(whole) == key(folded)


# ----------------------------------------------------------------------
# property-based invariants (hypothesis)
# ----------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@given(vals=st.lists(st.integers(0, 1000), min_size=2, max_size=25))
@settings(max_examples=10, deadline=None)
def test_gini_bounds_and_scale_invariance(spark, vals):
    """For ANY nonneg integer values with positive total: G ∈
    [0, (n−1)/n], and G is exactly invariant under integer scaling
    (numerator and denominator both scale by c — an integer identity,
    so the doubles are bit-equal)."""
    from panelsplit_spark.operators.quality import gini_by_group

    if sum(vals) == 0:
        vals = vals + [1]
    n = len(vals)
    rows = [("g", v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["g", "x", "id"])
    g1 = gini_by_group(df, ["g"], "x", "id").collect()[0]["gini"]
    assert -1e-15 <= g1 <= (n - 1) / n + 1e-15
    rows3 = [("g", 3 * v, i) for i, v in enumerate(vals)]
    df3 = spark.createDataFrame(rows3, ["g", "x", "id"])
    g3 = gini_by_group(df3, ["g"], "x", "id").collect()[0]["gini"]
    assert g1 == g3


@given(
    a=st.lists(st.integers(0, 50), min_size=1, max_size=15),
    b=st.lists(st.integers(0, 50), min_size=1, max_size=15),
)
@settings(max_examples=10, deadline=None)
def test_ks_two_segment_symmetry_and_bounds(spark, a, b):
    """With exactly two segments, one-vs-rest is the classical
    two-sample KS from both ends: identical d_num and ks_d, and
    d_num ≤ n_a·n_b always."""
    from panelsplit_spark.operators.quality import ks_one_vs_rest

    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, ["seg", "v"])
    out = {r["segment"]: r for r in ks_one_vs_rest(df, "seg", "v").collect()}
    ra, rb = out["a"], out["b"]
    assert ra["d_num"] == rb["d_num"]
    assert ra["ks_d"] == rb["ks_d"]
    assert 0 <= ra["d_num"] <= len(a) * len(b)


# ----------------------------------------------------------------------
# contrastive_triplets
# ----------------------------------------------------------------------


def test_contrastive_triplets_guards(spark):
    """Antipodal negatives: with ids 0..9 the negative of rank r is
    rank (r+5) mod 10; triplets whose antipode collides with the
    anchor, the positive, or any candidate pair are dropped."""
    from panelsplit_spark.operators.sampling import contrastive_triplets

    docs = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (2, 7), (3, 4)], ["id_a", "id_b"]
    )
    out = {
        (r["anchor"], r["positive"]): r["negative"]
        for r in contrastive_triplets(docs, pairs).collect()
    }
    # anchor 0 → antipode 5: valid
    assert out[(0, 1)] == 5
    # anchor 2 → antipode 7 == positive AND a pair of 2 → dropped
    assert (2, 7) not in out
    # anchor 3 → antipode 8: valid
    assert out[(3, 4)] == 8


# ----------------------------------------------------------------------
# CPCV
# ----------------------------------------------------------------------


def test_cpcv_splits_structure():
    """C(G,k) splits; blocks partition the axis; each group appears in
    exactly C(G-1, k-1) test sets."""
    from math import comb

    from panelsplit_spark.plans.fold_spec import cpcv_splits

    G, K, N = 6, 2, 31
    splits = cpcv_splits(N, G, K)
    assert len(splits) == comb(G, K)
    appearances = {}
    for sid, blocks in splits:
        assert len(blocks) == K
        for lo, hi in blocks:
            assert 0 <= lo < hi <= N
            appearances[(lo, hi)] = appearances.get((lo, hi), 0) + 1
    # 6 distinct blocks, each in C(5,1)=5 splits, covering N exactly
    assert len(appearances) == G
    assert all(v == comb(G - 1, K - 1) for v in appearances.values())
    assert sum(hi - lo for lo, hi in appearances) == N


def test_cpcv_assign_purge_embargo(spark):
    """30 periods, G=6, k=2, purge=embargo=1: for the (0,1) split the
    test ranks are 0..9; rank 10 is embargoed (neither role); rank 11+
    train. No period is both train and test in one split."""
    import datetime

    from panelsplit_spark.operators.cross_validation import (
        cpcv_panel_assign,
    )

    base = datetime.date(2024, 3, 1)
    rows = [
        ((base + datetime.timedelta(days=i)).isoformat(), i)
        for i in range(30)
        for _ in range(2)
    ]
    df = spark.createDataFrame(rows, ["period", "v"])
    out = cpcv_panel_assign(df, "period", 6, 2, purge=1, embargo=1)
    s0 = {
        (r["period"], r["role"])
        for r in out.where(F.col("split_id") == 0).collect()
    }
    periods = sorted({p for p, _ in s0})
    test_p = {p for p, role in s0 if role == "test"}
    train_p = {p for p, role in s0 if role == "train"}
    assert len(test_p & train_p) == 0
    day = lambda i: (base + datetime.timedelta(days=i)).isoformat()  # noqa: E731
    assert day(0) in test_p and day(9) in test_p
    assert day(10) not in test_p and day(10) not in train_p  # embargo
    assert day(11) in train_p


def test_cpcv_paths_cover_all_groups(spark):
    """Each backtest path must contain every period group exactly once:
    with 30 periods and uniform rows per period, every path's n_rows is
    the whole panel (each period tested once per path)."""
    import datetime

    from panelsplit_spark.operators.cross_validation import (
        cpcv_backtest_paths,
    )

    base = datetime.date(2024, 3, 1)
    rows = [
        ((base + datetime.timedelta(days=i)).isoformat(), i, 2 * i + 5)
        for i in range(30)
        for _ in range(3)
    ]
    df = spark.createDataFrame(rows, ["period", "x", "y"])
    out = cpcv_backtest_paths(df, "period", "x", "y", 6, 2).collect()
    assert len(out) == 5  # C(5,1) paths
    assert all(r["n_rows"] == 90 for r in out)  # every period, once
    # y = 2x+5 exactly and every train set is big enough to fit it →
    # every path's MSE is exactly 0
    assert all(r["mse"] == 0.0 for r in out)
    assert all(r["sse_milli"] == 0 for r in out)


def test_cpcv_paths_plan_joins_no_driver_tables(spark):
    """Path membership is literal lookups: the plan scans no driver-built
    table and broadcasts only the per-split fit."""
    from panelsplit_spark.operators.cross_validation import (
        cpcv_backtest_paths,
    )

    i = (F.col("id") % 30).cast("int")
    df = spark.range(90).select(
        F.date_format(F.date_add(F.lit("2024-03-01"), i), "yyyy-MM-dd")
        .alias("period"),
        i.alias("x"),
        (2 * i + 5).alias("y"),
    )
    out = cpcv_backtest_paths(df, "period", "x", "y", 6, 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert plan.count("BroadcastExchange") == 1
    rows = out.collect()
    assert sorted(r["path_id"] for r in rows) == [0, 1, 2, 3, 4]
    assert all(r["n_rows"] == 90 and r["sse_milli"] == 0 for r in rows)


def test_cpcv_paths_collects_periods_once(spark, monkeypatch):
    """Building one ``cpcv_backtest_paths`` frame runs the distinct-period
    collect once: the split assignment and the group CASE share it."""
    from panelsplit_spark.operators import cross_validation as cv

    calls = []
    real = cv.distinct_periods

    def counting(df, period_col):
        calls.append(period_col)
        return real(df, period_col)

    monkeypatch.setattr(cv, "distinct_periods", counting)
    df = spark.range(60).select(
        F.date_format(
            F.date_add(F.lit("2024-03-01"), (F.col("id") % 12).cast("int")),
            "yyyy-MM-dd",
        ).alias("period"),
        F.col("id").alias("x"),
        (3 * F.col("id") + 1).alias("y"),
    )
    cv.cpcv_backtest_paths(df, "period", "x", "y", 4, 2)
    assert calls == ["period"]


def test_nested_ridge_picks_zero_lambda_on_noiseless_line(spark):
    """y = 2x exactly: the unpenalized fit is exact, every penalized
    fit is biased → λ* = 0 for every outer fold, inner and test SSE
    both exactly 0."""
    from panelsplit_spark.operators.cross_validation import nested_ridge_cv

    rows = []
    for band in range(4):
        for i in range(400):
            x = (i % 13) + 1
            rows.append((band, i % 4, x, 2 * x))
    df = spark.createDataFrame(rows, ["band", "bucket", "x", "y"])
    out = nested_ridge_cv(
        df, "band", "bucket", "x", "y", n_bands=4, n_buckets=4
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r["lambda_star"] == 0
        assert r["inner_sse"] == 0.0
        assert r["test_mse"] == 0.0
        assert r["n_test"] == 400


def test_bm25_ranks_matching_docs(spark):
    """A doc containing the query term twice outranks a doc with one
    hit at equal length; docs with no query term never appear."""
    from panelsplit_spark.operators.text import bm25_topk

    rows = [
        (1, "apple banana cherry dates"),
        (2, "apple apple cherry dates"),
    ] + [(i, "kiwi lemon mango nectar") for i in range(3, 11)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(docs, [(0, "apple")], k=5).collect()
    ids = [r["doc_id"] for r in sorted(out, key=lambda r: r["rk"])]
    assert ids == [2, 1]  # tf=2 beats tf=1 at equal length; rest absent
    assert all(r["bm25_micro"] > 0 for r in out)


def test_seasonal_anomaly_flags_planted_outlier(spark):
    """One planted far-out value in a tight hour must be the hour's
    only anomaly; a uniform hour has none."""
    import __spark_entry__  # noqa: F401  (registry import path)
    import datetime

    from panelsplit_spark.queries_round5b import q_dq_seasonal_anomaly

    # build a tiny parquet events table in a temp dir
    import os
    import tempfile

    from pyspark.sql import functions as SF

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for i in range(50):  # hour 0: tight around 100 with one outlier
        v = 100.0 if i < 49 else 100000.0
        rows.append((eid, base + datetime.timedelta(minutes=i), 1, "c", v, "{}"))
        eid += 1
    for i in range(50):  # hour 1: all identical -> MAD 0, no anomalies... 
        rows.append((eid, base + datetime.timedelta(hours=1, minutes=i), 1, "c", 7.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        out = {r["hod"]: r for r in q_dq_seasonal_anomaly(spark, td).collect()}
    assert out[0]["n_anomalies"] == 1
    # identical values: every deviation is 0 = MAD -> nothing > 3*MAD
    assert out[1]["n_anomalies"] == 0


def test_huber_downweights_outlier(spark):
    """Clean line y = 3x with one gross outlier: iteration 1 (OLS) is
    pulled toward the outlier; iteration 2's Huber reweighting must
    land strictly closer to slope 3."""
    from panelsplit_spark.operators.linear_fastpath import huber_irls

    rows = [(float(x), 3.0 * x) for x in range(1, 21)] + [(10.0, 1000.0)]
    df = spark.createDataFrame(rows, ["x", "y"])
    trace = huber_irls(df, "x", "y", k=2.0, n_iter=2)
    b1_ols = trace[0]["beta1"]
    b1_rob = trace[1]["beta1"]
    assert abs(b1_rob - 3.0) < abs(b1_ols - 3.0)
    assert trace[0]["it"] == 1 and trace[1]["it"] == 2


def test_rake_island_phrases_and_scores(spark):
    """'the quick fox the quick fox dog the' → phrases 'quick fox' ×2
    and 'quick fox dog' ×1; degree/freq follow the RAKE identities and
    the longer phrase outranks the shorter (more word mass)."""
    from panelsplit_spark.operators.text import rake_topk

    docs = spark.createDataFrame(
        [(1, "the quick fox the quick fox dog the")],
        ["doc_id", "text"],
    )
    out = {r["phrase"]: r for r in rake_topk(docs, ("the",), k=10).collect()}
    assert set(out) == {"quick fox", "quick fox dog"}
    # deg(quick)=2+3=... occurrences: in 'quick fox'(len2) and
    # 'quick fox dog'(len3) -> appears twice? occurrences: islands are
    # [quick fox] and [quick fox dog]: deg(quick)=2+3=5, freq=2 ->
    # score 2_500_000; fox same; dog deg=3 freq=1 -> 3_000_000
    assert out["quick fox"]["score_micro"] == 2 * 2_500_000
    assert out["quick fox dog"]["score_micro"] == 2 * 2_500_000 + 3_000_000
    assert out["quick fox"]["n_occurrences"] == 1
    assert out["quick fox dog"]["n_occurrences"] == 1


def test_ks_counts_merge_equals_whole(spark):
    """Keyed-SUM-merged per-half count tables must finish to the SAME
    KS rows as the one-pass operator — the 21st gate's chop-invariance,
    checked batch-side."""
    from pyspark.sql import functions as SF

    from panelsplit_spark.operators.quality import (
        ks_from_counts,
        ks_one_vs_rest,
    )

    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("seg"),
        (F.col("id") % 29).alias("v"),
        F.col("id"),
    )
    whole = ks_one_vs_rest(df, "seg", "v").collect()

    def counts(part):
        return part.select(
            F.col("seg").alias("segment"), F.col("v").cast("long").alias("v")
        ).groupBy("segment", "v").agg(SF.count(SF.lit(1)).alias("c"))

    merged = (
        counts(df.where(F.col("id") < 150))
        .unionByName(counts(df.where(F.col("id") >= 150)))
        .groupBy("segment", "v")
        .agg(SF.sum("c").alias("c"))
    )
    folded = ks_from_counts(merged).collect()
    key = lambda rows: {r["segment"]: tuple(r)[1:] for r in rows}  # noqa: E731
    assert key(whole) == key(folded)


def test_span_corruption_reconstruction_identity(spark):
    """Structural invariants on real-ish text: (a) the number of
    sentinels in input == n_spans == sentinels in target; (b) the
    multiset of tokens in (input minus sentinels) plus (target minus
    sentinels) equals the original token multiset; (c) re-running
    produces byte-identical pairs."""
    import re

    from panelsplit_spark.operators.text import span_corruption

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(30))) for i in range(10)],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r for r in span_corruption(docs, mask_bp=3000).collect()}
    out2 = {r["doc_id"]: r for r in span_corruption(docs, mask_bp=3000).collect()}
    assert out1.keys() == out2.keys()
    sent = re.compile(r"<extra_id_\d+>")
    for i, r in out1.items():
        assert (r["input_text"], r["target_text"]) == (
            out2[i]["input_text"], out2[i]["target_text"]
        )
        n_in = len(sent.findall(r["input_text"]))
        n_tg = len(sent.findall(r["target_text"]))
        assert n_in == r["n_spans"] == n_tg
        toks_in = [t for t in r["input_text"].split() if not sent.match(t)]
        toks_tg = [t for t in r["target_text"].split() if not sent.match(t)]
        assert sorted(toks_in + toks_tg) == sorted(
            f"w{j}" for j in range(30)
        )
        assert len(toks_tg) == r["n_masked_tokens"]


def test_kcenter_picks_far_points(spark):
    """Three tight clusters at (0,0), (100,0), (0,100): the first
    three picks must take one point from EACH cluster (farthest-point
    coverage), and dmin_at_pick is non-increasing after pick 1."""
    from panelsplit_spark.operators.similarity import kcenter_sample

    pts = []
    vid = 0
    for cx, cy in [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0)]:
        for dx in (0.0, 1.0, 2.0):
            pts.append((vid, [cx + dx, cy]))
            vid += 1
    df = spark.createDataFrame(pts, ["vec_id", "embedding"])
    out = sorted(
        kcenter_sample(df, 3, vec_col="embedding").collect(),
        key=lambda r: r["sel_rank"],
    )
    clusters = {r["vec_id"] // 3 for r in out}
    assert clusters == {0, 1, 2}
    assert out[0]["dmin_at_pick"] is None
    assert out[1]["dmin_at_pick"] >= out[2]["dmin_at_pick"]


# ----------------------------------------------------------------------
# diff_in_diff / knn graph
# ----------------------------------------------------------------------


def test_did_planted_effect(spark):
    """Cells: control 10→12 (+2 trend), treated 20→27 (+7): DiD = 5
    exactly from integer cell means."""
    from panelsplit_spark.operators.evaluation import diff_in_diff

    rows = (
        [(10, 0, 0)] * 4 + [(12, 0, 1)] * 4
        + [(20, 1, 0)] * 4 + [(27, 1, 1)] * 4
    )
    df = spark.createDataFrame(rows, ["y", "t", "p"])
    r = diff_in_diff(df, "y", "t", "p").collect()[0]
    assert r["did"] == 5.0
    assert r["delta_treated"] == 7.0 and r["delta_control"] == 2.0


def test_did_empty_cell_null(spark):
    from panelsplit_spark.operators.evaluation import diff_in_diff

    rows = [(10, 0, 0), (12, 0, 1), (20, 1, 0)]  # no treated-post
    df = spark.createDataFrame(rows, ["y", "t", "p"])
    r = diff_in_diff(df, "y", "t", "p").collect()[0]
    assert r["did"] is None and r["n_tp"] == 0


# ----------------------------------------------------------------------
# closing property tests
# ----------------------------------------------------------------------


def test_conformal_coverage_near_target_on_noisy_data(spark):
    """On noisy (deterministic pseudo-noise) data the finite-sample
    guarantee says coverage ≥ 1−α in expectation; with n_test ≈ 500
    the empirical value must land in a generous [0.85, 0.97] band for
    α = 0.1."""
    from panelsplit_spark.operators.evaluation import split_conformal_ols

    n = 2000
    df = spark.range(n).select(
        F.col("id").cast("string").alias("rid"),
        (F.col("id") % 41).alias("x"),
        (
            (F.col("id") % 41) * 7
            + (F.hash(F.col("id").cast("string")) % 19)
        ).alias("y"),
    )
    r = split_conformal_ols(df, "rid", "x", "y", alpha_bp=1000).collect()[0]
    assert 0.85 <= r["coverage"] <= 0.97
    assert r["qhat_mu"] > 0


def test_incremental_dedup_exact_corpus_recall(spark):
    """Recall theorem for exact twins: a batch doc whose text appears
    verbatim in the corpus ALWAYS lands dup_corpus (identical text →
    identical signatures → identical bands), independent of the LSH
    parameters' probabilistic behavior on near-dups."""
    from panelsplit_spark.operators.dedup import incremental_band_dedup

    texts = [
        " ".join(f"tok{i}{j}" for j in range(12)) for i in range(8)
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = incremental_band_dedup(corpus, batch).collect()
    assert all(r["status"] == "dup_corpus" for r in out)
    assert len(out) == len(texts)


def test_gini_from_counts_equals_row_rank_form(spark):
    """The run-sum identity: the count-table gini must be BIT-identical
    to the row-rank gini on the same data — the theorem the 22nd
    streaming gate's verbatim batch oracle rests on."""
    from pyspark.sql import functions as SF

    from panelsplit_spark.operators.quality import (
        gini_by_group,
        gini_from_counts,
    )

    df = spark.range(400).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * F.col("id") % 83).alias("x"),
        F.col("id"),
    )
    a = {
        r["g"]: (r["n"], r["total_units"], r["gini"])
        for r in gini_by_group(df, ["g"], "x", "id").collect()
    }
    counts = (
        df.select(
            F.col("g").alias("segment"), F.col("x").cast("long").alias("v")
        )
        .groupBy("segment", "v")
        .agg(SF.count(SF.lit(1)).alias("c"))
    )
    b = {
        r["segment"]: (r["n"], r["total_units"], r["gini"])
        for r in gini_from_counts(counts).collect()
    }
    assert a == b

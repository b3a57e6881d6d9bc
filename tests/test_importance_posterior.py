"""Defensive-mixture importance sampling (likelihood/sampling.py
importance_posterior + the logw-aware summary/quantiles) against ANALYTIC
posteriors — the machinery behind the golden-recovery test, pinned on
targets whose medians and bands are known in closed form."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.likelihood.sampling import (
    Prior,
    _log_prior_density,
    importance_posterior,
    posterior_quantiles,
    posterior_summary,
)

PRIORS = [
    Prior("x", "uniform", -10.0, 10.0),
    Prior("y", "uniform", -10.0, 10.0),
    Prior("k", "constant", 3.5),
]


def _gauss_score(df):
    # target: N(1, 1) x N(-2, 0.5) (box truncation is ~0 at 8+ sigma)
    return df.select(
        "sample_id",
        (
            -0.5 * (F.col("x") - 1.0) ** 2
            - 0.5 * ((F.col("y") + 2.0) / 0.5) ** 2
        ).alias("lnl"),
    )


@pytest.fixture(scope="module")
def pooled(spark):
    return importance_posterior(
        spark, PRIORS, _gauss_score,
        centers={"x": 0.0, "y": 0.0}, scales={"x": 2.0, "y": 2.0},
        n=4096, seed=11, waves=3,
    ).cache()


def test_recovers_gaussian_medians_and_bands(pooled):
    qs = posterior_quantiles(
        pooled, ["x", "y"], qs=(0.16, 0.5, 0.84), logw_col="logw"
    )
    assert abs(qs["x"][0.5] - 1.0) < 0.1
    assert abs(qs["y"][0.5] + 2.0) < 0.05
    # p16/p84 = mu -/+ sigma for a Gaussian
    assert abs(qs["x"][0.16] - 0.0) < 0.2 and abs(qs["x"][0.84] - 2.0) < 0.2
    assert abs(qs["y"][0.16] + 2.5) < 0.1 and abs(qs["y"][0.84] + 1.5) < 0.1


def test_weights_have_real_diversity(pooled):
    lw = np.array([r["logw"] for r in pooled.select("logw").collect()])
    lw = lw[np.isfinite(lw) & (lw > -1e29)]
    w = np.exp(lw - lw.max())
    ess = w.sum() ** 2 / (w**2).sum()
    assert ess > 500, ess  # a well-adapted proposal, not a point mass


def test_summary_consistent_with_quantiles(pooled):
    row = posterior_summary(pooled, ["x", "y"], logw_col="logw").first()
    assert abs(row["x_mean"] - 1.0) < 0.1 and abs(row["x_std"] - 1.0) < 0.15
    assert abs(row["y_mean"] + 2.0) < 0.05 and abs(row["y_std"] - 0.5) < 0.08
    # constants pass through untouched
    assert pooled.select("k").distinct().collect()[0][0] == 3.5


def test_single_wave_prior_heavy_is_unbiased_too(spark):
    """waves=1 with a deliberately mis-centered proposal: the defensive
    prior component still covers the target, so estimates converge (the
    Hesterberg guarantee) — just with a worse ESS."""
    out = importance_posterior(
        spark, PRIORS, _gauss_score,
        centers={"x": -5.0, "y": 5.0}, scales={"x": 1.0, "y": 1.0},
        n=16384, seed=3, waves=1, prior_frac=0.5,
    )
    qs = posterior_quantiles(out, ["x", "y"], qs=(0.5,), logw_col="logw")
    assert abs(qs["x"][0.5] - 1.0) < 0.3
    assert abs(qs["y"][0.5] + 2.0) < 0.15


def test_log_prior_density_values():
    priors = [
        Prior("u", "uniform", 2.0, 6.0),
        Prior("g", "normal", 1.0, 2.0),
        Prior("t", "truncnormal", 0.0, 1.0, lo=-1.0, hi=1.0),
        Prior("c", "constant", 9.0),
    ]
    df = pd.DataFrame(
        [(3.0, 2.0, 0.5, 9.0), (7.0, 2.0, 0.5, 9.0), (3.0, 2.0, 1.5, 9.0)],
        columns=["u", "g", "t", "c"],
    )
    got = list(_log_prior_density(priors, df))
    lp_u = -math.log(4.0)
    lp_g = -0.5 * (0.5) ** 2 - math.log(2.0) - 0.5 * math.log(2 * math.pi)
    z = math.erf(1.0 / math.sqrt(2.0))  # P(-1 < N(0,1) < 1)
    lp_t = (
        -0.5 * 0.25 - 0.5 * math.log(2 * math.pi) - math.log(z)
    )
    assert got[0] == pytest.approx(lp_u + lp_g + lp_t, rel=1e-9)
    assert got[1] < -1e29  # u outside its box
    assert got[2] < -1e29  # t outside its truncation window


def test_prior_frac_validation(spark):
    with pytest.raises(ValueError, match="prior_frac"):
        importance_posterior(
            spark, PRIORS, _gauss_score, {"x": 0, "y": 0},
            {"x": 1, "y": 1}, 64, 1, prior_frac=1.0,
        )


def test_high_dimension_takes_diagonal_family(spark):
    """Past 40 sampled dimensions the proposal falls back to the diagonal
    family (the full quadratic form would spell ~d^2/2 column terms).
    Target = a FLAT likelihood, so the true posterior is the uniform
    prior box: unweighted draws cluster at the (deliberately off-center)
    proposal mean, and only correct proposal-reweighting recovers the
    box's median at 0 — in 44 dims the defensive component's bounded
    weights (w <= 1/prior_frac for prior draws) keep the estimate
    stable where a pure Gaussian proposal would collapse."""
    priors = [Prior(f"p{i:02d}", "uniform", -5.0, 5.0) for i in range(44)]

    def score(df):
        return df.select("sample_id", F.lit(0.0).alias("lnl"))

    out = importance_posterior(
        spark, priors, score,
        centers={p.name: 2.0 for p in priors},
        scales={p.name: 1.0 for p in priors},
        n=8192, seed=5, waves=2,
    ).cache()
    qs = posterior_quantiles(
        out, ["p00", "p07", "p31"], qs=(0.16, 0.5, 0.84), logw_col="logw"
    )
    for c in ("p00", "p07", "p31"):
        assert abs(qs[c][0.5]) < 0.5, (c, qs[c])
        # the box's 16/84 percentiles sit at -/+ 3.4
        assert abs(qs[c][0.16] + 3.4) < 0.8 and abs(qs[c][0.84] - 3.4) < 0.8
    lw = np.array([r["logw"] for r in out.select("logw").collect()])
    lw = lw[np.isfinite(lw) & (lw > -1e29)]
    w = np.exp(lw - lw.max())
    assert w.sum() ** 2 / (w**2).sum() > 300  # bounded-weight ESS


def test_log_evidence_matches_analytic_value(spark, pooled):
    """Z = integral of L * pi: for L = exp(-(x-1)^2/2 - (y+2)^2/(2*0.25))
    under U(-10,10)^2 priors, Z = 2*pi*1*0.5 / 400 (the box truncation is
    ~0 at 8+ sigma). The logw table's logsumexp must land on it."""
    import math

    from enterprise_warp_spark.likelihood.sampling import log_evidence

    want = math.log(2.0 * math.pi * 1.0 * 0.5 / 400.0)
    got = log_evidence(pooled)
    assert abs(got - want) < 0.15, (got, want)


def test_log_evidence_differences_are_bayes_factors(spark):
    """Two models on the same data-free targets with a known likelihood
    ratio: a model whose lnl is uniformly higher by c has evidence higher
    by exactly c — the difference survives the estimator."""
    import math

    from enterprise_warp_spark.likelihood.sampling import log_evidence

    def score_hi(df):
        return _gauss_score(df).withColumn("lnl", F.col("lnl") + 3.0)

    lo = importance_posterior(
        spark, PRIORS, _gauss_score, {"x": 0.0, "y": 0.0},
        {"x": 2.0, "y": 2.0}, 4096, 11, waves=3,
    )
    hi = importance_posterior(
        spark, PRIORS, score_hi, {"x": 0.0, "y": 0.0},
        {"x": 2.0, "y": 2.0}, 4096, 11, waves=3,
    )
    bf = log_evidence(hi) - log_evidence(lo)
    assert abs(bf - 3.0) < 0.05, bf


def test_importance_table_is_deterministic(spark):
    """Same seed, same priors, same proposal -> bit-identical logw table
    (the repo's determinism doctrine; the stream partitioning is pinned
    inside importance_posterior so session parallelism cannot shift it)."""
    def run():
        return (
            importance_posterior(
                spark, PRIORS, _gauss_score, {"x": 0.0, "y": 0.0},
                {"x": 2.0, "y": 2.0}, 2048, 31, waves=2,
            )
            .select("sample_id", "x", "y", "logw")
            .collect()
        )

    a, b = run(), run()
    assert a == b


def test_all_inf_wave_skips_refit_instead_of_nan(spark):
    """ADVICE r13: a score_fn that returns -inf everywhere (no in-support
    finite-likelihood sample) must not divide by w.sum()==0 — the refit is
    skipped, the previous proposal is reused, and the run completes with a
    valid (all-zero-weight) table rather than a cholesky crash on NaN."""

    def _impossible(df):
        return df.select(
            "sample_id", F.lit(float("-inf")).alias("lnl")
        )

    out = importance_posterior(
        spark, PRIORS, _impossible,
        centers={"x": 0.0, "y": 0.0}, scales={"x": 1.0, "y": 1.0},
        n=256, seed=3, waves=3,
    )
    pdf = out.toPandas()
    assert len(pdf) == 3 * 256  # every wave ran
    # weights carry no finite mass; evidence degrades to -inf, not NaN
    from enterprise_warp_spark.likelihood.sampling import log_evidence

    assert log_evidence(out) == float("-inf")
    assert not np.isnan(pdf[["x", "y"]].to_numpy(dtype=float)).any()


def test_ess_target_easy_terminates_early(spark):
    """r13 verdict #6: with an achievable ess_target, the loop keeps
    appending T=1 waves past the cooling ladder only until the pooled ESS
    reaches the target — and reports the trace in diagnostics."""
    diag: dict = {}
    out = importance_posterior(
        spark, PRIORS, _gauss_score,
        centers={"x": 0.0, "y": 0.0}, scales={"x": 2.0, "y": 2.0},
        n=1024, seed=5, waves=2, ess_target=400.0, max_waves=10,
        diagnostics=diag,
    )
    assert diag["ess_target_met"] is True
    assert diag["ess"] >= 400.0
    assert diag["n_waves"] <= 10
    assert len(diag["ess_per_wave"]) == diag["n_waves"]
    # the pooled table really carries n_waves * n rows
    assert out.count() == diag["n_waves"] * 1024


def test_ess_target_hard_hits_cap_and_warns(spark):
    """An unreachable target must terminate at the wave budget with a
    warning, not loop forever — and still return a valid table."""
    import warnings

    diag: dict = {}
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = importance_posterior(
            spark, PRIORS, _gauss_score,
            centers={"x": 0.0, "y": 0.0}, scales={"x": 2.0, "y": 2.0},
            n=128, seed=5, waves=2, ess_target=1e9, max_waves=3,
            diagnostics=diag,
        )
    assert diag["n_waves"] == 3 and diag["ess_target_met"] is False
    assert any("below the target" in str(w.message) for w in rec)
    assert out.count() == 3 * 128


def test_no_ess_target_reproduces_fixed_wave_table(spark, pooled):
    """ess_target=None must stay bit-identical to the r13 fixed-wave
    behavior (same seeds, same ladder, same wave count) — the pinned
    determinism contract."""
    diag: dict = {}
    again = importance_posterior(
        spark, PRIORS, _gauss_score,
        centers={"x": 0.0, "y": 0.0}, scales={"x": 2.0, "y": 2.0},
        n=4096, seed=11, waves=3, diagnostics=diag,
    )
    a = pooled.toPandas().sort_values("sample_id").reset_index(drop=True)
    b = again.toPandas().sort_values("sample_id").reset_index(drop=True)
    assert diag["n_waves"] == 3 and diag["ess_target_met"] is True
    assert a.equals(b)

"""The benchmark workloads: inputs, one call, and output checks.

Each workload is a class with
  generate(dest, rng)   write every input file under dest (set-up);
  run(spark, seed)      one timed call through the program's entry points;
  check(spark, out)     raise CheckFailed when an output is wrong;
  quality(out)          numbers reported in the traced run, not gated.

Shapes are fixed here; only the seed varies between runs.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os

import numpy as np
import pandas as pd

import gen


class CheckFailed(AssertionError):
    pass


def _need(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _quiet():
    """The program prints progress on stdout; the benchmark's last stdout
    line must be its result, so program output is kept out of it."""
    return contextlib.redirect_stdout(io.StringIO())


def _rel_close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


# --------------------------------------------------------------- psr_noise

class PsrNoise:
    """run_paramfile.run_from_paramfile on one pulsar: by-backend white
    noise + spin noise + DM noise, adaptive sampler."""

    name = "psr_noise"
    EPOCHS, NSUB, NFREQS, NSAMP = 250, 4, 10, 128
    MODEL = {"white_noise": "by_backend",
             "spin_noise": f"powerlaw_{NFREQS}_nfreqs",
             "dm_noise": f"powerlaw_{NFREQS}_nfreqs"}

    def generate(self, dest: str, rng) -> None:
        self.dest = dest
        (self.psr,) = gen.write_pulsars(dest, rng, 1, self.EPOCHS, self.NSUB)
        model = gen.write_noise_model(dest, "psrnoise", self.MODEL)
        self.prfile = gen.write_paramfile(
            dest, self.name,
            ["array_analysis: False", "sampler: adaptive",
             f"nsamp: {self.NSAMP}", "noisefiles: noisefiles/"], model)
        with open(os.path.join(dest, "noisefiles", f"{self.psr}_noise.json")) as fh:
            self.truth = json.load(fh)

    def run(self, spark, seed: int) -> dict:
        from enterprise_warp_spark.run_paramfile import run_from_paramfile

        with _quiet():
            out = run_from_paramfile(spark, self.prfile, num=0, wipe_old_output=1,
                                     seed=seed)
        return {"ess": float(out["ess"]), "log_evidence": float(out["log_evidence"]),
                "output_dir": out["output_dir"], "pars": list(out["pars"]),
                "chain": out["chain"]}

    def check(self, spark, out: dict) -> None:
        d = out["output_dir"]
        chain = np.loadtxt(os.path.join(d, "chain_1.txt"), ndmin=2)
        with open(os.path.join(d, "pars.txt")) as fh:
            pars = [ln.strip() for ln in fh if ln.strip()]
        _need(pars == out["pars"], "pars.txt differs from the returned pars")
        _need(chain.shape[1] == len(pars) + 4,
              f"chain has {chain.shape[1]} columns for {len(pars)} pars (+4)")
        _need(math.isfinite(out["log_evidence"]), "log_evidence is not finite")
        _need(out["ess"] >= 1.0, f"ESS {out['ess']} < 1")
        self._check_kernel(spark)

    def _check_kernel(self, spark) -> None:
        """A fixed 8-sample slice of gp_loglik_per_pulsar against the dense
        O(n^3) oracle on the same residuals (no timing model)."""
        from enterprise_warp_spark.likelihood.gp import (
            dense_lnlike_reference,
            gp_loglik_per_pulsar,
            powerlaw_phi,
        )
        from enterprise_warp_spark.likelihood.inference import (
            compile_priors_and_components,
        )
        from enterprise_warp_spark.plans.noisemodel import (
            normalize_noise_model,
            signals_for_pulsar,
        )
        from enterprise_warp_spark.run_paramfile import build_standalone_residuals

        data = os.path.join(self.dest, "data")
        res, _, backends = build_standalone_residuals(
            spark, self.psr, os.path.join(data, f"{self.psr}.par"),
            os.path.join(data, f"{self.psr}.tim"), noise=self.truth)
        rows = signals_for_pulsar(normalize_noise_model(
            {"model_name": "check", "universal": self.MODEL}), self.psr)
        priors, comps = compile_priors_and_components(
            rows, None, self.NFREQS, backends)
        rng = np.random.default_rng(8)
        samples = {"sample_id": np.arange(8)}
        for p in priors:
            mid = (1.1 if p.name.startswith("efac_") else
                   -6.5 if p.name.startswith("log10_equad_") else
                   -13.0 if p.name.endswith("log10_A") else 3.5)
            samples[p.name] = np.clip(mid + rng.normal(0, 0.2, 8), p.a, p.b)
        spdf = pd.DataFrame(samples)
        got = {r["sample_id"]: r["lnl"]
               for r in gp_loglik_per_pulsar(res, spdf, components=comps).collect()}
        pdf = res.toPandas().sort_values("toa_s", kind="mergesort")
        t = pdf["toa_s"].to_numpy()
        r = pdf["residual_s"].to_numpy()
        sig = pdf["toa_err_s"].to_numpy()
        freq = pdf["freq_mhz"].to_numpy()
        be = pdf["backend"].to_numpy()
        T = t.max() - t.min()
        for i in range(8):
            s = spdf.iloc[i]
            efac = np.array([s[f"efac_{b}"] for b in be])
            equad = 10.0 ** np.array([s[f"log10_equad_{b}"] for b in be])
            bases, phis = [], []
            for c in comps:
                f = np.arange(1, c.nfreqs + 1) / T
                arg = 2 * math.pi * np.outer(t, f)
                Fm = np.empty((len(t), 2 * c.nfreqs))
                Fm[:, 0::2], Fm[:, 1::2] = np.sin(arg), np.cos(arg)
                bases.append(Fm * ((c.fref_mhz / freq) ** c.chrom_idx)[:, None])
                phis.append(powerlaw_phi(np.repeat(f, 2), np.full(2 * c.nfreqs, 1 / T),
                                         s[f"{c.name}_log10_A"], s[f"{c.name}_gamma"]))
            want = dense_lnlike_reference(r, efac**2 * (sig**2 + equad**2),
                                          np.hstack(bases), np.concatenate(phis))
            _need(_rel_close(got[i], want, 1e-8),
                  f"gp_loglik_per_pulsar sample {i}: {got[i]!r} != dense {want!r}")

    def quality(self, out: dict) -> dict:
        """Injected red-noise log10_A and gamma inside the recovered 90% band."""
        inside = 0
        for key in ("red_noise_log10_A", "red_noise_gamma"):
            par = f"{self.psr}_{key}"
            lo, hi = np.percentile(out["chain"][par].to_numpy(), [5, 95])
            inside += int(lo <= self.truth[par] <= hi)
        return {"likelihood.sampling.truth_in_band": inside}


# ----------------------------------------------------------- array results

class ArrayResults:
    """results.main -f 1 -l 1 -o 1 -N 1000 -g hd over generated chain dirs."""

    NPSR, EPOCHS, NSUB, STEPS, NDRAWS = 3, 50, 2, 2000, 1000

    def generate(self, dest: str, rng) -> None:
        from enterprise_warp_spark.plans import parse_paramfile
        from enterprise_warp_spark.run_paramfile import output_base_dir

        self.dest = dest
        self.names = gen.write_pulsars(dest, rng, self.NPSR, self.EPOCHS, self.NSUB)
        model = gen.write_noise_model(dest, "array", {"white_noise": "by_backend",
                                                      "spin_noise": "powerlaw"})
        self.prfile = gen.write_paramfile(dest, "array_results", ["array_analysis: False"],
                                          model)
        self.outdir = output_base_dir(parse_paramfile(self.prfile), self.prfile)
        self.means = gen.write_chain_dirs(self.outdir, self.names, rng, self.STEPS)

    def run(self, spark, seed: int) -> dict:
        from enterprise_warp_spark import results

        with _quiet():
            out = results.main(
                ["--result", self.prfile, "-f", "1", "-l", "1", "-o", "1",
                 "-N", str(self.NDRAWS), "-g", "hd"], spark=spark)
        return out

    def check(self, spark, out: dict) -> None:
        from enterprise_warp_spark.likelihood.gp import FYR
        from enterprise_warp_spark.run_paramfile import psr_position

        _need(len(out["noisefiles"]) == self.NPSR,
              f"{len(out['noisefiles'])} noise files for {self.NPSR} pulsars")
        noise_dir = os.path.join(self.outdir, "noisefiles")
        for rid, mu in self.means.items():
            with open(os.path.join(noise_dir, f"{rid}_credlvl.json")) as fh:
                lv = json.load(fh)
            for par, (m, sd) in mu.items():
                _need(abs(lv[par]["p50"] - m) < 0.15 * sd,
                      f"{rid} {par}: median {lv[par]['p50']} vs chain mean {m}")
        n = spark.read.parquet(
            os.path.join(self.outdir, "os_results", "hd", "marginalised")).count()
        _need(n == self.NDRAWS, f"{n} marginalised draws != {self.NDRAWS}")
        # OS a2_hat against a driver-side numpy evaluation of the collected
        # reduction
        red = {r["psr"]: r for r in out["os"]["hd"]["reduced"].collect()}
        pos = {p: np.array(psr_position(os.path.join(self.dest, "data", f"{p}.par")))
               for p in red}
        f2 = np.asarray(next(iter(red.values()))["f"])
        k = len(f2)
        ph = 1.0 / (12.0 * math.pi**2) * FYR**-3.0 * (f2 / FYR) ** (-13.0 / 3.0) * f2[0]
        num = den = 0.0
        names = sorted(red)
        for i, a in enumerate(names):
            for b in names[i + 1:]:
                ua, ub = np.asarray(red[a]["u"]), np.asarray(red[b]["u"])
                sa = np.asarray(red[a]["s"]).reshape(k, k)
                sb = np.asarray(red[b]["s"]).reshape(k, k)
                norm = float(np.einsum("i,ij,j,ji->", ph, sa, ph, sb))
                rho, sig2 = float((ua * ub) @ ph) / norm, 1.0 / norm
                x = max((1.0 - float(np.clip(pos[a] @ pos[b], -1, 1))) / 2.0, 1e-15)
                g = 1.5 * x * math.log(x) - 0.25 * x + 0.5
                num += rho * g / sig2
                den += g * g / sig2
        got = out["os"]["hd"]["os"].first()["a2_hat"]
        _need(_rel_close(got, num / den, 1e-7), f"a2_hat {got!r} != numpy {num / den!r}")


# -------------------------------------------------------------- GWB search

class GwbSearch:
    """Library composition over an array tree: standalone residuals ->
    per-pulsar reduction -> prepared HD kernel -> adaptive posterior scored
    by gwb_loglik, with the pulsars' red noise held at their noise-file
    values (the reference's GWB-search workflow)."""

    NFREQS, NSAMP = 10, 32

    def __init__(self, dest: str, names: list[str]):
        self.dest, self.names = dest, names

    def _paths(self, psr):
        data = os.path.join(self.dest, "data")
        return os.path.join(data, f"{psr}.par"), os.path.join(data, f"{psr}.tim")

    def run(self, spark, seed: int) -> dict:
        from pyspark.sql import functions as F

        from enterprise_warp_spark.analytics.optimal_statistic import (
            per_pulsar_reduction,
        )
        from enterprise_warp_spark.likelihood.gwb import gwb_loglik, prepare_gwb_kernel
        from enterprise_warp_spark.likelihood.sampling import (
            Prior,
            adaptive_posterior,
            log_evidence,
        )
        from enterprise_warp_spark.run_paramfile import (
            build_standalone_residuals,
            psr_position,
        )

        res, pos, intrinsic = None, [], {}
        for psr in self.names:
            par, tim = self._paths(psr)
            with open(os.path.join(self.dest, "noisefiles", f"{psr}_noise.json")) as fh:
                noise = json.load(fh)
            df, _, _ = build_standalone_residuals(spark, psr, par, tim, noise=noise,
                                                  mjd0=gen.PEPOCH)
            res = df if res is None else res.unionByName(df)
            pos.append((psr, psr_position(par)))
            intrinsic[psr] = (noise[f"{psr}_red_noise_log10_A"],
                              noise[f"{psr}_red_noise_gamma"])
        positions = spark.createDataFrame(pos, "psr string, pos array<double>")
        b = res.agg(F.max("toa_s").alias("hi"), F.min("toa_s").alias("lo")).first()
        tspan = float(b["hi"] - b["lo"])
        reduced = per_pulsar_reduction(res, self.NFREQS, tspan)
        data = prepare_gwb_kernel(reduced, positions, tspan, intrinsic=intrinsic)
        priors = [Prior("gw_log10_A", "uniform", -18.0, -11.0),
                  Prior("gw_gamma", "uniform", 0.0, 7.0)]
        diag: dict = {}
        is_df, _ = adaptive_posterior(
            spark, priors, lambda s: gwb_loglik(data, None, s, tspan), rounds=4,
            n_per_round=self.NSAMP, seed=seed, final_is=4 * self.NSAMP,
            final_is_waves=3, diagnostics=diag)
        return {"ess": float(diag["ess"]), "log_evidence": log_evidence(is_df),
                "data": data, "residuals": res, "tspan": tspan,
                "intrinsic": intrinsic, "positions": dict(pos)}

    def check(self, spark, out: dict) -> None:
        from enterprise_warp_spark.likelihood.gwb import dense_gwb_reference, gwb_loglik

        _need(math.isfinite(out["log_evidence"]), "log_evidence is not finite")
        _need(out["ess"] >= 1.0, f"ESS {out['ess']} < 1")
        grid = [(0, -14.5, 13 / 3), (1, -13.8, 3.0), (2, -15.2, 5.0), (3, -14.0, 4.0)]
        samples = spark.createDataFrame(
            grid, "sample_id long, gw_log10_A double, gw_gamma double")
        got = {r["sample_id"]: r["lnl"] for r in
               gwb_loglik(out["data"], None, samples, out["tspan"]).collect()}
        pdf = out["residuals"].select("psr", "toa_s", "residual_s", "toa_err_s").toPandas()
        toas = {p: (g["toa_s"].to_numpy(), g["residual_s"].to_numpy(),
                    g["toa_err_s"].to_numpy()) for p, g in pdf.groupby("psr")}
        pos = {p: np.asarray(v) for p, v in out["positions"].items()}
        for sid, lga, gam in grid:
            want = dense_gwb_reference(toas, pos, out["tspan"], self.NFREQS, lga, gam,
                                       intrinsic=out["intrinsic"])
            _need(_rel_close(got[sid], want, 1e-8),
                  f"gwb_loglik sample {sid}: {got[sid]!r} != dense {want!r}")


# -------------------------------------------------------- array_results_gwb

class ArrayResultsGwb:
    """The array session: `results -o` post-processing over the run dirs,
    then the GWB search over the same array tree, timed as one call."""

    name = "array_results_gwb"

    def generate(self, dest: str, rng) -> None:
        self.results = ArrayResults()
        self.results.generate(dest, rng)
        self.gwb = GwbSearch(dest, self.results.names)

    def run(self, spark, seed: int) -> dict:
        r = self.results.run(spark, seed)
        g = self.gwb.run(spark, seed)
        return {"results": r, "gwb": g, "ess": g["ess"]}

    def check(self, spark, out: dict) -> None:
        self.results.check(spark, out["results"])
        self.gwb.check(spark, out["gwb"])

    def quality(self, out: dict) -> dict:
        return {"likelihood.gwb.dim": len(out["gwb"]["data"].x)}


WORKLOADS = {w.name: w for w in (PsrNoise, ArrayResultsGwb)}

"""Seeded input generator for the PTA benchmark workloads.

Every file a workload reads is written here from the workload seed, so the
program under test only ever sees generated inputs:

- ``data/<psr>.{par,tim}`` through the writers of
  ``examples/make_example_data.py``; each epoch is then split into
  sub-band TOAs, as wide-band receivers record them;
- ``noisefiles/<psr>_noise.json``: the injected noise truths;
- ``out/.../<num>_<psr>/{chain_1.txt,pars.txt}``: Gaussian chains with
  known means, for the results workload;
- a paramfile and a noise-model JSON per workload.

``tree_hash`` digests a generated tree, so two runs with one seed can be
shown to have read identical inputs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _example_writers():
    path = os.path.join(REPO, "examples", "make_example_data.py")
    spec = importlib.util.spec_from_file_location("make_example_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_EX = _example_writers()
BACKENDS = _EX.BACKENDS
PEPOCH = 56000.0
SUBBAND_MHZ = 64.0


def _sexagesimal(value: float) -> str:
    sign = "-" if value < 0 else ""
    v = abs(value)
    d = int(v)
    m = int((v - d) * 60.0)
    s = (v - d - m / 60.0) * 3600.0
    return f"{sign}{d:02d}:{m:02d}:{s:07.4f}"


def sky_pulsars(rng: np.random.Generator, n: int) -> list[tuple[str, str, str]]:
    """n pulsars isotropic on the sky -> [(name, RAJ, DECJ)], names in the
    Jhhmm+ddmm convention, unique and sorted."""
    out: dict[str, tuple[str, str]] = {}
    while len(out) < n:
        ra_h = float(rng.uniform(0.0, 24.0))
        dec_d = float(np.rad2deg(np.arcsin(rng.uniform(-1.0, 1.0))))
        hh, mm = int(ra_h), int((ra_h % 1.0) * 60.0)
        dd, dm = int(abs(dec_d)), int((abs(dec_d) % 1.0) * 60.0)
        name = f"J{hh:02d}{mm:02d}{'-' if dec_d < 0 else '+'}{dd:02d}{dm:02d}"
        out.setdefault(name, (_sexagesimal(ra_h), _sexagesimal(dec_d)))
    return [(k, *out[k]) for k in sorted(out)]


def split_subbands(tim_path: str, nsub: int, rng: np.random.Generator) -> None:
    """Rewrite every TOA line of a .tim file as `nsub` sub-band TOAs of the
    same epoch: centre frequencies spread SUBBAND_MHZ apart, uncertainties
    scaled by sqrt(nsub) with a per-sub-band scatter."""
    with open(tim_path) as fh:
        lines = fh.read().splitlines()
    out = [ln for ln in lines if not ln.startswith(" ")]
    for ln in lines:
        if not ln.startswith(" "):
            continue
        f = ln.split()
        freq, err = float(f[1]), float(f[3])
        for k in range(nsub):
            fk = freq + (k - (nsub - 1) / 2.0) * SUBBAND_MHZ
            ek = err * np.sqrt(nsub) * float(rng.uniform(0.8, 1.25))
            out.append(" " + " ".join([f"{f[0]}_s{k}", f"{fk:.8f}", f[2],
                                        f"{ek:.5f}", *f[4:]]))
    with open(tim_path, "w") as fh:
        fh.write("\n".join(out) + "\n")


def noise_truth(rng: np.random.Generator, psr: str) -> dict[str, float]:
    """Injected noise in the reference noise-file keys: per-backend white
    noise, achromatic red noise and a DM Gaussian process."""
    doc = {f"{psr}_{be}_efac": rng.uniform(0.9, 1.3) for be in BACKENDS}
    doc.update({f"{psr}_{be}_log10_equad": rng.uniform(-6.6, -6.3) for be in BACKENDS})
    doc[f"{psr}_red_noise_log10_A"] = rng.uniform(-12.9, -12.6)
    doc[f"{psr}_red_noise_gamma"] = rng.uniform(3.0, 4.5)
    doc[f"{psr}_dm_gp_log10_A"] = rng.uniform(-12.6, -12.3)
    doc[f"{psr}_dm_gp_gamma"] = rng.uniform(2.0, 3.5)
    return {k: round(float(v), 4) for k, v in doc.items()}


def write_pulsars(dest: str, rng: np.random.Generator, npsr: int, epochs: int,
                  nsub: int) -> list[str]:
    """data/ and noisefiles/ for `npsr` pulsars of `epochs` x `nsub` TOAs."""
    data = os.path.join(dest, "data")
    nfdir = os.path.join(dest, "noisefiles")
    os.makedirs(data, exist_ok=True)
    os.makedirs(nfdir, exist_ok=True)
    names = []
    for name, raj, decj in sky_pulsars(rng, npsr):
        f0 = float(rng.uniform(100.0, 600.0))
        _EX.write_par(os.path.join(data, f"{name}.par"), name, raj, decj,
                      round(f0, 6), PEPOCH)
        tim = os.path.join(data, f"{name}.tim")
        _EX.write_tim(tim, name, int(rng.integers(2**31)), n=epochs)
        split_subbands(tim, nsub, rng)
        with open(os.path.join(nfdir, f"{name}_noise.json"), "w") as fh:
            json.dump(noise_truth(rng, name), fh, indent=2, sort_keys=True)
        names.append(name)
    return names


def write_noise_model(dest: str, model_name: str, universal: dict) -> str:
    path = os.path.join(dest, "noisemodels", f"{model_name}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"model_name": model_name, "universal": universal,
                   "common_signals": {}}, fh, indent=2)
    return path


def write_paramfile(dest: str, label: str, lines: list[str], model_file: str) -> str:
    path = os.path.join(dest, "params", f"{label}.dat")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    body = [f"paramfile_label: {label}", "datadir: data/", "out: out/",
            "overwrite: True", *lines, "{0}",
            f"noise_model_file: {os.path.relpath(model_file, dest)}"]
    with open(path, "w") as fh:
        fh.write("\n".join(body) + "\n")
    return path


CHAIN_PARS = ("efac", "log10_equad", "red_noise_log10_A", "red_noise_gamma",
              "dm_gp_log10_A", "dm_gp_gamma")


def write_chain_dirs(out_dir: str, names: list[str],
                     rng: np.random.Generator, steps: int
                     ) -> dict[str, dict[str, tuple[float, float]]]:
    """One `<num>_<psr>/` run dir per pulsar with a `steps`-row Gaussian
    chain over six parameters plus the four trailing sampler columns.
    Returns {run_id: {par: (mean, sd)}}, what the checks compare to."""
    means: dict[str, dict[str, tuple[float, float]]] = {}
    centre = {"efac": 1.1, "log10_equad": -7.0, "red_noise_log10_A": -13.5,
              "red_noise_gamma": 3.5, "dm_gp_log10_A": -13.3, "dm_gp_gamma": 2.5}
    width = {"efac": 0.05, "log10_equad": 0.2, "red_noise_log10_A": 0.3,
             "red_noise_gamma": 0.5, "dm_gp_log10_A": 0.2, "dm_gp_gamma": 0.4}
    for num, psr in enumerate(names):
        rid = f"{num}_{psr}"
        pars = [f"{psr}_{BACKENDS[0]}_{p}" if p in ("efac", "log10_equad")
                else f"{psr}_{p}" for p in CHAIN_PARS]
        mu = {p: centre[k] + float(rng.uniform(-0.5, 0.5)) * width[k]
              for p, k in zip(pars, CHAIN_PARS)}
        sd = np.array([width[k] for k in CHAIN_PARS])
        body = rng.normal(np.array([mu[p] for p in pars]), sd, (steps, len(pars)))
        lnl = -0.5 * (((body - np.array([mu[p] for p in pars])) / sd) ** 2).sum(1)
        mat = np.column_stack([body, lnl, lnl, np.ones(steps), np.ones(steps)])
        d = os.path.join(out_dir, rid)
        os.makedirs(d, exist_ok=True)
        np.savetxt(os.path.join(d, "chain_1.txt"), mat, fmt="%.10e")
        with open(os.path.join(d, "pars.txt"), "w") as fh:
            fh.write("\n".join(pars) + "\n")
        means[rid] = {p: (mu[p], float(s)) for p, s in zip(pars, sd)}
    return means


def tree_hash(root: str) -> str:
    """sha256 over the relative paths and bytes of every file under root."""
    h = hashlib.sha256()
    for d, subdirs, files in os.walk(root):
        subdirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

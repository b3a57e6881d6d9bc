"""Layer table of the traced run: which program functions are wrapped, how
their spans roll up into per-layer metrics, and which end-to-end metric each
layer metric should move on which workload.

A layer is a module of the program. A span belongs to the layer named by
its prefix; the span of a lazy kernel is materialised inside its own span in
the traced run, so kernel time is not charged to its caller.
"""

from __future__ import annotations

from spans import Span, self_times

P = "enterprise_warp_spark."

# "module:function" -> (span name, mode); mode as in spans.Tracer
TARGETS = {
    P + "plans.paramfile:parse_paramfile": ("plans.parse_paramfile", "call"),
    P + "plans.noisemodel:normalize_noise_model": ("plans.normalize_noise_model", "call"),
    P + "likelihood.inference:compile_priors_and_components":
        ("plans.compile_priors_and_components", "call"),
    P + "sources.tim:read_tim": ("sources.read_tim", "materialize"),
    P + "sources.chains:read_chain": ("sources.read_chain", "materialize"),
    P + "run_paramfile:run_from_paramfile": ("run_paramfile.run_from_paramfile", "call"),
    P + "run_paramfile:build_standalone_residuals":
        ("run_paramfile.build_standalone_residuals", "call"),
    P + "run_paramfile:write_chain_dir": ("run_paramfile.write_chain_dir", "call"),
    P + "likelihood.sampling:adaptive_posterior":
        ("likelihood.sampling.adaptive_posterior", "call"),
    P + "likelihood.sampling:log_evidence": ("likelihood.sampling.log_evidence", "call"),
    P + "likelihood.gp:gp_loglik_per_pulsar":
        ("likelihood.gp.gp_loglik_per_pulsar", "materialize"),
    P + "likelihood.gwb:prepare_gwb_kernel": ("likelihood.gwb.prepare_gwb_kernel", "call"),
    P + "likelihood.gwb:gwb_loglik": ("likelihood.gwb.gwb_loglik", "materialize"),
    P + "analytics.optimal_statistic:per_pulsar_reduction":
        ("analytics.optimal_statistic.per_pulsar_reduction", "materialize"),
    P + "analytics.optimal_statistic:pair_statistics":
        ("analytics.optimal_statistic.pair_statistics", "materialize"),
    # counted, not materialised: the plots must still re-execute it if the
    # program leaves it lazy, so that shows under plotting
    P + "analytics.optimal_statistic:marginalised_os":
        ("analytics.optimal_statistic.marginalised_os", "count"),
    P + "analytics.optimal_statistic:draws_from_chain":
        ("analytics.optimal_statistic.draws_from_chain", "call"),
    P + "analytics.optimal_statistic:run_os_pipeline":
        ("analytics.optimal_statistic.run_os_pipeline", "call"),
    P + "results:_main_pipeline": ("results.main_pipeline", "call"),
    P + "results:run_optimal_statistic": ("results.run_optimal_statistic", "call"),
    P + "analytics.results_pipeline:run_results_pipeline":
        ("analytics.chains.run_results_pipeline", "call"),
    P + "analytics.chains:credible_levels_by_par":
        ("analytics.chains.credible_levels_by_par", "materialize"),
    P + "analytics.chains:noise_summary": ("analytics.chains.noise_summary", "materialize"),
    P + "sinks:write_noise_json_files": ("sinks.write_noise_json_files", "call"),
    P + "plotting:make_os_orf_plot": ("plotting.make_os_orf_plot", "call"),
    P + "plotting:make_noisemarg_os_plots": ("plotting.make_noisemarg_os_plots", "call"),
}

KERNELS = ("likelihood.gp.gp_loglik_per_pulsar", "likelihood.gwb.gwb_loglik")

# metric -> (unit, better, end-to-end metric it should move, workload where
# it does most / least)
METRICS = {
    "session.start_s": ("s", "lower", "setup_s", "both alike"),
    "plans.compile_s": ("s", "lower", "wall_s", "psr_noise (small) / array: parse only"),
    "sources.read_tim_s": ("s", "lower", "wall_s", "array (one read per pulsar, twice) / psr_noise"),
    "sources.toa_rows": ("count", "lower", "wall_s", "array / psr_noise"),
    "sources.read_chain_s": ("s", "lower", "wall_s", "array / psr_noise none"),
    "sources.chain_rows": ("count", "lower", "wall_s", "array / psr_noise none"),
    "run_paramfile.residuals_s": ("s", "lower", "wall_s",
                                  "array (a driver round-trip per pulsar) / psr_noise small"),
    "run_paramfile.residual_calls": ("count", "lower", "wall_s", "array / psr_noise"),
    "run_paramfile.write_chain_s": ("s", "lower", "wall_s", "psr_noise / array none"),
    "likelihood.sampling.self_s": ("s", "lower", "wall_s, peak_rss_mb",
                                   "psr_noise, array GWB part / array results part none"),
    "likelihood.sampling.waves": ("count", "lower", "wall_s", "psr_noise, array GWB part"),
    "likelihood.sampling.samples_scored": ("count", "higher", "wall_s",
                                           "psr_noise, array GWB part"),
    "likelihood.sampling.collect_rows": ("count", "lower", "wall_s, peak_rss_mb",
                                         "psr_noise, array GWB part"),
    "likelihood.sampling.ess": ("count", "higher", "none (quality)", "psr_noise, array GWB part"),
    "likelihood.sampling.ess_per_s": ("1/s", "higher", "wall_s", "psr_noise, array GWB part"),
    "likelihood.sampling.truth_in_band": ("count", "higher", "none (quality)", "psr_noise"),
    "likelihood.gp.busy_s": ("s", "lower", "wall_s, cpu_s", "psr_noise / array none"),
    "likelihood.gp.lnl_evals": ("count", "higher", "wall_s", "psr_noise / array none"),
    "likelihood.gp.tasks": ("count", "lower", "cpu_s", "psr_noise / array none"),
    "likelihood.gp.executor_s": ("s", "lower", "cpu_s", "psr_noise / array none"),
    "likelihood.gp.cores_used": ("count", "higher", "wall_s", "psr_noise / array none"),
    "likelihood.gp.evals_per_s": ("1/s", "higher", "wall_s", "psr_noise / array none"),
    "likelihood.gwb.busy_s": ("s", "lower", "wall_s, cpu_s", "array GWB part / psr_noise none"),
    "likelihood.gwb.lnl_evals": ("count", "higher", "wall_s", "array GWB part / psr_noise none"),
    "likelihood.gwb.tasks": ("count", "lower", "cpu_s", "array GWB part / psr_noise none"),
    "likelihood.gwb.executor_s": ("s", "lower", "cpu_s", "array GWB part / psr_noise none"),
    "likelihood.gwb.cores_used": ("count", "higher", "wall_s", "array GWB part / psr_noise none"),
    "likelihood.gwb.dim": ("count", "lower", "wall_s", "array GWB part / psr_noise none"),
    "analytics.optimal_statistic.reduction_s": ("s", "lower", "wall_s",
                                                "array (once for the OS, once for the GWB "
                                                "kernel) / psr_noise none"),
    "analytics.optimal_statistic.reduction_calls": ("count", "lower", "wall_s",
                                                    "array / psr_noise none"),
    "analytics.optimal_statistic.reduction_tasks": ("count", "lower", "wall_s, cpu_s",
                                                    "array / psr_noise none"),
    "analytics.optimal_statistic.pairs": ("count", "lower", "wall_s", "array results part"),
    "analytics.optimal_statistic.pair_draws": ("count", "lower", "wall_s", "array results part"),
    "analytics.optimal_statistic.marginalised_s": ("s", "lower", "wall_s", "array results part"),
    "analytics.optimal_statistic.shuffle_bytes": ("B", "lower", "wall_s", "array / psr_noise none"),
    "analytics.chains.busy_s": ("s", "lower", "wall_s", "array results part / psr_noise none"),
    "analytics.chains.stages": ("count", "lower", "wall_s", "array results part"),
    "analytics.chains.shuffle_bytes": ("B", "lower", "wall_s, peak_rss_mb", "array results part"),
    "analytics.chains.spill_bytes": ("B", "lower", "wall_s, peak_rss_mb", "array results part"),
    "sinks.noisefiles_s": ("s", "lower", "wall_s", "array results part / psr_noise none"),
    "sinks.files_written": ("count", "lower", "wall_s", "array results part"),
    "plotting.render_s": ("s", "lower", "wall_s",
                          "array results part; shows whether the plots re-execute the "
                          "lazy marginalised OS"),
    "plotting.jobs": ("count", "lower", "wall_s", "array results part"),
    "process.peak_rss_mb": ("MB", "lower", "none (memory; mostly JVM heap growth)",
                            "array / psr_noise"),
    "spark.jobs": ("count", "lower", "wall_s, cpu_s", "both"),
    "spark.stages": ("count", "lower", "wall_s, cpu_s", "both"),
    "spark.tasks": ("count", "lower", "wall_s, cpu_s", "both"),
    "spark.failed_tasks": ("count", "lower", "failed runs", "both"),
    "spark.executor_s": ("s", "lower", "cpu_s", "both"),
    "spark.shuffle_bytes": ("B", "lower", "wall_s", "both"),
    "trace.overhead_s": ("s", "lower", "none (cost of tracing)", "both"),
    "trace.coverage": ("1", "higher", "none (share of the traced call under top-level "
                       "spans)", "both"),
}


def _layer_spans(spans: list[Span], prefix: str) -> list[Span]:
    return [s for s in spans if s.name.startswith(prefix)]


def _nested_in(spans: list[Span], s: Span, ids: set[int]) -> bool:
    """Whether an ancestor of s is one of the spans `ids`."""
    by_id = {x.sid: x for x in spans}
    p = s.parent
    while p is not None:
        if p in ids:
            return True
        p = by_id[p].parent
    return False


def _busy(spans: list[Span], chosen: list[Span]) -> float:
    """Summed duration of the chosen spans that have no chosen ancestor."""
    ids = {s.sid for s in chosen}
    return sum(s.dur for s in chosen if not _nested_in(spans, s, ids))


def _stat(chosen: list[Span], key: str) -> float:
    return sum(s.stats.get(key, 0) for s in chosen)


def derive(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer metrics of one traced run from its spans (root = the span
    around the whole workload call)."""
    m: dict[str, float] = {}

    def layer(prefix):
        return _layer_spans(spans, prefix)

    def named(name):
        return [s for s in spans if s.name == name]

    m["plans.compile_s"] = _busy(spans, layer("plans."))
    tim, chain = named("sources.read_tim"), named("sources.read_chain")
    m["sources.read_tim_s"] = _busy(spans, tim)
    m["sources.toa_rows"] = sum(s.rows for s in tim)
    m["sources.read_chain_s"] = _busy(spans, chain)
    m["sources.chain_rows"] = sum(s.rows for s in chain)
    resid = named("run_paramfile.build_standalone_residuals")
    m["run_paramfile.residuals_s"] = _busy(spans, resid)
    m["run_paramfile.residual_calls"] = len(resid)
    m["run_paramfile.write_chain_s"] = _busy(spans, named("run_paramfile.write_chain_dir"))

    samp = layer("likelihood.sampling.")
    selft = self_times(spans)
    m["likelihood.sampling.self_s"] = sum(selft[s.sid] for s in samp)
    samp_ids = {s.sid for s in samp}
    kern = [s for s in spans if s.name in KERNELS and _nested_in(spans, s, samp_ids)]
    m["likelihood.sampling.waves"] = len(kern)
    m["likelihood.sampling.samples_scored"] = sum(s.rows for s in kern)
    m["likelihood.sampling.collect_rows"] = sum(s.collected for s in samp)

    for lay, kname in (("gp", "likelihood.gp.gp_loglik_per_pulsar"),
                       ("gwb", "likelihood.gwb.gwb_loglik")):
        k = named(kname)
        busy = _busy(spans, k)
        ex = _stat(k, "executor_s")
        m[f"likelihood.{lay}.busy_s"] = _busy(spans, layer(f"likelihood.{lay}."))
        m[f"likelihood.{lay}.lnl_evals"] = sum(s.rows for s in k)
        m[f"likelihood.{lay}.tasks"] = _stat(k, "tasks")
        m[f"likelihood.{lay}.executor_s"] = ex
        m[f"likelihood.{lay}.cores_used"] = ex / busy if busy else 0.0
        if lay == "gp":
            m["likelihood.gp.evals_per_s"] = (
                m["likelihood.gp.lnl_evals"] / busy if busy else 0.0)

    osl = layer("analytics.optimal_statistic.")
    red = named("analytics.optimal_statistic.per_pulsar_reduction")
    marg = named("analytics.optimal_statistic.marginalised_os")
    m["analytics.optimal_statistic.reduction_s"] = _busy(spans, red)
    m["analytics.optimal_statistic.reduction_calls"] = len(red)
    m["analytics.optimal_statistic.reduction_tasks"] = _stat(red, "tasks")
    m["analytics.optimal_statistic.pairs"] = sum(
        s.rows for s in named("analytics.optimal_statistic.pair_statistics"))
    m["analytics.optimal_statistic.pair_draws"] = sum(s.rows for s in marg)
    m["analytics.optimal_statistic.marginalised_s"] = _busy(spans, marg)
    m["analytics.optimal_statistic.shuffle_bytes"] = (
        _stat(osl, "shuffle_read_bytes") + _stat(osl, "shuffle_write_bytes"))

    ch = layer("analytics.chains.")
    m["analytics.chains.busy_s"] = _busy(spans, ch)
    m["analytics.chains.stages"] = sum(s.stages for s in ch)
    m["analytics.chains.shuffle_bytes"] = (
        _stat(ch, "shuffle_read_bytes") + _stat(ch, "shuffle_write_bytes"))
    m["analytics.chains.spill_bytes"] = (
        _stat(ch, "spill_memory_bytes") + _stat(ch, "spill_disk_bytes"))

    nf = named("sinks.write_noise_json_files")
    m["sinks.noisefiles_s"] = _busy(spans, nf)
    m["sinks.files_written"] = sum(s.rows for s in nf)
    pl = layer("plotting.")
    m["plotting.render_s"] = _busy(spans, pl)
    m["plotting.jobs"] = sum(s.jobs for s in pl)

    m["spark.jobs"] = sum(s.jobs for s in spans)
    m["spark.stages"] = sum(s.stages for s in spans)
    m["spark.tasks"] = _stat(spans, "tasks")
    m["spark.failed_tasks"] = _stat(spans, "failed_tasks")
    m["spark.executor_s"] = _stat(spans, "executor_s")
    m["spark.shuffle_bytes"] = (
        _stat(spans, "shuffle_read_bytes") + _stat(spans, "shuffle_write_bytes"))
    top = [s for s in spans if s.parent == root.sid]
    m["trace.coverage"] = _busy(spans, top) / root.dur if root.dur else 0.0
    return m


def table() -> str:
    """The layer table as markdown (README.md carries a copy)."""
    rows = ["| metric | unit | better | should move | where it does most / least |",
            "|---|---|---|---|---|"]
    rows += [f"| `{k}` | {u} | {b} | {mv} | {wh} |"
             for k, (u, b, mv, wh) in METRICS.items()]
    return "\n".join(rows)

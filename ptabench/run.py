#!/usr/bin/env python3
"""PTA benchmark entry point.

    python3 ptabench/run.py --workload psr_noise --seed 1 --seconds 1 --trace 0

Runs one workload (psr_noise or array_results_gwb; see workloads.py) from
the root of a checkout of this repository. Closed loop, one client: a
single process makes one workload call at a time on local[<cores>].

Set-up generates every input from --seed into a fresh directory and starts
a SparkSession, which launches the JVM. The measured call follows, so it is
cold, as every CLI invocation of the program is; calls repeat until
--seconds have passed and wall_s is their median. Each call is timed from
entry to return, with the process tree's CPU time and sampled peak RSS, and
its outputs are checked. --trace 1 makes the cold call, one warm untraced
call and one warm traced call, and reports the per-layer metrics of
layers.py instead. After the calls the set-up (generation plus a session
restart) is repeated until there are SETUPS of them; setup_s is their
median. The last stdout line is the JSON result. Scratch files live under
.ptabench/ in the checkout and are removed on exit, except the span log
.ptabench/spans-<workload>-<seed>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("psr_noise", "array_results_gwb")
SETUPS = 7


# ------------------------------------------------------ process tree

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        cpu = sum(int(x) for x in rest[11:15]) / _CLK
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def _tree(stats, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, []))
    return seen


class ProcTree:
    """CPU seconds and sampled peak RSS of this process and its descendants
    (the JVM and its Python workers). A child that exits is reaped into its
    parent's cutime/cstime, so the CPU total stays conserved."""

    def __init__(self, period: float = 0.5):
        self.pid = os.getpid()
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self.rss())

    def rss(self) -> int:
        st = _proc_stats()
        return sum(st[p][2] for p in _tree(st, self.pid) if p in st)

    def cpu(self) -> float:
        st = _proc_stats()
        return sum(st[p][1] for p in _tree(st, self.pid) if p in st)

    def children(self) -> list[int]:
        return [p for p in _tree(_proc_stats(), self.pid) if p != self.pid]

    def reset_peak(self) -> None:
        self.peak = self.rss()

    def close(self) -> None:
        self._stop.set()
        self._t.join()


# ------------------------------------------------------------ set-up

def _fail(msg: str, code: int = 2):
    print(f"ptabench: {msg}", file=sys.stderr)
    sys.exit(code)


def _isolate(work: str) -> None:
    """Keep every file the run writes (JVM, Spark, Python temp files)
    inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executors' Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def _start_spark(work: str, trace: bool):
    from enterprise_warp_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        # the traced run reads every stage of three workload calls back
        # from the status store; keep them all
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("ptabench", master=f"local[{len(os.sched_getaffinity(0))}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark, tree: ProcTree) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while tree.children() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.children():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ----------------------------------------------------------- one run

def _timed(wl, spark, seed: int, tree: ProcTree, log) -> dict:
    cpu0 = tree.cpu()
    tree.reset_peak()
    t0 = time.perf_counter()
    rec = {"ok": True, "out": None}
    try:
        rec["out"] = wl.run(spark, seed)
    except Exception as exc:  # a failed call counts in failed_frac
        rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = tree.cpu() - cpu0
    rec["peak_rss_mb"] = max(tree.peak, tree.rss()) / 2**20
    if rec["ok"]:
        try:
            wl.check(spark, rec["out"])
        except Exception as exc:
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}")
    if not rec["ok"]:
        log(f"run failed: {rec['error']}")
    return rec


# -------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="PTA benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opts = ap.parse_args(argv)

    for need in ("enterprise_warp_spark/__init__.py", "examples/make_example_data.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a checkout of the "
                  "repository")
    base = os.path.join(ROOT, ".ptabench")
    work = os.path.join(base, f"{opts.workload}-s{opts.seed}-t{opts.trace}-{os.getpid()}")
    _isolate(work)

    import numpy as np

    import gen
    import layers
    from spans import Tracer
    from workloads import WORKLOADS as CLASSES

    def log(msg):
        print(f"ptabench[{opts.workload}]: {msg}", file=sys.stderr, flush=True)

    tree = ProcTree()
    wl = CLASSES[opts.workload]()
    spark = None
    try:
        # set-up: generate the inputs into a fresh directory and start a
        # session (the first start also launches the JVM). It is repeated
        # SETUPS times and the median counts; the repeats restart the
        # session after the measured calls, because a call made right after
        # restarts ran up to 2.4 s slower, as the stopped sessions wound
        # down. Equal tree hashes show the inputs depend on the seed alone.
        setups, starts, hashes = [], [], set()

        def set_up(i: int):
            inputs = os.path.join(work, f"inputs-{i}")
            t0 = time.perf_counter()
            wl.generate(inputs, np.random.default_rng(opts.seed))
            t1 = time.perf_counter()
            session = _start_spark(work, bool(opts.trace))
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t2 - t1)
            hashes.add(gen.tree_hash(inputs))
            return session

        spark = set_up(0)
        runs = []
        t_meas = time.perf_counter()
        while True:
            runs.append(_timed(wl, spark, opts.seed, tree, log))
            if time.perf_counter() - t_meas >= opts.seconds:
                break
        if opts.trace:
            # per-layer numbers describe a warm call: the cold call above
            # is the warm-up, then one untraced and one traced call
            runs.append(_timed(wl, spark, opts.seed, tree, log))
        ok = [r for r in runs if r["ok"]]
        failed = len(runs) - len(ok)
        walls = [r["wall_s"] for r in runs]
        quality = wl.quality(ok[-1]["out"]) if ok else {}
        ess = ok[-1]["out"].get("ess") if ok else None
        ess_per_s = ess / ok[-1]["wall_s"] if ess else None

        if opts.trace:
            tracer = Tracer(spark, f"{wl.name}-{opts.seed}")
            tracer.install(layers.TARGETS)
            out = None
            try:
                with tracer.span(f"bench.{wl.name}") as root:
                    out = wl.run(spark, opts.seed)
            except Exception as exc:
                log(f"traced call failed: {type(exc).__name__}: {exc}")
            finally:
                tracer.uninstall()
            tracer.collect_stages()
            try:
                if out is not None:
                    wl.check(spark, out)
            except Exception as exc:
                log(f"traced call failed: {type(exc).__name__}: {exc}")
                out = None
            failed += out is None
            runs.append({"wall_s": root.dur})

        for i in range(1, SETUPS):
            spark.stop()
            spark = set_up(i)
        if len(hashes) != 1:
            raise RuntimeError(f"inputs differ between generations of seed {opts.seed}")
        setup_s, start_s = statistics.median(setups), statistics.median(starts)
        log(f"inputs sha256 {hashes.pop()}; set-ups {[round(x, 3) for x in setups]} s")

        if opts.trace:
            tracer.dump(os.path.join(base, f"spans-{opts.workload}-{opts.seed}.jsonl"))
            vals = {k: 0.0 for k in layers.METRICS}
            vals.update(layers.derive(tracer.spans, root))
            vals.update(quality)
            vals["session.start_s"] = start_s
            vals["likelihood.sampling.ess"] = ess or 0.0
            vals["likelihood.sampling.ess_per_s"] = ess_per_s or 0.0
            vals["trace.overhead_s"] = root.dur - walls[-1]
            vals["process.peak_rss_mb"] = runs[-2]["peak_rss_mb"]
            metrics = {k: {"value": float(vals[k]), "unit": u}
                       for k, (u, _, _, _) in layers.METRICS.items()}
            summary = []
        else:
            metrics = {
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "cpu_s": {"value": statistics.median(r["cpu_s"] for r in runs),
                          "unit": "s"},
            }
            summary = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
            summary.append(f"peak_rss_mb={max(r['peak_rss_mb'] for r in runs):.6g} MB")
        if ess_per_s is not None:
            summary.append(f"ess_per_s={ess_per_s:.6g} 1/s")
        summary.append(f"failed_frac={failed / len(runs):.6g} ({failed}/{len(runs)})")
        summary += [f"{k}={v}" for k, v in quality.items()]
        print(f"ptabench {opts.workload} seed={opts.seed} calls={len(runs)} "
              f"walls={[round(w, 3) for w in walls]}: " + " ".join(summary))
        result = {"correct": failed == 0, "attempted": len(runs), "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop_spark(spark, tree)
        tree.close()
        shutil.rmtree(work, ignore_errors=True)
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One invocation is one fresh process:
it starts a Spark session through ``session.get_spark``, generates the
workload's inputs from ``--seed``, runs the workload's set-up, then
repeats timed passes (each followed by its output checks) until
``--seconds`` have passed. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the run (inputs, samples, host steal and load, driver heap,
check results).

With ``--trace 0`` the metrics are the end-to-end ones, medians over the
timed passes; a pass ends with the workload's query sweep. With
``--trace 1`` the first pass is discarded and the rest alternate between
traced and untraced; the metrics are the per-layer
ones from the traced passes, plus the tracing overhead (traced minus
untraced medians) and span coverage. A layer a workload does not run
reports 0.

Everything the run writes goes to ``.perfbench_work/`` in the checkout
and is removed at exit, as are the query artifact caches the run built.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import probe  # noqa: E402
from perfbench.curation import STAGES, SWEEP, Curation  # noqa: E402
from perfbench.medallion import Medallion  # noqa: E402

WORKLOADS = {w.name: w for w in (Medallion, Curation)}

#: driver heap: the program's 16g default exceeds this class of host's RAM
DRIVER_MEM = "2g"
#: at least this many timed passes, however short ``--seconds`` is. A
#: traced run discards its first pass (``curation_llm`` has no warm-up,
#: so that one is cold), then alternates traced and untraced passes, so
#: the overhead compares warm with warm.
MIN_PASSES = 1
MIN_TRACED_PASSES = 3

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MiB"}
PASS_SPANS = (("sources.extract", "streaming.silver", "streaming.gold")
              + tuple(f"plans.llm_corpus.{s}" for s in STAGES))
QUERY_SPANS = ("plans.star_query",) + tuple(f"query.{q}" for q in SWEEP)
_STAT_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
               "exec_cpu_s": "s", "shuffle_mb": "MiB"}
#: per-layer metrics that are not span statistics, with their units
_OTHER_LAYERS = {
    "session.start_s": "s", "sources.generate_s": "s", "catalog.load_s": "s", "setup.warm_up_s": "s",
    "streaming.silver.bytes_written_mb": "MiB", "streaming.gold.bytes_written_mb": "MiB",
    "streaming.gold.write_amp": "ratio", "streaming.silver.commit_s": "s", "streaming.gold.commit_s": "s",
    "jvm.old_gen_peak_mb": "MiB",
    "trace.pass_overhead_s": "s", "trace.pass_coverage": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{span}.{stat}": unit for span in PASS_SPANS + QUERY_SPANS
           for stat, unit in _STAT_UNITS.items()}
    out.update(_OTHER_LAYERS)
    return out


def _cache_dirs() -> set[str]:
    """Entries of the program's repo-local artifact caches."""
    out = set()
    for d in os.listdir(ROOT):
        if d.startswith(".") and d.endswith("_cache") and os.path.isdir(os.path.join(ROOT, d)):
            out.update(os.path.join(ROOT, d, e) for e in os.listdir(os.path.join(ROOT, d)))
    return out


def _environment(work: str) -> None:
    """Pin the session's cores and heap and keep temporary files inside
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp: the JVM writes them outside java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def session_conf(work: str) -> dict[str, str]:
    """Settings the benchmark adds to ``get_spark``'s. The heap is
    committed and touched at start (prepended to the program's own
    driver options), so resident memory does not follow GC timing."""
    return {
        "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Set up and measure one workload; returns (result, record)."""
    from dataeng_azure_spotify_spark.session import get_spark

    cls = WORKLOADS[workload]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    caches_before = _cache_dirs()
    spark = sampler = None
    layer: dict[str, float] = {}
    record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
                    "driver_mem": DRIVER_MEM}
    try:
        _environment(work)
        record["cpus"] = int(os.environ["SPARK_GRAFT_CPUS"])
        ticks0, load0 = probe.cpu_ticks(), probe.load_1m()
        sampler = probe.RssSampler().start()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}",
                          extra_conf=session_conf(work))
        spark.range(1).count()  # the first job starts the executor side
        t1 = time.perf_counter()
        tracer = probe.Tracer(spark, enabled=False)
        wl = cls(spark, work, seed, tracer)
        wl.generate()
        t2 = time.perf_counter()
        wl.load()
        t3 = time.perf_counter()
        wl.warm_up()
        t4 = time.perf_counter()
        layer.update({"session.start_s": t1 - t0, "sources.generate_s": t2 - t1,
                      "catalog.load_s": t3 - t2, "setup.warm_up_s": t4 - t3})
        record["input"] = wl.input
        record["setup_split"] = dict(layer)

        samples: list[float] = []
        traced: list[float] = []
        span_sums: list[dict[str, dict[str, float]]] = []
        figs_all: list[dict] = []
        attempted = failed = 0
        sampler.take_peak()  # the peaks of the timed passes only
        pools = probe.old_gen_pools(spark)
        probe.take_heap_peak_mb(pools)
        t_measure = time.perf_counter()
        min_passes = MIN_TRACED_PASSES if trace else MIN_PASSES
        while attempted < min_passes or time.perf_counter() - t_measure < seconds:
            spark.catalog.clearCache()
            gc.collect()
            tracer.enabled = trace and attempted % 2 == 1
            tracer.catch_up()
            tracer.spans = []
            attempted += 1
            try:
                pass_s, figs = wl.run_pass()
            except Exception:
                failed += 1
                traceback.print_exc()
                break
            if tracer.enabled:
                traced.append(pass_s)
                sums: dict[str, dict[str, float]] = {}
                for sp in tracer.spans:
                    acc = sums.setdefault(sp["name"], dict.fromkeys(probe.SPAN_STATS, 0.0))
                    for k in probe.SPAN_STATS:
                        acc[k] += sp[k]
                span_sums.append(sums)
                figs_all.append(figs)
            elif not trace or attempted > 1:
                samples.append(pass_s)
        peak_rss = sampler.take_peak()
        layer["jvm.old_gen_peak_mb"] = probe.take_heap_peak_mb(pools)
        ticks1 = probe.cpu_ticks()
        record.update({
            "setup_s": t4 - t0, "peak_rss_mb": peak_rss, "old_gen_peak_mb": layer["jvm.old_gen_peak_mb"],
            "passes": attempted, "samples": samples, "traced": traced,
            "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
            "load_1m": [load0, probe.load_1m()],
        })
        if trace:
            layer.update(_layer_metrics(span_sums, figs_all, samples, traced))
        ok = failed == 0
        record["checks"] = "passed" if ok else "failed"
        if trace:
            units = per_layer_units()
            metrics = {m: {"value": layer.get(m, 0.0), "unit": u} for m, u in units.items()}
        else:
            values = {"setup_s": t4 - t0, "pass_s": _median(samples), "peak_rss_mb": peak_rss}
            metrics = {m: {"value": values[m], "unit": u} for m, u in END_TO_END.items()}
        return {"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}, record
    finally:
        try:
            if sampler is not None:
                sampler.stop()
            if spark is not None:
                _stop_spark(spark)
        finally:
            for entry in _cache_dirs() - caches_before:
                shutil.rmtree(entry, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:  # another run's directory is still there
                pass


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (its signal to exit),
    and wait until the JVM and every Python worker have ended."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 10
    while probe.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _layer_metrics(span_sums, figs_all, samples, traced) -> dict[str, float]:
    """Medians over the traced passes, overhead and span coverage."""
    out = {}
    names = {n for s in span_sums for n in s}
    for name in names:
        for stat in probe.SPAN_STATS:
            out[f"{name}.{stat}"] = _median([s[name][stat] for s in span_sums if name in s])
    if figs_all and figs_all[0]:
        mb = 2**20
        out["streaming.silver.bytes_written_mb"] = _median([f["silver_bytes"] / mb for f in figs_all])
        out["streaming.gold.bytes_written_mb"] = _median([f["gold_bytes"] / mb for f in figs_all])
        out["streaming.gold.write_amp"] = _median([f["gold_bytes"] / max(1, f["bronze_bytes"]) for f in figs_all])
        out["streaming.silver.commit_s"] = _median([f["silver_commit_s"] for f in figs_all])
        out["streaming.gold.commit_s"] = _median([f["gold_commit_s"] for f in figs_all])
    out["trace.pass_overhead_s"] = _median(traced) - _median(samples)
    spans = set(PASS_SPANS + QUERY_SPANS)
    out["trace.pass_coverage"] = _median([
        sum(v["wall_s"] for n, v in s.items() if n in spans) / p
        for s, p in zip(span_sums, traced)])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"record": record}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

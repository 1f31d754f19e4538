#!/usr/bin/env python3
"""The store benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  It starts ``local[nproc]`` Spark from
this one driver process, builds a store from a seeded corpus, drives
one closed-loop client through the public API for ``--seconds``,
checks every result, and prints a report followed by ONE JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and span recording and reports the per-layer ledger
instead.  All files go under ``.perfbench_work/`` in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the workload's corpus size (self-test)")
    return ap.parse_args(argv)


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file the run, Spark and its workers write inside the
    checkout, and pass Spark settings through the session's own
    ``IBP_SPARK_CONF`` hook."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["IBP_DATA_DIR"] = os.path.join(work, "data")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM spark-submit runs first, before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    # a 2 GB driver heap holds every workload; the session's 16 GB
    # default would let the heap grow into memory the machine's other
    # processes need
    os.environ.setdefault("IBP_DRIVER_MEM", "2g")
    conf = [
        f"spark.local.dir={local}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData -Dderby.system.home=" + tmp,
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{ev}",
                 "spark.eventLog.rolling.enabled=true"]
    prior = os.environ.get("IBP_SPARK_CONF", "")
    os.environ["IBP_SPARK_CONF"] = ";".join(filter(None, [prior, *conf]))


def _finite(metrics: dict) -> bool:
    return all(math.isfinite(v["value"]) for v in metrics.values())


def _measure(args, work: str, cores: int):
    """Set up, run the loop and (traced) the probes; returns the bench,
    the tracer, the timed phases, the probe values and the peak
    resident memory in MB.  Spark is stopped, and every
    process it started has ended, before this returns or raises."""
    from invariantbitpacking_spark import session
    from perfbench import layers, machine, tracing, workload

    trace = bool(args.trace)
    sampler = machine.RssSampler().start()
    tracer = tracing.Tracer()
    if trace:
        tracing.instrument_program(tracer)
    spark = None
    phases: dict = {}

    def phase(name, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        phases[name] = time.perf_counter() - t
        return out

    try:
        tracer.enabled = trace
        spark = phase("session", session.get_spark, "perfbench", cores,
                      cores)
        tracer.enabled = False
        spark.sparkContext.setLogLevel("ERROR")
        shape = workload.SHAPES[args.workload]
        bench = workload.StoreBench(spark, work, shape, args.seed, tracer,
                                    trace, cores)
        phase("setup", bench.setup, args.docs or shape.docs)
        phase("warmup", bench.warmup)
        phase("loop", bench.loop, args.seconds)
        phase("checks", bench.final_checks)
        probes = {}
        if trace:
            probes.update(phase("probe_stages", layers.probe_stages, bench))
            probes.update(phase("probe_codecs", layers.probe_codecs, bench))
        phase("stop", machine.stop_spark, spark)
        spark = None
    finally:
        sampler.stop()
        if spark is not None:
            machine.stop_spark(spark)
        tracer.unwrap_all()
    return bench, tracer, phases, probes, sampler.peak_mb


def _report(args, bench, phases, box, cores, metrics) -> None:
    from perfbench import stats

    loop_ops = bench.loop_ops()
    kinds = sorted({o.kind for o in loop_ops})
    n_fetch = sum(1 for o in loop_ops if o.kind == "fetch")
    q = stats.supported_percentile(n_fetch)
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds:g}"
        f" trace={args.trace} cores={cores} docs={len(bench.corpus_docs)}"
        f" buckets={bench.shape.buckets}",
        "phases " + ", ".join(f"{k}={v:.1f}s" for k, v in
                              {**phases, **bench.phase_s}.items()),
        "loop ops " + ", ".join(
            f"{k}={sum(1 for o in loop_ops if o.kind == k)}" for k in kinds),
        f"{n_fetch} fetches; " + (
            f"p{q} is the highest percentile with ten samples above it" if q
            else "no percentile has ten samples above it, so fetch p50/p90 "
            "are per-run estimates steadied by the median over runs"),
        "op ms " + " ".join(f"{o.phase[0]}:{o.kind}:{1e3 * o.latency_s:.0f}"
                            for o in bench.ops if o.latency_s > 0),
        "box pre fault=%.0f warm=%.0f MB/s (waited %.1f s), post fault=%.0f "
        "warm=%.0f MB/s" % (box["pre"]["fault_mbps"], box["pre"]["warm_mbps"],
                            box["waited"], box["post"]["fault_mbps"],
                            box["post"]["warm_mbps"]),
        "op_fail_frac=%.4f (%d of %d checked ops failed)" % (
            len(bench.failures) / max(bench.attempted, 1),
            len(bench.failures), bench.attempted),
        *(f"  {k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()),
    ]
    for line in lines:
        print("perfbench: " + line)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "invariantbitpacking_spark",
                                       "__init__.py")):
        print(f"perfbench: no invariantbitpacking_spark package under "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, machine, stats, tracing, workload

    if args.workload not in workload.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workload.SHAPES)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _configure_env(work, bool(args.trace))
        box_pre, waited = machine.wait_for_healthy_window()
        bench, tracer, phases, probes, peak_mb = _measure(args, work, cores)
        box = {"pre": box_pre, "post": machine.box_probe(), "waited": waited}
        if args.trace:
            log = tracing.parse_event_log(os.path.join(work, "eventlog"))
            values = {
                "session.start_s": phases["session"],
                "sources.corpus_s": stats.median(bench.corpus_s),
                **layers.ledger(bench, log, tracer),
                **probes,
                **{f"box.{k}_{when}": box[when][k] for when in ("pre", "post")
                   for k in ("fault_mbps", "warm_mbps")},
                "box.healthy_wait_s": waited,
            }
            metrics = {k: {"value": float(values[k]), "unit": u}
                       for k, (u, _) in layers.PER_LAYER.items()}
            tracer.write(os.path.join(
                work_root, "traces",
                f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (u, v) in
                       bench.e2e(phases["session"], peak_mb).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    _report(args, bench, phases, box, cores, metrics)
    correct = not bench.failures and _finite(metrics)
    print(json.dumps({"correct": correct, "attempted": bench.attempted,
                      "failed": len(bench.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

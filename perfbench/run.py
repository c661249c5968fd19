"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload openie --seed 0 --seconds 10 --trace 0

Run it from the root of a checkout. Steps:

1. Write the seed's inputs under ``.perfbench_work/`` (untimed; reused
   for a seed already written).
2. Set up, timed as ``setup_s``: start the Spark session at
   ``local[<cores>]``, then warm up (see each workload's ``setup``).
3. Measure: run the workload again and again until ``--seconds`` have
   passed and the workload's ``min_runs`` are made, checking every
   run's output.
4. With ``--trace 0`` print the end-to-end metrics: medians over the
   measured runs. With ``--trace 1`` make one more, traced run and
   print the per-layer metrics (Spark counters come from the last
   untraced run, so tracing cannot change them); the spans go to
   ``.perfbench_work/traces/``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``. Before it, stderr gets all seven end-to-end figures with
their units: the four in the result line (``END_TO_END``) and
``REPORTED``, which are left out of the result line because they read
0 on some workload (no LLM in ``corpus_chain``; no failed check in a
healthy run). The exit code is non-zero, with no result line, when the
program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics in the result line, and their units
#: (``BENCHMARK.json`` holds their bounds and directions)
END_TO_END = {"wall_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB", "setup_s": "s"}
#: end-to-end figures printed to stderr only, and their units
REPORTED = {"llm_tokens": "tokens", "llm_calls": "requests", "error_rate": "ratio"}


def _environment(work: str) -> None:
    """Keep every file Spark, its Python workers and the JVM write
    inside the checkout; let workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _session(work: str):
    from evaporate_spark.session import get_spark
    from perfbench.sparkstats import SESSION_CONF

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            **SESSION_CONF,
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap resident from the start, so peak RSS does
            # not depend on how far the collector happened to grow it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it, so that no
    process outlives the benchmark. The JVM exits when its stdin closes;
    it stops its Python workers on the way out."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _measured_run(workload, ctx, store) -> dict:
    """One untraced run: wall time, Spark counters, check result."""
    from perfbench.sparkstats import cpu_seconds

    ctx.spark.catalog.clearCache()
    start = store.watermark()
    cpu0 = cpu_seconds()
    t0 = time.perf_counter()
    outcome = workload.run(ctx)
    wall = time.perf_counter() - t0
    cpu = cpu_seconds() - cpu0
    counters = store.counters(start, store.watermark())
    errors = workload.check(outcome)
    return {"wall_s": wall, "cpu_s": cpu, "counters": counters, "errors": errors, "outcome": outcome}


def _traced_run(workload, ctx, store, untraced_wall: float, trace_path: str) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer

    ctx.spark.catalog.clearCache()
    tracer = Tracer(store.watermark, run_id=f"{workload.name}-seed{ctx.seed}")
    probes = layers.Probes()
    layers.install(tracer, probes)
    ctx.tracer = tracer
    try:
        with tracer.run("bench", workload.name) as root:
            outcome = workload.run(ctx)
    finally:
        tracer.restore()
        ctx.tracer = None
    errors = workload.check(outcome)
    wall = root.end - root.start
    metrics = layers.summarize(tracer.spans, probes.finish(tracer.spans))
    metrics.update(
        {
            "trace.wall_s": wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": wall - untraced_wall,
            "trace.spans": len(tracer.spans),
        }
    )
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as fh:
        json.dump(
            {"spans": [s.as_dict() for s in tracer.spans], "moves": layers.MOVES}, fh
        )
    return {"metrics": metrics, "errors": errors, "outcome": outcome}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)
    if not os.path.isfile(os.path.join(ROOT, "evaporate_spark", "__init__.py")):
        print(f"perfbench: no evaporate_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.sparkstats import RssSampler, StatusStore, plan_summary
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    workload.write_inputs(work, args.seed)

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _session(work)
        start_s = time.perf_counter() - t0
        try:
            store = StatusStore(spark.sparkContext)
            ctx = Context(spark, work, args.seed)
            t1 = time.perf_counter()
            workload.setup(ctx)
            warmup_s = time.perf_counter() - t1
            setup_s = time.perf_counter() - t0

            rss.reset()
            runs = []
            t_measure = time.perf_counter()
            while len(runs) < workload.min_runs or time.perf_counter() - t_measure < args.seconds:
                runs.append(_measured_run(workload, ctx, store))
            peak_mb = rss.peak / 2**20
            traced = None
            if args.trace:
                path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
                traced = _traced_run(workload, ctx, store, runs[-1]["wall_s"], path)
                last = runs[-1]
                layer = {
                    **last["counters"],
                    **plan_summary(last["outcome"].result_df),
                    **{f"llm.client.{k}": last["outcome"].client.get(k, 0)
                       for k in ("calls", "driver_calls", "tokens", "wait_s")},
                    "llm.program_tokens": last["outcome"].tokens,
                    "session.start_s": start_s,
                    "session.warmup_s": warmup_s,
                    **traced["metrics"],
                }
        finally:
            _stop(spark)

    checked = runs + ([traced] if traced is not None else [])
    for r in checked:
        for e in r["errors"]:
            print(f"perfbench: {args.workload} check failed: {e}", file=sys.stderr)
    attempted = len(checked)
    failed = sum(1 for r in checked if r["errors"])
    wall = statistics.median(r["wall_s"] for r in runs)
    last = runs[-1]["outcome"]
    values = {
        "wall_s": wall,
        "docs_per_s": workload.docs / wall,
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
        "llm_tokens": last.tokens,
        "llm_calls": last.client.get("calls", 0),
        "error_rate": failed / attempted,
    }
    print(
        f"perfbench {args.workload} seed={args.seed}: {len(runs)} measured run(s): "
        + " ".join(f"{r['wall_s']:.3f}" for r in runs) + " s wall, "
        + " ".join(f"{r['cpu_s']:.2f}" for r in runs) + " s cpu",
        file=sys.stderr,
    )
    for k, unit in {**END_TO_END, **REPORTED}.items():
        print(f"  {k:<12} {values[k]:>14.6g} {unit}", file=sys.stderr)
    if traced is None:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        from perfbench.layers import UNITS

        metrics = {k: {"value": layer[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

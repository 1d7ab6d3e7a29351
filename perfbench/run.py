"""Benchmark entry point.

    python3 perfbench/run.py --workload logs_index_rw --seed 1 --seconds 20 --trace 0

Runs one workload as a closed loop from one client on ``local[<nproc / 2>]``
and prints, as its last line, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``.  The line before it,
prefixed ``perfbench-record``, holds the full record: the box, the
sample counts, the error rate, and in a traced run the per-operation
self-time table.  A traced run alternates traced and untraced
iterations, so its tracing overhead is measured in the same process,
and writes its spans under ``perfbench/.out/``.

``--seconds`` sets the amount of work, not a deadline: each workload
turns it into a whole number of iterations from its nominal iteration
time on a 4-core box, so every run of a seed issues the same operations
on any commit.  Set-up (session start, index and state builds) runs
several times and ``setup_s`` is their median; fixture generation is
cached and kept out of it.  One untimed warm-up iteration follows the
last set-up: the first calls of each operation run cold (JIT).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRACE_CONF = {  # keep every job of the run in the AppStatusStore
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload", required=True, choices=("logs_index_rw", "corpus_ingest")
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="input size; 'tiny' is for the smoke test",
    )
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "polars_w_inverted_index_spark")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.corpus_ingest import CorpusIngest
    from perfbench.harness import (
        DATA_DIR, OUT_DIR, Client, Loop, Session, box, end_to_end,
        fit_session_env,
    )
    from perfbench.layers import layer_metrics, op_table
    from perfbench.logs_index_rw import LogsIndexRW
    from perfbench.trace import Tracer, op_breakdown, read_status_store

    workload = {"logs_index_rw": LogsIndexRW, "corpus_ingest": CorpusIngest}[
        args.workload
    ]
    machine = box()
    fit_session_env(machine)
    # everything the run writes stays under its own directory
    run_dir = os.path.join(DATA_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tracer = Tracer()
    wl = workload(args.seed, args.size, tracer, os.path.join(run_dir, "state"))
    # the launcher JVM too keeps its files inside the run directory
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        # a fixed-size heap (-Xms = -Xmx): G1 resizing made peak RSS
        # spread ~30% from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{machine['driver_mem']} -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData"
        ),
        **wl.session_conf(),
        **(TRACE_CONF if args.trace else {}),
    }
    session = Session(conf)
    try:
        phases = {"imports_s": time.perf_counter() - T_START}
        setup_s, setups, facts = [], [], {}
        for k in range(wl.SETUPS):
            session.stop()
            start_s = session.start()
            if k == 0:  # inputs: generated or read from the cache, untimed
                t0 = time.perf_counter()
                facts = wl.prepare(session.spark)
                phases["prepare_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            layer = wl.setup(session.spark)
            setup_s.append(start_s + time.perf_counter() - t0)
            setups.append({"session.start_s": start_s, **layer})

        spark = session.spark
        # the workload's untimed warm-up iterations, then the measured ones
        warm = Loop()
        t0 = time.perf_counter()
        for i in range(wl.WARMUP_ITERATIONS):
            wl.iteration(-1 - i, Client(session, tracer, warm, wl.work))
        phases["warmup_s"] = time.perf_counter() - t0
        session.reset_peak_rss()  # peak RSS of the measured loop
        if args.trace:
            tracer.attach(spark)
            _instrument(tracer, wl)
        loop = Loop()
        client = Client(session, tracer, loop, wl.work)
        n_iterations = wl.iterations(args.seconds, traced=bool(args.trace))
        t0 = time.perf_counter()
        for i in range(n_iterations):
            tracer.active = bool(args.trace) and i % 2 == 0
            wl.iteration(i, client)
        tracer.active = False
        phases["loop_s"] = time.perf_counter() - t0
        facts.update(wl.layer_counts())

        every_op = warm.ops + loop.ops
        failed = sum(not o.ok for o in every_op)
        e2e, detail = end_to_end(
            [o for o in loop.ops if not o.traced],
            setup_s, wl.space_amp(), session.peak_rss_mb(),
        )
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "trace": args.trace,
            "box": machine,
            "iterations": n_iterations,
            "phases": phases,
            "measured_s": loop.measured_s,
            "attempted": len(every_op),
            "failed": failed,
            "error_rate": failed / len(every_op),
            "errors": sorted({o.error for o in every_op if o.error})[:5],
            **detail,
        }
        if args.trace:
            jobs, stages = read_status_store(spark)
            breakdown = op_breakdown(tracer.spans, jobs, stages)
            metrics = layer_metrics(loop.ops, tracer.spans, breakdown, setups, facts)
            record["ops"] = op_table(breakdown)
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.write(
                os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json"),
                {"record": record, "jobs": jobs},
            )
        else:
            metrics = e2e
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        print("perfbench-record " + json.dumps(record), flush=True)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(every_op),
                "failed": failed,
                "metrics": record["metrics"],
            }
        ),
        flush=True,
    )
    return 0


def _instrument(tracer, wl) -> None:
    """Child spans inside the package's calls, for the traced run only:
    catalog lookups (tagged hit or miss) and inline index compaction."""
    from polars_w_inverted_index_spark.streaming import index_maintenance as im

    from perfbench.trace import traced_method

    def hit(span, out):
        span["tags"]["hit"] = out is not None

    catalog = getattr(wl, "catalog", None)
    if catalog is not None:
        for attr in ("lookup", "lookup_by_doc_ids"):
            traced_method(tracer, catalog, attr, f"plans.catalog.{attr}", hit)
    traced_method(tracer, im, "compact_index", "streaming.index_maintenance.compact")


if __name__ == "__main__":
    sys.exit(main())

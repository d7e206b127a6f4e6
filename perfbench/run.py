"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the inputs from ``--seed``
(untimed), starts the JVM, then sets the engine up seven times
(``setup_s`` is the median), runs one untimed warm pass, then drives
the workload as a closed loop (one client, next operation when the
previous returns) in whole cycles for ``--seconds``, at least two,
and checks the outputs once, untimed.

Prints a detail record (workload-specific metrics, calibration probe,
tail percentile, errors) and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run, whose
operation records go to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workloads():
    from perfbench.headline import Headline
    from perfbench.xlsx_ingest import XlsxIngest

    return {w.name: w for w in (XlsxIngest, Headline)}


def install_tracing(tracer) -> None:
    """Wrap each layer's public entry points (after the engine's modules
    are imported, so by-name bindings are found and replaced)."""
    from xlsx_to_database_spark import api, catalog, session
    from xlsx_to_database_spark.operators.txn_table import TxnTable
    from xlsx_to_database_spark.sources import sinks

    tracer.count_py4j()
    tracer.patch_function(session, "tune_session", "session.tune_session")
    tracer.patch_function(catalog, "table", "catalog.table")
    tracer.patch_function(sinks, "to_parquet", "sinks.parquet")
    tracer.patch_function(sinks, "to_database", "sinks.jdbc")
    tracer.patch_method(api.Engine, "load_xlsx", "xlsx.schema")

    def merge_counts(tr, out):
        _, rewritten, carried = out
        tr.count("txn_table.files_rewritten", rewritten)
        tr.count("txn_table.files_carried", carried)

    for meth, name in (
        ("create", "create"), ("append", "append"), ("compact", "compact"),
        ("delete_where_dv", "delete_dv"), ("update_where_dv", "update_dv"),
        ("read", "read"), ("manifest", "manifest"),
    ):
        tracer.patch_method(TxnTable, meth, f"txn_table.{name}")
    tracer.patch_method(TxnTable, "merge", "txn_table.merge", on_result=merge_counts)


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import common, layers
    from perfbench.trace import Tracer, attributed_share

    workload = _workloads()[args.workload](work, args.seed)
    t0 = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t0

    # The first session launches the JVM (reported, not a metric: its
    # cost is the JVM's). Each set-up after it is what the engine costs
    # to start in a live JVM: a new Spark session through get_spark, the
    # engine's modules imported afresh and bound to the session.
    t0 = time.perf_counter()
    spark = common.start_session()
    workload.attach(spark)
    cold_start_s = time.perf_counter() - t0
    setups = []
    for _ in range(common.SETUP_REPEATS):
        spark.stop()
        common.purge_package()
        t0 = time.perf_counter()
        spark = common.start_session()
        workload.attach(spark)
        setups.append(time.perf_counter() - t0)
    setup_s = common.median(setups)

    phases = {"generate": generate_s, "cold_start": cold_start_s, "setup": sum(setups)}
    t0 = time.perf_counter()
    workload.warm()
    phases["warm"] = time.perf_counter() - t0
    calibration = common.calibration(spark)
    tracer = None
    if args.trace:
        tracer = Tracer(spark, workload.name)
        install_tracing(tracer)
        workload.tracer = tracer
    loop = common.Loop()
    ticks = common.cpu_ticks()
    loop.run(workload, args.seconds, tracer)
    calibration["steal_share"] = common.steal_share(ticks, common.cpu_ticks())
    if tracer is not None:
        tracer.unpatch()
    t0 = time.perf_counter()
    try:
        problems = workload.verify()
    except Exception as e:  # an output that cannot be read back is wrong
        problems = [common.error_line("verify", e)]
    phases["verify"] = time.perf_counter() - t0
    extras = {}
    if tracer is not None:
        try:
            extras = workload.layer_extras()
        except Exception as e:
            problems.append(common.error_line("layer probes", e))

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_samples_s": setups, "calibration": calibration,
        "samples": len(loop.samples), "wall_s": loop.wall_s,
        "problems": problems, "errors": (workload.warm_errors + loop.errors)[:20],
        "phases_s": phases, "warm_s": workload.warm_s,
    }
    failed = len(workload.warm_errors) + loop.failed + len(problems)
    attempted = loop.attempted + len(workload.warm_s)
    detail["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    if args.trace:
        plain = loop.by_kind(traced=False)
        traced = loop.by_kind(traced=True)
        cyc = workload.cycle()
        base = sum(common.median(plain[k]) for k in cyc if k in plain and k in traced)
        with_tr = sum(common.median(traced[k]) for k in cyc if k in plain and k in traced)
        extras.update({
            "trace.overhead_frac": {"value": (with_tr - base) / base if base else 0.0, "unit": "fraction"},
            "trace.self_time_coverage": {"value": attributed_share(tracer.records), "unit": "fraction"},
        })
        metrics = layers.per_layer(tracer.records, cyc, common.cpu_count(), extras)
        os.makedirs(os.path.join(ROOT, ".bench_work", "traces"), exist_ok=True)
        out = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(out)
        detail["trace_file"] = os.path.relpath(out, ROOT)
        detail["traced_untraced_s"] = {"traced": with_tr, "untraced": base}
    else:
        metrics = common.e2e_metrics(workload, loop, setup_s)
        detail.update(common.latency_detail(loop))
        detail.update(workload.detail(loop, metrics))
    spark.stop()
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xlsx_to_database_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common

    if args.workload not in _workloads():
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    common.prepare_env(ROOT, work)
    try:
        detail, result = run(args, work)
    finally:
        common.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of the traced run, from its operation records.

Each metric is taken per operation, reduced to the median over the
operations of one kind, and summed over the workload's op cycle: the
figure is "per cycle", independent of how many cycles a run fits in.
Ratios are formed from those per-cycle sums. A layer a workload never
enters reports 0.
"""

from __future__ import annotations

from perfbench.common import median


def _self(name):
    return lambda r: r["layers"].get(name, {}).get("self_s", 0.0)


def _calls(name):
    return lambda r: r["layers"].get(name, {}).get("calls", 0)


def _spark(key, scale=1.0):
    return lambda r: r["spark"][key] * scale


def _counter(key):
    return lambda r: r["counters"].get(key, 0)


#: name → (unit, per-operation value). The engine's layers by module:
#: session, catalog, queries.* (plan construction via the registry),
#: Spark execution, sources.xlsx / sources.infer, sources.xlsx_io,
#: sources.sinks, operators.txn_table.
PER_OP = {
    "session.tune_session_s": ("s", _self("session.tune_session")),
    "session.tune_session_calls": ("count", _calls("session.tune_session")),
    "catalog.table_s": ("s", _self("catalog.table")),
    "catalog.table_calls": ("count", _calls("catalog.table")),
    "queries.build_self_s": ("s", _self("queries.build")),
    "queries.build_py4j_calls": ("count", lambda r: r["layers"].get("queries.build", {}).get("py4j_incl", 0)),
    "queries.build_jobs": ("count", _spark("jobs_build")),
    "spark.exec_s": ("s", _self("spark.exec")),
    "spark.jobs": ("count", _spark("jobs")),
    "spark.tasks": ("count", _spark("tasks")),
    "spark.task_time_s": ("s", _spark("task_time_ms", 1e-3)),
    "spark.shuffle_read_bytes": ("B", _spark("shuffle_read_bytes")),
    "spark.shuffle_write_bytes": ("B", _spark("shuffle_write_bytes")),
    "spark.input_bytes": ("B", _spark("input_bytes")),
    "spark.gc_s": ("s", _spark("gc_ms", 1e-3)),
    "py4j.calls": ("count", lambda r: r["layers"]["op"]["py4j_incl"]),
    "xlsx.schema_s": ("s", _self("xlsx.schema")),
    "sinks.parquet_s": ("s", _self("sinks.parquet")),
    "sinks.jdbc_s": ("s", _self("sinks.jdbc")),
    "txn_table.create_s": ("s", _self("txn_table.create")),
    "txn_table.merge_s": ("s", _self("txn_table.merge")),
    "txn_table.delete_dv_s": ("s", _self("txn_table.delete_dv")),
    "txn_table.update_dv_s": ("s", _self("txn_table.update_dv")),
    "txn_table.append_s": ("s", _self("txn_table.append")),
    "txn_table.compact_s": ("s", _self("txn_table.compact")),
    "txn_table.read_s": ("s", _self("txn_table.read")),
    "txn_table.manifest_s": ("s", _self("txn_table.manifest")),
    "txn_table.files_rewritten": ("count", _counter("txn_table.files_rewritten")),
    "txn_table.files_carried": ("count", _counter("txn_table.files_carried")),
    "trace.unattributed_s": ("s", _self("op")),
    "wall_s": ("s", lambda r: r["wall_s"]),
}


#: Per-layer metrics that are not per-operation sums, with their units.
#: A workload that does not measure one reports 0.
DERIVED = {
    "spark.core_utilization": "fraction",
    "txn_table.prune_ratio": "fraction",
    "xlsx_io.decode_rows_per_s": "rows/s",
    "xlsx_io.encode_rows_per_s": "rows/s",
    "xlsx.scan_s": "s",
    "xlsx.partitions": "count",
    "txn_table.bytes_written": "B",
    "txn_table.log_bytes": "B",
    "trace.overhead_frac": "fraction",
    "trace.self_time_coverage": "fraction",
}


def names_and_units() -> dict[str, str]:
    out = {name: unit for name, (unit, _) in PER_OP.items() if name != "wall_s"}
    out.update(DERIVED)
    return out


def per_layer(records: list[dict], cycle: list[str], cores: int, extras: dict) -> dict[str, dict]:
    """Aggregate traced operation records into the per-layer metrics."""
    by_kind: dict[str, list[dict]] = {}
    for r in records:
        by_kind.setdefault(r["op"], []).append(r)
    sums = {}
    for name, (_, fn) in PER_OP.items():
        sums[name] = sum(
            median([fn(r) for r in by_kind[k]]) for k in cycle if k in by_kind
        )
    out = {
        name: {"value": sums[name], "unit": unit}
        for name, (unit, _) in PER_OP.items() if name != "wall_s"
    }
    wall = sums["wall_s"]
    out["spark.core_utilization"] = {
        "value": sums["spark.task_time_s"] / (wall * cores) if wall else 0.0,
        "unit": "fraction",
    }
    touched = sums["txn_table.files_rewritten"] + sums["txn_table.files_carried"]
    out["txn_table.prune_ratio"] = {
        "value": sums["txn_table.files_carried"] / touched if touched else 0.0,
        "unit": "fraction",
    }
    for name, unit in DERIVED.items():
        out.setdefault(name, {"value": 0.0, "unit": unit})
    out.update(extras)
    return out

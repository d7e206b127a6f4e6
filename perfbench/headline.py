"""Workload ``headline_ops``: the analytics suite.

The registry's headline ops run one after another, each materialised
through the noop sink, so Catalyst cannot prune the plan the way a
count() lets it. No xlsx layer runs here: session tuning, catalog
reads, plan construction in ``queries.*`` and Spark execution do the
work.
"""

from __future__ import annotations

import os
import time

from perfbench import check, common, gen

#: Nine of the headline ops of ``bench.py``, one per plan shape:
#: scan-aggregate, shuffle join, running window, the TPC-H
#: join-agg-join, the MinHash self-join, staged funnel aggregates, the
#: bucketed range join, the n-gram decontamination join and the curation
#: pipeline. Left out: four that write fixtures to fixed paths under
#: /tmp (``stream_tumbling``, ``parquet_zorder_sink``,
#: ``table_merge_upsert``, ``table_delete_vectors``; a run writes only
#: inside its checkout, and ``xlsx_ingest`` measures the txn-table write
#: path), and nine whose plan shape an op here already covers, so that
#: every workload's runs fit the benchmark's time budget (each op costs
#: a fresh-JVM warm-up in every run).
OPS = [
    "agg_basic",
    "join_inner_equi",
    "win_running_sum",
    "tpch_q18",
    "dedup_minhash",
    "funnel_steps",
    "join_range_bucketed",
    "text_decontaminate",
    "pipeline_pretrain_corpus",
]

#: Scale factor of the generated tables (orders = 1.5M × SF rows).
SF = 0.01


class Headline(common.Workload):
    name = "headline_ops"

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        super().__init__(work, seed)
        self.out_rows: dict[str, int] = {}
        self.digests: dict[str, tuple[int, str]] = {}

    def generate(self) -> None:
        gen.write_tables(gen.make_tables(SF, self.seed), self.data)

    def attach(self, spark) -> None:
        from xlsx_to_database_spark.registry import all_oracles, all_queries

        self.spark = spark
        self.qs, self.oracles = all_queries(), all_oracles()
        missing = [op for op in OPS if op not in self.qs]
        if missing:
            raise KeyError(f"registry lacks headline ops {missing}")

    def cycle(self) -> list[str]:
        return OPS

    def _build(self, kind: str):
        with self.tracer.span("queries.build", job_group="build"):
            return self.qs[kind](self.spark, self.data)

    def run_op(self, kind: str) -> int:
        df = self._build(kind)
        with self.tracer.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()
        return self.out_rows[kind]

    def warm(self) -> None:
        """One untimed pass: each op's plan is built and collected (the
        rows feed the correctness gate), which compiles the same stages
        the timed noop runs execute; the noop-sink action itself is
        warmed on every op as well."""
        for op in OPS:
            t0 = time.perf_counter()
            try:
                df = self._build(op)
                self.digests[op] = check.spark_digest(df)
                self.out_rows[op] = self.digests[op][0]
                df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                self.warm_errors.append(common.error_line(op, e))
            self.warm_s[op] = time.perf_counter() - t0

    def verify(self) -> list[str]:
        """Each op's rows against its DuckDB oracle by the canonical hash;
        rows-only ops (no oracle) must return rows."""
        problems = []
        con = check.duck_over(self.data)
        try:
            for op in OPS:
                if op not in self.digests:
                    problems.append(f"{op}: no rows collected")
                    continue
                n, h = self.digests[op]
                if op not in self.oracles:
                    if n == 0:
                        problems.append(f"{op}: rows-only op returned no rows")
                    continue
                dn, dh = check.duck_digest(con, self.oracles[op])
                if (n, h) != (dn, dh):
                    problems.append(f"{op}: spark {n} rows {h[:12]} vs oracle {dn} rows {dh[:12]}")
        finally:
            con.close()
        return problems

    def detail(self, loop, e2e: dict) -> dict:
        return {
            "ops_suite_s": {"value": e2e["cycle_s"]["value"], "unit": "s"},
            "ops_geomean_s": {"value": e2e["geomean_s"]["value"], "unit": "s"},
        }

"""Query modules: one per SURVEY.md §2 op family, named by op-id prefix.

- relational core: ``core`` (project/filter), ``joins`` (``join_*``),
  ``aggregates`` (``agg_*``), ``windows`` (``win_*``), ``sort_set``,
  ``scalar_functions`` (``str_*`` and the other scalar families),
  ``relational_extras`` (pivots, subqueries) and ``tpch_extra``;
- ``stats`` (``stat_*``), ``ml`` (``ml_*``), ``graph`` (``graph_*``),
  ``geo_ops`` (``geo_*``);
- I/O and tables: ``sources_sinks`` (``xlsx_``/``csv_``/``json_``/
  ``jdbc_``/``parquet_``), ``txn_ops`` (``table_*``), ``streaming``
  (``stream_*``), ``etl`` (``etl_``/``dq_``/``sample_``/``interval_``);
- LLM data: ``llm_ops`` (``sim_``/``vec_``/``dedup_``), ``corpus_ops``
  (``text_``/``corpus_``/``pipeline_``/``url_``), ``multimodal``
  (``media_*``), ``analytics_ops`` (``event_``/``funnel_``/``assoc_``)
  and ``udf_surface`` (``udf_``/``udtf_``).

``stage`` decides where ops stage scratch data and when a staged
fixture is reused.

Importing a module registers its (op id -> Spark fn, oracle SQL) pairs
with :mod:`xlsx_to_database_spark.registry`, which imports every module
here; the order the registry lists ops in comes from its ``_ATTESTED``
tuple, not from import order.
"""

from pyspark.sql import Column  # noqa: E402
from pyspark.sql import functions as _F  # noqa: E402


def fquant(col: Column, k: int) -> Column:
    """Midpoint-safe k-decimal quantizer: ``floor(x·10^k + 0.5) / 10^k``.

    Use this — never ``F.round(x, k)`` — when a DOUBLE expression must
    hash-match a DuckDB oracle: both engines evaluate this pure double
    arithmetic bit-identically, while ``round`` rounds Spark's
    shortest-decimal repr vs DuckDB's binary value and diverges by 1 ulp
    on values landing on a .5 midpoint at the kth decimal (caught by the
    round-6 sf0.1 sweep in event_burstiness / tpch_q2 /
    win_rolling_vwap). The oracle side uses the literal SQL idiom
    ``floor(x * 1eK + 0.5) / 1eK``.

    Caveats: only for finite non-negative-midpoint semantics — Spark's
    floor yields LONG so NaN becomes 0 while DuckDB keeps NaN; guard
    NaN/negative-variance inputs upstream (see event_burstiness).
    The scaled value must fit in int64 (|x|·10^k < 9.2e18).
    """
    scale = 10 ** k
    return _F.floor(col * scale + _F.lit(0.5)) / scale

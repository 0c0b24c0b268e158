"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in sdg_engine/ (queries.py / oracles.py);
SURVEY.md §2 maps each entry to a reference operator.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the RAI pipeline —
    derived points → kNN nearest road (cell-pruned, exact) → two-stage
    PIP country assignment → per-country aggregate (SURVEY.md M1)."""
    from sdg_engine.queries import QUERIES

    flagship_rai = QUERIES["flagship_rai"]  # the registry entry preps the session
    return flagship_rai(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from sdg_engine.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins (sdg_engine/oracles.py).

    EVERY registered query has an oracle entry (zero rows-only since
    r04; len(queries()) is the count — 347 registered as of r05 final) (`set(oracle_sql()) == set(queries())`, pinned by
    tests/test_spark_pipeline.py::test_entry_contract).  Queries whose content is binary payload math
    (RAI burn/cost-distance, warp, multimodal audio/video features)
    compare against COMMITTED goldens produced by INDEPENDENT twins
    (scripts/make_goldens.py — generator pixels/waveforms, reimplemented
    lossy transforms, brute-force candidates, transposed-scan /
    Dijkstra-certified distance transforms), which DuckDB reads via
    read_parquet and, where meaningful, aggregates relationally.
    """
    from sdg_engine.oracles import all_oracles

    return all_oracles()

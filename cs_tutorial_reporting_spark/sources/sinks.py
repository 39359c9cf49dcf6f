"""Sinks (SURVEY.md §2.1, K1-K4).

- K1 JSON landing zone: run-timestamp-partitioned prefixes with optional
  gzip (``airflow_to_gcs.py:153-159``; prefixes ``reporting_dag.py:57``).
  Batch-numbered files (``dagRuns{cnt}.json``) become ``repartition(n)``.
- K2 CSV staging: eliminated in the engine (Spark writes targets
  directly).
- K3 warehouse bulk append: ``COPY FROM STDIN`` → ``mode("append")``
  parquet/table writes.
- K4 DDL: Spark SQL ``CREATE DATABASE/TABLE IF NOT EXISTS``; PK/UNIQUE
  constraints are engine-enforced dedup invariants (Spark does not
  enforce constraints) — see ``operators.incremental.dedup_against``.

At 100 TB: landing and warehouse writes are partitioned by run/date so
downstream incremental reads prune partitions instead of scanning
history; file counts are controlled via ``repartition`` before write so
a 1000-executor job doesn't emit millions of tiny files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_json_landing(
    df: DataFrame,
    base_path: str,
    run_ts: str,
    n_files: int | None = None,
    gzip: bool = False,
) -> str:
    """K1 — write a run-partitioned JSON landing directory
    (``{base}/{run_ts}/``), mirroring ``dst="airflow/dags/{{ ts_nodash }}/"``
    (reporting_dag.py:57,91,133) and the optional gzip flag
    (airflow_to_gcs.py:85,158).
    """
    path = f"{base_path.rstrip('/')}/{run_ts}/"
    writer = df.repartition(n_files) if n_files else df
    out = writer.write.mode("overwrite")
    if gzip:
        out = out.option("compression", "gzip")
    out.json(path)
    return path


def write_table_append(df: DataFrame, path: str) -> str:
    """K3 — bulk append into the warehouse table (parquet in the harness;
    swap for ``df.write.jdbc(url, table, mode="append")`` on Postgres).
    """
    df.write.mode("append").parquet(path)
    return path


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> str:
    """Partitioned warehouse write — the 100 TB layout: downstream
    watermark scans prune to recent partitions instead of full history.
    """
    df.write.mode("append").partitionBy(*partition_cols).parquet(path)
    return path


def write_orc(df: DataFrame, path: str, *partition_cols: str) -> str:
    """K3 alternate format — ORC (native Spark datasource; same
    vectorized reader + min/max skipping story as parquet, the format
    Hive-lineage warehouses expect). Partitioning optional."""
    out = df.write.mode("overwrite")
    if partition_cols:
        out = out.partitionBy(*partition_cols)
    out.orc(path)
    return path

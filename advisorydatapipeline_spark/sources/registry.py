"""Declarative source registry (reference S11).

Mirrors the reference's dataclass-driven source configuration
(ingest/definitions.py:8-43, ingest/config.py:8-28) and its
dispatch loop (ingest/ingestion_pipeline.py:48-68): each source
declares its tables + schemas + a read strategy; the ingestion loop
fetches, stages to parquet under the run_id prefix, reads back, and
registers views — run isolation by construction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from advisorydatapipeline_spark.config import PipelineConfig
from advisorydatapipeline_spark.sources.io import (
    read_table,
    register_view,
    write_table,
)


@dataclass(frozen=True)
class Table:
    name: str
    schema: T.StructType


@dataclass(frozen=True)
class SourceConfig:
    """A source = tables + a reader strategy returning a DataFrame per
    table name."""

    name: str
    tables: tuple[Table, ...]
    reader: Callable[[SparkSession, str], DataFrame]
    kind: str = "generic"  # public_json | jdbc | parquet | ...


def run_ingestion(
    spark: SparkSession,
    config: PipelineConfig,
    sources: list[SourceConfig],
    run_id: str,
) -> dict[str, DataFrame]:
    """Fetch every table of every source, stage it under the run_id
    prefix, read back, and register a view. Returns name -> DataFrame.

    Staging-then-read-back is kept deliberately: it is the run-
    isolation boundary (failed runs never touch prod), and re-reading
    parquet gives downstream stages splittable, column-pruned input
    instead of a recomputed lineage.
    """
    out: dict[str, DataFrame] = {}
    for source in sources:
        for table in source.tables:
            df = source.reader(spark, table.name)
            path = f"{config.run_path(run_id)}/sources/{table.name}"
            write_table(df, path, schema=table.schema)
            staged = read_table(spark, path, table.schema)
            register_view(staged, f"raw_{table.name}")
            out[table.name] = staged
    return out

"""Upsert (merge) as anti-join + union.

Re-expresses the reference's upsert query — ``processed UNION ALL
(prod LEFT JOIN processed ... WHERE processed.key IS NULL)``
(state_machine/queries/upsert_data.py:56-68) — as a reusable operator
using a real ``left_anti`` join (same physical plan, clearer intent).

The reference reads prod and overwrites prod *in the same query*
(state_machine/pipeline.py:72-95), dodging the
lazy-plan-over-deleted-files hazard only by accident (SURVEY.md §3.3).
:func:`upsert_to_path` writes the merge once beside prod and publishes
it with an atomic directory exchange (sources/io.committing). A
table format with native MERGE (Delta/Iceberg) is the real fix at
scale; jars are not in this image, so that connector is stubbed
behind an import-try in sources/.

Scale notes: the anti-join shuffles both sides on the key unless the
new side is small — at 100 TB prod with a small daily delta, broadcast
the *new* side (Catalyst/AQE does this automatically under the
threshold; ``broadcast_new`` forces it).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from advisorydatapipeline_spark.sources.io import committing


def upsert(
    new_df: DataFrame,
    old_df: DataFrame,
    keys: Sequence[str],
    *,
    broadcast_new: bool = False,
) -> DataFrame:
    """New rows win per key; old rows survive only where the key is
    absent from ``new_df`` (a left-anti join, so duplicate new keys need
    no dedup). Columns are aligned by name."""
    probe = new_df.select(*keys)
    if broadcast_new:
        probe = F.broadcast(probe)
    survivors = old_df.join(probe, on=list(keys), how="left_anti")
    return new_df.unionByName(survivors.select(*new_df.columns))


def upsert_to_path(
    spark,
    new_df: DataFrame,
    prod_path: str,
    keys: Sequence[str],
    schema,
    *,
    read_table,
    write_table,
) -> None:
    """Merge ``new_df`` into the table at ``prod_path`` and commit it
    atomically: the merge is written once and published by
    :func:`~advisorydatapipeline_spark.sources.io.committing`, so
    readers see the old or the new table, never a partial one."""
    old_df = read_table(spark, prod_path, schema)
    with committing(prod_path) as tmp:
        write_table(upsert(new_df, old_df, keys), tmp, schema=schema)

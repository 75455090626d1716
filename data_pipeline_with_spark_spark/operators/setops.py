"""Sorts / limits / set ops (SURVEY §2.7 O1–O3).

Reference parity:
- O1 ordering (``data_manipulation/serving_layer.py:260``).
- O2 LIMIT truncation (``data_ingestion_and_cleaning/curate_data.py:154``),
  spelled ``df.limit(n)`` directly.
- O3 union — positional in the reference (``serving_layer.py:116-133``,
  ``denormalized_tables.py:191-192``); positional union silently
  mis-aligns on schema drift (SURVEY §7 risk), so our engine's default
  is ``unionByName``.

Scale notes: a global ``orderBy`` is a range-partitioned total sort —
fine for bounded outputs, but for "top N overall" always prefer
``orderBy().limit(n)`` which Spark executes as per-partition TakeOrdered
without a full sort-shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame


def order_by(df: DataFrame, *cols: Column | str) -> DataFrame:
    """O1: global sort."""
    return df.orderBy(*cols)


def union_by_name(frames: Sequence[DataFrame], allow_missing: bool = False) -> DataFrame:
    """O3: stack frames by column NAME. ``allow_missing=True`` fills
    absent columns with null (schema-evolution-style append)."""
    if not frames:
        raise ValueError("union of zero frames")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=allow_missing)
    return out

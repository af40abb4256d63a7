"""Driver-contract entry registry, split by operator area.

Each module exposes ``ENTRIES: dict[name, (callable, oracle_sql|None)]``
where the callable is ``(spark, sf_dir) -> DataFrame`` and the SQL runs
in DuckDB over the driver's pre-registered views. ``None`` SQL → the
driver records a rows-only check (reserved for genuinely
non-SQL-expressible ops).
"""

from __future__ import annotations


def all_entries() -> dict:
    from . import admin, aggs, compound, geo, pipeline_ops, relations, rowdoc, services, structured

    merged: dict = {}
    for mod in (structured, compound, aggs, pipeline_ops, rowdoc, relations, geo, services, admin):
        overlap = set(merged) & set(mod.ENTRIES)
        if overlap:
            raise ValueError(f"duplicate entry names: {overlap}")
        merged.update(mod.ENTRIES)
    return merged

"""icelite — Iceberg-style snapshot/manifest semantics over plain Parquet.

This sandbox bundles no Iceberg runtime jar (SURVEY.md §7 risk 3), so the
engine ships this minimal snapshot layer with the same operational semantics
the north rule needs from Iceberg: atomic snapshot commits (manifest replaced
via ``os.replace``), a manifest that records each table's path, schema and
row count (reads infer no schema, counts run no job), carry-forward of
unchanged tables by name, time-travel reads by snapshot id, rollback, expiry
and compaction, and resume from the current snapshot. On a real cluster the
same call sites swap to ``spark.read.format("iceberg")`` / ``MERGE INTO`` —
the interface is isolated here for exactly that reason.
"""

from edgar_spark.icelite.table import IceliteCatalog

__all__ = ["IceliteCatalog"]

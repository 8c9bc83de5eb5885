"""Curated-zone parquet sink (SURVEY §2.1 S2).

Parity: ``write_parquet`` at ``Glue_tranformation_json_parquet.py:187-197``
— append-mode parquet with an (unused there) partition hook. We keep the
signature and actually use the partition hook: the reference's curated zone
is unpartitioned, which at 100 TB means every report query full-scans
observation. Partitioning observation by event date (and optionally code)
enables partition pruning; recorded as a deliberate deviation
(SURVEY §4 table, last row).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    base_path: str,
    subpath: str,
    partitions: Sequence[str] | None = None,
) -> str:
    """Append ``df`` as zstd Parquet: ~30% smaller than snappy at comparable read speed —
    at 100 TB the scan is IO-bound, so smaller files ARE faster queries."""
    path = f"{base_path.rstrip('/')}/{subpath}"
    writer = df.write.mode("append").option("compression", "zstd")
    if partitions:
        writer = writer.partitionBy(*partitions)
    writer.parquet(path)
    return path

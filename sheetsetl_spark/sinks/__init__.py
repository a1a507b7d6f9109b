"""Sinks: the engine's output adapters.

The reference's only sink is the Google-Sheets upsert
(/root/reference/src/loader.py:144-189): create-or-replace a named sheet
in a destination folder, fed from a CSV spool, guarded by the 2M-cell
Drive limit (loader.py:250-253). We generalize that contract to a `Sink`
interface with local backends (CSV dir, parquet, temp view) plus a Sheets
adapter whose network layer is injectable (credentials are out of scope —
mirrors the reference's A11 auth bootstrap being environment-specific).
"""

from sheetsetl_spark.sinks.base import CellLimitExceeded, Sink, cell_count_guard, cell_limit_count
from sheetsetl_spark.sinks.bucketed import BucketedTableSink
from sheetsetl_spark.sinks.local import (
    CsvDirSink,
    JsonDirSink,
    OrcDirSink,
    ParquetDirSink,
    TempViewSink,
)
from sheetsetl_spark.sinks.sheets import GoogleSheetsSink

__all__ = [
    "Sink",
    "CellLimitExceeded",
    "cell_count_guard",
    "cell_limit_count",
    "CsvDirSink",
    "JsonDirSink",
    "OrcDirSink",
    "ParquetDirSink",
    "TempViewSink",
    "BucketedTableSink",
    "GoogleSheetsSink",
]

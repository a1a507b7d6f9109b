"""Sink contract + output-size guard.

Guard semantics mirror /root/reference/src/loader.py:238-253 exactly:
total_cells = (row_count + 1 header row) * column_count, and the result
is REJECTED when total_cells >= limit (the reference skips the upload and
moves on; our pipeline catches CellLimitExceeded and does the same).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Protocol, runtime_checkable

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa

#: Google Sheets hard limit the reference enforces (loader.py:250, README.md:60-61).
DEFAULT_CELL_LIMIT = 2_000_000


class CellLimitExceeded(Exception):
    def __init__(self, name: str, cells: int, limit: int):
        self.name, self.cells, self.limit = name, cells, limit
        super().__init__(f"{name}: {cells} cells >= limit {limit}")


def _check_cells(name: str, rows: int, cols: int, limit: int) -> None:
    cells = (rows + 1) * cols
    if cells >= limit:
        raise CellLimitExceeded(name, cells, limit)


def cell_count_guard(df: DataFrame, name: str, limit: int = DEFAULT_CELL_LIMIT) -> pa.Table:
    """Collect the result once, bounded by the cell limit, and raise if
    it hits the limit ((rows + header) * cols >= limit, loader.py:241-253).
    Returns the collected rows as an Arrow table.

    ``r_max = ceil(limit / cols) - 2`` is the largest row count that
    passes, so collecting ``r_max + 1`` rows decides the rule without a
    separate count, as the reference counts while it spools. A rejected
    result stops after ``r_max + 1`` rows, and ``CellLimitExceeded.cells``
    is then the first failing count, not the full result's. This is the
    guard for sinks that build their output on the driver anyway
    (``Sink.collects``): they publish exactly these rows without running
    the query again. The limit bounds cells, not bytes: the accepted
    result is held whole in driver memory.
    """
    cols = len(df.columns)
    if cols == 0:
        raise ValueError(f"{name}: the query returns no columns")
    r_max = -(-limit // cols) - 2
    table = df.limit(max(r_max + 1, 0)).toArrow()
    _check_cells(name, table.num_rows, cols, limit)
    return table


def cell_limit_count(df: DataFrame, name: str, limit: int = DEFAULT_CELL_LIMIT) -> int:
    """The same rule without collecting: ``count()`` the result on the
    executors, raise if the limit is hit, return the row count.

    This is the guard for sinks that write from the executors: the sink
    then runs the query a second time, but no result passes through
    driver memory. A plain ``count()`` is one partial-aggregate job; a
    bounded ``limit(r_max + 1).count()`` adds a single-partition shuffle
    and measured slower on small results. The count prunes columns it
    does not need, so an error raised only by a projected column
    surfaces in the sink's write.
    """
    rows = df.count()
    _check_cells(name, rows, len(df.columns), limit)
    return rows


@runtime_checkable
class Sink(Protocol):
    """Create-or-replace a named output (upsert identity = name, mirroring
    loader.py:159-179's (folder, name, mime) lookup).

    A sink that builds its whole output on the driver (the Sheets upload)
    sets a class attribute ``collects = True``: the pipeline then calls
    ``write(df, name, rows=table)`` with the Arrow table
    :func:`cell_count_guard` collected from the query's frame ``df``, and
    the sink publishes those rows without executing ``df``, so the query
    runs once. Any other sink gets ``write(df, name)`` after
    :func:`cell_limit_count` and writes ``df`` from the executors."""

    def write(self, df: DataFrame, name: str) -> None: ...


def human_bytes(size: int) -> str:
    """Human-readable byte size — behavioral parity with the reference's
    ``convert_size`` (loader.py:61-75: 1024 base, 2-decimal round, B..YB
    units), used by the pipeline report the way the reference logs each
    query's spool size before upload (loader.py:247-249)."""
    import math

    if size == 0:
        return "0B"
    units = ("B", "KB", "MB", "GB", "TB", "PB", "EB", "ZB", "YB")
    i = int(math.floor(math.log(size, 1024)))
    return f"{round(size / 1024 ** i, 2)} {units[i]}"


def dir_bytes(path: str) -> int:
    """Total bytes under a sink output path (file or directory)."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total

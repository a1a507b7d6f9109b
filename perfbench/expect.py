"""Regenerate ``expected.json``: output digests from the DuckDB oracles.

    python3 perfbench/expect.py

Run from the repository root after changing the fixture generator, the
headline subset or the analyst corpus. The oracles run once over the
unpermuted base tables; expected outputs do not depend on the seed because
no query output depends on row order. Headline digests come from the
registry's ``ORACLES``; analyst-file digests from the DuckDB twins kept with
the pipeline tests, rendered through the same CSV the Sheets sink uploads.
"""

from __future__ import annotations

import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

import fixtures  # noqa: E402
from verify import csv_rows, digest, frame_rows  # noqa: E402
from workloads import ANALYST_DIRS, HEADLINE  # noqa: E402


def main() -> int:
    from sheetsetl_spark.queries import ORACLES
    from tests.test_pipeline import _ANALYST_ORACLES

    base = fixtures.base_dir(os.path.join(HERE, "_data"))
    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')")

    analyst, rejects = {}, []
    ok_dir, reject_dir = (os.path.join(ROOT, d) for d in ANALYST_DIRS)
    for fname in sorted(os.listdir(ok_dir)):
        name = fname[: -len(".sql")]
        buf = io.StringIO()
        con.execute(_ANALYST_ORACLES[name]).df().to_csv(buf, index=False)
        analyst[name] = digest(csv_rows(buf.getvalue().encode()))
    rejects = sorted(f[: -len(".sql")] for f in os.listdir(reject_dir) if f.endswith(".sql"))

    headline = {}
    for name in HEADLINE:
        print(f"oracle {name}", file=sys.stderr, flush=True)
        headline[name] = digest(frame_rows(con.execute(ORACLES[name]).df()))

    out = {
        "generator": fixtures.GENERATOR_VERSION,
        "analyst": analyst,
        "analyst_rejects": rejects,
        "headline": headline,
    }
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""DuckDB oracle check of registry query results, in a process of its own
so that the benchmark's driver never loads DuckDB.

    python3 perfbench/oracle.py MANIFEST.json

The manifest is a JSON list of ``{"name", "sql", "sf_dir", "got"}``
entries: ``got`` is a pickled pandas frame of the Spark result of query
``name`` and ``sql`` its oracle SQL over the parquet tables in ``sf_dir``.
Both sides are compared column-sorted and exactly, as
``tests/oracle_util.compare`` does.  The last line of the output is one
JSON object mapping each name to ``null`` (equal) or the mismatch.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from oracle_util import canon  # noqa: E402


def compare(entry: dict) -> str | None:
    got = canon(pd.read_pickle(entry["got"]))
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(entry["sf_dir"])):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{entry['sf_dir']}/{f}'")
        want = canon(con.execute(entry["sql"]).df())
    finally:
        con.close()
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return str(e)[:300]
    return None


def main() -> None:
    with open(sys.argv[1]) as f:
        manifest = json.load(f)
    result = {}
    for e in manifest:
        try:
            result[e["name"]] = compare(e)
        except Exception as exc:
            result[e["name"]] = f"{type(exc).__name__}: {str(exc)[:300]}"
    print(json.dumps(result))


if __name__ == "__main__":
    main()

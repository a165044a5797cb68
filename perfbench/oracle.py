"""Expected results of the ``analytics`` queries: row count and an
order-insensitive value hash of each query's DuckDB oracle at the
benchmark's scale factor, canonicalised the way
``tests/test_oracle_parity.py`` compares Spark with DuckDB.

The oracle answers depend only on the read-only fixture tables, so they
are computed once and kept in ``oracle_hashes.json``; the benchmark
compares each run's Spark results with them.  Regenerate with

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HASHES = os.path.join(HERE, "oracle_hashes.json")


def _canon(v):
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        return ("f", float(v), math.copysign(1.0, float(v)))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, str):
        return v
    return str(v)


def digest(df) -> dict:
    """``{"rows", "hash"}`` of a pandas frame: columns by name, rows
    sorted, ints, floats (with the sign of zero) and bools kept apart."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_canon(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    h = hashlib.sha256(repr((list(df.columns), rows)).encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def load() -> dict:
    with open(HASHES, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    import duckdb

    from analytics import QUERY_LIST
    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.tables import DEFAULT_SF_DIR, TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{DEFAULT_SF_DIR}/{name}.parquet'")
    out = {name: digest(con.execute(QUERIES[name].oracle).fetchdf()) for name in QUERY_LIST}
    with open(HASHES, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

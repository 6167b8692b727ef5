"""Recompute the stored DuckDB oracle answers of the query suite.

    python3 perfbench/make_oracles.py

Runs each query's oracle_sql() twin on DuckDB over perfbench/data/sf0.1
and writes perfbench/oracles/<name>.parquet. The answers are stored
because the 13 oracles take about a minute in DuckDB; rerun this after
a change to a query's oracle SQL or to the data copy.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from gpiv_spark.queries import RETIRED
    from perfbench.child import DATA_DIR, ORACLE_DIR
    from perfbench.inputs import QUERY_NAMES

    oracles = dict(entry.oracle_sql())
    oracles.update({n: q.oracle for n, q in RETIRED.items() if q.oracle is not None})
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA_DIR / t}.parquet')")
    ORACLE_DIR.mkdir(exist_ok=True)
    for name in QUERY_NAMES:
        t0 = time.time()
        df = con.execute(oracles[name]).df()
        df.to_parquet(ORACLE_DIR / f"{name}.parquet", index=False)
        print(f"{name}: {len(df)} rows [{time.time() - t0:.1f}s]")
    return 0


if __name__ == "__main__":
    sys.exit(main())

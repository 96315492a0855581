"""Result check against the DuckDB oracle.

The comparator is the project's own ``scripts/oracle_check.py`` (its
``vhash`` normalizer), imported rather than copied. That script reads
its data directory from ``sys.argv[1]`` at import time and exports it
as ``ORACLE_SF_DIR`` for the numpy-computed oracles, so it is loaded
with the benchmark's data directory in that slot.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from env import ROOT


def load_comparator(data_dir: str):
    path = os.path.join(ROOT, "scripts", "oracle_check.py")
    saved = sys.argv
    sys.argv = [path, data_dir]
    try:
        spec = importlib.util.spec_from_file_location("oracle_check", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.argv = saved
    return mod


class Oracle:
    """Expected hashes for query keys, computed by DuckDB over the same
    parquet files the Spark side reads."""

    def __init__(self, data_dir: str):
        import duckdb

        import __spark_entry__ as entry

        self.cmp = load_comparator(data_dir)
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in self.cmp.TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )

    def expected(self, key: str) -> str:
        rel = self.con.sql(self.sql[key])
        return self.cmp.vhash([d[0] for d in rel.description], rel.fetchall())

    def hash(self, columns, rows) -> str:
        return self.cmp.vhash(columns, rows)

    def close(self) -> None:
        self.con.close()

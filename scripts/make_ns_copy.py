"""Materialize an NS-typed copy of a testdata SF dir.

The driver's parquet stores timestamps as TIMESTAMP(NANOS) while the
local testdata is TIMESTAMP(MICROS) — a physical-layout difference the
timezone/normalizer sweeps cannot see (µs reads as TIMESTAMP_NTZ; NANOS
only reads via the ``nanosAsLong`` conf as a bigint that the catalog
must rebuild). This script pyarrow-casts every timestamp column of
every table to ``timestamp[ns]`` so the full oracle sweep can run over
the driver's actual physical layout, e.g.:

    python scripts/make_ns_copy.py /root/testdata/sf0.01
    ORACLE_TZ=America/New_York python scripts/oracle_check.py .nsdata/sf0.01

Usage: python scripts/make_ns_copy.py [src_sf_dir] [dst_dir]
(dst_dir defaults to ``.nsdata/sf0.01`` in this checkout)
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streaming_demos_spark.schemas import TESTDATA_TABLES  # noqa: E402


def ns_schema(schema: pa.Schema) -> pa.Schema:
    fields = []
    for f in schema:
        if pa.types.is_timestamp(f.type):
            fields.append(pa.field(f.name, pa.timestamp("ns", tz=f.type.tz)))
        else:
            fields.append(f)
    return pa.schema(fields)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    dst = (sys.argv[2] if len(sys.argv) > 2
           else os.path.join(REPO, ".nsdata", "sf0.01"))
    os.makedirs(dst, exist_ok=True)
    for t in TESTDATA_TABLES:
        tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
        target = ns_schema(tbl.schema)
        if target != tbl.schema:
            tbl = tbl.cast(target)
        # store_schema=False drops the pandas/arrow schema metadata so
        # readers see the plain parquet TIMESTAMP(NANOS) logical type,
        # matching the driver's files.
        pq.write_table(tbl, os.path.join(dst, f"{t}.parquet"),
                       store_schema=False)
        casted = [f.name for f in target if pa.types.is_timestamp(f.type)]
        print(f"{t}: {len(tbl)} rows, ns-cast cols {casted}", flush=True)


if __name__ == "__main__":
    main()

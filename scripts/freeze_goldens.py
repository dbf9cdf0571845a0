"""Freeze golden-row oracles for the six deterministic but not
SQL-expressible queries: terra_tiles, zemlya_tiles, tiles_obj,
points_mesh, curvature_tiles and h3_global.

The kernels are fully deterministic (MT19937(42) insertion order, fixed
tie rules — SURVEY §2.7), so their outputs on a FIXED input are stable
constants. This script runs each query at the test scale factors and
writes the rows to tin_terrain_spark/goldens.json keyed by an md5
fingerprint of the documents table; queries.py turns the file into a
fingerprint-dispatched VALUES oracle (wrong/unknown input data selects
no golden set and fails the gate loudly instead of silently passing).

Rerun after any intentional kernel-semantics change:
    python scripts/freeze_goldens.py
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tin_terrain_spark",
    "goldens.json",
)


def fingerprint(sf_dir: str) -> str:
    return duckdb.sql(
        f"SELECT md5(string_agg(text, '|' ORDER BY doc_id)) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return repr(v)  # exact round-trip decimal string
    return int(v)


def main() -> None:
    import __spark_entry__ as E
    from tin_terrain_spark.session import get_spark

    spark = get_spark("freeze_goldens", cores=8)
    qs = E.queries()
    golden: dict[str, dict] = {}
    for name in ["terra_tiles", "zemlya_tiles", "tiles_obj", "points_mesh", "curvature_tiles", "h3_global"]:
        fn = qs[name]
        per_fp = {}
        cols = None
        for sf_dir in SF_DIRS:
            df = fn(spark, sf_dir)
            # boolean columns are oracled as literal TRUE in
            # queries._golden_oracle_sql (independent invariants), never
            # frozen — freezing them would make them self-referential
            df = df.drop(
                *[f.name for f in df.schema.fields if f.dataType.simpleString() == "boolean"]
            )
            cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            rows = [
                [canon(v) for v in row]
                for row in sorted(
                    (tuple(r) for r in df.collect()), key=lambda t: t[:3]
                )
            ]
            per_fp[fingerprint(sf_dir)] = rows
            print(f"{name} @ {sf_dir}: {len(rows)} rows frozen")
        golden[name] = {"columns": cols, "by_fingerprint": per_fp}
    with open(OUT, "w") as f:
        json.dump(golden, f, indent=1)
    print(f"wrote {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()

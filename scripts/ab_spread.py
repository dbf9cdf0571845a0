"""Same-window A/B of the _docs scan spread for selected queries.

For each query, alternates REPS pairs of (spread-on, spread-off)
executions in ONE session — back-to-back pairs cancel the host's
stall band far better than separate runs. spread-off is forced by
monkeypatching _docs to ignore spread=True; the underlying query
code is otherwise identical.

Usage:
    SPARK_GRAFT_SF_DIR=... python scripts/ab_spread.py q1 q2 ...
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("REPS", "4"))
    names = sys.argv[1:]

    import bench as B
    from tin_terrain_spark import queries as Q
    from tin_terrain_spark import queries_ext as QE
    from tin_terrain_spark.session import get_spark

    spark = get_spark("ab_spread", cores=cores)

    # warm-up (same as bench.py)
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.meshing import mesh_tiles

    warm_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    warm = geocode_points(warm_docs, zoom=1, grid_bits=5)
    mesh_tiles(warm, zoom=1, method="terra", max_error=2.0).count()

    orig_docs = Q._docs

    def docs_nospread(spark, sf_dir, spread=True):
        return orig_docs(spark, sf_dir, spread=False)

    def rows_digest(df):
        """Order-free digest of the result rows: a spread only
        reorders, so on and off must agree row for row."""
        rows = sorted(repr(tuple(r)) for r in df.collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    qs = B.bench_queries()
    out = {}
    for name in names:
        _cat, fn = qs[name]
        on, off, digest_on, digest_off = [], [], None, None
        for _ in range(reps):
            for variant in ("on", "off"):
                if variant == "off":
                    Q._docs = docs_nospread
                    QE._docs = docs_nospread
                try:
                    t0 = time.time()
                    df = fn(spark, sf_dir)
                    df.count()
                    dt = time.time() - t0
                    digest = rows_digest(df)
                finally:
                    Q._docs = orig_docs
                    QE._docs = orig_docs
                spark.catalog.clearCache()
                if variant == "on":
                    on.append(round(dt, 3))
                    digest_on = digest
                else:
                    off.append(round(dt, 3))
                    digest_off = digest
        out[name] = {
            "on_min": min(on), "off_min": min(off),
            "on": on, "off": off,
            "rows_equal": digest_on == digest_off,
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

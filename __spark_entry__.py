"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship dem2tintiles-style pipeline on sf0.001 —
geocode pages → tile keys → per-tile Terra TIN meshing → tile records.

queries()/oracle_sql(): operator catalog from SURVEY.md §2, returned as
copies of the two dicts that tin_terrain_spark.queries.register fills
(one call per query, in queries.py and queries_ext.py, so both dicts
have the same keys). Oracle SQL is generated from the same templates
as the Spark plans (tin_terrain_spark/functions/geocode_exprs.py) so
values are bit-identical across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: terra-mesh the geocoded
    pages at zoom 1 and return the tile records."""
    from tin_terrain_spark.operators.geocode import geocode_points
    from tin_terrain_spark.operators.meshing import mesh_tiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pts = geocode_points(docs, zoom=1, grid_bits=5)
    return mesh_tiles(pts, zoom=1, grid_bits=5, method="terra", max_error=2.0).drop("terrain")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from tin_terrain_spark import queries as Q
    from tin_terrain_spark import queries_ext  # noqa: F401 — registers the rest

    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    from tin_terrain_spark import queries as Q
    from tin_terrain_spark import queries_ext  # noqa: F401 — registers the rest

    return dict(Q.ORACLES)

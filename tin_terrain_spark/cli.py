"""Command-line front-end mirroring the reference CLI surface.

The reference is driven as `tin-terrain <subcommand>` (src/cmd.cpp:
dem2tin, dem2tintiles, benchmark); a user switching engines keeps the
same verbs and flags here:

    python -m tin_terrain_spark dem2tin --input dem.tif --output m.obj \
        --method terra --max-error 2.0
    python -m tin_terrain_spark dem2tintiles --input 'granules/*.tif' \
        --output-dir tiles/ --min-zoom 0 --max-zoom 8 --method terra
    python -m tin_terrain_spark benchmark --input 'granules/*.tif' \
        --output-dir bench/ --zoom 4

dem2tin is the reference's single-raster tool and runs driver-side
(one file → one mesh, no cluster needed). dem2tintiles and benchmark
run on Spark: input globs fan out file-per-task (GeoTIFF/ASC/XYZ via
sources.geotiff/textgrids; a documents parquet geocodes synthetically)
and every zoom level reuses the mesh_tiles operator — the same code
path the driver-gated queries exercise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

METHODS = ("terra", "zemlya", "dense", "curvature")


def _cells_for(spark, input_glob: str):
    """Input dispatch by extension: real rasters/points → (x, y, z)
    cells; a documents parquet → synthetic geocode (the web-table
    path)."""
    ext = os.path.splitext(input_glob)[1].lower()
    if ext in (".tif", ".tiff"):
        from .sources.geotiff import geotiff_cells

        return geotiff_cells(spark, input_glob), False
    if ext == ".asc":
        from .sources.textgrids import asc_cells

        return asc_cells(spark, input_glob), False
    if ext == ".xyz":
        from .sources.textgrids import xyz_cells

        return xyz_cells(spark, input_glob), False
    if ext == ".parquet":
        return spark.read.parquet(input_glob), True
    raise SystemExit(f"unsupported input {input_glob!r} "
                     "(expect .tif/.asc/.xyz glob or documents .parquet)")


def cmd_dem2tin(args) -> dict:
    from .pipeline.dem2tin import dem2tin

    out = dem2tin(
        args.input, args.output, method=args.method,
        max_error=args.max_error, step=args.step, fmt=args.output_format,
    )
    print(json.dumps(out))
    return out


def cmd_dem2tintiles(args) -> dict:
    from .session import get_spark

    spark = get_spark("dem2tintiles", cores=args.cores)
    try:
        src, is_docs = _cells_for(spark, args.input)
        catalog = None
        if args.catalog_path:
            from .sources.iceberg import tile_catalog

            catalog = tile_catalog(spark, local_path=args.catalog_path)
        if is_docs:
            from .pipeline.dem2tintiles import build_tile_pyramid

            manifest = build_tile_pyramid(
                spark, src, args.output_dir,
                min_zoom=args.min_zoom, max_zoom=args.max_zoom,
                grid_bits=args.grid_bits, buffer_cells=args.buffer_cells,
                method=args.method, max_error=args.max_error,
                catalog=catalog,
            )
        else:
            manifest = _raster_pyramid(src, args, catalog)
        print(json.dumps({str(z): e for z, e in sorted(manifest.items())}))
        return manifest
    finally:
        spark.stop()


def _raster_pyramid(cells, args, catalog) -> dict:
    """Real-coordinate pyramid: per zoom, key the (x, y, z) cells and
    run the shared mesh_tiles operator (the reference's per-zoom
    overview loop, driven from the same points each level)."""
    from .operators.meshing import mesh_tiles
    from .pipeline.dem2tintiles import write_zoom
    from .sources.geotiff import assign_tile_keys

    cells = cells.persist()
    manifest: dict[int, dict] = {}
    try:
        for zoom in range(args.max_zoom, args.min_zoom - 1, -1):
            keyed = assign_tile_keys(cells, zoom=zoom, grid_bits=args.grid_bits)
            tiles = mesh_tiles(
                keyed, zoom=zoom, grid_bits=args.grid_bits,
                buffer_cells=args.buffer_cells, method=args.method,
                max_error=args.max_error if args.max_error is not None else 2.0,
                step=args.step,
            )
            zdir = os.path.join(args.output_dir, f"zoom={zoom}")
            n_tiles = write_zoom(tiles, zoom, zdir, catalog)
            manifest[zoom] = {"zoom": zoom, "n_tiles": n_tiles, "method": args.method}
    finally:
        cells.unpersist()
    return manifest


def cmd_benchmark(args) -> list:
    from .pipeline.benchmark import run_benchmark_sweep
    from .session import get_spark
    from .sources.geotiff import assign_tile_keys

    spark = get_spark("benchmark", cores=args.cores)
    try:
        src, is_docs = _cells_for(spark, args.input)
        if is_docs:
            from .operators.geocode import geocode_points

            pts = geocode_points(src, zoom=args.zoom, grid_bits=args.grid_bits)
        else:
            pts = assign_tile_keys(src, zoom=args.zoom, grid_bits=args.grid_bits)
        rows = run_benchmark_sweep(
            pts, args.zoom, args.output_dir,
            input_name=os.path.basename(args.input),
            grid_bits=args.grid_bits,
        )
        print(json.dumps({"rows_written": len(rows), "out": args.output_dir}))
        return rows
    finally:
        spark.stop()


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="tin_terrain_spark",
        description="PySpark-native TIN terrain engine (reference CLI parity)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    d1 = sub.add_parser("dem2tin", help="single raster → single mesh file")
    d1.add_argument("--input", required=True)
    d1.add_argument("--output", required=True)
    d1.add_argument("--method", choices=METHODS, default="terra")
    d1.add_argument("--max-error", type=float, default=2.0)
    d1.add_argument("--step", type=int, default=1)
    d1.add_argument("--output-format", default="auto",
                    help="obj|off|terrain|geojson|asc (default: by extension)")
    d1.set_defaults(fn=cmd_dem2tin)

    d2 = sub.add_parser("dem2tintiles", help="input glob → tile pyramid")
    d2.add_argument("--input", required=True,
                    help=".tif/.asc/.xyz glob or documents .parquet")
    d2.add_argument("--output-dir", required=True)
    d2.add_argument("--min-zoom", type=int, default=0)
    d2.add_argument("--max-zoom", type=int, default=4)
    d2.add_argument("--method", choices=METHODS, default="terra")
    d2.add_argument("--max-error", type=float, default=None)
    d2.add_argument("--step", type=int, default=2)
    d2.add_argument("--grid-bits", type=int, default=5)
    d2.add_argument("--buffer-cells", type=int, default=2)
    d2.add_argument("--catalog-path", default=None,
                    help="tile-catalog dir (MERGE-resume sink)")
    d2.add_argument("--cores", type=int, default=8)
    d2.set_defaults(fn=cmd_dem2tintiles)

    d3 = sub.add_parser("benchmark", help="method x param sweep → StatsRow CSV")
    d3.add_argument("--input", required=True)
    d3.add_argument("--output-dir", required=True)
    d3.add_argument("--zoom", type=int, default=2)
    d3.add_argument("--grid-bits", type=int, default=5)
    d3.add_argument("--cores", type=int, default=8)
    d3.set_defaults(fn=cmd_benchmark)
    return p


def main(argv=None):
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(0 if main() is not None else 1)

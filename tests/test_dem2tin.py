"""dem2tin whole-raster export (cmd.cpp:268-420): GeoTIFF in, one mesh
file out — including the NON-rescaled quantized-mesh branch
(QuantizedMeshIO.cpp:320-507, mesh_is_rescaled=false)."""

from __future__ import annotations

import numpy as np
import pytest

from tin_terrain_spark.kernels.raster import Grid
from tin_terrain_spark.operators.meshing import generate_tin
from tin_terrain_spark.pipeline.dem2tin import dem2tin, write_mesh_file
from tin_terrain_spark.sources.geotiff import write_geotiff


@pytest.fixture()
def tif(tmp_path):
    rng = np.random.RandomState(5)
    z = rng.rand(40, 40) * 60
    g = Grid(z, xpos=500.0, ypos=800.0, cellsize=10.0, ndv=-9999.0)
    p = str(tmp_path / "dem.tif")
    write_geotiff(g, p)
    return p


def test_dem2tin_obj(tif, tmp_path):
    out = str(tmp_path / "mesh.obj")
    s = dem2tin(tif, out, method="terra", max_error=1.0)
    assert s["format"] == "obj" and s["n_faces"] > 2
    from tin_terrain_spark.kernels.meshio import parse_obj

    verts, faces = parse_obj(open(out).read())
    assert len(verts) == s["n_vertices"] and len(faces) == s["n_faces"]
    # world coordinates preserved (not unit-rescaled)
    assert verts[:, 0].min() >= 500.0 and verts[:, 0].max() > 600.0


def test_dem2tin_terrain_nonrescaled(tif, tmp_path):
    out = str(tmp_path / "mesh.terrain")
    s = dem2tin(tif, out, method="zemlya", max_error=2.0)
    assert s["format"] == "terrain"
    from tin_terrain_spark.kernels.codec import decode_qm_tile, dequantize_coordinate

    t = decode_qm_tile(open(out, "rb").read())
    assert len(t.faces) == s["n_faces"]
    # non-rescaled branch: header center = world bbox center (pixel
    # centers span 505..895 on both axes for this 40x40/cs=10 raster),
    # heights are WORLD heights (not 0..1)
    assert -0.01 <= t.min_height and t.max_height <= 60.01 and t.max_height > 30.0
    xs = dequantize_coordinate(t.u, 505.0, 895.0)
    assert xs.min() == 505.0 and xs.max() == 895.0


def test_dem2tin_dense_and_auto_geojson(tif, tmp_path):
    out = str(tmp_path / "mesh.geojson")
    s = dem2tin(tif, out, method="dense", step=4)
    assert s["format"] == "geojson"
    import json

    j = json.loads(open(out).read())
    polys = [f for f in j["features"] if f["geometry"]["type"] != "Point"]
    assert len(polys) == s["n_faces"]
    assert len(j["features"]) == s["n_faces"] + s["n_vertices"]


def test_unknown_format_is_loud(tif, tmp_path):
    with pytest.raises(ValueError, match="cannot infer"):
        dem2tin(tif, str(tmp_path / "mesh.xyz9"))
    with pytest.raises(ValueError, match="unknown output format"):
        write_mesh_file(np.zeros((3, 3)), np.array([[0, 1, 2]]), "x", fmt="stl")
    with pytest.raises(ValueError, match="unknown meshing method"):
        generate_tin(Grid(np.zeros((4, 4))), "delaunay", 1.0, 1)

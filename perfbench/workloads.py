"""The benchmark workloads: generated pages in, a fully materialized sink out.

Each workload has
  write_inputs  the seeded pages;
  run           the untraced pipeline, timed as one iteration;
  verify        the output check, outside the timed window: the first
                iteration against an independent brute-force or
                re-derived answer, later ones against the first;
  traced        the same pipeline split at layer boundaries, each
                layer's output persisted and written to `noop` before
                the next layer starts, with a span per layer.
"""

from __future__ import annotations

import functools
import hashlib
import os
from collections import Counter
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, functions as F

from tin_terrain_spark.kernels.codec import decode_qm_tile
from tin_terrain_spark.operators import dedup as D, htmlops as H, joins as J
from tin_terrain_spark.operators.geocode import geocode_points
from tin_terrain_spark.operators.meshing import base_cells, cell_grid
from tin_terrain_spark.operators.sinks import write_tile_store
from tin_terrain_spark.pipeline.dem2tintiles import build_tile_pyramid

import gen
import sqlmetrics as SM


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@contextmanager
def described(spark, desc: str | None):
    """Label the SQL executions of the block, so checks and counters
    can find them in the status store."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def noop(df: DataFrame, desc: str | None = None) -> None:
    with described(df.sparkSession, desc):
        df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    noop(df)
    return df


def digest(rows) -> str:
    """Order-independent digest of collected rows."""
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


QM_MAX = 32767  # quantized-mesh coordinate range


def tile_ok(row, grid_bits: int) -> bool:
    """A written tile decodes to the counts its row states, obeys the
    Euler bound f <= 2v - 4, and its triangles tile the unit square: the
    signed areas in quantized coordinates (exact integers) sum to the
    square's area, so there is no hole and no overlap. Triangles are
    clipped to the tile one by one, so a vertex on a shared edge may be
    computed twice and quantize apart, leaving a sliver; the sum may
    differ by up to an eighth of a grid cell, well below the smallest
    triangle a missing or doubled face would remove or add."""
    t = decode_qm_tile(bytes(row["terrain"]))
    u, v, f = t.u, t.v, t.faces
    if len(u) != row["n_vertices"] or len(f) != row["n_faces"] or len(f) > 2 * len(u) - 4:
        return False
    if min(u.min(), v.min()) < 0 or max(u.max(), v.max()) > QM_MAX:
        return False
    a, b, c = f[:, 0], f[:, 1], f[:, 2]
    area2 = (u[b] - u[a]) * (v[c] - v[a]) - (u[c] - u[a]) * (v[b] - v[a])
    square2 = 2 * QM_MAX * QM_MAX
    return abs(int(area2.sum()) - square2) * 8 * 4**grid_bits <= square2


class Workload:
    name = ""
    unit = ""
    why = ""
    copies = 1
    n_base = gen.N_BASE
    edit = False
    warm_iterations = 1  # untimed, before the timed ones

    def __init__(self, seed: int):
        self.seed = seed
        self.expected: dict = {}
        # per-seed facts the first check finds, reported as layer metrics
        self.findings: dict = {}
        # input and output sizes of the run, printed with its parameters
        self.sizes: dict = {}

    def write_inputs(self, pages: str) -> int:
        n = gen.write_pages(pages, self.seed, self.copies, self.n_base, self.edit)
        self.sizes["pages"] = n
        return n

    def run(self, spark, pages, out):  # -> (units, result handle)
        raise NotImplementedError

    def verify(self, spark, pages, out, result, rows: list, first: bool) -> None:
        raise NotImplementedError

    def traced(self, spark, pages, out, tracer, status) -> tuple[int, object, dict]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# pyramid: the flagship tile-pyramid build, the only workload that writes
# --------------------------------------------------------------------------


class Pyramid(Workload):
    name = "pyramid"
    unit = "tiles"
    why = (
        "flagship build_tile_pyramid (terra, zooms 0-4) to a parquet tile store: mesh kernel, "
        "Arrow boundary, per-zoom driver jobs, the only writer; bypasses spatial joins and dedup"
    )
    copies = 8
    # with one, the first timed iteration ran a median 20 % slower than the third
    warm_iterations = 2
    max_zoom = 4
    grid_bits = 5
    buffer_cells = 2

    def run(self, spark, pages, out):
        docs = spark.read.parquet(pages)
        manifest = build_tile_pyramid(
            spark, docs, out, 0, self.max_zoom, self.grid_bits,
            self.buffer_cells, method="terra", resume=False,
        )
        return sum(e["n_tiles"] for e in manifest.values()), manifest

    def _written(self, spark, out) -> list:
        zooms = [
            spark.read.parquet(os.path.join(out, f"zoom={z}"))
            .select("zoom", "tile_x", "tile_y", "n_vertices", "n_faces", "terrain")
            for z in range(self.max_zoom + 1)
        ]
        return functools.reduce(DataFrame.unionAll, zooms).collect()

    def verify(self, spark, pages, out, manifest, rows, first):
        written = self._written(spark, out)
        for z, e in manifest.items():
            n = sum(1 for r in written if r["zoom"] == z)
            check(n == e["n_tiles"], f"pyramid: zoom {z} wrote {n} tiles, manifest says {e['n_tiles']}")
        d = digest(
            (r["zoom"], r["tile_x"], r["tile_y"], r["n_vertices"], r["n_faces"],
             hashlib.sha256(bytes(r["terrain"])).hexdigest())
            for r in written
        )
        if not first:
            check(d == self.expected["digest"], "pyramid: tile digest changed between iterations")
            return
        self.expected["digest"] = d
        self.sizes["tiles"] = len(written)
        bad = [(r["zoom"], r["tile_x"], r["tile_y"]) for r in written
               if not tile_ok(r, self.grid_bits)]
        check(not bad, f"pyramid: {len(bad)} tiles fail decode/Euler/cover checks, e.g. {bad[:3]}")
        want = self._expected_keys(spark, pages)
        check(want == {(r["zoom"], r["tile_x"], r["tile_y"]) for r in written},
              "pyramid: tile keys differ from the tiles the points and buffers reach")

    def _expected_keys(self, spark, pages) -> set:
        """Tiles every zoom must have, derived in NumPy from the occupied
        grid cells at the top zoom: coarser cells are a bit shift, and a
        cell within `buffer_cells` of a tile edge also feeds the
        neighbouring tile."""
        cells = (
            geocode_points(spark.read.parquet(pages).select("doc_id"),
                           zoom=self.max_zoom, grid_bits=self.grid_bits, with_dem_z=False)
            .select("cell_x", "cell_y").distinct().toPandas().to_numpy()
        )
        g, b = 1 << self.grid_bits, self.buffer_cells
        keys = set()
        for z in range(self.max_zoom + 1):
            c = np.unique(cells >> (self.max_zoom - z), axis=0)
            tile = c // g
            local = c - tile * g
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    sel = np.ones(len(c), dtype=bool)
                    for d, axis in ((dx, 0), (dy, 1)):
                        if d == -1:
                            sel &= local[:, axis] < b
                        elif d == 1:
                            sel &= local[:, axis] >= g - b
                    t = tile[sel] + np.array([dx, dy])
                    t = t[((t >= 0) & (t < (1 << z))).all(axis=1)]
                    keys.update((z, int(x), int(y)) for x, y in t)
        return keys

    def traced(self, spark, pages, out, tracer, status):
        m: dict = {}
        with tracer.span("sources.scan") as s:
            docs = materialize(spark.read.parquet(pages))
        m["sources.scan_s"] = s["end"] - s["start"]
        m["sources.rows_read"] = docs.count()
        with tracer.span("geocode") as s:
            pts = materialize(geocode_points(docs, zoom=self.max_zoom, grid_bits=self.grid_bits))
        m["geocode.s"] = s["end"] - s["start"]
        m["geocode.points"] = pts.count()
        with tracer.span("meshing.base_cells") as s:
            base = materialize(base_cells(pts))
        m["meshing.base_cells_s"] = s["end"] - s["start"]
        m["meshing.grid_rows"] = cell_grid(
            None, self.max_zoom, self.grid_bits, self.buffer_cells, cells=base
        ).count()
        with tracer.span("meshing.pyramid"):
            manifest = build_tile_pyramid(
                spark, docs, out, 0, self.max_zoom, self.grid_bits,
                self.buffer_cells, method="terra", resume=False,
            )
        m["meshing.top_zoom_s"] = manifest[self.max_zoom]["seconds"]
        m["meshing.low_zooms_s"] = sum(
            e["seconds"] for z, e in manifest.items() if z != self.max_zoom
        )
        top = materialize(spark.read.parquet(os.path.join(out, f"zoom={self.max_zoom}")))
        with tracer.span("sinks.write_tile_store") as s:
            write_tile_store(top, os.path.join(out, "_store"))
        m["sinks.write_s"] = s["end"] - s["start"]
        return sum(e["n_tiles"] for e in manifest.values()), manifest, m


# --------------------------------------------------------------------------
# spatial_join: pure-JVM joins over geocoded points
# --------------------------------------------------------------------------

ZOOM = 3
GRID_BITS = 5
KNN_K = 5
KNN_SAMPLE = 24


class SpatialJoin(Workload):
    """Box and convex point-in-polygon plus many-query kNN, each into a
    noop sink: pure JVM joins and shuffles."""

    copies = 20

    def _points(self, docs):
        return geocode_points(docs.select("doc_id"), zoom=ZOOM, grid_bits=GRID_BITS, with_dem_z=False)

    def _knn(self, pts):
        queries = pts.filter(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("q_id"), "x", "y", "cell_x", "cell_y"
        )
        return J.knn_ring(
            pts.filter(F.col("doc_id") % 10 != 0), queries, ZOOM, GRID_BITS,
            k=KNN_K, cell_join="shuffle",
        )

    def run(self, spark, pages, out):
        docs = spark.read.parquet(pages)
        pts = self._points(docs)
        noop(J.pip_join(pts, J.polygons_df(spark), ZOOM), "pip")
        noop(J.pip_convex_join(pts, J.convex_polygons_df(spark)), "pip_convex")
        with described(spark, "knn"):
            knn = self._knn(pts)
        noop(knn, "knn_sink")
        return self.n_points, knn

    @property
    def n_points(self) -> int:
        return self.copies * self.n_base

    def _brute(self, pts, polys, edges, qids):
        """Independent answers in NumPy on the driver: the box and
        convex point-in-polygon pairs by testing every point against
        every polygon, and knn_brute's contract for the sampled
        queries (the k points with doc_id % 10 != 0 of smallest
        (dist2, doc_id))."""
        ids, x, y = pts["doc_id"].to_numpy(), pts["x"].to_numpy(), pts["y"].to_numpy()

        def in_box(p):
            return (x >= p["pmin_x"]) & (x <= p["pmax_x"]) & (y >= p["pmin_y"]) & (y <= p["pmax_y"])

        box = set()
        for p in polys.collect():
            box.update((p["poly_id"], int(d)) for d in ids[in_box(p)])
        convex = set()
        for pid, e in edges.toPandas().groupby("poly_id"):
            inside = in_box(e.iloc[0])
            for _, r in e.iterrows():
                cross = (r["ex2"] - r["ex1"]) * (y - r["ey1"]) - (r["ey2"] - r["ey1"]) * (x - r["ex1"])
                inside &= cross >= 0
            convex.update((int(pid), int(d)) for d in ids[inside])
        knn = []
        cand = ids % 10 != 0
        cid, cx, cy = ids[cand], x[cand], y[cand]
        for q in sorted(qids):
            i = np.nonzero(ids == q)[0][0]
            d2 = (cx - x[i]) * (cx - x[i]) + (cy - y[i]) * (cy - y[i])
            order = np.lexsort((cid, d2))[:KNN_K]
            knn += [(q, int(cid[j]), rank + 1, float(d2[j])) for rank, j in enumerate(order)]
        return box, convex, knn

    def verify(self, spark, pages, out, knn, rows, first):
        sizes = {}
        for desc in ("pip", "pip_convex", "knn_sink"):
            got = SM.root_output_rows([r for r in rows if r.description == desc])
            check(len(got) == 1, f"spatial_join: expected one {desc} sink execution, saw {len(got)}")
            sizes[desc] = got[0]
        knn_rows = knn.select("q_id", "doc_id", "rank", "dist2").collect()
        n_queries = len({r["q_id"] for r in knn_rows})
        check(len(knn_rows) == KNN_K * n_queries and sizes["knn_sink"] == len(knn_rows),
              "spatial_join: kNN did not return k rows per query")
        d = digest(knn_rows)
        if first:
            qids = set(sorted({r["q_id"] for r in knn_rows})[:KNN_SAMPLE])
            pts = self._points(spark.read.parquet(pages))
            polys, edges = J.polygons_df(spark), J.convex_polygons_df(spark)
            box, convex, knn_ref = self._brute(
                pts.select("doc_id", "x", "y").toPandas(), polys, edges, qids
            )
            got_box = {(r[0], r[1]) for r in J.pip_join(pts, polys, ZOOM)
                       .select("poly_id", "doc_id").collect()}
            check(got_box == box and sizes["pip"] == len(box),
                  "spatial_join: pip_join differs from the brute-force filter")
            got_cvx = {(r[0], r[1]) for r in J.pip_convex_join(pts, edges).collect()}
            check(got_cvx == convex and sizes["pip_convex"] == len(convex),
                  "spatial_join: pip_convex_join differs from the brute-force filter")
            mine = [r for r in knn_rows if r["q_id"] in qids]
            check(digest(mine) == digest(knn_ref),
                  "spatial_join: knn_ring differs from brute-force kNN")
            self.expected.update(sizes=sizes, knn=d)
            self.sizes.update(points=self.n_points, pip_pairs=sizes["pip"],
                              pip_convex_pairs=sizes["pip_convex"], knn_rows=sizes["knn_sink"])
        else:
            check(sizes == self.expected["sizes"] and d == self.expected["knn"],
                  "spatial_join: outputs changed between iterations")

    def traced(self, spark, pages, out, tracer, status):
        m: dict = {}
        with tracer.span("sources.scan") as s:
            docs = materialize(spark.read.parquet(pages).select("doc_id"))
        m["sources.scan_s"] = s["end"] - s["start"]
        m["sources.rows_read"] = docs.count()
        with tracer.span("geocode") as s:
            pts = materialize(self._points(docs))
        m["geocode.s"] = s["end"] - s["start"]
        m["geocode.points"] = pts.count()
        with tracer.span("joins.pip") as s:
            noop(J.pip_join(pts, J.polygons_df(spark), ZOOM), "pip")
        m["joins.pip_s"] = s["end"] - s["start"]
        with tracer.span("joins.pip_convex") as s:
            noop(J.pip_convex_join(pts, J.convex_polygons_df(spark)), "pip_convex")
        m["joins.pip_convex_s"] = s["end"] - s["start"]
        mark = status.mark()
        with tracer.span("joins.knn") as s:
            with described(spark, "knn"):
                knn = self._knn(pts)
            noop(knn, "knn_sink")
        m["joins.knn_s"] = s["end"] - s["start"]
        m["joins.knn_jobs"] = status.jobs_since(mark)
        return self.n_points, knn, m


# --------------------------------------------------------------------------
# webtext_dedup: HTML extraction, near-duplicate pairs, connected components
# --------------------------------------------------------------------------


# LSH may leave a family split, which costs a few percent of the pairs;
# losing more means near-duplicates went unmerged
MIN_RECALL = 0.9


def shingles(text: str, n: int = D.NGRAM) -> set:
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def exact_components(texts: dict, family: dict, threshold: float = 0.5) -> dict:
    """Union-find over every within-family pair whose exact shingle
    Jaccard (rounded to 6 places, as near_dup_pairs does) reaches the
    threshold. Returns doc_id -> component root."""
    parent = {d: d for d in texts}

    def find(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    by_family: dict[int, list] = {}
    for d in sorted(texts):
        by_family.setdefault(family[d], []).append(d)
    for docs in by_family.values():
        sh = [shingles(texts[d]) for d in docs]
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                inter = len(sh[i] & sh[j])
                if inter and round(inter / (len(sh[i]) + len(sh[j]) - inter), 6) >= threshold:
                    parent[find(docs[j])] = find(docs[i])
    return {d: find(d) for d in texts}


class WebtextDedup(Workload):
    """Near-duplicate page families through HTML extraction (a
    mapInPandas stage), near_dup_pairs and connected components (an
    iterative driver loop), then a keep/drop join into a noop sink."""

    copies = 16
    n_base = 32
    edit = True

    @staticmethod
    def _bodies(docs):
        ex = H.extract_html(H.synth_html(docs))
        return ex, ex.select("doc_id", F.split("extracted", "\n").getItem(1).alias("text"))

    @staticmethod
    def _keep(docs, cc):
        cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        return docs.select("doc_id").join(cc.select("doc_id", "cluster_id"), "doc_id", "left").select(
            "doc_id", cid.alias("cluster_id"), (cid == F.col("doc_id")).alias("keep")
        )

    def run(self, spark, pages, out):
        docs = spark.read.parquet(pages)
        _, bodies = self._bodies(docs)
        pairs = D.near_dup_pairs(bodies).select("doc_a", "doc_b")
        cc = D.connected_components(pairs)
        keep = self._keep(docs, cc)
        noop(keep, "keep")
        return self.copies * self.n_base, keep

    def verify(self, spark, pages, out, keep, rows, first):
        got = SM.root_output_rows([r for r in rows if r.description == "keep"])
        n = self.copies * self.n_base
        check(got == [n], f"webtext_dedup: keep sink saw {got} rows, expected {n}")
        kept = keep.collect()
        check(len(kept) == n, f"webtext_dedup: {len(kept)} keep rows, expected {n}")
        members: dict[int, list] = {}
        for r in kept:
            members.setdefault(r["cluster_id"], []).append(r["doc_id"])
        check(all(c == min(m) for c, m in members.items())
              and all(r["keep"] == (r["doc_id"] == r["cluster_id"]) for r in kept),
              "webtext_dedup: keep is not the minimum doc_id of its cluster")
        fam = {d: gen.family_of(d, self.seed, self.n_base) for d in (r["doc_id"] for r in kept)}
        check(all(len({fam[d] for d in m}) == 1 for m in members.values()),
              "webtext_dedup: a cluster mixes pages of unrelated families")
        d = digest((r["doc_id"], r["cluster_id"], r["keep"]) for r in kept)
        if not first:
            check(d == self.expected["digest"], "webtext_dedup: clusters changed between iterations")
            return
        self.expected["digest"] = d
        docs = spark.read.parquet(pages)
        ex, _ = self._bodies(docs)
        joined = ex.join(docs.select("doc_id", "text"), "doc_id")
        body = F.split(F.col("extracted"), "\n").getItem(1)
        check(joined.count() == n and joined.filter(~body.eqNullSafe(F.col("text"))).count() == 0,
              "webtext_dedup: extracted body text differs from the input text")
        # every merge must be backed by exact near-duplicates: each
        # cluster lies inside one component of the exact-Jaccard graph
        texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
        root = exact_components(texts, fam)
        check(all(len({root[d] for d in m}) == 1 for m in members.values()),
              "webtext_dedup: a cluster joins pages that are not near-duplicates")
        # and most exact near-duplicates must be merged: recall is the
        # share of same-component pairs that share a cluster (clusters
        # lie inside components, so those are all the clusters' pairs)
        exact_pairs = sum(c * (c - 1) // 2 for c in Counter(root.values()).values())
        found = sum(len(m) * (len(m) - 1) // 2 for m in members.values())
        recall = found / exact_pairs if exact_pairs else 1.0
        self.findings["dedup.recall"] = recall
        check(recall >= MIN_RECALL,
              f"webtext_dedup: clusters hold {recall:.3f} of the exact near-duplicate pairs, "
              f"below {MIN_RECALL}")
        # LSH is approximate: a family may stay split; count it
        clusters_of: dict[int, set] = {}
        for r in kept:
            clusters_of.setdefault(fam[r["doc_id"]], set()).add(r["cluster_id"])
        self.findings["dedup.split_families"] = sum(1 for c in clusters_of.values() if len(c) > 1)
        self.sizes["clusters"] = len(members)

    def traced(self, spark, pages, out, tracer, status):
        m: dict = {}
        with tracer.span("sources.scan") as s:
            docs = materialize(spark.read.parquet(pages))
        m["sources.scan_s"] = s["end"] - s["start"]
        m["sources.rows_read"] = docs.count()
        with tracer.span("dedup.extract") as s:
            bodies = materialize(self._bodies(docs)[1])
        m["dedup.extract_s"] = s["end"] - s["start"]
        m["dedup.candidate_pairs"] = D.lsh_candidates(bodies).count()
        with tracer.span("dedup.pairs") as s:
            pairs = materialize(D.near_dup_pairs(bodies).select("doc_a", "doc_b"))
        m["dedup.pairs_s"] = s["end"] - s["start"]
        n_pairs = pairs.count()
        m["dedup.pair_yield"] = n_pairs / max(m["dedup.candidate_pairs"], 1)
        stats: dict = {}
        with tracer.span("dedup.cc") as s:
            cc = D.connected_components(pairs, stats=stats)
        m["dedup.cc_s"] = s["end"] - s["start"]
        m["dedup.cc_rounds"] = stats["rounds"]
        with tracer.span("dedup.keep"):
            keep = self._keep(docs, cc)
            noop(keep, "keep")
        return self.copies * self.n_base, keep, m


class JoinsDedup(Workload):
    """The spatial joins, then the dedup pipeline, over their own
    seeded inputs: the workloads that never touch the mesh kernel or
    write, run as two phases of one iteration."""

    name = "joins_dedup"
    unit = "pages"
    why = (
        "box/convex point-in-polygon and many-query kNN, then HTML extract, near-dup pairs and "
        "CC on page families, into noop sinks; bypasses meshing, the mesh kernel and writes"
    )

    def __init__(self, seed: int):
        super().__init__(seed)
        self.phases = (SpatialJoin(seed), WebtextDedup(seed))
        self.findings = self.phases[1].findings
        self.sizes = {"joins": self.phases[0].sizes, "dedup": self.phases[1].sizes}

    @staticmethod
    def _inputs(pages: str, k: int) -> str:
        return os.path.join(pages, ("geo", "web")[k])

    def write_inputs(self, pages: str) -> int:
        return sum(p.write_inputs(self._inputs(pages, k)) for k, p in enumerate(self.phases))

    def run(self, spark, pages, out):
        results = [p.run(spark, self._inputs(pages, k), out) for k, p in enumerate(self.phases)]
        return sum(n for n, _ in results), [r for _, r in results]

    def verify(self, spark, pages, out, results, rows, first):
        for k, p in enumerate(self.phases):
            p.verify(spark, self._inputs(pages, k), out, results[k], rows, first)

    def traced(self, spark, pages, out, tracer, status):
        n_all, results, layers = 0, [], {}
        for k, p in enumerate(self.phases):
            n, r, m = p.traced(spark, self._inputs(pages, k), out, tracer, status)
            n_all += n
            results.append(r)
            for key, v in m.items():  # both phases scan their pages
                layers[key] = layers.get(key, 0) + v
        return n_all, results, layers


WORKLOADS = {w.name: w for w in (Pyramid, JoinsDedup)}

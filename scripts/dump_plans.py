"""Dump .explain('formatted') for the headline queries → PLANS.md.

The review checklist per plan:
  - parquet scan shows ReadSchema limited to used columns (pruning)
  - PushedFilters non-empty where the query filters the scan
  - small sides join as BroadcastHashJoin / BroadcastNestedLoopJoin
  - WholeStageCodegen spans cover the relational stages
  - exactly one wide shuffle for the cell aggregation path
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str = "/root/testdata/sf0.01"):
    from tin_terrain_spark import queries as Q
    from tin_terrain_spark import queries_ext  # noqa: F401 — registers the rest
    from tin_terrain_spark.session import get_spark

    spark = get_spark("plans", cores=8)
    targets = {name: Q.QUERIES[name] for name in (
        "geocode", "tile_counts", "grid_cells", "error_stats", "terra_tiles",
        "pip", "knn_brute", "minhash", "lsh_candidates", "vertex_dedup",
        "ann_brute", "ann_lsh", "raster_tiles", "hex_cells", "knn_hex",
        "simhash", "asof_join", "range_join", "host_profile", "h3_cells",
        "h3_rollup", "contamination", "rep_signals", "face_cells",
        # real-codec round trips: the review point is shape, not
        # pruning — ONE scan, payloads cross Arrow exactly once per
        # stage (no JVM-side explode duplicating containers), map-only
        # until the final rollup/posexplode
        "media_decode_real", "video_decode_real", "h3_global",
        # round-5 session-4 webtext ops: extraction/links are map-only
        # mapInPandas stages; bm25 must broadcast df+stats and shuffle
        # only matching postings; url_canon/pii_scrub must be one
        # codegen'd projection over the scan; crawl_delta is ONE
        # full-outer SortMergeJoin/ShuffledHashJoin on url; pagerank's
        # final plan reads the per-round localCheckpoint (the loop's
        # per-iteration joins are audited in operators/graph.py)
        "html_extract", "warc_extract", "bm25", "pii_scrub", "url_canon",
        "link_graph", "crawl_delta", "pagerank",
        # host_quota must show WindowGroupLimit (map-side top-k before
        # the shuffle); robots_filter a BroadcastHashJoin of the rule
        # table; mix_plan one corpus agg + broadcast arithmetic
        "host_quota", "robots_filter", "mix_plan", "main_text",
        # round-5 session-5 crawl ops: cdx_index/sitemap_urls are
        # map-only Arrow scans; cdx_fetch's shuffle must be sized by
        # the WANTED index rows (collect_list per file) with the
        # archive side joined in place; etld1 is a broadcast rules
        # join + one agg over distinct hosts; frontier is one window
        # (per-host sequence) + projections
        "cdx_index", "cdx_fetch", "etld1", "frontier", "sitemap_urls",
        # boilerplate_lines: two map-side-combinable aggs + join-back,
        # NO window; host_graph: parse_url + ONE combinable agg;
        # incr_dedup: the store probe must be a hash equi-join on
        # (band, band_key) with the new batch's subtree on the build
        # side at real store sizes
        "boilerplate_lines", "host_graph", "incr_dedup",
        # bpe_encode's final plan reads the per-round localCheckpoints
        # (loop discipline); the encode itself is one hash join + one
        # agg. hits likewise shows the checkpointed round outputs.
        "bpe_encode", "hits",
    )}
    from bench import bench_queries

    # the many-query kNN shape: must show ShuffledHashJoin on the cell
    # key and NO broadcast of the exploded query ball
    targets["knn_ring_manyq"] = bench_queries()["knn_ring_manyq"][1]
    out = ["# PLANS — physical plans of the headline queries\n"]
    out.append(
        "Generated by scripts/dump_plans.py. Reviewed for: column pruning\n"
        "(ReadSchema), filter pushdown (PushedFilters), broadcast joins for\n"
        "small sides, WholeStageCodegen coverage, single wide shuffle on the\n"
        "cell-aggregation path.\n"
        "\n"
        "Round-2 audit notes:\n"
        "- minhash: ONE parquet scan → ONE Exchange with map-side partial\n"
        "  HashAggregate (8 min-aggs) → Generate unpivot. No Window, no\n"
        "  vocabulary join anywhere in the dedup family (the round-1 global\n"
        "  dense-rank is gone).\n"
        "- vertex_dedup: the only SinglePartition exchange is over the\n"
        "  per-partition COUNTS table (≤ #partitions rows); the data-sized\n"
        "  Window sorts within hash-partitioned _pid groups.\n"
        "- lsh_candidates: bucket-size guard is a Window partitioned by\n"
        "  (band, band_key) — no global state; the self-join runs on the\n"
        "  capped bucket table.\n"
        "- knn/ann top-k: Window + WindowGroupLimit (rank pushdown)\n"
        "  partitioned by q_id; query sides broadcast.\n"
        "- raster_tiles: binaryFile scan → mapInPandas decode → the same\n"
        "  pruned cell-aggregation path as the synthetic pipeline.\n"
        "\n"
        "Round-3 audit notes:\n"
        "- knn_hex: the hex ring ball is exploded to (hex_q, hex_r) cell\n"
        "  rows on the (tiny, broadcast) query side and equi-joined as a\n"
        "  BroadcastHashJoin — the naive hex-distance theta join compiled\n"
        "  to BroadcastNestedLoopJoin (every point row evaluated the\n"
        "  distance predicate against every query: O(points x queries)).\n"
        "  The plan below is the FINAL round's top-k; earlier rounds ran\n"
        "  eagerly (persist+count) with the same shape.\n"
        "- hex_cells: pure-Column axial-hex id → single Exchange with\n"
        "  map-side partial aggregation; ReadSchema is doc_id only.\n"
        "- simhash: all 32 bit votes are 32 sum-aggregates over the token\n"
        "  stream (one partial-agg pass); the only Generate left is the\n"
        "  token explode itself — the round-2 tokens x 32 Generate is gone.\n"
        "- terra_tiles (and every mesh query): the kernel stage is now a\n"
        "  streaming MapInPandas over tile-sorted partitions (one\n"
        "  Python/Arrow round per batch of tiles) after the explicit\n"
        "  repartition by tile key; plan shows Sort (within partitions) →\n"
        "  MapInPandas, no per-group FlatMapGroupsInPandas.\n"
        "- asof_join: ONE Exchange on user_id; the as-of match is a\n"
        "  carry-forward Window (last ignorenulls) over the unioned\n"
        "  sides — no theta join anywhere.\n"
        "- range_join: ranges explode to covered buckets and broadcast;\n"
        "  BroadcastHashJoin on _bucket + exact [lo,hi) Filter — the\n"
        "  interval predicate never becomes a nested-loop join.\n"
        "- host_profile: parse_url runs JVM-side inside the scan\n"
        "  projection; single Exchange with map-side partial aggregates.\n"
        "\n"
        "Round-4 audit notes:\n"
        "- knn_ring/knn_hex: single-round fast path — the plan below is\n"
        "  the round-1 top-k itself (no semi-join, no union); the first\n"
        "  ring is sized from a count+bbox aggregate so round 1 resolves\n"
        "  every query on well-distributed data. Hex cells are computed\n"
        "  once on a persisted projection (InMemoryTableScan in the\n"
        "  round plan), not re-derived per action.\n"
        "- h3_cells: the aperture-7 digit walk is ~90 staged integer\n"
        "  Column expressions folded by codegen — ONE scan, ONE Exchange\n"
        "  with map-side partial aggregation, no UDF, no Python.\n"
        "- contamination: benchmark shingles BROADCAST (tiny side), hash\n"
        "  equi-join on the shingle string; both aggregations are\n"
        "  map-side-combinable HashAggregates. No cross join.\n"
        "- rep_signals: two partial-agg passes (token counts, bigram\n"
        "  counts) joined on doc_id; the bigram explode is a Generate\n"
        "  over the split array — all JVM-side.\n"
        "- h3_rollup: parent truncation is ONE integer expression over\n"
        "  the h3_cells output — a second small Exchange, no walk\n"
        "  re-derivation.\n"
        "- dup_clusters (not dumped: its result is the pinned output of\n"
        "  an iterative job): per round, edge equi-join + partial-agg\n"
        "  min + pointer-jump self-join, ONE aggregate action; edges\n"
        "  localCheckpoint-ed so round plans stay O(1). Converges in\n"
        "  O(log diameter) rounds (2 at sf0.1).\n"
        "\n"
        "Round-5 audit notes:\n"
        "- knn_ring_manyq: the many-query shape — the exploded query\n"
        "  cell ball joins via ShuffledHashJoin on (cell_x, cell_y)\n"
        "  (SHUFFLE_HASH pinned: the planner would silently broadcast a\n"
        "  sub-threshold ball, reintroducing the per-point box-predicate\n"
        "  scan the shape exists to avoid). NO BroadcastHashJoin on the\n"
        "  candidate path; the only broadcasts are the 32-row replica\n"
        "  range and driver-side constants.\n"
        "- face_cells: mapInPandas (ArrowEvalPython-free, one Python\n"
        "  stage) over the exact-hash Mercator columns -> map-side\n"
        "  partial HashAggregate on (face, i, j, k) -> ONE Exchange.\n"
        "  The NumPy kernel is whole-array trig over 20-row constant\n"
        "  tables; per-row cost is a handful of FLOPs, and the stage is\n"
        "  embarrassingly partition-parallel (no state, no shuffle in).\n"
        "- connected_components (round 5): self-loop edge list makes\n"
        "  each round ONE equi-join + partial-agg min + pointer-jump\n"
        "  self-join (the labels-vs-nbr_min left join is gone); round 0\n"
        "  is join-free (identity labels => groupBy-min straight off\n"
        "  the checkpointed edges).\n"
    )
    for name, fn in targets.items():
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("wrote PLANS.md")


if __name__ == "__main__":
    main(*sys.argv[1:])

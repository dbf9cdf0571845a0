"""Unit tests for the SQL-metric value parser (no Spark needed).

    python3 -m pytest perfbench/test_sqlmetrics.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sqlmetrics import MetricRow, parse_dot, parse_value, root_output_rows, total  # noqa: E402


@pytest.mark.parametrize(
    "text, want",
    [
        ("1,000", 1000.0),
        ("0", 0.0),
        ("4,000,000", 4_000_000.0),
        ("0.0 B", 0.0),
        ("512.0 B", 512.0),
        ("16.2 MiB", 16.2 * (1 << 20)),
        ("1024.0 KiB", 1024.0 * 1024),
        ("2.5 GiB", 2.5 * (1 << 30)),
        ("22 ms", 0.022),
        ("3.5 s", 3.5),
        ("1.5 m", 90.0),
        ("1.25 h", 4500.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "93.8 KiB (23.4 KiB, 23.4 KiB, 23.4 KiB (stage 0.0: task 2))",
            93.8 * 1024,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "7.4 s (1.7 s, 1.9 s, 1.9 s (stage 0.0: task 1))",
            7.4,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "36 ms (5 ms, 9 ms, 15 ms (stage 0.0: task 3))",
            0.036,
        ),
    ],
)
def test_parse_value(text, want):
    assert parse_value(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "n/a", "total (min, med, max)", "3 parsecs"])
def test_parse_value_rejects(text):
    with pytest.raises(ValueError):
        parse_value(text)


def test_totals_and_root_rows():
    rows = [
        MetricRow(1, "pip", 3, "Filter", "number of output rows", 10.0),
        MetricRow(1, "pip", 5, "Scan parquet", "number of output rows", 100.0),
        MetricRow(2, "knn", 7, "Exchange", "shuffle bytes written", 2048.0),
        MetricRow(2, "knn", 9, "Exchange", "shuffle bytes written", 1024.0),
        MetricRow(2, "knn", 8, "HashAggregate", "number of output rows", 4.0),
    ]
    assert total(rows, "Exchange", "shuffle bytes written") == 3072.0
    assert total(rows, "", "number of output rows") == 114.0
    assert root_output_rows(rows) == [10, 4]


DOT = """digraph G {
  0 [id="node0" labelType="html" label="<br><b>OverwriteByExpression</b><br><br>" tooltip="OverwriteByExpression NoopWrite"];

  subgraph cluster2 {
    isCluster="true";
    id="cluster2";
    label="WholeStageCodegen (3)\n \nduration: 60 ms";
    tooltip="WholeStageCodegen (3)";
      3 [id="node3" labelType="html" label="<b>HashAggregate</b><br><br>spill size: 0.0 B<br>number of output rows: 1,000<br>avg hash probes per key (min, med, max (stageId: taskId)):<br>(1, 1, 1 (stage 25.0: task 85))" tooltip="HashAggregate(keys=[k#3L])"];
  }
  5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>fetch wait time: 0 ms<br>shuffle bytes written total (min, med, max (stageId: taskId))<br>24.3 KiB (6.1 KiB, 6.1 KiB, 6.1 KiB (stage 0.0: task 1))" tooltip="Exchange"];
  8 [id="node8" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>9.8 s (2.3 s, 2.5 s, 2.5 s (stage 0.0: task 0))<br>number of output rows: 200,000" tooltip="MapInPandas"];
}"""


def test_parse_dot():
    got = [(nid, node, metric, parse_value(v)) for nid, node, metric, v in parse_dot(DOT)]
    assert got == [
        (3, "HashAggregate", "spill size", 0.0),
        (3, "HashAggregate", "number of output rows", 1000.0),
        (5, "Exchange", "fetch wait time", 0.0),
        (5, "Exchange", "shuffle bytes written", pytest.approx(24.3 * 1024)),
        (8, "MapInPandas", "time to run Python workers", 9.8),
        (8, "MapInPandas", "number of output rows", 200000.0),
    ]

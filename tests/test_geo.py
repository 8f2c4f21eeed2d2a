"""Geo feature surface: export schema parity, WKB round-trip, 2-D bbox
join (broadcast vs grid-blocked equivalence), geoparquet layout
(≈ /root/reference/userCode/assetGroups/export_test.py:77-84 exact
column set; export.py:147-153 bbox/Hilbert/row-group layout)."""

from __future__ import annotations

import struct

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from scheduler_spark.operators.export import write_geoparquet
from scheduler_spark.operators.geo import (
    FEATURES,
    bbox_intersect_join,
    bbox_intersect_join_gridded,
    synth_features,
)

def parse_wkb_point(b: bytes) -> tuple[float, float]:
    """Decode a little-endian WKB POINT."""
    order, gtype, x, y = struct.unpack("<BIdd", b)
    assert order == 1 and gtype == 1
    return x, y


EXPECTED_COLUMNS = {
    "geometry", "id", "geoconnex_sitemap", "feature_name", "feature_description",
}


def test_features_schema_matches_reference_export(spark):
    f = synth_features(spark, n=50)
    assert set(f.columns) == EXPECTED_COLUMNS | {"bbox"}
    bbox_fields = [x.name for x in f.schema["bbox"].dataType.fields]
    assert bbox_fields == ["xmin", "ymin", "xmax", "ymax"]
    assert f.schema["geometry"].dataType.simpleString() == "binary"


def test_wkb_geometry_round_trip(spark):
    rows = synth_features(spark, n=20).collect()
    for r in rows:
        x, y = parse_wkb_point(bytes(r.geometry))
        assert abs(x - r.bbox.xmin) < 1e-12 and abs(y - r.bbox.ymin) < 1e-12
        assert bytes(r.geometry) == struct.pack("<BIdd", 1, 1, r.bbox.xmin, r.bbox.ymin)
    # coordinates stay in range
    assert all(-180 <= r.bbox.xmin <= r.bbox.xmax <= 180.5 for r in rows)


def _boxes(spark):
    rows = [
        (0, -180.0, -90.0, -100.0, -20.0),
        (1, -50.0, -50.0, 30.0, 30.0),
        (2, 20.0, -10.0, 170.0, 80.0),
        (3, -10.0, -90.0, 10.0, 90.0),  # tall strip crossing many cells
    ]
    return spark.createDataFrame(
        rows, "box_id long, xmin double, ymin double, xmax double, ymax double"
    )


def test_broadcast_and_gridded_bbox_joins_agree(spark):
    feats = synth_features(spark, n=400)
    boxes = _boxes(spark)
    a = {(r.id, r.box_id) for r in bbox_intersect_join(feats, boxes).collect()}
    b = {(r.id, r.box_id) for r in bbox_intersect_join_gridded(feats, boxes, cell_deg=7.5).collect()}
    assert a and a == b
    # cross-check a handful against the raw predicate
    sample = feats.limit(50).collect()
    box_rows = boxes.collect()
    for f in sample:
        for bx in box_rows:
            hit = (
                f.bbox.xmin <= bx.xmax and f.bbox.xmax >= bx.xmin
                and f.bbox.ymin <= bx.ymax and f.bbox.ymax >= bx.ymin
            )
            assert ((f.id, bx.box_id) in a) == hit


def test_bbox_join_broadcasts_the_dim(spark):
    feats = synth_features(spark, n=100)
    plan = bbox_intersect_join(feats, _boxes(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bbox_window_pushdown_on_geoparquet(spark, tmp_path):
    """The FlatGeobuf bbox-windowed-read analog
    (/root/reference/userCode/testdata/create_flatgeobuf.py:15-27): a
    bbox window over the exported geoparquet must push the nested
    bbox predicates INTO the parquet scan (so Z-order-clustered row
    groups prune) and prune the unread columns."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "pushdown.parquet")
    write_geoparquet(synth_features(spark, n=400), out)
    df = (
        spark.read.parquet(out)
        .filter((F.col("bbox.xmin") > 100.0) & (F.col("bbox.ymin") > 0.0))
        .select("id", "bbox")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    # the toString elides long filter lists with "…" — assert the xmin
    # predicate verbatim and the ymin one by prefix
    assert "GreaterThan(bbox.xmin,100.0)" in pushed, pushed
    assert "IsNotNull(bbox.ymin)" in pushed, pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "geometry" not in read_schema  # pruned
    # and the window is correct
    rows = df.collect()
    assert rows and all(r.bbox.xmin > 100.0 and r.bbox.ymin > 0.0 for r in rows)


def test_write_geoparquet_layout_and_metadata(spark, tmp_path):
    out = str(tmp_path / "features.parquet")
    write_geoparquet(synth_features(spark, n=300), out)

    back = spark.read.parquet(out)
    assert set(back.columns) == EXPECTED_COLUMNS | {"bbox"}
    assert back.count() == 300

    import glob

    parts = glob.glob(f"{out}/*.parquet")
    assert parts
    for p in parts:
        schema = pq.read_schema(p)
        assert b"geo" in (schema.metadata or {}), "geo file metadata missing"
        assert b"WKB" in schema.metadata[b"geo"]
        names = set(schema.names)
        assert names == EXPECTED_COLUMNS | {"bbox"}

    # geometry survives the round trip through the footer rewrite
    r = back.orderBy("id").first()
    x, y = parse_wkb_point(bytes(r.geometry))
    assert abs(x - r.bbox.xmin) < 1e-12 and abs(y - r.bbox.ymin) < 1e-12

    # enforce() raises on a schema violation instead of writing junk
    import pytest

    with pytest.raises(ValueError):
        write_geoparquet(synth_features(spark, n=5).drop("geometry"), out)

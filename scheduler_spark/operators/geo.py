"""Geo feature surface — the reference's terminal data model.

The reference's export artifact is a GeoParquet of graph features with
a nested bbox struct and WKB geometry:
`(id, geoconnex_sitemap, feature_name, feature_description,
  bbox struct<xmin,ymin,xmax,ymax:double>, geometry binary)`
(schema read from /root/reference/userCode/assetGroups/testdata/
geoconnex_features_subset.parquet; expected columns asserted at
userCode/assetGroups/export_test.py:77-84; bbox/Hilbert/row-group
layout at userCode/assetGroups/export.py:147-153), and its one real
join is a 2-D spatial containment against the mainstem dimension
(userCode/defs_test.py:104-130; bbox windowed reads
userCode/testdata/create_flatgeobuf.py:15-27).

Spark recast:
- FEATURES declares that exact schema; `synth_features` builds a
  deterministic instance (hash-derived coordinates, WKB points).
- `bbox_intersect_join` is the broadcast path: dim side is small
  (catchment file, MBs) → 4 range predicates under a broadcast
  nested-loop join; the fact side never shuffles.
- `bbox_intersect_join_gridded` is the big-big scale path: both sides
  explode to the fixed-size grid cells their rectangles cover, the
  join becomes an EQUI-join on cell id (shuffle-partitionable, AQE-
  skew-splittable) and the exact rectangle predicate + dropDuplicates
  restore exact semantics.  At 100 TB the broadcast variant dies when
  the dim outgrows the driver; the gridded variant's cost is
  candidate-pairs-per-cell, tunable via cell size.
- `write_geoparquet` (operators/export.py) emits the schema with
  Z-order row clustering and the `geo` file metadata key.

WKB encoding is the one Python step (IEEE-754 byte packing has no
Catalyst builtin); it runs as a vectorized pandas UDF over Arrow
batches — never per-row Python in the JVM hot path.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURES = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("geoconnex_sitemap", T.StringType(), False),
        T.StructField("feature_name", T.StringType(), True),
        T.StructField("feature_description", T.StringType(), True),
        T.StructField(
            "bbox",
            T.StructType(
                [
                    T.StructField("xmin", T.DoubleType(), True),
                    T.StructField("ymin", T.DoubleType(), True),
                    T.StructField("xmax", T.DoubleType(), True),
                    T.StructField("ymax", T.DoubleType(), True),
                ]
            ),
            True,
        ),
        T.StructField("geometry", T.BinaryType(), True),
    ]
)

_WKB_POINT = 1


def wkb_point_udf():
    """Vectorized WKB POINT encoder: (x, y) doubles → binary."""

    def encode(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if xi is None or yi is None else struct.pack("<BIdd", 1, _WKB_POINT, xi, yi)
                for xi, yi in zip(x, y)
            ],
            dtype=object,
        )

    return F.pandas_udf(encode, T.BinaryType())


def synth_features(spark: SparkSession, n: int = 500, box_deg: float = 0.5) -> DataFrame:
    """Deterministic feature table in the reference's export schema.

    Coordinates derive from the row id via hash arithmetic (same
    closed-form discipline as synth.py); geometry is the WKB point at
    the bbox's min corner.
    """
    base = spark.range(n)
    lon = (F.pmod(F.col("id") * 7919, F.lit(35000)) / 100.0 - 175.0).cast("double")
    lat = (F.pmod(F.col("id") * 104729, F.lit(17000)) / 100.0 - 85.0).cast("double")
    df = base.select(
        F.concat(F.lit("https://geoconnex.us/ref/feat/"), F.col("id").cast("string")).alias("id"),
        F.concat(F.lit("src"), F.pmod("id", F.lit(10)).cast("string")).alias("geoconnex_sitemap"),
        F.concat(F.lit("feature "), F.col("id").cast("string")).alias("feature_name"),
        F.lit("synthetic feature").alias("feature_description"),
        F.struct(
            lon.alias("xmin"),
            lat.alias("ymin"),
            (lon + box_deg).alias("xmax"),
            (lat + box_deg).alias("ymax"),
        ).alias("bbox"),
        wkb_point_udf()(lon, lat).alias("geometry"),
    )
    return df


def _intersects(a_prefix: str, b_prefix: str) -> Column:
    """Rectangle intersection predicate over flattened bbox columns."""
    return (
        (F.col(f"{a_prefix}xmin") <= F.col(f"{b_prefix}xmax"))
        & (F.col(f"{a_prefix}xmax") >= F.col(f"{b_prefix}xmin"))
        & (F.col(f"{a_prefix}ymin") <= F.col(f"{b_prefix}ymax"))
        & (F.col(f"{a_prefix}ymax") >= F.col(f"{b_prefix}ymin"))
    )


def bbox_intersect_join(features: DataFrame, boxes: DataFrame) -> DataFrame:
    """features ⨝ broadcast(boxes) on 2-D rectangle intersection.

    `features` carries (id, bbox struct); `boxes` carries
    (box_id, xmin, ymin, xmax, ymax) and must be broadcast-small
    (the mainstem-catchment shape).  Output: (id, box_id).
    """
    f = features.select(
        "id",
        F.col("bbox.xmin").alias("f_xmin"), F.col("bbox.ymin").alias("f_ymin"),
        F.col("bbox.xmax").alias("f_xmax"), F.col("bbox.ymax").alias("f_ymax"),
    )
    b = F.broadcast(
        boxes.select(
            "box_id",
            F.col("xmin").alias("b_xmin"), F.col("ymin").alias("b_ymin"),
            F.col("xmax").alias("b_xmax"), F.col("ymax").alias("b_ymax"),
        )
    )
    return f.join(b, _intersects("f_", "b_")).select("id", "box_id")


def _covered_cells(xmin: Column, ymin: Column, xmax: Column, ymax: Column, cell_deg: float) -> Column:
    """Array of grid-cell ids a rectangle covers (fixed-size grid)."""
    inv = 1.0 / cell_deg
    cx0 = F.floor((xmin + 180.0) * inv).cast("long")
    cx1 = F.floor((xmax + 180.0) * inv).cast("long")
    cy0 = F.floor((ymin + 90.0) * inv).cast("long")
    cy1 = F.floor((ymax + 90.0) * inv).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(F.sequence(cy0, cy1), lambda cy: cx * 100_000 + cy),
        )
    )


def bbox_intersect_join_gridded(
    features: DataFrame, boxes: DataFrame, cell_deg: float = 5.0
) -> DataFrame:
    """Big-big spatial join: grid-cell blocking → EQUI-join → exact verify.

    Both rectangle sets explode to the cells they cover; candidates are
    pairs sharing a cell (hash-join, shuffle-partitionable); the exact
    intersection predicate then decides, and dropDuplicates collapses
    multi-cell matches.  Semantically identical to bbox_intersect_join
    — asserted by tests — but scales when neither side broadcasts.
    """
    f = features.select(
        "id",
        F.col("bbox.xmin").alias("f_xmin"), F.col("bbox.ymin").alias("f_ymin"),
        F.col("bbox.xmax").alias("f_xmax"), F.col("bbox.ymax").alias("f_ymax"),
    ).withColumn(
        "cell",
        F.explode(_covered_cells(F.col("f_xmin"), F.col("f_ymin"), F.col("f_xmax"), F.col("f_ymax"), cell_deg)),
    )
    b = boxes.select(
        "box_id",
        F.col("xmin").alias("b_xmin"), F.col("ymin").alias("b_ymin"),
        F.col("xmax").alias("b_xmax"), F.col("ymax").alias("b_ymax"),
    ).withColumn(
        "cell",
        F.explode(_covered_cells(F.col("b_xmin"), F.col("b_ymin"), F.col("b_xmax"), F.col("b_ymax"), cell_deg)),
    )
    return (
        f.join(b, "cell")
        .filter(_intersects("f_", "b_"))
        .select("id", "box_id")
        .dropDuplicates(["id", "box_id"])
    )

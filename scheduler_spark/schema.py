"""Explicit StructType schemas for every pipeline stage.

The reference keeps schemas implicit-by-convention (S3 prefixes, XML
namespaces — /root/reference/userCode/assetGroups/config.py:97-103,
docs/hdt.md:12-21); we declare and enforce them at stage boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input corpus (BASELINE.json input_hint): Iceberg/parquet table of
# source-code repositories.  `repo` is the partition-driving key, the
# analog of the sitemap partition key `geoconnex:sitemap_id`
# (/root/reference/userCode/assetGroups/config.py:117-121).
# ---------------------------------------------------------------------------
FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# One row per extracted mention.  content_sha is the end-to-end per-row
# invariant (≈ hash-keyed summoned docs, /root/reference/docs/hdt.md:12-16).
MENTIONS = T.StructType(
    [
        T.StructField("content_sha", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # identifier|import|uri
        T.StructField("value", T.StringType(), False),
        T.StructField(
            "span",
            T.StructType(
                [
                    T.StructField("start", T.IntegerType(), False),
                    T.StructField("end", T.IntegerType(), False),
                ]
            ),
            False,
        ),
    ]
)

# Candidate match edges from entity-link scoring (≈ mainstem enrichment
# join output, /root/reference/userCode/defs_test.py:75-80).
EDGES = T.StructType(
    [
        T.StructField("src_entity", T.StringType(), False),
        T.StructField("dst_entity", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("method", T.StringType(), False),  # lsh|alias
    ]
)

# Canonicalization output of connected components.
ENTITIES = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
    ]
)

# Materialized graph.  `graph` is the quad context term
# (/root/reference/docs/hdt.md:3-8); `src_partition` drives partitioned
# writes (≈ graphs/latest/<source>_release.nq.gz per-source artifacts).
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("graph", T.StringType(), False),
        T.StructField("src_partition", T.StringType(), False),
        T.StructField("content_sha", T.StringType(), False),
    ]
)

# Checkpoint / resume state (≈ .bytesum sidecars,
# /root/reference/userCode/defs_test.py:86-98).
CHECKPOINT = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

# Source catalog (sitemap-index analog,
# /root/reference/userCode/assetGroups/testdata/sitemap.xml:7-18).
SOURCES = T.StructType(
    [
        T.StructField("sitemap_id", T.StringType(), False),
        T.StructField("loc", T.StringType(), True),
        T.StructField("lastmod", T.TimestampType(), True),
        T.StructField("max_request_concurrency", T.IntegerType(), True),
        T.StructField("add_associated_mainstems", T.BooleanType(), True),
        T.StructField("contact_email", T.StringType(), True),
        T.StructField("dataset_description", T.StringType(), True),
        T.StructField("dataset_documentation_link", T.StringType(), True),
    ]
)

# Enrichment dimension — alias dictionary (mainstem-catchment analog,
# /root/reference/userCode/lib/containers.py:152-157).
ALIASES = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
    ]
)

# Shingle-hash vocabulary index of the bitmap Jaccard verify
# (operators/dedup._bitmap_verify and its inline copy in queries.py).
SHINGLE_VOCAB = T.StructType(
    [T.StructField("h", T.LongType()), T.StructField("idx", T.IntegerType())]
)


def _nullable(dt: T.DataType) -> T.DataType:
    """Recursively relax nullability — cast targets must be nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def enforce(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project+cast a DataFrame to exactly `schema` (order and types).

    Raises if a required column is missing — the stage-boundary contract.
    """
    cols = []
    have = {f.name for f in df.schema.fields}
    for field in schema.fields:
        if field.name not in have:
            raise ValueError(f"missing required column {field.name!r}; have {sorted(have)}")
        cols.append(df[field.name].cast(_nullable(field.dataType)).alias(field.name))
    return df.select(*cols)


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-held rows (tuples or Rows in `schema` order) as a JVM
    ``LocalRelation``, built through Arrow.

    ``spark.createDataFrame(list)`` plans as a ``LogicalRDD`` of pickled
    rows that Python workers deserialize again in every job that reads
    the frame; an Arrow table is handed to the JVM once and needs no
    Python worker afterwards (and no Arrow session conf either).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.table(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}, schema=arrow
    )
    return spark.createDataFrame(table, schema)

"""Export sinks: n-quads release artifacts, Z-order layout, gzip scan."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from scheduler_spark.catalog import Catalog
from scheduler_spark.operators.export import (
    quantize,
    to_nquads,
    write_release_graphs,
    write_spatial_parquet,
    zorder_key,
)
from scheduler_spark.pipeline import TRIPLES_TABLE, run_pipeline
from scheduler_spark.synth import alias_df, synth_files


def _triples(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path / "cat"), spark=spark)
    run_pipeline(spark, synth_files(spark, 120), alias_df(spark), catalog, run_id="exp")
    return catalog.read(TRIPLES_TABLE)


def test_nquads_lines_are_wellformed(spark, tmp_path):
    triples = _triples(spark, tmp_path)
    lines = to_nquads(triples).select("line").collect()
    assert lines
    for r in lines[:50]:
        parts = r.line.split(" ")
        assert parts[-1] == "."
        assert len(parts) == 5
        for term in parts[:-1]:
            assert term.startswith("<") and term.endswith(">")
            assert " " not in term[1:-1]


def test_release_graph_write_and_gzip_scan(spark, tmp_path):
    triples = _triples(spark, tmp_path)
    out = str(tmp_path / "graphs_latest")
    write_release_graphs(triples, out)
    parts = [d for d in os.listdir(out) if d.startswith("src_partition=")]
    assert len(parts) == triples.select("src_partition").distinct().count()
    # artifacts are gzip text, natively re-scannable (§2.7 gzip decompress)
    some = os.path.join(out, parts[0])
    gz_files = [f for f in os.listdir(some) if f.endswith(".txt.gz")]
    assert gz_files
    with gzip.open(os.path.join(some, gz_files[0]), "rt") as f:
        first = f.readline().strip()
    assert first.endswith(" .")
    back = spark.read.text(out)
    assert back.count() == triples.count()


def test_release_rewrite_is_idempotent(spark, tmp_path):
    triples = _triples(spark, tmp_path)
    out = str(tmp_path / "graphs_latest")
    write_release_graphs(triples, out)
    n1 = spark.read.text(out).count()
    write_release_graphs(triples, out)  # second release: replace, not append
    assert spark.read.text(out).count() == n1


def test_release_manifest_matches_artifacts(spark, tmp_path):
    """The manifest (OCI/Zenodo engine-side analog) lists one row per
    artifact with byte-exact size and the .bytesum-contract sha."""
    import hashlib

    from scheduler_spark.operators.export import release_manifest

    triples = _triples(spark, tmp_path)
    out = str(tmp_path / "graphs_latest")
    write_release_graphs(triples, out)
    # key by (partition, artifact): one task writes IDENTICALLY-named
    # part files into every partition dir it touches
    manifest = {
        (r.src_partition, r.artifact): r
        for r in release_manifest(spark, out).collect()
    }

    on_disk = {}
    for d in os.listdir(out):
        if not d.startswith("src_partition="):
            continue
        src_enc = d.split("=", 1)[1]
        for f in os.listdir(os.path.join(out, d)):
            if f.endswith(".txt.gz"):
                on_disk[(src_enc, f)] = os.path.join(out, d, f)
    assert set(manifest) == set(on_disk) and manifest
    for key, path in on_disk.items():
        raw = open(path, "rb").read()
        row = manifest[key]
        assert row.n_bytes == len(raw)
        assert row.bytesum == hashlib.sha256(raw).hexdigest()


def test_zorder_key_interleaves_bits(spark):
    df = spark.createDataFrame([(3, 5)], "x long, y long")
    got = df.select(zorder_key(F.col("x"), F.col("y"), bits=4).alias("z")).first()["z"]
    # x=0b0011, y=0b0101 → interleave y3x3 y2x2 y1x1 y0x0 = 0b00100111
    assert got == 0b00100111


def test_quantize_bounds(spark):
    df = spark.createDataFrame([(-180.0,), (180.0,), (0.0,), (999.0,)], "v double")
    vals = [r.q for r in df.select(quantize(F.col("v"), -180.0, 180.0, 8).alias("q")).collect()]
    assert vals[0] == 0 and vals[1] == 255 and 126 <= vals[2] <= 128 and vals[3] == 255


def test_spatial_parquet_clusters_rows(spark, tmp_path):
    import random

    random.seed(1)
    rows = [(i, random.uniform(-180, 180), random.uniform(-90, 90)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, lon double, lat double").repartition(2)
    path = str(tmp_path / "spatial")
    write_spatial_parquet(df, path, "lon", "lat")
    back = spark.read.parquet(path)
    assert back.count() == 5000
    assert set(back.columns) == {"id", "lon", "lat"}

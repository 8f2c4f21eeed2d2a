"""Mention extraction: pandas-UDF path vs pure-JVM path, span exactness,
and the content-sha invariant (≈ hash-keyed summoned docs,
/root/reference/docs/hdt.md:12-16)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from scheduler_spark.operators.extract import (
    extract_mentions,
    extract_mentions_relational,
    with_content_sha,
)
from scheduler_spark.synth import synth_files

N_FILES = 300
FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_extraction_counts_per_kind(spark):
    files = synth_files(spark, n_files=N_FILES)
    m = extract_mentions(files)
    counts = {r["kind"]: r["count"] for r in m.groupBy("kind").count().collect()}
    # synth plants exactly 2 imports, 1 identifier, 1 uri per file
    assert counts["import"] == 2 * N_FILES
    assert counts["identifier"] == N_FILES
    assert counts["uri"] == N_FILES


def test_pandas_and_jvm_paths_agree(spark):
    files = synth_files(spark, n_files=N_FILES)
    a = {
        tuple(r)
        for r in extract_mentions(files).select("content_sha", "kind", "value").collect()
    }
    b = {
        tuple(r)
        for r in extract_mentions_relational(files)
        .select("content_sha", "kind", "value")
        .collect()
    }
    assert a == b


def test_pandas_and_jvm_paths_agree_on_edge_cases(spark):
    """Line terminators, Unicode classes, word boundaries, the fallback for
    unknown and null langs, and empty/null content give the same values on
    both paths."""
    data = [
        ("r", "a.java", "c" * 40, "java", "Bigint foo(\nint bar(\n"),
        ("r", "b.py", "c" * 40, "python", "def café(x):\n    pass\n"),
        ("r", "c.py", "c" * 40, "python", "# see http://x.org/a\u00a0and more\n"),
        ("r", "d.py", "c" * 40, "python", "x\rimport foo\ny\u0085import bar\nz\u2028import baz\n"),
        ("r", "e.rb", "c" * 40, "ruby", "import os\ndef run(x):\n"),
        ("r", "h", "c" * 40, None, "import sys\n"),
        ("r", "f.py", "c" * 40, "python", ""),
        ("r", "g.py", "c" * 40, "python", None),
    ]
    files = spark.createDataFrame(data, FILES_SCHEMA)

    def rows(df):
        return sorted(tuple(r) for r in df.select("content_sha", "kind", "value").collect())

    got = rows(extract_mentions(files))
    assert got == rows(extract_mentions_relational(files))
    assert sorted((k, v) for _, k, v in got) == sorted([
        ("identifier", "bar"),
        ("identifier", "café"),
        ("uri", "http://x.org/a"),
        ("import", "os"),
        ("identifier", "run"),
        ("import", "sys"),
    ])


def test_spans_are_exact(spark):
    files = synth_files(spark, n_files=100)
    m = extract_mentions(files)
    rows = m.join(files, ["repo", "path", "commit"]).select(
        "content", "span", "value", "kind"
    ).collect()
    assert rows
    for row in rows:
        s, e = row.span.start, row.span.end
        assert s >= 0 and e > s
        assert row.value in row.content[s:e], (row.kind, row.value, row.content[s:e])

    # the span is the whole match, counted in code points
    content = (
        "  import os.path\r\n"
        "from pkg import x\r\n"
        "u = 'http://a.org/p' + 'https://b.org/q'\r\n"
        "# café\n"
        "def run():\n"
    )
    files = spark.createDataFrame([("r", "a.py", "c" * 40, "python", content)], FILES_SCHEMA)
    got = sorted(
        (r.kind, r.value, r.span.start, r.span.end) for r in extract_mentions(files).collect()
    )
    assert got == sorted([
        ("import", "os.path", 0, 16),
        ("import", "pkg", 18, 26),
        ("uri", "http://a.org/p", 42, 56),
        ("uri", "https://b.org/q", 61, 76),
        ("identifier", "run", 86, 93),
    ])


def test_content_sha_invariant(spark):
    """content_sha equals python hashlib sha256 — the per-row invariant."""
    files = synth_files(spark, n_files=50)
    rows = with_content_sha(files).select("content", "content_sha").collect()
    for row in rows:
        assert row.content_sha == hashlib.sha256(row.content.encode()).hexdigest()
    # carried unchanged into mentions
    m = extract_mentions(files)
    joined = (
        m.join(files, ["repo", "path", "commit"])
        .withColumn("recomputed", F.sha2("content", 256))
        .filter(F.col("recomputed") != F.col("content_sha"))
    )
    assert joined.count() == 0


def test_multiline_and_indented_imports(spark):
    data = [
        (
            "r", "a.py", "c" * 40, "python",
            "import one.two\n    import indented\nfrom pkg import thing\nx = 1\n",
        ),
        ("r", "b.go", "c" * 40, "go", 'package p\nimport "a/b"\nimport "c"\n'),
        ("r", "c.java", "c" * 40, "java", "import com.x.Y;\nimport com.z.W ;\n"),
    ]
    files = spark.createDataFrame(data, FILES_SCHEMA)
    m = extract_mentions(files).filter(F.col("kind") == "import")
    got = sorted(r["value"] for r in m.collect())
    assert got == sorted(["one.two", "indented", "pkg", "a/b", "c", "com.x.Y", "com.z.W"])

"""Batched mention extraction — the `nabu harvest` analog.

The reference shells out per source to ``nabu harvest`` which fetches
each feature URL and stores one JSON-LD doc keyed by content hash
(/root/reference/userCode/lib/containers.py:61-100, docs/hdt.md:12-16).
Here the "harvest" is mention detection over the `content` column:
imports, defined identifiers, and URIs, per language.

Execution model:

- ``content_sha`` is computed JVM-side with ``F.sha2`` *before* the UDF
  and carried through unchanged — the per-row invariant.
- ``PATTERNS`` is the one pattern table, ``kind → lang → regex``.  Group 1
  of each regex is the normalized mention value; the whole match is its
  span (e.g. ``import foo.bar`` for value ``foo.bar``).
- ``extract_mentions`` runs ``mapInPandas``; each Arrow batch is one
  Python loop over rows and kinds that runs the compiled pattern's
  ``finditer`` once, taking the value from ``group(1)`` and the span from
  ``start()``/``end()``.  pandas offers no faster route: its
  ``Series.str.extractall`` is itself a per-row Python loop and yields no
  spans, so it would cost a second pass per pattern.
- ``extract_mentions_relational`` is the pure-JVM twin
  (``F.regexp_extract_all``) built from the same table: same values, no
  spans; it exists so the DuckDB oracle can verify extraction end-to-end
  in SQL.

Scale notes: extraction is embarrassingly parallel (narrow map), so the
only scale risks are (a) Python worker batch sizing — governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``; and (b) skewed repo
partitions downstream — handled by salting in pipeline.py, not here.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import MENTIONS, enforce

# Languages missing from a kind's row (unknown langs, and every lang for
# "uri") use this entry.
FALLBACK_LANG = "python"

PATTERNS: dict[str, dict[str, str]] = {
    "import": {
        "python": r"(?m)^[ \t]*(?:import|from)[ \t]+([\w\.]+)",
        "go": r"(?m)^[ \t]*import[ \t]+\"([^\"]+)\"",
        "java": r"(?m)^[ \t]*import[ \t]+([\w\.]+)[ \t]*;",
    },
    "identifier": {
        "python": r"(?m)^[ \t]*def[ \t]+(\w+)",
        "go": r"(?m)^func[ \t]+(\w+)",
        "java": r"(?m)\b(?:int|void|long|double|String)[ \t]+(\w+)[ \t]*\(",
    },
    "uri": {
        FALLBACK_LANG: r"(https?://[^\s\"'<>\)\];]+)",
    },
}

_COMPILED = {
    kind: {lang: re.compile(rx) for lang, rx in by_lang.items()}
    for kind, by_lang in PATTERNS.items()
}

_FLAT_COLUMNS = ["content_sha", "repo", "path", "commit", "kind", "value", "start", "end"]
_FLAT_SCHEMA = (
    "content_sha string, repo string, path string, commit string, "
    "kind string, value string, start int, end int"
)


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for sha, repo, path, commit, lang, content in zip(
        pdf["content_sha"], pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"], pdf["content"]
    ):
        if content is None:
            continue
        for kind, by_lang in _COMPILED.items():
            rx = by_lang.get(lang) or by_lang[FALLBACK_LANG]
            for m in rx.finditer(content):
                out.append((sha, repo, path, commit, kind, m.group(1), m.start(), m.end()))
    return pd.DataFrame(out, columns=_FLAT_COLUMNS)


def with_content_sha(files: DataFrame) -> DataFrame:
    """JVM-side sha256 of content — the end-to-end per-row invariant
    (≈ hash-keyed summoned docs, /root/reference/docs/hdt.md:14)."""
    return files.withColumn("content_sha", F.sha2(F.col("content"), 256))


def extract_mentions(files: DataFrame) -> DataFrame:
    """files(+content_sha) → MENTIONS via Arrow-batched pandas UDF."""
    if "content_sha" not in files.columns:
        files = with_content_sha(files)
    src = files.select("content_sha", "repo", "path", "commit", "lang", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_batch(pdf)

    flat = src.mapInPandas(run, schema=_FLAT_SCHEMA)
    out = flat.select(
        "content_sha",
        "repo",
        "path",
        "commit",
        "kind",
        "value",
        F.struct(
            F.col("start").alias("start"), F.col("end").alias("end")
        ).alias("span"),
    )
    return enforce(out, MENTIONS)


# Java regex flags that make the PATTERNS entries match as Python ``re``
# does: (?d) ends lines at \n only (Java's (?m)^ also starts a line after
# \r, U+0085 and U+2028) and (?U) makes \w, \s and \b Unicode-aware
# (Java's are ASCII-only).
_JVM_FLAGS = "(?dU)"


def _jvm_values(by_lang: dict[str, str]):
    """regexp_extract_all of each row's lang entry, with the pandas
    path's fallback for langs the row does not name."""

    def extract_all(rx: str):
        return F.regexp_extract_all("content", F.lit(_JVM_FLAGS + rx), 1)

    values = extract_all(by_lang[FALLBACK_LANG])
    for lang, rx in by_lang.items():
        if lang != FALLBACK_LANG:
            values = F.when(F.col("lang") == lang, extract_all(rx)).otherwise(values)
    return values


def extract_mentions_relational(files: DataFrame) -> DataFrame:
    """Same mention stream, pure Catalyst (no Python workers, no spans)."""
    if "content_sha" not in files.columns:
        files = with_content_sha(files)
    base = files.select(
        "content_sha", "repo", "path", "commit", "lang", "content"
    ).withColumn(
        "kinds",
        F.array(*[
            F.struct(F.lit(kind).alias("kind"), _jvm_values(by_lang).alias("values"))
            for kind, by_lang in PATTERNS.items()
        ]),
    )
    exploded = (
        base.select(
            "content_sha", "repo", "path", "commit", F.explode("kinds").alias("k")
        )
        .select(
            "content_sha", "repo", "path", "commit",
            F.col("k.kind").alias("kind"),
            F.explode(F.col("k.values")).alias("value"),
        )
        .withColumn(
            "span",
            F.struct(F.lit(-1).alias("start"), F.lit(-1).alias("end")),
        )
    )
    return enforce(exploded, MENTIONS)

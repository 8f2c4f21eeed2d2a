"""Deterministic synthetic source-code corpus (the KG pipeline's input).

The reference's test fixtures pin an e2e golden contract: harvest
partition ``ref:dams`` then assert exact output objects and exact
pid→mainstem enrichment pairs (/root/reference/userCode/defs_test.py:55-130).
Our analog: a seeded corpus of `(repo, path, commit, lang, content)`
rows where every planted mention → entity link is *recomputable in
closed form*, so tests can assert exact expected triples at any scale.

Generation is distributed and partition-order-independent: every column
derives from `spark.range(n)`'s id via pure expressions (xxhash64 as the
PRNG), so the same (n_files) always yields byte-identical rows on any
cluster layout.  No driver-side loops — this generator is also the bench
corpus factory at 100× scale.

Skew is built in: `mega_pct` percent of rows land in one monorepo
(FIXTURES.md F6), exercising salting + AQE skew-join handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import ALIASES, FILES, enforce, local_frame

ENTITY_COUNT = 20
LANGS = ["python", "go", "java"]
MEGA_REPO = "mega/monorepo"

# Distinct word stems for planted identifiers.  The two spellings of one
# stem (snake vs camel) have lowercase 3-gram Jaccard 0.55-0.67, but the
# shared `_worker`/`Worker` suffix lifts cross-stem pairs to J 0.20-0.50
# (e.g. alpha_worker-lima_worker 0.462): 40 of the 760 cross-stem
# spelling pairs reach the 0.4 LSH threshold, so LSH + CC merges some
# distinct stems into one entity (a known over-merge, not a property
# the pipeline relies on).
IDENT_WORDS = [
    "alpha", "bravo", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar",
    "papa", "quebec", "romeo", "sierra", "tango", "victor",
]


def _entity_name(k: int) -> str:
    return f"lib{k}"


def entity_id(k: int) -> str:
    return f"ent:{_entity_name(k)}"


def alias_forms(k: int) -> list[str]:
    """All surface forms that should resolve to entity k."""
    name = _entity_name(k)
    return [name, f"{name}.core", f"example.com/{name}", f"org.example.{name}"]


def alias_rows() -> list[tuple[str, str]]:
    """(alias, entity_id) dictionary — the broadcastable enrichment
    dimension (mainstem-catchment analog, FIXTURES.md F4)."""
    out = []
    for k in range(ENTITY_COUNT):
        for form in alias_forms(k):
            out.append((form, entity_id(k)))
    return out


def alias_df(spark: SparkSession) -> DataFrame:
    """The alias dictionary as an Arrow-built LocalRelation (no Python
    worker re-scans it in the jobs that join it)."""
    return local_frame(spark, alias_rows(), ALIASES)


# -- column-expression helpers (shared by content builder and oracle) -------

def _h(col: Column, salt: str) -> Column:
    """Deterministic non-negative hash stream keyed by (id, salt)."""
    return F.abs(F.xxhash64(col, F.lit(salt)))


def _pick(col: Column, salt: str, n: int) -> Column:
    return F.pmod(_h(col, salt), F.lit(n)).cast("int")


def _arr(values: list[str]) -> Column:
    return F.array(*[F.lit(v) for v in values])


def _base_columns(file_id: Column, n_repos: int, mega_pct: int) -> dict[str, Column]:
    """Every derived attribute of a synthetic file, in closed form."""
    is_mega = _pick(file_id, "mega", 100) < F.lit(mega_pct)
    repo_idx = _pick(file_id, "repo", n_repos)
    repo = F.when(is_mega, F.lit(MEGA_REPO)).otherwise(
        F.concat(F.lit("org/repo"), repo_idx.cast("string"))
    )
    lang = F.element_at(_arr(LANGS), _pick(file_id, "lang", len(LANGS)) + 1)
    ext = F.element_at(_arr(["py", "go", "java"]), _pick(file_id, "lang", len(LANGS)) + 1)
    path = F.concat(
        F.lit("src/mod"),
        _pick(file_id, "dir", 1000).cast("string"),
        F.lit("/file"),
        file_id.cast("string"),
        F.lit("."),
        ext,
    )
    commit = F.substring(
        F.sha2(F.concat(F.lit("commit:"), file_id.cast("string")), 256), 1, 40
    )

    # two imported entities + one uri-referenced entity per file
    ent_a = _pick(file_id, "ent_a", ENTITY_COUNT)
    ent_b = _pick(file_id, "ent_b", ENTITY_COUNT)
    ent_uri = _pick(file_id, "ent_uri", ENTITY_COUNT)

    # lang-appropriate alias surface form (index into alias_forms):
    #   python → "libk" or "libk.core"; go → "example.com/libk";
    #   java → "org.example.libk"
    py_form = _pick(file_id, "pyform", 2)  # 0 or 1

    def alias_for(ent: Column, stream: str) -> Column:
        # Single-occurrence construction: the 20-literal name lookup
        # appears ONCE, wrapped by tiny per-lang literal fragments.
        # Duplicating it per CASE branch (the old shape) ballooned the
        # expression tree ~10x and pushed fused downstream stages past
        # janino's 64 KB method limit (whole-stage codegen fallback).
        names = _arr([_entity_name(k) for k in range(ENTITY_COUNT)])
        name = F.element_at(names, ent + 1)
        prefix = (
            F.when(lang == "go", F.lit("example.com/"))
            .when(lang == "java", F.lit("org.example."))
            .otherwise(F.lit(""))
        )
        suffix = F.when(
            (lang == "python") & (py_form == 1), F.lit(".core")
        ).otherwise(F.lit(""))
        return F.concat(prefix, name, suffix)

    names = _arr([_entity_name(k) for k in range(ENTITY_COUNT)])
    uri = F.concat(F.lit("https://example.org/ent/"), F.element_at(names, ent_uri + 1))

    # identifier with two spellings that must cluster (snake vs camel)
    ident_k = _pick(file_id, "ident", len(IDENT_WORDS))
    words = _arr(IDENT_WORDS)
    ident = F.concat(
        F.element_at(words, ident_k + 1),
        F.when(_pick(file_id, "spelling", 2) == 0, F.lit("_worker")).otherwise(
            F.lit("Worker")
        ),
    )

    return {
        "repo": repo,
        "path": path,
        "commit": commit,
        "lang": lang,
        "alias_a": alias_for(ent_a, "ent_a"),
        "alias_b": alias_for(ent_b, "ent_b"),
        "ent_a": ent_a,
        "ent_b": ent_b,
        "ent_uri": ent_uri,
        "uri": uri,
        "ident": ident,
        "ident_k": ident_k,
    }


def _filler(file_id: Column, lang: Column, n_lines: int) -> Column:
    """Realistic file bulk: comment lines that match no mention pattern.

    Real source files are KBs, not the ~150 B of the planted template
    alone; extraction cost is proportional to bytes scanned, so the
    filler keeps the workload extraction-bound like the real corpus.
    Deterministic per file (seeded by file_id), mention-free by
    construction (no import/def/func keywords, no URIs, no parens).
    """
    if n_lines <= 0:
        return F.lit("")
    marker = F.when(lang == "python", F.lit("# ")).otherwise(F.lit("// "))
    words = _arr(IDENT_WORDS)
    line = F.concat(
        marker,
        F.lit("filler "),
        F.element_at(words, _pick(file_id, "fill_a", len(IDENT_WORDS)) + 1),
        F.lit(" "),
        F.element_at(words, _pick(file_id, "fill_b", len(IDENT_WORDS)) + 1),
        F.lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
        F.lit(" eiusmod tempor incididunt ut labore et dolore magna aliqua\n"),
    )
    return F.repeat(line, n_lines)


def _content(c: dict[str, Column]) -> Column:
    """One concat with per-lang LITERAL fragments; the expensive
    alias/uri/ident sub-expressions each appear exactly once.

    The previous shape (three full per-lang concats under a CASE)
    duplicated every alias tree 3x; fused with downstream extraction
    aggregates the generated method crossed janino's 64 KB limit and
    whole-stage codegen fell back to interpreted execution (10 hits in
    the round-3 oracle-replica log).  Output is byte-identical."""
    lang = c["lang"]

    def frag(py: str, go: str, java: str) -> Column:
        return (
            F.when(lang == "python", F.lit(py))
            .when(lang == "go", F.lit(go))
            .otherwise(F.lit(java))
        )

    nl = F.lit("\n")
    return F.concat(
        frag('"""auto module"""\n', "package main\n", "package org.example;\n"),
        frag("import ", 'import "', "import "), c["alias_a"],
        frag("\n", '"\n', ";\n"),
        frag("import ", 'import "', "import "), c["alias_b"],
        frag("\n", '"\n', ";\n"),
        frag("# see ", "// see ", "// see "), c["uri"], nl,
        frag("def ", "func ", "int "), c["ident"],
        frag(
            "(x):\n    return x + 1\n",
            "(x int) int { return x + 1 }\n",
            "(int x) { return x + 1; }\n",
        ),
    )


def synth_files(
    spark: SparkSession,
    n_files: int = 2000,
    n_repos: int = 40,
    mega_pct: int = 50,
    partitions: int | None = None,
    filler_lines: int = 12,
) -> DataFrame:
    """The input corpus: deterministic `(repo, path, commit, lang, content)`.

    filler_lines pads each file with mention-free comment bulk (~110 B
    per line) so per-file size matches real code (~KBs); pass 0 for the
    minimal template.
    """
    base = spark.range(n_files, numPartitions=partitions)
    c = _base_columns(F.col("id"), n_repos, mega_pct)
    content = F.concat(
        _content(c), _filler(F.col("id"), c["lang"], filler_lines)
    )
    df = base.select(
        c["repo"].alias("repo"),
        c["path"].alias("path"),
        c["commit"].alias("commit"),
        c["lang"].alias("lang"),
        content.alias("content"),
    )
    return enforce(df, FILES)


def subject_id(repo: Column, path: Column, commit: Column) -> Column:
    """Stable subject IRI for a file row (≈ the per-feature pid)."""
    return F.concat(
        F.lit("repo://"), repo, F.lit("/"), path, F.lit("@"), F.substring(commit, 1, 8)
    )


def expected_links(
    spark: SparkSession,
    n_files: int = 2000,
    n_repos: int = 40,
    mega_pct: int = 50,
) -> DataFrame:
    """Closed-form oracle: the exact (subj, entity_id) link set the
    pipeline must emit for `synth_files(same params)` — the analog of the
    golden pid→mainstem pairs (/root/reference/userCode/defs_test.py:120-130).
    """
    base = spark.range(n_files)
    c = _base_columns(F.col("id"), n_repos, mega_pct)
    ids = _arr([entity_id(k) for k in range(ENTITY_COUNT)])
    subj = subject_id(c["repo"], c["path"], c["commit"])
    df = base.select(
        subj.alias("subj"),
        F.array_distinct(
            F.array(
                F.element_at(ids, c["ent_a"] + 1),
                F.element_at(ids, c["ent_b"] + 1),
                F.element_at(ids, c["ent_uri"] + 1),
            )
        ).alias("ents"),
    )
    return df.select("subj", F.explode("ents").alias("entity_id")).distinct()

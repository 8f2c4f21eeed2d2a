"""Iterative BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units", Algorithm 1).

queries.bpe_pair_merges computes ONE merge round's pair statistic; this
operator runs the actual training loop: count weighted adjacent symbol
pairs, pick the most frequent (deterministic tie-break), merge it in
every word, repeat k times.  ≈ the reference's vocabulary rollups rank
static token counts (/root/reference/userCode/defs_test.py:104-116);
BPE training is the LLM-pipeline generalization that LEARNS the
vocabulary.

Distributed shape — why this survives 100 TB:
- ONE corpus-proportional pass builds the word-TYPE table (word →
  frequency); every training round after that touches only the
  vocabulary table, which is bounded by distinct word types, not
  corpus bytes (the WordPiece/BPE trainers in public tokenizer libs
  make the same reduction).
- each round = one explode+sum over the vocab table (map-side
  combinable, pair space bounded by symbol-vocab²), one 1-row argmax
  collect (bounded driver state, the SemDeDup codebook discipline),
  and one `replace` projection to apply the merge.
- words are carried as DOUBLE-SPACE-delimited symbol strings
  ('  a  b  c  ', two spaces between symbols AND at the boundaries):
  applying merge (A, B) is `replace(s, ' A  B ', ' AB ')`.  The
  pattern keeps a one-space margin on each side, so (a) a match can
  only bind WHOLE symbols (symbol text never contains spaces; a
  two-space run exists only between symbols), and (b) the replacement
  restores the margin it consumed, so the NEXT adjacent occurrence in
  a run is still visible to the same left-to-right scan — one replace
  pass is therefore EXACTLY Sennrich's greedy non-overlapping merge
  (single-space delimiters would eat the shared space and merge a run
  of four identical symbols only once per pass).  Plain string
  function, bit-identical semantics in Spark and the DuckDB twin.
- pair counting is OVERLAPPING (for ' a a a ' the pair 'a a' counts
  twice), matching the reference implementation's get_stats; only the
  merge application is non-overlapping.
- ``localCheckpoint`` per round truncates lineage (the graph loops'
  cadence, operators/rounds.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

DEFAULT_MERGES = 8


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(s, freq): double-space-delimited char-symbol strings per word
    TYPE (see module docstring for why two spaces)."""
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(text_col), F.lit("[a-z0-9]+"), 0)
        ).alias("w")
    ).filter(F.length("w") >= 2)
    s = F.concat(
        F.lit("  "),
        F.array_join(F.regexp_extract_all("w", F.lit("."), 0), "  "),
        F.lit("  "),
    )
    return words.groupBy(s.alias("s")).agg(F.count(F.lit(1)).alias("freq"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(pair, cnt): frequency-weighted adjacent symbol pairs, where
    pair is the single-space 'A B' string (the output/tie-break form;
    the replace key adds the margins)."""
    syms = F.split(F.trim("s"), "  ")
    # guard: sequence(1, 0) infers step -1 in Spark and yields [1, 0],
    # so single-symbol words must short-circuit to an empty pair list
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.concat(
                F.element_at(syms, i), F.lit(" "), F.element_at(syms, i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        vocab.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_MERGES,
) -> DataFrame:
    """Train k BPE merges over the corpus → DataFrame(merge_rank, lhs,
    rhs, merged, pair_count), merge_rank 1-based in merge order.

    Tie-break: highest weighted count, then ascending binary-string
    order of the delimited pair 'A B' (identical in Spark and DuckDB —
    the symbol charset is [a-z0-9]).  Stops early (fewer than k rows)
    if the vocabulary runs out of adjacent pairs; the oracle twin
    unrolls exactly k levels, so gate corpora must support k merges
    (any non-degenerate text corpus does).
    """
    merges_df, _ = _bpe_train_vocab(_word_types(df, text_col), df.sparkSession, k)
    return merges_df


def _bpe_train_vocab(
    vocab: DataFrame, spark: SparkSession, k: int
) -> tuple[DataFrame, DataFrame]:
    """Training loop over a prebuilt word-type table → (merges, final
    vocab with all k merges applied).  The final vocab IS the
    segmentation table the encode pass needs, so callers that encode
    after training reuse it instead of re-deriving word types from the
    corpus and replaying the merges (r06: one corpus tokenize saved)."""
    vocab = vocab.localCheckpoint()
    merges: list[Row] = []
    for rank in range(1, k + 1):
        best = (
            _pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        left, right = pair.split(" ")
        merged = left + right
        merges.append(
            Row(
                merge_rank=rank,
                lhs=left,
                rhs=right,
                merged=merged,
                pair_count=cnt,
            )
        )
        vocab = vocab.select(
            F.replace(
                F.col("s"), F.lit(f" {left}  {right} "), F.lit(f" {merged} ")
            ).alias("s"),
            "freq",
        )
        # r06: checkpoint every 4th round, not every round — a chain of
        # ≤4 `replace` projections over the vocab table is bounded
        # recompute (vocabulary-sized, zero shuffle), and dropping the
        # eager materialization job halves the fixed per-round job
        # count for small k while the interval still truncates lineage
        # for large-k training runs.
        if rank % 4 == 0:
            vocab = vocab.localCheckpoint()
    if len(merges) % 4 != 0:
        vocab = vocab.localCheckpoint()
    schema = (
        "merge_rank int, lhs string, rhs string, merged string, pair_count long"
    )
    return spark.createDataFrame(merges, schema), vocab


def bpe_encode_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MERGES,
) -> DataFrame:
    """Train k merges, segment the word-type table, join the
    segmentation back per document → DataFrame(doc_id, n_words,
    n_subwords).  Words shorter than 2 chars (and words of length ≥ 2
    count via the vocabulary join) are single symbols, so every token
    contributes ≥ 1 subword and zero-token docs stay total with
    (0, 0).  One corpus tokenize + one vocabulary-key equi-join — the
    word column is the only shuffle key, never text."""
    # r06: ONE corpus tokenize.  The (doc_id, word) explode is
    # checkpointed and reused for (a) the word-type table training runs
    # on and (b) the per-doc rollup join; the trained loop's final
    # vocabulary IS the segmentation table (all k merges applied), so
    # no second corpus tokenize or replay of the k replaces is needed.  Same symbols, same merges, same
    # counts — grouping word TYPES by `w` instead of by the delimited
    # symbol string is a bijection (s ↔ w).
    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("w"),
    ).localCheckpoint()
    wt = (
        toks.filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab0 = wt.select(
        F.concat(
            F.lit("  "),
            F.array_join(F.regexp_extract_all("w", F.lit("."), 0), "  "),
            F.lit("  "),
        ).alias("s"),
        "freq",
    )
    _, final_vocab = _bpe_train_vocab(vocab0, df.sparkSession, k)
    seg = final_vocab.select(
        F.replace(F.col("s"), F.lit(" "), F.lit("")).alias("w"),
        F.size(F.split(F.trim("s"), "  ")).cast("long").alias("n_sub"),
    )
    counted = (
        toks.join(seg, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.coalesce("n_sub", F.lit(1))).cast("long").alias("n_subwords"),
        )
    )
    return (
        d.select("doc_id")
        .join(counted, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_subwords", F.lit(0)).cast("long").alias("n_subwords"),
        )
    )

"""Canonicalization: cluster labels → canonical entities.

≈ the dedup half of `nabu release` (one deduplicated graph per source,
/root/reference/userCode/assetGroups/release_graph_generator.py:36-83)
plus the reference's duplicate-id policy (keep-first-with-warning,
/root/reference/userCode/assetGroups/config.py:133-141).

The canonical member of a component is its lexicographically smallest
entity (deterministic, partition-order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import ENTITIES, enforce
from .components import connected_components


def canonicalize_values(values: DataFrame, edges: DataFrame, value_col: str = "value") -> DataFrame:
    """All distinct values + match edges → ENTITIES incl. singletons.

    Values untouched by any edge map to themselves.
    """
    cc = connected_components(edges)
    all_values = values.select(F.col(value_col).alias("entity_id")).distinct()
    out = (
        all_values.join(cc, "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
        .select("entity_id", "canonical_id")
    )
    return enforce(out, ENTITIES)


def rewrite_triples(
    triples: DataFrame,
    entities: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """owl:sameAs materialization: rewrite BOTH ends of every triple to
    its canonical entity and collapse the duplicates the rewrite
    creates.  `entities` is the (entity_id, canonical_id) map from
    canonicalize_values / connected_components; ids absent from the map
    pass through unchanged (left join + coalesce — an id with no
    sameAs assertion is its own canonical form).

    ≈ the reference's post-release dedup contract (one deduplicated
    graph per source, release_graph_generator.py:36-83) lifted from
    artifact granularity to triple granularity.  Scale shape: two
    equi-joins of the triple table against the entity map (shuffle on
    the id), one distinct — no driver state, no fan-out.
    """
    cs = entities.select(
        F.col("entity_id").alias(subj), F.col("canonical_id").alias("_cs")
    )
    co = entities.select(
        F.col("entity_id").alias(obj), F.col("canonical_id").alias("_co")
    )
    return (
        triples.join(cs, subj, "left")
        .join(co, obj, "left")
        .select(
            F.coalesce("_cs", subj).alias(subj),
            pred,
            F.coalesce("_co", obj).alias(obj),
        )
        .distinct()
    )

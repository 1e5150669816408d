"""Stage 4 — entity-linking candidate generation (north rule).

Two blocking paths, both shuffle-light:
- exact: broadcast hash join of normalized mention surface vs alias_dict (J2)
  — the dictionary is the small side, ALWAYS broadcast;
- fuzzy: length-banded broadcast join + levenshtein threshold (J3). At 100 TB
  the band predicate keeps the candidate cross-product linear in mentions;
  swapping in MinHashLSH blocking is a drop-in (operators/dedup.py has the
  MinHash machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import lex_norm_col

MAX_EDIT_DISTANCE = 2
"""Levenshtein bound of a fuzzy candidate (J3)."""


def mention_table(triples: DataFrame) -> DataFrame:
    """Distinct mention surfaces with their predicate class."""
    return (
        triples.select(
            F.col("obj").alias("mention"),
            lex_norm_col(F.col("obj")).alias("mention_norm"),
            F.col("pred"),
        )
        .filter(F.length("mention_norm") > 0)
        .distinct()
    )


def run(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions(mention, mention_norm, pred) × alias_dict(alias_norm,
    entity_id, entity_kind, prior) → candidate pairs with match_kind: exact
    surface matches, plus fuzzy ones within :data:`MAX_EDIT_DISTANCE` for
    the mentions without an exact match."""
    dic = F.broadcast(alias_dict)
    exact = mentions.join(dic, mentions.mention_norm == dic.alias_norm, "inner").select(
        "mention", "mention_norm", "pred", "entity_id", "entity_kind", "prior",
        F.lit("exact").alias("match_kind"), F.lit(0).alias("distance"),
    )
    missed = mentions.join(dic, mentions.mention_norm == dic.alias_norm, "left_anti")
    d = MAX_EDIT_DISTANCE
    fuzzy_pairs = (
        missed.join(
            dic,
            (F.abs(F.length(missed.mention_norm) - F.length(dic.alias_norm)) <= d)
            & (F.levenshtein(missed.mention_norm, dic.alias_norm) <= d),
            "inner",
        )
        .select(
            "mention", "mention_norm", "pred", "entity_id", "entity_kind", "prior",
            F.lit("fuzzy").alias("match_kind"),
            F.levenshtein("mention_norm", "alias_norm").alias("distance"),
        )
    )
    return exact.unionByName(fuzzy_pairs)


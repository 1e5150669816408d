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


# ---------------------------------------------------------------- LSH path

def _char_shingles(col, k: int = 3):
    """Char k-gram shingle array of a (short) string column, padded so
    strings shorter than k still produce one shingle."""
    # NB: rpad TRUNCATES strings longer than the target length — only pad
    # the short ones
    padded = F.when(F.length(col) < k, F.rpad(col, k, "_")).otherwise(col)
    idx = F.sequence(F.lit(0), F.greatest(F.length(padded) - k, F.lit(0)))
    return F.array_distinct(F.transform(idx, lambda i: padded.substr(i + 1, F.lit(k))))


def _minhash_cols(shingle_col, n_hashes: int = 6):
    from ..functions.columns import portable_hash32

    def mh(i: int):
        # bind i via closure — a 2-param lambda would make transform() pass
        # the ARRAY INDEX as the second arg, silently corrupting the salt
        salt = f"#c{i}"
        return F.array_min(
            F.transform(shingle_col, lambda s: portable_hash32(s, salt=salt))
        ).alias(f"mh{i}")

    return [mh(i) for i in range(n_hashes)]


def lsh_candidates(
    mentions: DataFrame,
    alias_dict: DataFrame,
    max_edit_distance: int = MAX_EDIT_DISTANCE,
    n_hashes: int = 6,
    band_size: int = 2,
) -> DataFrame:
    """J3 at 100 TB scale: MinHash-LSH blocking over char-3-gram shingles of
    the normalized surface, then EXACT Levenshtein rescoring inside each
    band bucket (SURVEY.md §2.3 J3 scale path).

    Unlike the banded broadcast join (candidates.run), this never forms the
    |mentions| × |dict| product: both sides hash into (band, bucket) keys and
    only bucket-colliding pairs are scored. Approximate — pairs sharing no
    band are missed (recall tunable via n_hashes/band_size).
    """
    n_bands = n_hashes // band_size

    def banded(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
        sig = df.select(*keep, *_minhash_cols(_char_shingles(F.col(text_col)), n_hashes))
        bands = []
        for b in range(n_bands):
            cols = [F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)]
            bands.append(
                sig.select(
                    *keep,
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("bucket"),
                )
            )
        out = bands[0]
        for x in bands[1:]:
            out = out.unionByName(x)
        return out

    m = banded(mentions, "mention_norm", ["mention", "mention_norm", "pred"])
    d = banded(alias_dict, "alias_norm", ["alias_norm", "entity_id", "entity_kind", "prior"])
    # filter BEFORE the cross-band dedup: the distinct's exchange then
    # carries only pairs within edit distance (levenshtein re-runs per band
    # collision, but that CPU is map-side and cheap next to shuffle bytes
    # at corpus scale; result is identical — filter commutes with distinct)
    pairs = (
        m.join(d, ["band", "bucket"])
        .drop("band", "bucket")
        .filter(F.levenshtein("mention_norm", "alias_norm") <= max_edit_distance)
        .distinct()
    )
    return pairs.select(
        "mention", "mention_norm", "pred", "entity_id", "entity_kind", "prior",
        F.when(F.col("mention_norm") == F.col("alias_norm"), "exact")
        .otherwise("fuzzy")
        .alias("match_kind"),
        F.levenshtein("mention_norm", "alias_norm").cast("int").alias("distance"),
    )

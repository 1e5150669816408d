"""LSH candidate blocking: precision is exact (ED filter), identical-string
recall is guaranteed (identical minhash), near-duplicate recall measured
against the exact banded join on fixture data."""

from __future__ import annotations

from x5_ner_spark.pipeline import candidates


def _mentions(spark, surfaces):
    rows = [(s, s, "has_brand") for s in surfaces]
    return spark.createDataFrame(rows, "mention string, mention_norm string, pred string")


def _dict(spark, aliases):
    rows = [(a, i, "BRAND", 0.9) for i, a in enumerate(aliases)]
    return spark.createDataFrame(
        rows, "alias_norm string, entity_id long, entity_kind string, prior double"
    )


def test_lsh_exact_surfaces_always_hit(spark):
    surfaces = ["простоквашино", "данон", "агуша", "greenfield"]
    got = candidates.lsh_candidates(_mentions(spark, surfaces), _dict(spark, surfaces)).collect()
    exact_hits = {(r["mention_norm"], r["match_kind"]) for r in got}
    for s in surfaces:
        assert (s, "exact") in exact_hits, s


def test_lsh_precision_and_recall_vs_exact_join(spark):
    surfaces = ["простаквашино", "данон", "агушa", "гринфилд", "абсолютнодругое"]
    aliases = ["простоквашино", "данон", "агуша", "greenfield", "домиквдеревне"]
    m, d = _mentions(spark, surfaces), _dict(spark, aliases)
    lsh = {(r["mention_norm"], r["entity_id"]) for r in candidates.lsh_candidates(m, d).collect()}
    exact = {
        (r["mention_norm"], r["entity_id"])
        for r in candidates.run(m, d).collect()
    }
    # precision: every LSH pair satisfies the same ED≤2 bound the exact path uses
    assert lsh <= exact
    # recall on this fixture: the char-shingle bands catch the 1-edit typos
    assert ("простаквашино", aliases.index("простоквашино")) in lsh
    assert ("данон", aliases.index("данон")) in lsh

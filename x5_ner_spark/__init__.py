"""x5_ner_spark — a PySpark-native KG-construction / NER analytics engine.

Brand-new implementation of the query semantics of the reference repo
``as3contender/x5-ner`` (see SURVEY.md), re-expressed Spark-first:

- ``core``       pure-Python deterministic semantics (regex span extraction,
                  BIO algebra, rule cascade) shared by Arrow UDFs and the
                  pytest oracle — no Spark imports.
- ``functions``  native Column builders (normalization, hashing, vectors).
- ``operators``  DataFrame-level operators (windows, dedup, similarity,
                  fuzzy joins, text stats, decision log, trainers).
- ``pipeline``   the KG-construction DAG: pages → text → mentions →
                  candidates → links → triples → canonical graph.
- ``sources``    lexicon text reader and the YAML pipeline config.
"""

__version__ = "0.1.0"

#!/usr/bin/env python
"""spark-submit entry point for the KG pipeline.

    spark-submit --master ... --driver-memory 8g --py-files x5_ner_spark.zip \
        kg_submit.py [--pages <parquet>] [--n N] [--out DIR] [--buckets K]

``--driver-memory`` must be given here: spark-submit starts the driver JVM
before ``session.get_spark`` runs, so its ``spark.driver.memory`` setting
comes too late.

Prints the committed row counts of the ``triples``, ``nodes`` and ``edges``
stage tables, summed from their manifests.

A top-level launcher is required because spark-submit executes the script as
__main__ (no package context for relative imports); the package itself ships
via --py-files.
"""

from x5_ner_spark.pipeline.runner import main

if __name__ == "__main__":
    main()

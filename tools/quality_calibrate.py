"""Threshold calibration for the learned quality classifier — the number a
production user needs before wiring ``kg_submit --quality-min``: for each
cut-off, what fraction of the corpus survives and how well the kept set
agrees with the (held-out) rule verdict.

Trains on a hash-split 80% of the corpus (portable md5 of doc_id — the
same split discipline as the ``hash_split`` query), evaluates every
threshold on the held-out 20%, and prints one JSON line per threshold plus
a summary line with the best-F1 cut. Driver-side sweep is numpy over the
collected (score, label) pairs of the EVAL SPLIT ONLY — at corpus scale
you sample the eval split; the training side never collects anything.

    python tools/quality_calibrate.py [--sf-dir DIR] [--dim 2048]
        [--ngrams 1|2] [--iters 60] [--thresholds 0.1,0.3,0.5,0.7,0.9]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--dim", type=int, default=2048)
    ap.add_argument("--ngrams", type=int, default=1, choices=(1, 2))
    ap.add_argument("--iters", type=int, default=60)
    ap.add_argument("--lr", type=float, default=2.0)
    ap.add_argument(
        "--thresholds",
        default="0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from x5_ner_spark.functions.columns import portable_hash32
    from x5_ner_spark.operators import quality_train as QT
    from x5_ner_spark.session import get_spark

    spark = get_spark(app_name="quality-calibrate")
    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    labeled = QT.gopher_labels(docs)
    is_eval = F.pmod(portable_hash32(F.col("doc_id").cast("string")), F.lit(5)) == 0
    train = labeled.filter(~is_eval)
    hold = labeled.filter(is_eval)

    w, b = QT.fit_quality_classifier(
        train, dim=args.dim, iters=args.iters, lr=args.lr, ngrams=args.ngrams
    )
    rows = (
        QT.score_quality(hold, w, b, ngrams=args.ngrams)
        .join(hold.select("doc_id", "label"), "doc_id")
        .collect()
    )
    s = np.array([r["q_score"] for r in rows])
    y = np.array([r["label"] for r in rows]) >= 0.5

    best = None
    for t in (float(x) for x in args.thresholds.split(",")):
        keep = s >= t
        tp = int((keep & y).sum())
        fp = int((keep & ~y).sum())
        fn = int((~keep & y).sum())
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        line = {
            "threshold": round(t, 3),
            "keep_rate": round(float(keep.mean()), 4),
            "keep_precision_vs_rules": round(prec, 4),
            "keep_recall_vs_rules": round(rec, 4),
            "f1": round(f1, 4),
        }
        print(json.dumps(line))
        if best is None or f1 > best["f1"]:
            best = line
    print(json.dumps({
        "summary": "best_f1_threshold",
        "n_eval": int(len(s)),
        "n_train": train.count(),
        "dim": args.dim,
        "ngrams": args.ngrams,
        **best,
    }))


if __name__ == "__main__":
    main()

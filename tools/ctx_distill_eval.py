#!/usr/bin/env python
"""Distill the stub-cascade teacher into the contextual provider and
measure the engine's triple-P/R quality gate under the trained checkpoint
(VERDICT r7 #5).

Round 7 trained the ctx head to stub-teacher PIECE labels and measured
piece-level agreement; this driver closes the loop at the TRIPLE surface:

  teacher  = fused_triples(eval pages)           # pinned stub cascade
  student  = fused_triples(eval pages, emission_npz=<head-probed ctx ckpt>)
  metric   = micro P/R/F1 of student vs teacher on (url, subj, pred, obj)

Train/eval pages are disjoint (deterministic url-hash split), so the number
is generalization of the probe, not memorization. The random-head baseline
is measured on the same eval split to show the training lift. The encoder
stays FROZEN (random init — no torch in this sandbox); the probe ceiling is
therefore the honest number, published in BENCH/BASELINE.md round 8.

Usage: python tools/ctx_distill_eval.py [--pages 4000] [--iters 120]
       [--lr 1.0] [--cores 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=4000)
    ap.add_argument("--iters", type=int, default=120)
    ap.add_argument("--lr", type=float, default=1.0)
    ap.add_argument("--train-frac", type=float, default=0.5)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument(
        "--dim", type=int, default=0,
        help="encoder width: 0 = the bench checkpoint (d=32); otherwise a "
             "fresh random encoder of this width over the same vocab — the "
             "probe ceiling scales with d (a d=32 random encoder cannot "
             "linearly separate the BRAND piece set)",
    )
    ap.add_argument("--objective", default="hard",
                    choices=["soft", "hard", "balanced"])
    args = ap.parse_args()

    import bench  # repo-root module: fixture vocab + checkpoint cache

    from x5_ner_spark import obs
    from x5_ner_spark.operators.ctx_train import (
        distill_eval_triples,
        split_pages,
        triple_prf,
    )
    from x5_ner_spark.pipeline.fixtures import pages_df
    from x5_ner_spark.pipeline.fused import fused_triples
    from x5_ner_spark.session import get_spark

    spark = get_spark(
        master=f"local[{args.cores}]", app_name="ctx-distill-eval"
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.dim:
        import tempfile

        from x5_ner_spark.core.ctx_transformer import write_ctx_checkpoint

        vocab = bench._bench_vocab()
        base_ckpt = os.path.join(
            tempfile.gettempdir(),
            f"x5bench_ctx_d{args.dim}_{bench._vocab_key(vocab)}.npz",
        )
        if not os.path.exists(base_ckpt):
            write_ctx_checkpoint(
                base_ckpt, vocab, d=args.dim, d_ff=2 * args.dim, max_len=160
            )
    else:
        base_ckpt = bench._ctx_ckpt()
    pages = pages_df(spark, args.pages).persist()
    pages.count()

    out_path = os.path.join(
        os.path.dirname(base_ckpt), f"x5_distilled_ctx_{args.pages}.npz"
    )
    t0 = time.time()
    with obs.recording() as log:
        res = distill_eval_triples(
            pages, base_ckpt, out_path, iters=args.iters, lr=args.lr,
            train_frac=args.train_frac, objective=args.objective,
        )
    wall = time.time() - t0
    hist = [f["loss"] for name, f in log if name == "train_loss"]

    # random-head baseline on the SAME eval split (shared helpers — a
    # drifted local reimplementation would score a different eval set)
    _, eval_pages = split_pages(pages, args.train_frac)
    teacher = fused_triples(eval_pages)
    base_student = fused_triples(eval_pages, emission_npz=base_ckpt)
    base = triple_prf(teacher, base_student)
    bp, br = base["precision"], base["recall"]

    per_pred = {
        r["pred"]: (int(r["tp"]), int(r["fp"]), int(r["fn"]))
        for r in res["counters"].collect()
    }
    print(json.dumps({
        "pages": args.pages, "iters": args.iters, "lr": args.lr,
        "dim": args.dim or 32, "objective": args.objective,
        "loss_first": round(hist[0], 4), "loss_last": round(hist[-1], 4),
        "precision": res["precision"], "recall": res["recall"],
        "f1": res["f1"],
        "tp": res["tp"], "fp": res["fp"], "fn": res["fn"],
        "baseline_precision": round(bp, 4), "baseline_recall": round(br, 4),
        "per_pred": per_pred,
        "wall_sec": round(wall, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

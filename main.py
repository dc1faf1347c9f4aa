#!/usr/bin/env python
"""spark-submit entrypoint.

    spark-submit --py-files pkg.zip main.py \
        --input <images table/path> --output <dir> \
        [--tiers exact,minhash,simhash,substring] [--no-resume]
    # text corpora (any read_documents format):
    ... --mode docs --format json [--rep-policy quality] [--emit-split 0.9]

Replaces the reference's CLI (-b blocksize -f filename,
/root/reference/Server/encoder.cpp:492-511) with the batch analog:
read the input table, run the tiered dedup pipeline (both modes), write
assignments/savings/metrics checkpoint tables under --output, print
the one-line accounting report (the App/Host.cpp:500-507 analog).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="PySpark dedup/clustering pipeline")
    p.add_argument("--input", required=True, help="input table: parquet path or catalog.db.table")
    p.add_argument("--output", required=True, help="checkpoint/output directory")
    p.add_argument("--mode", choices=("images", "docs"), default="images",
                   help="images: tiered image pipeline; docs: text-corpus "
                        "near-dup dedup over any read_documents format")
    p.add_argument("--tiers", default="exact,minhash,simhash,substring")
    p.add_argument("--format", default="parquet",
                   help="docs mode input format: parquet|orc|json|csv|text")
    def _frac(v: str) -> float:
        f = float(v)
        if not 0.0 < f < 1.0:
            raise argparse.ArgumentTypeError(
                f"train fraction must be in (0,1), got {v}")
        return f

    p.add_argument("--emit-split", type=_frac, default=None, dest="emit_split",
                   metavar="FRAC",
                   help="docs mode: also write a leakage-safe train/val "
                        "split table (train fraction FRAC; every member "
                        "of a near-dup cluster shares a split)")
    p.add_argument("--rep-policy", choices=("first", "quality"),
                   default="first", dest="rep_policy",
                   help="docs mode: cluster representative election — "
                        "'first' keeps the min doc_id, 'quality' keeps "
                        "the highest-quality member (min id on ties)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (omit on a cluster)")
    return p.parse_args(argv)


def _accounting(ratio) -> tuple:
    """dedup_ratio's row as (rows_total, rows_unique, payload_total,
    payload_after_dedup, pct); its sums are NULL on an empty input and
    read as 0."""
    r = ratio.collect()[0]
    return (*(int(r[k] or 0) for k in ("rows_total", "rows_unique", "bytes_total",
                                        "bytes_after_dedup")),
            round(r["compression_pct"] or 0.0, 3))


def run_docs_mode(spark, args) -> dict:
    """Document-corpus dedup: read_documents (any format) → run_pipeline
    over the DOCS contract (checkpoints under --output, resumed unless
    --no-resume) → assignments (and, asked, the leakage-safe split)
    written under --output → the character-savings report.  A
    captions-only corpus gets the same detector chain the image table
    gets (reference: /root/reference/Test/Testbench.cpp:81-123)."""
    from deduplication_and_compression_spark.config import DEFAULT_CONFIG
    from deduplication_and_compression_spark.operators.assign import leakage_safe_split
    from deduplication_and_compression_spark.operators.textops import quality_scores
    from deduplication_and_compression_spark.plans.pipeline import DOCS, run_pipeline
    from deduplication_and_compression_spark.sources.tables import read_documents

    out = Path(args.output)
    docs = read_documents(spark, args.input, fmt=args.format)
    scores = (quality_scores(docs).select("doc_id", "quality_bp")
              if args.rep_policy == "quality" else None)
    res = run_pipeline(
        spark, docs, out, DEFAULT_CONFIG, tiers=tuple(args.tiers.split(",")),
        resume=not getattr(args, "no_resume", False), contract=DOCS,
        scores=scores,
    )
    res.assignments.write.mode("overwrite").parquet(str(out / "assignments"))
    rows, unique, total, kept, pct = _accounting(res.ratio)
    report = {"rows_total": rows, "rows_unique": unique, "chars_total": total,
              "chars_saved": total - kept, "dedup_pct": pct}
    if args.emit_split is not None:
        leakage_safe_split(
            res.assignments, frac_train=args.emit_split, id_col="doc_id"
        ).write.mode("overwrite").parquet(str(out / "split"))
        counts = dict(spark.read.parquet(str(out / "split"))
                      .groupBy("split").count().collect())
        report["split_train"] = int(counts.get("train", 0))
        report["split_val"] = int(counts.get("val", 0))
    return report


def main(argv=None) -> None:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from deduplication_and_compression_spark.config import DEFAULT_CONFIG
    from deduplication_and_compression_spark.plans.pipeline import run_pipeline
    from deduplication_and_compression_spark.session import build_session
    from deduplication_and_compression_spark.sources.tables import read_table

    active = SparkSession.getActiveSession()
    spark = active or build_session(app_name="dedup-pipeline", cores=args.cores)
    if args.mode == "docs":
        t0 = time.perf_counter()
        report = run_docs_mode(spark, args)
        report["wall_sec"] = round(time.perf_counter() - t0, 1)
        print(json.dumps(report))
        return
    # loud rejections: these stages run over the document contract only
    if args.emit_split is not None:
        raise ValueError("--emit-split applies to --mode docs only")
    if args.rep_policy != "first":
        raise ValueError("--rep-policy applies to --mode docs only")
    images = read_table(spark, args.input)
    t0 = time.perf_counter()
    res = run_pipeline(
        spark,
        images,
        args.output,
        DEFAULT_CONFIG,
        tiers=tuple(args.tiers.split(",")),
        resume=not args.no_resume,
    )
    rows, unique, total, kept, pct = _accounting(res.ratio)
    wall = time.perf_counter() - t0
    report = {
        "rows_total": rows,
        "rows_unique": unique,
        "bytes_total": total,
        "bytes_after_dedup": kept,
        "compression_pct": pct,
        "wall_sec": round(wall, 1),
        "images_per_sec": round(rows / wall, 1),
        "config_fingerprint": DEFAULT_CONFIG.fingerprint(),
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()

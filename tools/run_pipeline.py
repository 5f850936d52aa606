"""spark-submit entry point for the KG-construction pipeline.

The north-rule deployment shape::

    spark-submit --py-files golden_horse_spark.zip tools/run_pipeline.py \
        --input /data/documents_parquet --output /data/kg \
        --aliases /data/names.txt \
        --weights fixtures/ner_weights.npz [--resume] [--fuzzy]

(locally, ``python tools/run_pipeline.py --synthesize 5000 ...`` works the
same way; ``get_spark`` zips+ships the package automatically when
spark-submit's --py-files wasn't used). Re-running with --resume skips
every stage whose checkpoint manifest matches — kill it mid-run and
restart to continue.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of interleaved documents")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--aliases", required=True,
                    help="names file (surface [freq [pos]] per line) used "
                         "as the entity-linking alias table")
    ap.add_argument("--weights", default=str(
        Path(__file__).resolve().parents[1] / "fixtures/ner_weights.npz"))
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument("--fuzzy", action="store_true",
                    help="enable fuzzy candidate generation (exact char-bigram Jaccard "
                         "join by prefix filtering)")
    ap.add_argument("--profile", action="store_true",
                    help="write the kg_profile QA report beside metrics")
    ap.add_argument("--dedup-docs", action="store_true",
                    help="fuzzy-dedup documents (keep one per duplicate "
                         "cluster) before extraction")
    ap.add_argument("--triple-parts", type=int, default=64)
    args = ap.parse_args()

    from golden_horse_spark.config import get_spark
    from golden_horse_spark.plans.pipeline import PipelineConfig, run_pipeline
    from golden_horse_spark.sources.documents import synthesize_documents
    from golden_horse_spark.sources.gazetteer import load_alias_table

    spark = get_spark("kg-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        docs = synthesize_documents(spark, args.synthesize, seed=42)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synthesize")

    cfg = PipelineConfig(
        output_dir=args.output,
        weights_path=args.weights,
        fuzzy_linking=args.fuzzy,
        triple_parts=args.triple_parts,
        resume=args.resume,
        dedup_docs=args.dedup_docs,
        profile=args.profile,
    )
    t0 = time.time()
    stages = run_pipeline(spark, docs, cfg, load_alias_table(spark, args.aliases))
    dt = time.time() - t0
    counts = {name: stages[name].count()
              for name in ("sentences", "mentions", "links", "entities", "triples")}
    print(f"pipeline complete in {dt:.1f}s: {counts}")
    print(f"stage tables + manifests under {args.output}; metrics table: "
          f"{args.output}/metrics")


if __name__ == "__main__":
    main()

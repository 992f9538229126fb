"""spark-submit driver for the KG-construction pipeline.

    spark-submit --master <cluster> --py-files dist/entity_extractor_spark.zip \
        run_kg.py --input <documents_parquet> --out <out_dir> [--resume]

    # or generate the deterministic synthetic corpus in-flight:
    spark-submit ... run_kg.py --gen-docs 10000 --out /tmp/kg_out

The pipeline reads a documents table (doc_id string, spans array<struct<
kind,text,media_ref,offset>>), runs extract -> link -> canonicalize ->
propagate -> materialize with per-stage lineage commits under --out, and
prints a one-line JSON summary (rows per table, wall time, triples/sec).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="documents parquet path (input_hint shape)")
    ap.add_argument("--gen-docs", type=int, help="generate a synthetic corpus of N docs instead")
    ap.add_argument("--out", required=True, help="output/lineage directory")
    ap.add_argument("--no-resume", action="store_true", help="force full recompute")
    ap.add_argument("--no-gazetteer", action="store_true", help="skip the mention-scan stage")
    ap.add_argument("--repartition", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from entity_extractor_spark.corpus import CorpusConfig, gazetteer_rows, generate_documents_df
    from entity_extractor_spark.plans.pipeline import run_pipeline
    from entity_extractor_spark.schemas import DOCUMENTS_SCHEMA
    from entity_extractor_spark.session import STATIC_CONF

    spark = SparkSession.builder.appName("kg_construct").config(map=STATIC_CONF).getOrCreate()

    cfg = CorpusConfig(n_docs=args.gen_docs or 0)
    if args.gen_docs:
        docs = generate_documents_df(spark, cfg)
    elif args.input:
        docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.input)
    else:
        raise SystemExit("one of --input / --gen-docs is required")

    gaz = None if args.no_gazetteer else gazetteer_rows(cfg if args.gen_docs else CorpusConfig())
    t0 = time.time()
    tables = run_pipeline(
        spark, docs, args.out,
        gazetteer=gaz,
        resume=not args.no_resume,
        repartition=args.repartition,
    )
    counts = {name: df.count() for name, df in tables.items()}
    dt = time.time() - t0
    print(json.dumps({
        "tables": counts,
        "wall_sec": round(dt, 2),
        "triples_per_sec": round(counts.get("triples", 0) / dt, 1) if dt > 0 else None,
        "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

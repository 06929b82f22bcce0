#!/usr/bin/env python3
"""spark-submit entrypoint for the KG-construction pipeline (north rule:
"launches via spark-submit --py-files on multi-executor clusters").

Cluster launch:

    python scripts/run_pipeline.py --pack-pyfiles /tmp/dygiepp_spark.zip
    spark-submit --master <cluster> --py-files /tmp/dygiepp_spark.zip \\
        scripts/run_pipeline.py --sf-dir s3://.../transcripts \\
        --warehouse s3://.../kg_warehouse

    # Iceberg warehouse instead of parquet:
    spark-submit ... --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \\
        --conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog \\
        --conf spark.sql.catalog.kg.type=rest ... \\
        scripts/run_pipeline.py --table-format iceberg --catalog kg.pipeline ...

Local smoke (exactly what tests/test_pipeline_cli.py runs in-process):

    spark-submit --master 'local[8]' --py-files /tmp/dygiepp_spark.zip \\
        scripts/run_pipeline.py --sf-dir /root/testdata/sf0.001 \\
        --warehouse /tmp/kg_wh --master ''

When launched under spark-submit, pass ``--master ''`` (empty) so the
session inherits the submitted master/conf instead of overriding it.
A re-run with the same warehouse resumes: stages with a committed
manifest are skipped up to the first stage that must run, which re-runs
together with every stage after it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
try:  # under spark-submit --py-files the package comes from the shipped zip
    import dygiepp_spark  # noqa: F401
except ImportError:  # direct `python scripts/run_pipeline.py` from a checkout
    sys.path.insert(0, REPO)


def pack_pyfiles(out_zip: str) -> str:
    """Zip the dygiepp_spark package for --py-files distribution."""
    pkg = os.path.join(REPO, "dygiepp_spark")
    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return out_zip


def build_session(args):
    from dygiepp_spark.session import get_spark

    if args.master == "":
        # under spark-submit: inherit master/deploy conf, add only the
        # engine's SQL tuning (builder conf merges over submitted conf)
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName("dygiepp_kg_pipeline")
        for k, v in {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.session.timeZone": "UTC",
        }.items():
            b = b.config(k, v)
        return b.getOrCreate()
    return get_spark("dygiepp_kg_pipeline", master=args.master or None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--warehouse", default="/tmp/kg_warehouse")
    ap.add_argument("--master", default="", help="'' = inherit spark-submit")
    ap.add_argument("--table-format", default=None, choices=[None, "parquet", "iceberg"])
    ap.add_argument("--catalog", default=None, help="iceberg <catalog>.<db>")
    ap.add_argument("--no-coref", action="store_true")
    ap.add_argument("--with-curation", action="store_true",
                    help="prepend quality-filter/dedup/PII-scrub stages; "
                         "extraction then consumes the curated doc set")
    ap.add_argument("--no-eval", action="store_true")
    ap.add_argument("--with-analytics", action="store_true",
                    help="append PageRank / triangles / negative-sample tables")
    ap.add_argument("--curation-lm-buckets", default=None,
                    metavar="BUCKETS",
                    help="with --with-curation: keep only these CCNet-style "
                         "perplexity tertiles, e.g. 'head,middle'")
    ap.add_argument("--pack-pyfiles", metavar="ZIP", default=None)
    args = ap.parse_args(argv)

    if args.pack_pyfiles:
        print(pack_pyfiles(args.pack_pyfiles))
        return 0

    if args.catalog:
        os.environ["SPARK_GRAFT_CATALOG"] = args.catalog
    if args.table_format:
        os.environ["SPARK_GRAFT_TABLE_FORMAT"] = args.table_format

    from dygiepp_spark.plans.pipeline import build_kg_pipeline

    spark = build_session(args)
    p = build_kg_pipeline(
        spark,
        args.warehouse,
        args.sf_dir,
        with_coref=not args.no_coref,
        with_eval=not args.no_eval,
        with_curation=args.with_curation,
        with_analytics=args.with_analytics,
        curation_lm_buckets=(
            tuple(args.curation_lm_buckets.split(","))
            if args.curation_lm_buckets else None
        ),
    )
    p.run()
    report = [
        {
            "stage": r.name,
            "rows": r.rows,
            "wall_sec": round(r.wall_sec, 3),
            "resumed": r.resumed,
            "location": r.path,
        }
        for r in p.results
    ]
    print(json.dumps({"pipeline": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

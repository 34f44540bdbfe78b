"""spark-submit entry point: checkpointed, resumable DDSketch build over a
web-pages table (north rule job shape).

Ship with:
  scripts/build_pyfiles.sh
  spark-submit --py-files dist/ddsketch_ruby_spark.zip \
      scripts/submit_job.py --input <parquet-or-iceberg> \
      --checkpoint /shared/ckpt --value-expr "length(text)" --group-by lang

The script enumerates input splits, skips splits already published in the
checkpoint, processes the remainder, and writes the merged
per-group quantiles — a kill at any point resumes without recomputation.
"""

from __future__ import annotations

import argparse
import glob
import os


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet dir (one file = one work unit)")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--output", default=None)
    p.add_argument("--value-col", default="n_chars")
    p.add_argument("--group-by", default="lang")
    p.add_argument("--alpha", type=float, default=0.01)
    p.add_argument("--bin-limit", type=int, default=2048)
    p.add_argument(
        "--prepare-web-corpus",
        action="store_true",
        help="run prepare_web_corpus on each split before sketching "
        "(raw crawl frames: url/warc_ts/html/...; makes e.g. "
        "--value-col n_chars --group-by domain the full north-star "
        "job, resumable per split)",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spark = SparkSession.builder.appName("ddsketch-build").getOrCreate()
    spec = DDSketchSpec(args.alpha, bin_limit=args.bin_limit)
    group_by = [g for g in args.group_by.split(",") if g]
    transform = None
    if args.prepare_web_corpus:
        from ddsketch_ruby_spark.operators.webcorpus import prepare_web_corpus

        transform = prepare_web_corpus
    build = CheckpointedSketchBuild(
        spark, spec, args.checkpoint, args.value_col, group_by, transform
    )
    splits = sorted(
        d
        for d in glob.glob(os.path.join(args.input, "*"))
        if not os.path.basename(d).startswith(("_", "."))
    ) or [args.input]
    n = build.run(splits)
    print(f"processed {n} pending splits of {len(splits)}")
    result = build.result()
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
    else:
        result.show(50, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()

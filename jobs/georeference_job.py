"""spark-submit entry point for the full georeferencing pipeline.

Usage (north rule: spark-submit --py-files at two cluster sizes):

    zip -qr mgs.zip mass_georeferencing_spark
    spark-submit --master local[2] --py-files mgs.zip \
        jobs/georeference_job.py --sf-dir <sf_dir> --amplify 8 --out <out_dir>
    spark-submit --master local[8] --py-files mgs.zip \
        jobs/georeference_job.py --sf-dir <sf_dir> --amplify 8 --checkpoint-dir <ck_dir>

On a real cluster the master flag becomes the cluster manager and --py-files
ships the same zip to executors; nothing in the package assumes local mode.
``--amplify`` and ``--checkpoint-dir`` compose: a rerun with the same flags
resumes from the committed stages, a rerun with other amplification factors
rebuilds them. Prints a one-line JSON summary (rows, wall seconds, pages/sec,
master, checkpoint stages built and skipped).
"""

from __future__ import annotations

import argparse
import json
import time

from mass_georeferencing_spark.plans.checkpoint import (
    input_path_fingerprint,
    run_georeference_checkpointed,
)
from mass_georeferencing_spark.plans.pipeline import georeference_frames
from mass_georeferencing_spark.session import get_spark
from mass_georeferencing_spark.sources import synthetic as syn


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=None, help="parquet output dir (omit: noop sink)")
    ap.add_argument("--checkpoint-dir", default=None, help="enable resumable stage checkpointing")
    ap.add_argument("--amplify", type=int, default=1, help="deterministic workload multiplier")
    ap.add_argument("--gaz-amplify", type=int, default=None, help="gazetteer multiplier (default amplify//4)")
    args = ap.parse_args()
    gaz_amplify = args.gaz_amplify or max(args.amplify // 4, 1)

    # master and deploy mode come from spark-submit; get_spark keeps them
    spark = get_spark(app_name="mass-georeferencing")
    # size reducer count to the data, NOT to this run's core count: the
    # scaling-evidence protocol runs the IDENTICAL plan at every parallelism
    # level, so the reducer count must stay constant across levels (floor 8,
    # same as bench.py)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 8)),
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.amplify > 1:
        pages = syn.amplified_pages(spark, args.sf_dir, args.amplify)
        gazetteer = syn.amplified_gazetteer(spark, args.sf_dir, gaz_amplify)
        n_pages = pages.count()  # warm file listing + JIT outside the timer
    else:
        pages = syn.pages_df(spark, args.sf_dir)
        gazetteer = syn.gazetteer_df(spark, args.sf_dir)
        n_pages = None
    mentions = syn.mentions_from_pages(pages)

    t0 = time.time()
    stages = {}
    if args.checkpoint_dir:
        fingerprint = (
            f"{input_path_fingerprint(args.sf_dir)}:amplify={args.amplify},{gaz_amplify}"
        )
        kept, ck = run_georeference_checkpointed(
            mentions, gazetteer, args.checkpoint_dir, fingerprint
        )
        stages = {"stages_built": ck.stages_built, "stages_skipped": ck.stages_skipped}
    else:
        kept = georeference_frames(mentions, gazetteer)["kept"]

    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
        n_rows = spark.read.parquet(args.out).count()
    else:
        kept.write.format("noop").mode("overwrite").save()
        n_rows = -1
    wall = round(time.time() - t0, 3)
    print(
        json.dumps(
            {
                "rows": n_rows,
                "wall_s": wall,
                "n_pages": n_pages,
                "pages_per_sec": round(n_pages / wall, 1) if n_pages else None,
                "master": spark.sparkContext.master,
                **stages,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Production flagship job — run via spark-submit --py-files (north rule):

    scripts/package.sh                       # builds dist/engine.zip
    spark-submit --master <cluster> \\
      --py-files dist/engine.zip jobs/flagship_job.py \\
      --events /root/testdata/sf0.001/events.parquet \\
      --output /tmp/flagship_out --checkpoint-root /tmp/flagship_ckpt \\
      --n-images 2000

Resumable: every stage writes through StageCheckpointer (atomic manifest +
per-partition lineage + row-count/latency metrics). Re-running with the
same --checkpoint-root restarts at the first incomplete stage; the metrics
table is printed and written at the end of every run.

Fault-tolerant: each payload is decoded once, in the ``image_features``
stage. A NULL, truncated or foreign payload does not fail the stage: its
row is checkpointed with ``ok`` false and its ``error_kind``, left out of
the feature vectors, and counted in the summary's ``quarantined_rows``.

The session is created by spark-submit's conf on a cluster; the local
fallback uses the engine factory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True,
                    help="events parquet path (driver-shaped table)")
    ap.add_argument("--images", default=None,
                    help="images parquet path (input_hint + entity/ts); "
                         "synthesized deterministically when omitted")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--n-images", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ecg_feature_engineering_spark.checkpoint import StageCheckpointer
    from ecg_feature_engineering_spark.datagen import images as datagen
    from ecg_feature_engineering_spark.plans import flagship as fplan
    from ecg_feature_engineering_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark("flagship-job")
    from ecg_feature_engineering_spark import contract as _c
    _c.ensure_workers_can_import(spark)
    # hash only the DATA-affecting inputs: --output/--checkpoint-root
    # don't change stage contents, so changing them must not force a
    # full re-decode (the resume contract)
    data_params = {k: v for k, v in vars(args).items()
                   if k in ("events", "images", "n_images", "seed")}
    cp = StageCheckpointer(spark, args.checkpoint_root, params=data_params)
    n_entities = max(args.n_images // 20, 2)

    # stage 1: payload features (the expensive decode pass — checkpointed
    # so a restart never re-decodes). It is also the quarantine sink:
    # a payload that does not decode lands here with ok = false and its
    # error_kind (<checkpoint-root>/image_features/data), and assemble
    # drops it
    img_feats = cp.run("image_features", lambda: fplan.image_features(
        spark.read.parquet(args.images) if args.images
        else datagen.images_df(spark, args.n_images, args.seed, n_entities)))
    n_quarantined = img_feats.where("NOT ok").count()
    # stage 2: event window features
    ev_feats = cp.run(
        "event_features",
        lambda: fplan.event_features(spark.read.parquet(args.events),
                                     n_entities))
    # stage 3: as-of assembly onto the snapshot grid
    snapshots = datagen.snapshots_df(spark, n_entities, 12, args.seed)

    features = cp.run(
        "feature_vectors",
        lambda: fplan.assemble(img_feats, ev_feats, snapshots))
    features.write.mode("overwrite").parquet(args.output)

    metrics = cp.metrics()
    print(json.dumps({"stages": metrics,
                      "output_rows": features.count(),
                      "quarantined_rows": n_quarantined,
                      "output": args.output}))
    # through the Hadoop FS API, not open(): --checkpoint-root may be a
    # non-local URI on a real cluster (the StageCheckpointer contract)
    cp.fs.write_text_atomic(
        os.path.join(args.checkpoint_root, "metrics.json"),
        json.dumps(metrics, indent=1))


if __name__ == "__main__":
    main()

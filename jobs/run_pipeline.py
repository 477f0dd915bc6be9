"""spark-submit entry point for the flagship point-in-time feature job.

    zip -r engine.zip video_features_spark
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --images <parquet> --labels <parquet> --output <dir> \
        [--modality image] [--model clip-small-det] [--num-parts 64] [--snapshot-id snap-1] \
        [--salt-threshold 100000] [--no-strict]

Reads the image+caption table (input_hint schema + entity_id/ts), strict
as-of matches the label probes against the image metadata, extracts
embeddings (Arrow UDF) of the matched images only, and writes the result
through the checkpointed writer. Any leaking row (feature timestamp at or
after its label's) fails the write before it commits: no data file and no
manifest row land, and the job exits with ``AssertionError: temporal
leakage: …`` naming the row. A matched image that fails to decode aborts
the write the same way; the run then drops it from the match and writes
again, so its labels get their newest earlier decodable image.
Re-running after any failure resumes from the partition manifest, decoding
only the images of entities in missing partitions. The ``JOB_STATS`` line
reports the writer's partition counts plus ``rows_in`` (media rows decoded:
the matched ones, plus undecodable matches found on the way) and
``quarantined_rows`` (those undecodable matches). This is the CLI
lifecycle of SURVEY.md §3.4; argument validation plays the role of the
reference's sanity_check (/root/reference/utils/utils.py:74-132).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--images", required=True, help="parquet dir: input_hint table + entity_id, ts")
    ap.add_argument("--labels", required=True, help="parquet dir: (entity_id, label_ts, label)")
    ap.add_argument("--output", required=True,
                    help="output base dir (data + _manifest): a local path or file: URI; "
                         "the manifest is kept with local file I/O, so other schemes are refused")
    ap.add_argument("--model", default="clip-small-det",
                    help="registry model; it must serve --modality (an image model such "
                         "as clip-small-det for image and video, vggish-det for audio)")
    ap.add_argument("--modality", default="image", choices=["image", "audio", "video"],
                    help="media type of --images (audio = WAV clips; video = MJPEG-AVI clips)")
    ap.add_argument("--num-parts", type=int, default=64)
    ap.add_argument("--snapshot-id", default="snapshot-0")
    ap.add_argument("--salt-threshold", type=int, default=None,
                    help="probe-rows-per-entity above which hot keys are salted")
    ap.add_argument("--strict", action=argparse.BooleanOptionalAction, default=True,
                    help="leakage-free: features strictly before label_ts "
                         "(--no-strict also admits features AT label_ts)")
    ap.add_argument("--compact-manifest", action="store_true",
                    help="after the run, compact the append-only manifest to "
                         "one row per partition, in place (the compacted file "
                         "is published before the files it replaces are "
                         "removed; run while no other writer is appending "
                         "to this base)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from video_features_spark.plans import FeatureJobSpec, run

    spec = FeatureJobSpec(
        images_path=args.images,
        labels_path=args.labels,
        output_path=args.output,
        model=args.model,
        modality=args.modality,
        strict=args.strict,
        salt_threshold=args.salt_threshold,
        num_parts=args.num_parts,
        snapshot_id=args.snapshot_id,
    )
    try:
        spec.validate()  # before any Spark work
    except ValueError as e:
        ap.error(str(e))
    # on a cluster, spark-submit owns master/executors; getOrCreate attaches
    spark = SparkSession.builder.appName("vfs-point-in-time").getOrCreate()
    stats = run(spark, spec)
    if args.compact_manifest:
        from video_features_spark.sources.checkpoint import compact_manifest

        stats["compaction"] = compact_manifest(spark, args.output)
    print("JOB_STATS:" + json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()

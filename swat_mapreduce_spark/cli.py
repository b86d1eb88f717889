"""Standalone CLI — the engine's equivalent of the reference's two
entry points (SURVEY.md §3):

* ``python/predict_batch_threaded_local.py <input> <ckpt>
  <class_folder> [model_cfg] [device] [--batch-size]`` (§3.3), and
* ``hadoop jar predict_cluster.jar PredictDriverCluster <input_list>
  <output_dir>`` (§3.1).

Usage::

    python -m swat_mapreduce_spark <input_list> <output_dir>
        [--labels PATH] [--model-cfg CFG] [--device cpu]
        [--batch-size N] [--no-sort]

Reads a manifest (one image path per line — blank lines skipped,
``#`` comments skipped, whitespace trimmed, exactly the mapper's
rules, java/PredictBatchMapperCluster.java:48-49,114). One deliberate
divergence: Spark's text source strips a FILE-LEADING UTF-8 BOM
(imagelist1.txt ships one), so the first manifest line arrives clean
here; a mid-file BOM (or one injected via DataFrame, as the synthetic
manifest fixture does) still flows through untouched — that wart
stays pinned by the flagship_classify oracle.
scores every path (deterministic hash scorer by default; a real
torch scorer plugs into operators/inference.scorer_fn), and writes
the reference-layout TSV ``path\\tclass,prob`` part files, key-sorted.

Arg-validation behavior mirrors java/PredictDriverCluster.java:14-20:
wrong arg count → usage on stderr, exit 2 (argparse convention).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="swat_mapreduce_spark",
        description="manifest -> classify -> key-sorted TSV (reference dataflow)",
    )
    p.add_argument("input_list", help="manifest text file (one path per line)")
    p.add_argument("output_dir", help="output directory for TSV part files")
    p.add_argument(
        "--labels",
        default=None,
        help="labels file/dir (python/predict_batch_threaded_local.py:41-52 "
        "rules); default: built-in 30-class vocabulary",
    )
    p.add_argument(
        "--model-cfg",
        default="vitb32_openclip_laion400m",
        help="model config tag (reference default, "
        "predict_batch_threaded_local.py:125)",
    )
    p.add_argument(
        "--device", default="cpu",
        help="cpu|cuda (cuda only honored if available, :131)",
    )
    p.add_argument(
        "--batch-size", type=int, default=32,
        help="reference micro-batch size (:127); accepted for "
        "compatibility, ignored by the hash scorer (no Arrow stage)",
    )
    p.add_argument(
        "--no-sort", action="store_true",
        help="skip the global key sort (sortWithinPartitions only) — "
        "the 100 TB default",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from swat_mapreduce_spark.operators import classify
    from swat_mapreduce_spark.session import get_spark
    from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

    spark = get_spark("swat-cli")
    manifest = spark.read.text(args.input_list).withColumnRenamed(
        "value", "line"
    )
    cleaned = classify.clean_manifest(manifest)
    preds = classify.predict_top1(classify.score(cleaned))
    labeled = classify.attach_labels(preds, spark, labels_path=args.labels)
    write_predictions_tsv(
        labeled.select("image_path", "class", "prob"),
        args.output_dir,
        sort=not args.no_sort,
    )
    print(f"wrote predictions to {args.output_dir}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

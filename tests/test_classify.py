"""Wart-for-wart semantics of the reference pipeline (SURVEY.md §5
item 3, FIXTURES.md §B): blank/comment skip, BOM preservation,
duplicate passthrough, error fallback, %.4f, key-sort."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from swat_mapreduce_spark.labels import CLASS_NAMES
from swat_mapreduce_spark.operators import classify


def test_clean_manifest_warts(spark, sf_dir):
    manifest = classify.synth_manifest(spark, sf_dir)
    cleaned = classify.clean_manifest(manifest).collect()
    paths = [r.image_path for r in cleaned]
    # blank / whitespace-only / comment lines are gone
    assert "" not in paths
    assert not any(p.startswith("#") for p in paths)
    # BOM is NOT stripped (reference wart: imagelist1.txt ships one)
    assert any(p.startswith("﻿") for p in paths)
    # whitespace-padded line was trimmed
    assert "/data/img/pad/es_1.jpg" in paths


def test_duplicates_preserved(spark, sf_dir):
    """Identity reduce (java/PredictReducerCSV.java:9-11): duplicate
    manifest lines → duplicate output rows."""
    out = classify.classify_pipeline(spark, sf_dir).collect()
    by_path: dict[str, int] = {}
    for r in out:
        by_path[r.image_path] = by_path.get(r.image_path, 0) + 1
    dup_counts = {p: c for p, c in by_path.items() if c > 1}
    assert dup_counts, "expected duplicated manifest paths in output"
    # duplicated rows must be identical (same class/prob)
    seen = {}
    for r in out:
        key = (r.image_path, r["class"], r.prob)
        seen.setdefault(r.image_path, set()).add(key)
    for p in dup_counts:
        assert len(seen[p]) == 1


def test_error_fallback_rows(spark, sf_dir):
    """decode failure → (path, class_names[0], 0.0), emitted not
    dropped (python/predict_batch_threaded_local.py:100-108)."""
    out = classify.classify_pipeline(spark, sf_dir).collect()
    fallback = [r for r in out if r.prob == 0.0]
    assert fallback, "~5% of paths should take the decode-failure path"
    assert all(r["class"] == CLASS_NAMES[0] for r in fallback)
    assert all(r.prob_str == "0.0000" for r in fallback)
    # and the failing paths are exactly the hash-designated ones
    for r in fallback[:5]:
        h = hashlib.md5(f"{r.image_path}:decode".encode()).hexdigest()[:2]
        assert int(h, 16) < 13


def test_output_sorted_and_formatted(spark, sf_dir):
    out = classify.classify_pipeline(spark, sf_dir).collect()
    paths = [r.image_path for r in out]
    assert paths == sorted(paths), "MR key-sort order (SURVEY §2A #18)"
    for r in out[:20]:
        assert r.prob_str == f"{r.prob:.4f}" or abs(float(r.prob_str) - r.prob) < 1e-9
        assert r["class"] in CLASS_NAMES


def test_argmax_first_index_tiebreak(spark):
    """torch.max returns the FIRST maximal index; array_position does
    the same — pin it with a constructed tie."""
    from swat_mapreduce_spark.functions import arrays as A

    df = spark.createDataFrame([([1.0, 3.0, 3.0, 0.0],)], "arr array<double>")
    row = df.select(A.argmax(F.col("arr")).alias("i")).first()
    assert row.i == 1


def test_tsv_sink_reference_format(spark, sf_dir, tmp_path):
    """TextOutputFormat parity: ``path\\tclass,prob`` lines
    (java/PredictDriverCluster.java:39,43)."""
    from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

    preds = classify.classify_pipeline(spark, sf_dir).limit(50)
    out_dir = str(tmp_path / "tsv_out")
    write_predictions_tsv(preds, out_dir)
    lines = spark.read.text(out_dir).collect()
    assert lines
    for r in lines:
        path_part, kv = r.value.split("\t")
        cls, prob = kv.rsplit(",", 1)
        assert cls in CLASS_NAMES
        float(prob)  # %.4f parses
        assert len(prob.split(".")[1]) == 4


# awkward paths: mid-string BOM, non-ASCII, quote, backslash, percent,
# 1 and 300 characters
AWKWARD_PATHS = [
    "/data/img/a\ufeffb.jpg",
    "/données/猫_ñ.jpg",
    "/x/it's.jpg",
    "C:\\img\\a.jpg",
    "/x/100%_done.jpg",
    "a",
    "/" + "p" * 299,
]


def test_logits_identical_across_engines(spark):
    """The JVM array, the NumPy scorer and the DuckDB oracle expression
    agree as exact doubles on all 30 logits and on decode_ok."""
    import duckdb
    import pandas as pd

    from swat_mapreduce_spark.functions import hashing as H
    from swat_mapreduce_spark.labels import NUM_CLASSES
    from swat_mapreduce_spark.operators.inference import (
        hash_decode_ok_np,
        hash_logits_np,
    )

    assert len(AWKWARD_PATHS[-1]) == 300
    df = spark.createDataFrame([(p,) for p in AWKWARD_PATHS], "image_path string")
    jvm = {
        r.image_path: (list(r.logits), r.ok)
        for r in df.select(
            "image_path",
            H.logits_array("image_path", NUM_CLASSES).alias("logits"),
            H.decode_ok(F.col("image_path")).alias("ok"),
        ).collect()
    }
    ser = pd.Series(AWKWARD_PATHS)
    np_logits = hash_logits_np(ser)
    np_ok = hash_decode_ok_np(ser)

    con = duckdb.connect()
    con.register("paths", pd.DataFrame({"image_path": AWKWARD_PATHS}))
    duck_rows = con.execute(f"""
        SELECT p.image_path, g.i,
               {H.duck_logit('p.image_path', 'g.i')} AS logit,
               {H.duck_decode_ok('p.image_path')} AS ok
        FROM paths p, generate_series(0, {NUM_CLASSES - 1}) AS g(i)
    """).fetchall()
    duck: dict[str, list] = {p: [None] * NUM_CLASSES for p in AWKWARD_PATHS}
    duck_ok = {}
    for p, i, logit, ok in duck_rows:
        duck[p][i] = logit
        duck_ok[p] = ok

    assert set(jvm) == set(AWKWARD_PATHS)
    for r, p in enumerate(AWKWARD_PATHS):
        logits, ok = jvm[p]
        assert logits == np_logits[r].tolist() == duck[p], p
        assert ok == bool(np_ok[r]) == duck_ok[p], p


def test_score_plan_has_no_lambda(spark):
    """Interpreted lambdas re-evaluate captured md5 blocks per element
    (CLAUDE.md gotcha 16): the scoring plan must be lambda-free."""
    paths = spark.createDataFrame([("/a.jpg",)], "image_path string")
    plan = classify.score(paths)._jdf.queryExecution().optimizedPlan().toString()
    assert "md5" in plan
    assert "lambda" not in plan.lower()


def test_labels_dim_is_local_relation(spark):
    """The label dim plans as a LocalRelation (no job to broadcast it),
    for the built-in vocabulary and for custom names alike."""
    from swat_mapreduce_spark.labels import labels_df

    for dim in (labels_df(spark), labels_df(spark, ["it's", "a\\b"])):
        plan = dim._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    assert [tuple(r) for r in labels_df(spark).collect()] == list(
        enumerate(CLASS_NAMES)
    )
    assert [tuple(r) for r in labels_df(spark, ["it's", "a\\b"]).collect()] == [
        (0, "it's"),
        (1, "a\\b"),
    ]

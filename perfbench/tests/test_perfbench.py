"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("batch_classify", "fetch_infer", "query_mix")


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for n in files:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    da, db, dc = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert da and da == db
    assert da != dc
    assert {k: v for k, v in a.items() if "dir" not in k and "path" not in k} == {
        k: v for k, v in b.items() if "dir" not in k and "path" not in k
    }


def test_manifest_has_duplicates_and_warts():
    lines = [x for f in gen.manifest_lines(3, n_paths=2000) for x in f]
    paths = [x for x in lines if x.startswith("/")]
    assert len(paths) - len(set(paths)) >= 2000 * gen.DUP_SHARE * 0.9
    assert "" in lines
    assert any(x.startswith("#") for x in lines)
    assert any(x.startswith("﻿") for x in lines)
    assert any(x.startswith(" ") and x.strip() for x in lines)


# --- checker rejects corrupted outputs ----------------------------------------

def _write_tsv(out_dir, rows, parts=3):
    os.makedirs(out_dir)
    per = -(-len(rows) // parts)
    for k in range(parts):
        with open(os.path.join(out_dir, f"part-{k:05d}-x-c000.txt"), "w", encoding="utf-8", newline="\n") as f:
            f.write("".join(f"{p}\t{c},{pr:.4f}\n" for p, c, pr in rows[k * per : (k + 1) * per]))
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


@pytest.fixture(scope="module")
def manifest(tmp_path_factory):
    d = tmp_path_factory.mktemp("m")
    info = gen.write_manifest(5, str(d / "manifest"), n_paths=600)
    return info["manifest_dir"], check.expected_predictions(info["manifest_dir"])


def test_expected_rows_follow_cleaning_rules(manifest):
    manifest_dir, expected = manifest
    lines = [x for f in gen.manifest_lines(5, n_paths=600) for x in f]
    kept = [x.strip(" ") for x in lines]
    kept[0] = kept[0].lstrip("﻿")  # file-leading BOM
    kept = [x for x in kept if x and not x.startswith("#")]
    assert len(expected) == len(kept)
    assert [p for p, _, _ in expected] == sorted(kept)
    assert len({p for p, _, _ in expected}) < len(expected)  # duplicates stay


def test_tsv_check_accepts_correct_output(tmp_path, manifest):
    _, expected = manifest
    _write_tsv(str(tmp_path / "ok"), expected)
    assert check.check_tsv(str(tmp_path / "ok"), expected) is None


def test_tsv_check_rejects_flipped_class(tmp_path, manifest):
    _, expected = manifest
    rows = list(expected)
    p, c, pr = rows[17]
    rows[17] = (p, "tea_bags" if c != "tea_bags" else "shoes", pr)
    _write_tsv(str(tmp_path / "o"), rows)
    assert "class" in check.check_tsv(str(tmp_path / "o"), expected)


def test_tsv_check_rejects_dropped_row(tmp_path, manifest):
    _, expected = manifest
    _write_tsv(str(tmp_path / "o"), expected[:40] + expected[41:])
    assert "rows written" in check.check_tsv(str(tmp_path / "o"), expected)


def test_tsv_check_rejects_broken_sort_order(tmp_path, manifest):
    _, expected = manifest
    # the first part file's last row moves to the end of the last part
    per = -(-len(expected) // 3)
    rows = expected[: per - 1] + expected[per:] + [expected[per - 1]]
    _write_tsv(str(tmp_path / "o"), rows)
    assert "sorted" in check.check_tsv(str(tmp_path / "o"), expected)


def test_tsv_check_rejects_missing_success_marker(tmp_path, manifest):
    _, expected = manifest
    _write_tsv(str(tmp_path / "o"), expected)
    os.remove(str(tmp_path / "o" / "_SUCCESS"))
    assert check.check_tsv(str(tmp_path / "o"), expected) is not None


@pytest.fixture(scope="module")
def objects(tmp_path_factory):
    d = tmp_path_factory.mktemp("obj")
    info = gen.write_objects(4, str(d), n_objects=60)
    return check.expected_object_predictions(info["objects_dir"], info["ids_path"])


def _write_parquet(out_dir, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "class": [r[1] for r in rows],
            "prob": [r[2] for r in rows],
        }),
        os.path.join(out_dir, "part-00000.parquet"),
    )
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()


def test_object_expectation_skips_missing_ids(objects):
    assert len(objects) == 60


def test_parquet_check_accepts_correct_output(tmp_path, objects):
    rows = [(i, c, p) for i, (c, p) in objects.items()]
    _write_parquet(str(tmp_path / "ok"), rows)
    assert check.check_parquet(str(tmp_path / "ok"), objects) is None


def test_parquet_check_rejects_flipped_class_and_dropped_row(tmp_path, objects):
    rows = [(i, c, p) for i, (c, p) in objects.items()]
    i, c, p = rows[3]
    _write_parquet(str(tmp_path / "flip"), rows[:3] + [(i, "shoes" if c != "shoes" else "tea_bags", p)] + rows[4:])
    _write_parquet(str(tmp_path / "drop"), rows[1:])
    assert check.check_parquet(str(tmp_path / "flip"), objects) is not None
    assert "rows written" in check.check_parquet(str(tmp_path / "drop"), objects)


def test_oracle_check_rejects_changed_result(tmp_path):
    info = gen.write_tables(2, str(tmp_path / "t"))
    oracle = check.OracleHashes(ROOT, info["tables_dir"])
    try:
        cols, h, n = oracle.get("json_extract_agg")
        assert n == 5
        assert oracle.check("json_extract_agg", cols, h, n) is None
        res = oracle._con.sql(oracle._registry["json_extract_agg"].oracle)
        names = list(res.columns)
        rows = [tuple(r[c] for c in names) for r in res.arrow().to_pylist()]
        sc = check.load_selfcheck(ROOT)
        assert oracle.check("json_extract_agg", names, *sc.table_hash(names, rows[1:])) is not None
        bumped = [(r[0], r[1] + 1, *r[2:]) if k == 0 else r for k, r in enumerate(rows)]
        assert oracle.check("json_extract_agg", names, *sc.table_hash(names, bumped)) is not None
    finally:
        oracle.close()


# --- metric names -------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_units_and_bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_run_reports_every_declared_metric():
    e2e = run.metric_units("end_to_end")
    values, _ = run.end_to_end(
        {
            "ops": [{"phase": "timed", "error": None, "t": 2.0 + k / 10, "rows": 100} for k in range(5)],
            "loop_s": 11.0,
            "peak_rss_mb": 900.0,
        },
        setup_s=12.0,
    )
    assert set(values) == set(e2e)
    assert all(v > 0 for v in values.values())
    layers = run.metric_units("per_layer")
    assert set(run.per_layer({"layers": {"classify.score_s": [1.0, 3.0]}}, layers)) == set(layers)

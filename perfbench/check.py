"""Untimed output checks, one per workload.

Each check recomputes the expected result independently of the Spark
plan that produced it and returns ``None`` when the output is right, or
a one-line reason when it is not. A failed check counts as a failed op.

* ``batch_classify``: the manifest is cleaned with the reference rules
  in plain Python, every path is scored with the NumPy scorer
  (``operators.inference.hash_logits_np`` / ``hash_decode_ok_np``), and
  the TSV part files must hold exactly those rows, duplicates included,
  with keys sorted across part files.
* ``fetch_infer``: every object named in the id manifest is scored from
  ``md5(content)`` and the parquet output must hold exactly those rows.
* ``query_mix``: the query's DuckDB oracle runs over the same parquet
  files; both results are hashed with ``tools/selfcheck.table_hash``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np

PROB_TOL = 0.5e-4 + 1e-9  # %.4f rendering: half-up vs half-even at ties


def _scores(keys: list[str]) -> tuple[list[str], np.ndarray]:
    """(class, prob) per key, computed like the reference CLI: softmax,
    first-max top-1, decode failure -> (class 0, 0.0)."""
    import pandas as pd

    from swat_mapreduce_spark.labels import CLASS_NAMES
    from swat_mapreduce_spark.operators.inference import (
        hash_decode_ok_np,
        hash_logits_np,
    )

    s = pd.Series(keys, dtype=object)
    logits = hash_logits_np(s)
    ok = hash_decode_ok_np(s)
    idx = np.argmax(logits, axis=1)
    top = logits[np.arange(len(keys)), idx]
    # left-to-right sum, as the JVM fold does
    denom = np.zeros(len(keys))
    for j in range(logits.shape[1]):
        denom = denom + np.exp(logits[:, j])
    prob = np.where(ok, np.exp(top) / denom, 0.0)
    idx = np.where(ok, idx, 0)
    return [CLASS_NAMES[i] for i in idx], prob


# --- batch_classify ---------------------------------------------------------

def cleaned_paths(manifest: str) -> list[str]:
    """Lines of a manifest file or directory after the reference
    cleaning rules: the text source drops a file-leading BOM; then trim
    spaces, drop blank and ``#``-comment lines. Duplicates stay."""
    files = (
        [os.path.join(manifest, n) for n in sorted(os.listdir(manifest))]
        if os.path.isdir(manifest)
        else [manifest]
    )
    out = []
    for path in files:
        with open(path, encoding="utf-8", newline="\n") as f:
            text = f.read()
        if text.startswith("﻿"):
            text = text[1:]
        for line in text.split("\n")[:-1]:
            p = line.strip(" ")
            if p and not p.startswith("#"):
                out.append(p)
    return out


def expected_predictions(manifest: str) -> list[tuple[str, str, float]]:
    """Sorted ``(path, class, prob)`` rows the CLI must write."""
    paths = cleaned_paths(manifest)
    distinct = sorted(set(paths))
    classes, probs = _scores(distinct)
    by_path = {p: (c, float(pr)) for p, c, pr in zip(distinct, classes, probs)}
    return [(p, *by_path[p]) for p in sorted(paths)]


def _part_files(out_dir: str, suffix: str = "") -> list[str]:
    return sorted(
        os.path.join(out_dir, n)
        for n in os.listdir(out_dir)
        if n.startswith("part-") and n.endswith(suffix)
    )


def check_tsv(out_dir: str, expected: list[tuple[str, str, float]]) -> str | None:
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return "no _SUCCESS marker"
    rows = []
    for part in _part_files(out_dir, ".txt"):
        with open(part, encoding="utf-8", newline="\n") as f:
            rows.extend(f.read().split("\n")[:-1])
    if len(rows) != len(expected):
        return f"{len(rows)} rows written, {len(expected)} expected"
    parsed = [line.rpartition("\t") for line in rows]
    for i in range(1, len(parsed)):
        if parsed[i][0] < parsed[i - 1][0]:
            return f"row {i}: keys not sorted across part files"
    for i, ((got_path, _, kv), (path, cls, prob)) in enumerate(zip(parsed, expected)):
        got_cls, _, got_prob = kv.partition(",")
        if got_path != path:
            return f"row {i}: path {got_path!r}, expected {path!r}"
        if got_cls != cls:
            return f"row {i}: class {got_cls!r}, expected {cls!r}"
        if len(got_prob) != 6 or abs(float(got_prob) - prob) > PROB_TOL:
            return f"row {i}: prob {got_prob!r}, expected {prob:.6f}"
    return None


# --- fetch_infer ------------------------------------------------------------

def expected_object_predictions(objects_dir: str, ids_path: str) -> dict[int, tuple[str, float]]:
    """doc_id -> (class, prob) for every manifest id that has an object."""
    from gen import object_name

    with open(ids_path, encoding="ascii") as f:
        ids = [int(x) for x in f.read().split()]
    keys, present = [], []
    for i in ids:
        path = os.path.join(objects_dir, object_name(i))
        if os.path.exists(path):
            with open(path, "rb") as f:
                keys.append(hashlib.md5(f.read()).hexdigest())
            present.append(i)
    classes, probs = _scores(keys)
    return {i: (c, float(p)) for i, c, p in zip(present, classes, probs)}


def check_parquet(out_dir: str, expected: dict[int, tuple[str, float]]) -> str | None:
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return "no _SUCCESS marker"
    got = pq.read_table(out_dir).to_pydict()
    ids = got["doc_id"]
    if len(ids) != len(expected):
        return f"{len(ids)} rows written, {len(expected)} expected"
    if len(set(ids)) != len(ids):
        return "duplicate doc_id rows"
    for doc_id, cls, prob in zip(ids, got["class"], got["prob"]):
        want = expected.get(doc_id)
        if want is None:
            return f"doc_id {doc_id} has no object"
        if cls != want[0] or abs(prob - want[1]) > 1e-9:
            return f"doc_id {doc_id}: ({cls}, {prob}), expected {want}"
    return None


# --- query_mix --------------------------------------------------------------

def load_selfcheck(repo_root: str):
    """``tools/selfcheck.py`` as a module (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(repo_root, "tools", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleHashes:
    """Per-query DuckDB oracle hash over the generated tables, computed
    once per query name and reused for each of its ops."""

    def __init__(self, repo_root: str, tables_dir: str):
        import duckdb

        from swat_mapreduce_spark.queries import load_all
        from swat_mapreduce_spark.sources.readers import TABLES

        self._selfcheck = load_selfcheck(repo_root)
        self._registry = load_all()
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        self._cache: dict[str, tuple[list[str], str, int]] = {}

    def get(self, name: str) -> tuple[list[str], str, int]:
        if name not in self._cache:
            res = self._con.sql(self._registry[name].oracle)
            cols = list(res.columns)
            # Arrow fetch keeps DuckDB HUGEINT/DECIMAL types distinct,
            # as the type-aware hash requires
            rows = [tuple(r[c] for c in cols) for r in res.arrow().to_pylist()]
            h, n = self._selfcheck.table_hash(cols, rows)
            self._cache[name] = (sorted(cols), h, n)
        return self._cache[name]

    def check(self, name: str, cols: list[str], h: str, n: int) -> str | None:
        want_cols, want_h, want_n = self.get(name)
        if want_n == 0:
            return "oracle returned no rows"
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)}, expected {want_cols}"
        if n != want_n:
            return f"{n} rows, oracle has {want_n}"
        if h != want_h:
            return f"value hash {h}, oracle {want_h}"
        return None

    def close(self) -> None:
        self._con.close()

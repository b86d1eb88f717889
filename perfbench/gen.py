"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files. Generation runs before the program under
test starts and is never part of a timed region or of ``setup_s``.

* ``batch_classify`` -- manifest text files (one image path per line)
  split over several files, with ~1/7 duplicate paths, a spread of path
  lengths, and wart lines (blank, spaces-only, ``#`` comments, mid-file
  UTF-8 BOMs, space padding, one file-leading BOM).
* ``fetch_infer`` -- a directory of binary objects (1-64 KiB,
  log-uniform) plus a manifest of object ids that also names a few ids
  with no object behind them.
* ``query_mix`` -- the ten testdata tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) as parquet, at about the
  row counts of the sf0.001 testdata.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# --- batch_classify ---------------------------------------------------------

MANIFEST_FILES = 8
MANIFEST_PATHS = 9_000  # path lines before duplicates and warts
DUP_SHARE = 1 / 7  # share of path lines that repeat an earlier path
WART_SHARE = 0.02  # share of extra wart lines

_WORDS = (
    "img cam frame shot capture scan photo still crop tile view batch "
    "north south east west left right top bottom raw proc final"
).split()


def _random_path(rng: random.Random, i: int) -> str:
    depth = rng.randint(0, 4)
    dirs = [
        rng.choice(_WORDS) + str(rng.randint(0, 10 ** rng.randint(1, 9)))
        for _ in range(depth)
    ]
    stem = "_".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 6)))
    src = f"src{rng.randrange(20)}"
    return "/".join(["", "data", "img", src, *dirs, f"{stem}_{i}.jpg"])


def _wart_line(rng: random.Random, i: int) -> str:
    kind = rng.randrange(5)
    if kind == 0:
        return ""
    if kind == 1:
        return " " * rng.randint(1, 8)
    if kind == 2:
        return "# commented out " + _random_path(rng, i)
    if kind == 3:
        # a mid-file BOM is not whitespace: the path keeps it
        return "﻿" + _random_path(rng, i)
    # space padding is trimmed
    return " " * rng.randint(1, 4) + _random_path(rng, i) + " " * rng.randint(1, 4)


def manifest_lines(seed: int, n_paths: int = MANIFEST_PATHS) -> list[list[str]]:
    """Lines of each manifest file, in file order."""
    rng = random.Random(f"batch_classify:{seed}")
    paths = [_random_path(rng, i) for i in range(n_paths)]
    n_dup = int(n_paths * DUP_SHARE)
    lines = paths + [rng.choice(paths) for _ in range(n_dup)]
    lines += [_wart_line(rng, n_paths + j) for j in range(int(len(lines) * WART_SHARE))]
    rng.shuffle(lines)
    per = -(-len(lines) // MANIFEST_FILES)
    files = [lines[k : k + per] for k in range(0, len(lines), per)]
    # the text source strips a BOM at the very start of a file
    files[0][0] = "﻿" + files[0][0]
    return files


def write_manifest(seed: int, out_dir: str, n_paths: int = MANIFEST_PATHS) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    files = manifest_lines(seed, n_paths)
    for k, lines in enumerate(files):
        with open(os.path.join(out_dir, f"manifest-{k:02d}.txt"), "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
    return {"manifest_dir": out_dir, "files": len(files), "lines": sum(map(len, files))}


# --- fetch_infer ------------------------------------------------------------

OBJECTS = 600
MISSING_IDS = 12  # manifest ids with no object
MIN_OBJ, MAX_OBJ = 1 << 10, 64 << 10


def object_name(obj_id: int) -> str:
    return f"obj_{obj_id:07d}.bin"


def write_objects(seed: int, out_dir: str, n_objects: int = OBJECTS) -> dict:
    """Objects ``obj_<id>.bin`` under ``out_dir/objects`` and the id
    manifest ``out_dir/ids.txt`` (one id per line, shuffled)."""
    rng = random.Random(f"fetch_infer:{seed}")
    obj_dir = os.path.join(out_dir, "objects")
    os.makedirs(obj_dir, exist_ok=True)
    ids = rng.sample(range(10 * n_objects), n_objects + MISSING_IDS)
    present, missing = ids[:n_objects], ids[n_objects:]
    total = 0
    for obj_id in present:
        size = int(MIN_OBJ * (MAX_OBJ / MIN_OBJ) ** rng.random())
        with open(os.path.join(obj_dir, object_name(obj_id)), "wb") as f:
            f.write(rng.randbytes(size))
        total += size
    manifest = present + missing
    rng.shuffle(manifest)
    ids_path = os.path.join(out_dir, "ids.txt")
    with open(ids_path, "w", encoding="ascii", newline="\n") as f:
        f.write("".join(f"{i}\n" for i in manifest))
    return {
        "objects_dir": obj_dir,
        "ids_path": ids_path,
        "objects": n_objects,
        "missing_ids": len(missing),
        "object_bytes": total,
    }


# --- query_mix --------------------------------------------------------------

SCALE = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}
_VOCAB = (
    "dup join a value fast column sort scan small customer merge hash line "
    "spark part batch slow group row filter query key big window table "
    "stream order data vector agg the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64


def _day(rng: random.Random, lo: dt.datetime, days: int) -> dt.datetime:
    return lo + dt.timedelta(days=rng.randrange(days))


def table_columns(seed: int) -> dict[str, dict[str, list]]:
    """Column lists per table; the row counts are ``SCALE``."""
    rng = random.Random(f"query_mix:{seed}")
    n = SCALE
    t: dict[str, dict[str, list]] = {}
    t["region"] = {
        "r_regionkey": list(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": [k % 5 for k in range(25)],
    }
    money = lambda lo, hi: round(rng.uniform(lo, hi), 2)  # noqa: E731
    t["customer"] = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [money(-999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n["customer"])],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n["supplier"])),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
        "s_acctbal": [money(-999.99, 9999.99) for _ in range(n["supplier"])],
    }
    t["part"] = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(n["part"])],
        "p_size": [rng.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(900 + 0.1 * k, 2) for k in range(n["part"])],
    }
    o_lo = dt.datetime(1995, 1, 1)
    t["orders"] = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [money(1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": [_day(rng, o_lo, 2404) for _ in range(n["orders"])],
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n["orders"])],
    }
    li = {k: [] for k in (
        "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
        "l_discount l_tax l_returnflag l_linestatus l_shipdate"
    ).split()}
    for _ in range(n["lineitem"]):
        ok = rng.randrange(n["orders"])
        li["l_orderkey"].append(ok)
        li["l_partkey"].append(rng.randrange(n["part"]))
        li["l_suppkey"].append(rng.randrange(n["supplier"]))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(float(rng.randint(1, 50)))
        li["l_extendedprice"].append(money(900, 105000))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(
            t["orders"]["o_orderdate"][ok] + dt.timedelta(days=rng.randint(1, 121))
        )
    t["lineitem"] = li
    n_users = max(15, n["events"] // 60)
    e_lo = dt.datetime(2024, 1, 1)
    ts = sorted(
        e_lo + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
        for _ in range(n["events"])
    )
    t["events"] = {
        "event_id": list(range(n["events"])),
        "ts": ts,
        "user_id": [rng.randrange(n_users) for _ in range(n["events"])],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n["events"])],
        "value": [money(0, 560) for _ in range(n["events"])],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n["events"])],
    }
    texts: list[str] = []
    for _ in range(n["documents"]):
        if texts and rng.random() < 0.02:
            texts.append(rng.choice(texts))  # exact duplicates for dedup
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 100))))
    t["documents"] = {
        "doc_id": list(range(n["documents"])),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n["documents"])],
        "source": [f"src{rng.randrange(20)}" for _ in range(n["documents"])],
        "n_chars": [len(x) for x in texts],
    }
    centers = [[rng.gauss(0, 0.15) for _ in range(EMBED_DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(n["embeddings"])]
    t["embeddings"] = {
        "vec_id": list(range(n["embeddings"])),
        "embedding": [
            [c + rng.gauss(0, 0.08) for c in centers[lab]] for lab in labels
        ],
        "label": labels,
    }
    return t


def _schemas():
    import pyarrow as pa

    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    return {
        "region": [("r_regionkey", i32), ("r_name", s)],
        "nation": [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        "customer": [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)],
        "supplier": [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
        "part": [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                 ("p_size", i32), ("p_retailprice", f64)],
        "orders": [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)],
        "lineitem": [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                     ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                     ("l_linestatus", s), ("l_shipdate", ts)],
        "events": [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)],
        "documents": [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
        "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
    }


def write_tables(seed: int, out_dir: str) -> dict:
    """One ``<table>.parquet`` per table, single row group, like the
    testdata the registry queries were written against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = table_columns(seed)
    rows = {}
    for name, fields in _schemas().items():
        schema = pa.schema(fields)
        table = pa.table({f: cols[name][f] for f, _ in fields}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"tables_dir": out_dir, "rows": rows}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the inputs of ``workload`` under ``out_dir``; return a
    description (paths and sizes) for the run and its checks."""
    if workload == "batch_classify":
        return write_manifest(seed, os.path.join(out_dir, "manifest"))
    if workload == "fetch_infer":
        return write_objects(seed, out_dir)
    if workload == "query_mix":
        return write_tables(seed, os.path.join(out_dir, "tables"))
    raise ValueError(f"unknown workload {workload!r}")

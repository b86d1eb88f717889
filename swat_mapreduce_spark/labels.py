"""The reference's 30-class label vocabulary.

Sorted subdirectory names of the reference's ``class_folder.zip``
(shipped via distributed cache, ``java/PredictDriverCluster.java:51``;
index semantics: sorted position = class index,
``python/predict_batch_threaded_local.py:48-50``). Index 0
(``aerosol_cans``) doubles as the error-fallback class
(``python/predict_batch_threaded_local.py:100-108,159``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CLASS_NAMES: list[str] = [
    "aerosol_cans",
    "aluminum_food_cans",
    "aluminum_soda_cans",
    "cardboard_boxes",
    "cardboard_packaging",
    "clothing",
    "coffee_grounds",
    "disposable_plastic_cutlery",
    "eggshells",
    "food_waste",
    "glass_beverage_bottles",
    "glass_cosmetic_containers",
    "glass_food_jars",
    "magazines",
    "newspaper",
    "office_paper",
    "paper_cups",
    "plastic_cup_lids",
    "plastic_detergent_bottles",
    "plastic_food_containers",
    "plastic_shopping_bags",
    "plastic_soda_bottles",
    "plastic_straws",
    "plastic_trash_bags",
    "plastic_water_bottles",
    "shoes",
    "steel_food_cans",
    "styrofoam_cups",
    "styrofoam_food_containers",
    "tea_bags",
]

NUM_CLASSES = len(CLASS_NAMES)
assert NUM_CLASSES == 30
assert CLASS_NAMES == sorted(CLASS_NAMES)


def labels_df(spark: SparkSession, names: list[str] = CLASS_NAMES) -> DataFrame:
    """Label dictionary ``(label_idx int, class_name string)`` over
    ``names`` in order (default: the built-in 30 classes).

    Tiny dim table — always broadcast when joined (SURVEY.md §2A #14).
    Built as a SQL VALUES list, so it plans as a ``LocalRelation``, not
    an RDD scan like ``createDataFrame`` of a list. Names travel as
    named parameters, so quotes and backslashes need no escaping."""
    rows = ", ".join(f"({i}, :c{i})" for i in range(len(names)))
    return spark.sql(
        f"SELECT * FROM (VALUES {rows}) AS labels(label_idx, class_name)",
        args={f"c{i}": n for i, n in enumerate(names)},
    )


def labels_values_sql() -> str:
    """DuckDB VALUES clause for the same dictionary (oracle side)."""
    rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(CLASS_NAMES))
    return f"(VALUES {rows}) AS labels(label_idx, class_name)"


def derive_class_names(path: str) -> list[str]:
    """Label-dict derivation, reference rules
    (python/predict_batch_threaded_local.py:41-52):
    file → stripped non-empty lines (order preserved);
    directory → sorted subdirectory names;
    else → sorted stems of the files inside.
    Driver-side (tiny), result broadcast via labels_df-style dim.
    """
    import os

    if os.path.isfile(path):
        with open(path, encoding="utf-8") as f:
            return [ln.strip() for ln in f if ln.strip()]
    entries = sorted(os.listdir(path))
    subdirs = [e for e in entries if os.path.isdir(os.path.join(path, e))]
    if subdirs:
        return sorted(subdirs)
    return sorted(os.path.splitext(e)[0] for e in entries)

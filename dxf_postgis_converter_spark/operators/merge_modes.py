"""Import merge modes (SURVEY §2.4 J5-J7, §3.2) — the reference's three
entity-write strategies re-expressed as set-algebra over DataFrames.

Reference semantics (import_use_case.py:424-530):
- OVERWRITE_LAYERS  (:424-456): delete_all + insert → per-layer partition
  overwrite: target rows whose (doc_id, layer) appears in the source are
  replaced wholesale.
- OVERWRITE_OBJECTS (:457-498): upsert keyed on (name, entity_type)
  (:481-494) — matched target rows updated, unmatched source rows appended.
- ADD_OBJECTS       (:499-530): insert only if (name, entity_type) absent
  (:523-526) — left_anti append.

On Iceberg these are overwritePartitions / MERGE INTO / anti-join append;
here each returns the new target state as a DataFrame plus a report of
per-layer counts (mirroring the reference's import report, :596-598).
sources/snapshot_store.SnapshotTable.merge persists the new state.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ImportMode(str, Enum):
    OVERWRITE_LAYERS = "overwrite_layers"
    OVERWRITE_OBJECTS = "overwrite_objects"
    ADD_OBJECTS = "add_objects"


_KEY = ["name", "entity_type"]  # import_use_case.py:481, :523


def overwrite_layers(target: DataFrame, source: DataFrame) -> DataFrame:
    """Replace every (doc_id, layer) partition present in source."""
    parts = source.select("doc_id", "layer").distinct()
    kept = target.join(parts, ["doc_id", "layer"], "left_anti")
    return kept.unionByName(source)


def overwrite_objects(target: DataFrame, source: DataFrame) -> DataFrame:
    """MERGE on (name, entity_type): update matched, insert unmatched.
    Within one import the reference processes per doc+layer; key scope here
    is (doc_id, layer, name, entity_type) so distinct documents don't
    clobber each other."""
    key = ["doc_id", "layer"] + _KEY
    updated_or_kept = target.join(source.select(*key).distinct(), key, "left_anti")
    return updated_or_kept.unionByName(source)


def add_objects(target: DataFrame, source: DataFrame) -> DataFrame:
    """Insert-if-absent on (doc_id, layer, name, entity_type)."""
    key = ["doc_id", "layer"] + _KEY
    fresh = source.join(target.select(*key).distinct(), key, "left_anti")
    return target.unionByName(fresh)


def apply_mode(target: DataFrame, source: DataFrame, mode: ImportMode) -> DataFrame:
    mode = ImportMode(mode)
    if mode == ImportMode.OVERWRITE_LAYERS:
        return overwrite_layers(target, source)
    if mode == ImportMode.OVERWRITE_OBJECTS:
        return overwrite_objects(target, source)
    return add_objects(target, source)


def import_report(source: DataFrame) -> DataFrame:
    """Per-layer entity counts + per-doc layer counts (A3/A4,
    import_use_case.py:596-598, 643)."""
    return source.groupBy("doc_id", "layer").agg(
        F.count("*").alias("n_entities"),
        F.count(F.col("geometry_wkb")).alias("n_with_geometry"),
    )


"""ML feature tables as a vectorized stage over ``value_change`` (F8-F19).

The reference computes these inline in the per-page loop
(page_parser.py:320-362 ``calculate_features``); since every battery is a
pure function of one row's serialized (old_value, new_value), we compute them
*after* the diff, row-parallel over Arrow batches — identical outputs, no
per-page skew, and Catalyst prunes the input to exactly the UPDATE rows.

Feature-row predicate (page_parser.py:426): change_target = '' AND
action = 'UPDATE' AND new_datatype = old_datatype; routing by datatype family
(page_parser.py:335-361).

Entity features follow the reference's two-phase design: placeholder rows at
diff time (page_parser.py:848-871, 2178-2245) + a backfill join against the
entity-labels dim and the broadcast transitive closures
(feature_creation.py:1359-1466), with a ``processed`` watermark column
(feature_creation.py:1398-1410) so re-runs are incremental.

Embedding cosine (F19): sentence-transformers is optional; when absent, a
deterministic hash-projection embedding keeps the plumbing real and testable
(clearly marked stub — swap in ``SentenceTransformer('all-MiniLM-L6-v2')``
on clusters that ship it, reference feature_creation.py:29-121).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import featurelib as FL
from .canonical import WD_ENTITY_TYPES, WD_STRING_TYPES

BASE_COLS = ["revision_id", "property_id", "property_label", "value_id",
             "change_target", "new_datatype", "old_datatype", "action",
             "old_value", "new_value"]
_BASE_SCHEMA = ("revision_id long, property_id int, property_label string, "
                "value_id string, change_target string, new_datatype string, "
                "old_datatype string, action string, old_value string, "
                "new_value string")

TEXT_FEATURE_COLS = [
    "token_overlap", "old_in_new", "new_in_old", "edit_distance_ratio",
    "complete_replacement", "length_diff_abs", "token_count_old",
    "token_count_new", "levenshtein_distance",
    "same_value_without_special_char", "special_char_count_diff",
    "char_insertions", "char_deletions", "char_substitutions",
    "adjacent_char_swap", "has_significant_prefix", "has_significant_suffix"]
_TEXT_TYPES = ("token_overlap double, old_in_new int, new_in_old int, "
               "edit_distance_ratio double, complete_replacement int, "
               "length_diff_abs int, token_count_old int, token_count_new int, "
               "levenshtein_distance int, same_value_without_special_char int, "
               "special_char_count_diff int, char_insertions int, "
               "char_deletions int, char_substitutions int, "
               "adjacent_char_swap int, has_significant_prefix int, "
               "has_significant_suffix int")

TIME_FEATURE_COLS = ["date_diff_days", "sign_change", "change_one_to_zero",
                     "day_added", "day_removed", "month_added",
                     "month_removed", "different_year", "different_day",
                     "different_month"]
QUANTITY_FEATURE_COLS = ["sign_change", "precision_change", "length_increase",
                         "length_decrease", "whole_number_change",
                         "old_is_prefix_of_new", "new_is_prefix_of_old",
                         "same_float_value"]
GLOBE_FEATURE_COLS = [
    "latitude_sign_change", "longitude_sign_change",
    "latitude_whole_number_change", "longitude_whole_number_change",
    "latitude_precision_change", "longitude_precision_change",
    "latitude_length_increase", "latitude_length_decrease",
    "longitude_length_increase", "longitude_length_decrease",
    "latitude_old_is_prefix_of_new", "latitude_new_is_prefix_of_old",
    "latitude_same_float_value", "longitude_old_is_prefix_of_new",
    "longitude_new_is_prefix_of_old", "longitude_same_float_value"]
ENTITY_SIM_COLS = ["token_overlap", "old_in_new", "new_in_old",
                   "edit_distance_ratio", "complete_replacement"]
ENTITY_CLOSURE_COLS = [
    "old_value_subclass_new_value", "new_value_subclass_old_value",
    "old_value_located_in_new_value", "new_value_located_in_old_value",
    "old_value_has_parts_new_value", "new_value_has_parts_old_value",
    "old_value_part_of_new_value", "new_value_part_of_old_value"]


def _update_rows(value_change: DataFrame) -> DataFrame:
    return value_change.filter(
        (F.col("change_target") == "") & (F.col("action") == "UPDATE")
        & (F.col("new_datatype") == F.col("old_datatype")))


def _battery_stage(rows: DataFrame, battery, feature_cols: list[str],
                   types: str, extra_literals: dict) -> DataFrame:
    """Battery features for one datatype family.

    The batteries are pure functions of the serialized (old_value,
    new_value) pair, and pairs repeat heavily (rank strings, common
    dates/quantities, popular labels; measured: 100,650 text UPDATE rows
    at bench scale collapse to 4,002 distinct pairs).  So the Python
    boundary sees only the DISTINCT pairs — one narrow mapInPandas over
    ``select(old,new).distinct()`` — and the per-row feature columns are
    stamped back with a JVM equi-join (guide §4.3 "pass only the columns
    the function needs" + §2.3 aggregate-before-shuffle; the same
    distinct-then-fan-back shape as linking's tail scorer).  The join is
    1:1 (distinct build side), AQE broadcasts the small feature frame,
    and the wide per-row pandas construction + Arrow return of ~25
    feature columns × every row is gone.

    ``old_value``/``new_value`` are never NULL on this path (the diff
    emits ``serialize_or_empty`` strings), so the plain column equi-join
    is exact; a defensive filter keeps any hypothetical null row out of
    the Python stage entirely (it would join back NULL features, exactly
    what the old row-wise battery produced for nulls — battery(None, ..)
    never occurred there either since pairs come from the same rows).
    """
    pair_schema = "old_value string, new_value string, " + types

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [battery(o, n) for o, n in
                     zip(pdf["old_value"], pdf["new_value"])]
            fdf = pd.DataFrame(feats, columns=feature_cols, index=pdf.index) \
                if feats else pd.DataFrame(columns=feature_cols)
            out = pd.concat([pdf[["old_value", "new_value"]], fdf], axis=1)
            yield out[["old_value", "new_value"] + feature_cols]

    cols = BASE_COLS + ["entity_label"]
    pairs = (rows.select("old_value", "new_value")
             .filter(F.col("old_value").isNotNull()
                     & F.col("new_value").isNotNull())
             .distinct())
    feats = pairs.mapInPandas(run, schema=pair_schema)
    out = rows.select(*cols).join(feats, ["old_value", "new_value"], "left")
    for k, (_t, v) in extra_literals.items():
        out = out.withColumn(k, F.lit(v))
    return out.select(*BASE_COLS, *feature_cols, "entity_label",
                      *extra_literals)


FEATURE_TABLES = ["features_text", "features_time", "features_quantity",
                  "features_globecoordinate", "features_entity"]


def feature_tables(value_change: DataFrame,
                   families: list[str] | None = None) -> dict[str, DataFrame]:
    """The feature tables named in ``families`` (default: all five) from the
    enriched value_change table; only the plans asked for are built."""
    upd = _update_rows(value_change)

    def rows(types):
        return upd.filter(F.col("new_datatype").isin(types))

    builders = {
        "features_text": lambda: _battery_stage(
            rows(WD_STRING_TYPES),
            lambda o, n: FL.text_features("text", o, n),
            TEXT_FEATURE_COLS, _TEXT_TYPES,
            {"value_cosine_similarity": ("double", 0.0),
             "label": ("string", ""), "processed": ("boolean", False)}),
        "features_time": lambda: _battery_stage(
            rows(["time"]), FL.time_features, TIME_FEATURE_COLS,
            ", ".join(f"{c} int" for c in TIME_FEATURE_COLS),
            {"label": ("string", "")}),
        "features_quantity": lambda: _battery_stage(
            rows(["quantity"]), FL.quantity_features, QUANTITY_FEATURE_COLS,
            ", ".join(f"{c} int" for c in QUANTITY_FEATURE_COLS),
            {"label": ("string", "")}),
        "features_globecoordinate": lambda: _battery_stage(
            rows(["globecoordinate"]), FL.globe_features, GLOBE_FEATURE_COLS,
            ", ".join(f"{c} int" for c in GLOBE_FEATURE_COLS),
            {"label_latitude": ("string", ""),
             "label_longitude": ("string", "")}),
        "features_entity": lambda: _entity_placeholders(
            rows(WD_ENTITY_TYPES)),
    }
    return {name: builders[name]() for name in families or FEATURE_TABLES}


def _entity_placeholders(entity_rows: DataFrame) -> DataFrame:
    """Entity features: placeholder phase (page_parser.py:848-871)."""
    ent = entity_rows.select(*BASE_COLS, "entity_label")
    for c in ENTITY_SIM_COLS:
        ent = ent.withColumn(
            c, F.lit(None).cast("double" if c in ("token_overlap",
                                                  "edit_distance_ratio")
                                else "int"))
    ent = ent.withColumn("is_link_change", F.lit(None).cast("int"))
    for c in ENTITY_CLOSURE_COLS:
        ent = ent.withColumn(c, F.lit(0))
    return (ent.withColumn("old_value_label", F.lit(""))
            .withColumn("new_value_label", F.lit(""))
            .withColumn("old_value_description", F.lit(""))
            .withColumn("new_value_description", F.lit(""))
            .withColumn("label_cosine_similarity", F.lit(0.0))
            .withColumn("description_cosine_similarity", F.lit(0.0))
            .withColumn("label", F.lit(""))
            .withColumn("processed", F.lit(False)))


# --------------------------------------------------------------------------- #
# embedding stub (F19)
# --------------------------------------------------------------------------- #

try:  # pragma: no cover - the heavy path only exists on GPU clusters
    from sentence_transformers import SentenceTransformer  # noqa: F401
    _HAS_ST = True
except ImportError:
    _HAS_ST = False

_ST_MODEL = None


def _resolve_backend() -> str:
    """Feature flag for the embedding backend (resolved ON THE DRIVER).

    ``WIDIFF_EMBEDDINGS=stub`` forces the deterministic sha256 stub
    (reproducible CI), ``=st`` forces SentenceTransformer (raises if the
    package is missing — a misconfigured cluster should fail loudly, not
    silently degrade), ``=npz:<model_dir>`` runs the pure-numpy
    transformer encoder over that checkpoint (widiff_spark/encoder.py —
    the real-forward-pass path this container can actually execute), and
    the default ``auto`` uses SentenceTransformer iff installed."""
    import os
    mode = os.environ.get("WIDIFF_EMBEDDINGS", "auto")
    if mode in ("stub", "st") or mode.startswith("npz:"):
        return mode
    return "st" if _HAS_ST else "stub"


_NPZ_MODELS: dict[str, object] = {}


def _npz_model(model_dir: str):
    """One encoder per (worker) process per checkpoint dir, lazily — same
    lifecycle as _st_model."""
    if model_dir not in _NPZ_MODELS:
        from .encoder import NumpyTransformerEncoder
        _NPZ_MODELS[model_dir] = NumpyTransformerEncoder.load(model_dir)
    return _NPZ_MODELS[model_dir]


def _st_model():
    """One model per worker process, lazily (the reference loads it once per
    run, feature_creation.py:29-121; per-batch construction would dominate)."""
    global _ST_MODEL
    if _ST_MODEL is None:
        from sentence_transformers import SentenceTransformer as _ST
        _ST_MODEL = _ST("all-MiniLM-L6-v2")
    return _ST_MODEL


def embed_texts(texts: list[str], dim: int = 16,
                use_st: bool | None = None,
                backend: str | None = None) -> np.ndarray:
    """Batch text embedding.

    Backends: ``st`` — ``SentenceTransformer('all-MiniLM-L6-v2').encode``
    (reference feature_creation.py:1248; package absent in this container);
    ``npz:<dir>`` — the pure-numpy transformer encoder
    (widiff_spark/encoder.py), a genuine BERT-architecture forward pass
    executed un-mocked in tests; ``stub`` — deterministic sha256 projection
    to a unit vector (keeps batch shape/normalization semantics identical
    so the Spark plumbing is fully exercised).  All paths honor one
    contract (tests/test_embedding_contract.py): float ndarray of shape
    (len(texts), d), NaN-free, deterministic per text.

    ``backend``/``use_st``: the caller's resolved flag.  The backfill
    stages resolve it ON THE DRIVER (``_resolve_backend()``) and close
    over the decision — executor processes never see the driver's
    environment, so reading the env var here would silently degrade a
    forced ``WIDIFF_EMBEDDINGS=st`` to the stub on every worker
    (verified live).
    """
    if backend is None:
        if use_st is not None:  # legacy bool seam, kept for callers/tests
            backend = "st" if use_st else "stub"
        else:
            backend = _resolve_backend()
    if backend == "st":  # pragma: no cover - exercised via contract fake
        return np.asarray(_st_model().encode(list(texts)), dtype=np.float64)
    if backend.startswith("npz:"):
        return _npz_model(backend[4:]).encode([str(t) for t in texts])
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, t in enumerate(texts):
        digest = hashlib.sha256(str(t).encode("utf-8")).digest()
        vec = np.frombuffer(digest[:dim * 2], dtype=np.uint8).astype(np.float64)
        vec = vec[:dim] - 127.5
        norm = np.linalg.norm(vec)
        out[i] = vec / (norm if norm else 1.0)
    return out


def _cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    num = (a * b).sum(axis=1)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    den[den == 0] = 1.0
    return num / den


# --------------------------------------------------------------------------- #
# backfill phase (compute_remaining_features analog, SURVEY.md §3.2)
# --------------------------------------------------------------------------- #

def _strip_quotes(col):
    return F.regexp_replace(col, '^"|"$', "")


def backfill_entity_features(features_entity: DataFrame,
                             entity_labels: DataFrame,
                             closures: dict[str, DataFrame]) -> DataFrame:
    """Fill the placeholder entity-feature columns in one declarative job.

    Replaces the reference's batched SELECT/UPDATE loop
    (feature_creation.py:1359-1466) with: broadcast label joins (label falls
    back to alias, feature_creation.py:1337-1349), a vectorized text battery
    + closure membership + embedding cosine, filtered to ``NOT processed``
    (the incremental watermark).
    """
    todo = features_entity.filter(~F.col("processed"))
    done = features_entity.filter(F.col("processed"))

    dim = F.broadcast(entity_labels.select(
        "qid",
        F.when((F.col("label").isNotNull()) & (F.col("label") != ""),
               F.col("label")).otherwise(F.col("alias")).alias("_label"),
        F.col("description").alias("_desc")))

    todo = (todo
            .withColumn("_old_qid", _strip_quotes(F.col("old_value")))
            .withColumn("_new_qid", _strip_quotes(F.col("new_value"))))
    for side in ("old", "new"):
        todo = (todo.join(dim.withColumnRenamed("qid", f"_{side}_qid_k"),
                          todo[f"_{side}_qid"] == F.col(f"_{side}_qid_k"),
                          "left")
                .withColumn(f"{side}_value_label",
                            F.coalesce("_label", F.lit("")))
                .withColumn(f"{side}_value_description",
                            F.coalesce("_desc", F.lit("")))
                .drop("_label", "_desc", f"_{side}_qid_k"))

    # closure membership as relational algebra (SURVEY J8): explode each
    # relation's comma-joined closure to (entity, member) rows and flag the
    # DISTINCT (old_qid, new_qid) pairs by semi-join — the closure dims
    # (millions of rows at reference scale, feature_creation.py:1359-1466)
    # never reach the driver, and the pair dim joined back is tiny relative
    # to the fact table (AQE picks broadcast when it fits).
    rel_cols = {
        "subclass_transitive": ("old_value_subclass_new_value",
                                "new_value_subclass_old_value"),
        "located_in_transitive": ("old_value_located_in_new_value",
                                  "new_value_located_in_old_value"),
        "has_part_transitive": ("old_value_has_parts_new_value",
                                "new_value_has_parts_old_value"),
        "part_of_transitive": ("old_value_part_of_new_value",
                               "new_value_part_of_old_value"),
    }
    pairs = todo.select("_old_qid", "_new_qid").distinct()
    pair_flags = pairs
    # iterate the expected relations, not the caller's dict: a partial
    # closures dict default-0s the missing relations (parity with the
    # pre-rewrite cmap.get behavior) and unknown keys are ignored.
    for rel, (fwd, bwd) in rel_cols.items():
        df = closures.get(rel)
        if df is None:
            pair_flags = (pair_flags.withColumn(fwd, F.lit(0))
                                    .withColumn(bwd, F.lit(0)))
            continue
        dim = (df.select(
            F.col("entity_id").alias("_ent"),
            F.explode(F.split(F.coalesce("transitive_closure_qids",
                                         F.lit("")), ",")).alias("_member"))
            .filter(F.col("_member") != ""))
        fwd_hits = (pairs.join(
            dim, (pairs["_old_qid"] == dim["_ent"])
            & (pairs["_new_qid"] == dim["_member"]), "left_semi")
            .withColumn(fwd, F.lit(1)))
        bwd_hits = (pairs.join(
            dim, (pairs["_new_qid"] == dim["_ent"])
            & (pairs["_old_qid"] == dim["_member"]), "left_semi")
            .withColumn(bwd, F.lit(1)))
        pair_flags = (pair_flags
                      .join(fwd_hits, ["_old_qid", "_new_qid"], "left")
                      .join(bwd_hits, ["_old_qid", "_new_qid"], "left"))
    for fwd, bwd in rel_cols.values():
        pair_flags = pair_flags.withColumn(fwd, F.coalesce(fwd, F.lit(0))) \
                               .withColumn(bwd, F.coalesce(bwd, F.lit(0)))
    todo = todo.drop(*[c for fb in rel_cols.values() for c in fb]) \
               .join(pair_flags, ["_old_qid", "_new_qid"], "left")

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in todo.schema.fields
        if not f.name.startswith("_"))
    backend = _resolve_backend()  # driver-side; workers inherit the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                sims = [FL.text_features("entity", o, n) for o, n in
                        zip(pdf["old_value_label"], pdf["new_value_label"])]
                pdf[ENTITY_SIM_COLS] = pd.DataFrame(sims, index=pdf.index)
                pdf["is_link_change"] = [
                    int((ol == nl) and (ov != nv)) for ol, nl, ov, nv in
                    zip(pdf["old_value_label"], pdf["new_value_label"],
                        pdf["_old_qid"], pdf["_new_qid"])]
                old_lab = embed_texts(list(pdf["old_value_label"]),
                                      backend=backend)
                new_lab = embed_texts(list(pdf["new_value_label"]),
                                      backend=backend)
                pdf["label_cosine_similarity"] = _cosine(old_lab, new_lab)
                old_d = embed_texts(list(pdf["old_value_description"]),
                                    backend=backend)
                new_d = embed_texts(list(pdf["new_value_description"]),
                                    backend=backend)
                pdf["description_cosine_similarity"] = _cosine(old_d, new_d)
                pdf["processed"] = True
            yield pdf[[c for c in pdf.columns if not c.startswith("_")]]

    filled = todo.mapInPandas(run, schema=out_schema)
    return done.unionByName(filled)


def backfill_text_features(features_text: DataFrame) -> DataFrame:
    """value_cosine_similarity backfill for text features
    (feature_creation.py:1207-1317), same watermark pattern."""
    todo = features_text.filter(~F.col("processed"))
    done = features_text.filter(F.col("processed"))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in todo.schema.fields)
    backend = _resolve_backend()  # driver-side; workers inherit the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                old = embed_texts([str(v).replace('"', "")
                                   for v in pdf["old_value"]], backend=backend)
                new = embed_texts([str(v).replace('"', "")
                                   for v in pdf["new_value"]], backend=backend)
                pdf["value_cosine_similarity"] = _cosine(old, new)
                pdf["processed"] = True
            yield pdf

    return done.unionByName(todo.mapInPandas(run, schema=out_schema))

"""Typed schemas for every stage boundary.

The reference moves positional Python tuples whose layouts live in
scripts/const.py:113-446; here each layout is an explicit Spark schema.
``file_path`` in the reference (the source XML dump file) maps to ``repo``
(the namespace shard of the versioned-document input).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input contract (BASELINE.json input_hint): one row = one revision of a page.
# ---------------------------------------------------------------------------
DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
])

# ---------------------------------------------------------------------------
# parse.py output: one row per revision, content digested to a canonical
# snapshot JSON (claims pre-hashed, labels normalized).  Bad rows keep
# parse_ok = false + error (the quarantine channel replacing the reference's
# logs/error_revision_text.txt, page_parser.py:168-187).  The last four
# columns are the keep projection both diff modes read (parse.state_key /
# parse.keep_flags): null key and all-false flags on rows without a digest.
# ---------------------------------------------------------------------------
PARSED_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("entity_id", T.LongType()),
    T.StructField("revision_id", T.LongType()),
    T.StructField("parent_id", T.LongType()),
    T.StructField("timestamp", T.StringType()),
    T.StructField("username", T.StringType()),
    T.StructField("user_id", T.StringType()),
    T.StructField("comment", T.StringType()),
    T.StructField("is_deleted", T.BooleanType()),
    T.StructField("parse_ok", T.BooleanType()),
    T.StructField("snapshot", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("state_key", T.StringType()),
    T.StructField("is_redirect", T.BooleanType()),
    T.StructField("is_cleaned", T.BooleanType()),
    T.StructField("is_alias_only", T.BooleanType()),
])

# ---------------------------------------------------------------------------
# diff.py output: a single unified change stream tagged by `table`.
# Splitting happens once, column-pruned, after the grouped UDF — one diff
# pass feeds all output tables.  entity_stats rides along as one JSON
# payload row per page (tiny) and is exploded JVM-side by from_json.
# ---------------------------------------------------------------------------
UNIFIED_SCHEMA = T.StructType([
    T.StructField("table", T.StringType()),
    T.StructField("repo", T.StringType()),
    T.StructField("entity_id", T.LongType()),
    T.StructField("revision_id", T.LongType()),
    T.StructField("prev_revision_id", T.LongType()),
    T.StructField("property_id", T.IntegerType()),
    T.StructField("value_id", T.StringType()),
    T.StructField("qual_property_id", T.IntegerType()),
    T.StructField("ref_property_id", T.IntegerType()),
    T.StructField("ref_hash", T.StringType()),
    T.StructField("value_hash", T.StringType()),
    T.StructField("old_value", T.StringType()),
    T.StructField("new_value", T.StringType()),
    T.StructField("old_datatype", T.StringType()),
    T.StructField("new_datatype", T.StringType()),
    T.StructField("change_target", T.StringType()),
    T.StructField("action", T.StringType()),
    T.StructField("target", T.StringType()),
    T.StructField("old_hash", T.StringType()),
    T.StructField("new_hash", T.StringType()),
    T.StructField("timestamp", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("entity_label", T.StringType()),
    T.StructField("is_reverted", T.IntegerType()),
    T.StructField("reversion", T.IntegerType()),
    T.StructField("reversion_timestamp", T.StringType()),
    T.StructField("revision_id_reversion", T.LongType()),
    T.StructField("user_id", T.StringType()),
    T.StructField("username", T.StringType()),
    T.StructField("user_type", T.StringType()),
    T.StructField("comment", T.StringType()),
    T.StructField("redirect", T.BooleanType()),
    T.StructField("q_id_redirect", T.LongType()),
    T.StructField("payload", T.StringType()),
])

# entity_stats payload layout (reference scripts/const.py:397-446)
ENTITY_STATS_SCHEMA = T.StructType([
    T.StructField("entity_id", T.LongType()),
    T.StructField("entity_label", T.StringType()),
    T.StructField("entity_types_31", T.StringType()),
    T.StructField("num_revisions", T.IntegerType()),
    T.StructField("num_value_changes", T.IntegerType()),
    T.StructField("num_value_change_creates", T.IntegerType()),
    T.StructField("num_value_change_deletes", T.IntegerType()),
    T.StructField("num_value_change_updates", T.IntegerType()),
    T.StructField("num_rank_changes", T.IntegerType()),
    T.StructField("num_rank_creates", T.IntegerType()),
    T.StructField("num_rank_deletes", T.IntegerType()),
    T.StructField("num_rank_updates", T.IntegerType()),
    T.StructField("num_qualifier_changes", T.IntegerType()),
    T.StructField("num_reference_changes", T.IntegerType()),
    T.StructField("num_datatype_metadata_changes", T.IntegerType()),
    T.StructField("num_datatype_metadata_creates", T.IntegerType()),
    T.StructField("num_datatype_metadata_deletes", T.IntegerType()),
    T.StructField("num_datatype_metadata_updates", T.IntegerType()),
    T.StructField("first_revision_timestamp", T.StringType()),
    T.StructField("last_revision_timestamp", T.StringType()),
    T.StructField("num_bot_edits", T.IntegerType()),
    T.StructField("num_anonymous_edits", T.IntegerType()),
    T.StructField("num_human_edits", T.IntegerType()),
    T.StructField("num_reverted_edits", T.IntegerType()),
    T.StructField("num_reversions", T.IntegerType()),
    T.StructField("num_reverted_edits_create", T.IntegerType()),
    T.StructField("num_reverted_edits_delete", T.IntegerType()),
    T.StructField("num_reverted_edits_update", T.IntegerType()),
    T.StructField("file_path", T.StringType()),
    T.StructField("total_xml_parse_time_sec", T.DoubleType()),
    T.StructField("total_process_time_sec", T.DoubleType()),
    T.StructField("total_revision_diff_time_sec", T.DoubleType()),
    T.StructField("num_revisions_timed", T.IntegerType()),
    T.StructField("total_rev_edit_time_sec", T.DoubleType()),
    T.StructField("total_feature_creation_sec", T.DoubleType()),
    T.StructField("num_feature_creations_timed", T.IntegerType()),
])

# Per-table keys (reference scripts/const.py + sql/change_schema.sql), unique
# per (repo, path) page on input that repeats no revision or statement id
TABLE_PKS = {
    "revision": ["revision_id"],
    "value_change": ["revision_id", "property_id", "value_id", "change_target"],
    "qualifier_change": ["revision_id", "property_id", "value_id",
                         "qual_property_id", "value_hash", "change_target"],
    "reference_change": ["revision_id", "property_id", "value_id",
                         "ref_property_id", "value_hash", "ref_hash",
                         "change_target"],
    "datatype_metadata_change": ["revision_id", "property_id", "value_id",
                                 "change_target"],
    "entity_stats": ["repo", "entity_id"],
}

# Columns selected per table out of the unified stream (before enrichment)
TABLE_COLUMNS = {
    "revision": [
        "prev_revision_id", "revision_id", "entity_id", "timestamp",
        "user_id", "username", "user_type", "comment", "repo",
        "redirect", "q_id_redirect", "entity_label",
    ],
    "value_change": [
        "revision_id", "property_id", "value_id", "old_value", "new_value",
        "old_datatype", "new_datatype", "change_target", "action", "target",
        "old_hash", "new_hash", "timestamp", "label", "entity_id",
        "is_reverted", "reversion", "reversion_timestamp",
        "revision_id_reversion", "entity_label", "repo",
    ],
    "qualifier_change": [
        "revision_id", "property_id", "value_id", "qual_property_id",
        "value_hash", "old_value", "new_value", "old_datatype",
        "new_datatype", "change_target", "action", "target", "timestamp",
        "entity_id", "label", "entity_label", "repo",
    ],
    "reference_change": [
        "revision_id", "property_id", "value_id", "ref_property_id",
        "ref_hash", "value_hash", "old_value", "new_value", "old_datatype",
        "new_datatype", "change_target", "action", "target", "timestamp",
        "entity_id", "label", "entity_label", "repo",
    ],
    "datatype_metadata_change": [
        "revision_id", "property_id", "value_id", "old_value", "new_value",
        "old_datatype", "new_datatype", "change_target", "action", "target",
        "old_hash", "new_hash", "timestamp", "entity_id", "label",
        "entity_label", "repo",
    ],
}


# ---------------------------------------------------------------------------
# Reading Arrow at the Python boundary (mapInArrow / applyInArrow stages)
# ---------------------------------------------------------------------------
def pylist(col) -> list:
    """An Arrow column as Python objects, nulls as None.  NumPy's conversion
    is ~4-6x faster than ``to_pylist``'s per-value scalars, but it would
    turn a null number into NaN, so a non-string column with nulls takes
    ``to_pylist``."""
    if col.null_count and not pa.types.is_string(col.type):
        return col.to_pylist()
    return col.to_numpy(zero_copy_only=False).tolist()


def pyrows(table) -> list[dict]:
    """``table.to_pylist()``: one dict per row, built from ``pylist``."""
    names = table.column_names
    return [dict(zip(names, row)) for row in zip(*map(pylist, table.columns))]

"""Differential verification: cleanroom oracle kernel vs engine kernel.

The cleanroom package re-implements the reference diff semantics
(page_parser.py / feature_creation.py) with zero shared code; these tests
run both implementations over the scripted edge corpus, the sf0.001 derived
corpus and randomized adversarial histories and require identical row
multisets for every change table plus identical entity stats.  A bug in a
shared kernel can no longer cancel out in the golden oracle: the golden
pipeline (widiff_spark/golden.py) consumes the cleanroom side.
"""

from __future__ import annotations

import itertools
import json
import re

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from cleanroom import replay_corpus
from widiff_spark import diff, fixtures, parse
from widiff_spark.config import DEFAULT_CONFIG
from widiff_spark.schema import DOCUMENTS_SCHEMA, TABLE_COLUMNS, TABLE_PKS

from test_salted_parity import _adversarial_corpus_rows, _null_revision_id_rows

TABLES = ("revision", "value_change", "qualifier_change", "reference_change",
          "datatype_metadata_change")

# entity-stats fields with replay semantics (timing fields excluded)
STAT_FIELDS = (
    "repo", "entity_id", "entity_label", "entity_types_31", "num_revisions",
    "num_value_changes", "num_value_change_creates",
    "num_value_change_deletes", "num_value_change_updates",
    "num_rank_changes", "num_rank_creates", "num_rank_deletes",
    "num_rank_updates", "num_qualifier_changes", "num_reference_changes",
    "num_datatype_metadata_changes", "num_datatype_metadata_creates",
    "num_datatype_metadata_deletes", "num_datatype_metadata_updates",
    "first_revision_timestamp", "last_revision_timestamp", "num_bot_edits",
    "num_anonymous_edits", "num_human_edits", "num_reverted_edits",
    "num_reversions", "num_reverted_edits_create",
    "num_reverted_edits_delete", "num_reverted_edits_update",
)


def _engine_tables(rows: list[dict]) -> dict:
    """Engine kernels on the Arrow transport the Spark stages use (exactly
    what golden.py formerly did: parse._parse_batches digests,
    diff.PageDiffer replays), with rows read by ``to_pylist``."""
    keep = [r for r in rows if re.match(r"^Q\d+$", r["path"])]
    batch = pa.RecordBatch.from_pylist(
        keep, schema=to_arrow_schema(DOCUMENTS_SCHEMA))
    parsed = pa.Table.from_batches(list(parse._parse_batches(iter([batch]))))
    parsed = parsed.sort_by([(c, "ascending")
                             for c in ("repo", "path", "commit")]).to_pylist()
    acc: dict = {t: [] for t in TABLES}
    stats_rows = []
    for (repo, _path), g in itertools.groupby(
            parsed, key=lambda r: (r["repo"], r["path"])):
        records = diff._prep_revisions(list(g))
        differ = diff.PageDiffer(repo, records[0]["entity_id"],
                                 DEFAULT_CONFIG)
        result = differ.process_page(records)
        for table in TABLES:
            for row in result[table]:
                # the table's columns: row dicts also carry the revert
                # scan's private fields and, on value rows, the comment
                out = {**row, "repo": repo,
                       "entity_label": result["entity_label"]}
                acc[table].append({c: out[c] for c in TABLE_COLUMNS[table]})
        st = dict(result["entity_stats"])
        st["repo"] = repo
        stats_rows.append(st)
    acc["quarantine"] = [
        {c: r[c] for c in ("repo", "path", "commit", "revision_id", "error")}
        for r in parsed if not r["parse_ok"] and not r["is_deleted"]]
    acc["entity_stats"] = stats_rows
    return acc


def _canon(rows: list[dict], fields=None) -> list[tuple]:
    def norm(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        if isinstance(v, float) and v == int(v):
            return int(v)
        return v
    out = []
    for r in rows:
        keys = fields if fields is not None else sorted(r)
        out.append(tuple((k, norm(r.get(k))) for k in keys))
    return sorted(out, key=repr)


def _assert_match(rows: list[dict]) -> dict:
    """The engine's tables equal the cleanroom's; returns the engine's."""
    engine = _engine_tables(rows)
    clean = replay_corpus(rows)
    for table in TABLES:
        fields = sorted(set().union(*(r.keys() for r in engine[table]))
                        ) if engine[table] else None
        e = _canon(engine[table], fields)
        c = _canon(clean[table], fields)
        assert e == c, (
            f"{table}: {len(e)} engine vs {len(c)} cleanroom rows; first "
            f"diff: {next((a, b) for a, b in zip(e, c) if a != b) if len(e) == len(c) else (e[:2], c[:2])}")
    assert _canon(engine["quarantine"]) == _canon(clean["quarantine"])
    e_stats = _canon(engine["entity_stats"], STAT_FIELDS)
    c_stats = _canon(clean["entity_stats"], STAT_FIELDS)
    assert e_stats == c_stats
    return engine


@pytest.mark.parametrize("n", [0, 3])
def test_arrow_rows_keep_nulls_as_none(n):
    """The stages' fast Arrow row read equals ``to_pylist`` and gives None,
    never NaN, for a null long, bool or string."""
    from widiff_spark.schema import UNIFIED_SCHEMA, pyrows
    arrow = to_arrow_schema(UNIFIED_SCHEMA)

    def value(t):
        return False if t == pa.bool_() else "x" if t == pa.string() else 7
    full = {f.name: value(f.type) for f in arrow}
    rows = [full, {c: None for c in full}, full][:n]
    table = pa.Table.from_pylist(rows, schema=arrow)
    for t in (table, *table.to_batches()):
        assert pyrows(t) == table.to_pylist() == rows


def test_no_engine_imports():
    """The cleanroom package must not import the engine."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "cleanroom"
    for f in pkg.glob("*.py"):
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            for n in names:
                assert not n.startswith("widiff_spark"), (f.name, n)


def test_scripted_edge_corpus():
    _assert_match(fixtures.edge_case_rows() + fixtures.hot_page_rows(120))


def test_derived_corpus_sf0001():
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet",
                          columns=["doc_id", "text"])
    rows = pd.concat(list(fixtures._corpus_batches(iter([pdf]))),
                     ignore_index=True).to_dict("records")
    _assert_match(rows)


@pytest.mark.parametrize("seed", [7, 11, 23, 42, 1337])
def test_adversarial_corpora(seed):
    _assert_match(_adversarial_corpus_rows(n_pages=80, seed=seed))


from hypothesis import given, settings, strategies as st  # noqa: E402


@st.composite
def _page_history(draw):
    """Random single-page history over every snak family, ranks, qualifiers
    (empty lists too), references, restore comments and duplicate
    timestamps, and over every shape the keep rule classifies: identical
    consecutive snapshots, alias-only and sitelink-only revisions,
    redirects and emptied revisions."""
    snak_pool = [
        lambda: fixtures.string_snak("P1476", draw(st.sampled_from(
            ["a", "b", "some text"]))),
        lambda: fixtures.entity_snak("P31", draw(st.sampled_from(
            ["Q5", "Q42"])), include_id=draw(st.booleans())),
        lambda: fixtures.time_snak("P569", draw(st.sampled_from(
            ["+2013-10-28T00:00:00Z", "+00002013-10-28T00:00:00Z",
             "+1999-01-01T00:00:00Z"]))),
        lambda: fixtures.quantity_snak("P1082", draw(st.sampled_from(
            ["+1", "+2"])), unit=draw(st.sampled_from(
                ["1", "http://www.wikidata.org/entity/Q11573"]))),
        lambda: fixtures.mono_snak("P1448", draw(st.sampled_from(
            ["x", "y"])), draw(st.sampled_from(["en", "de"]))),
        lambda: fixtures.globe_snak("P625", draw(st.sampled_from(
            [1.5, 2.5])), 3.25),
        lambda: fixtures.sentinel_snak("P1082", draw(st.sampled_from(
            ["novalue", "somevalue"])), "h-0"),
    ]
    n = draw(st.integers(min_value=1, max_value=5))
    rows = []
    # the time snak (index 2) and the globecoordinate snak (index 5) never
    # share a sid: a globe->time datatype flip feeds a dict into the
    # reference's time-string cleanup (page_parser.py:1857 re.sub) and
    # crashes it — outside the reference's valid behavior envelope.
    pools = {"s1": [0, 1, 3, 4, 6], "s2": [0, 1, 2, 3, 4, 6],
             "s3": [0, 1, 3, 4, 5, 6]}
    end_time = [fixtures.time_snak("P582", "+2020-01-01T00:00:00Z")]
    for i in range(n):
        rid = 5000 + i
        ts = fixtures._ts(draw(st.integers(0, 2)))  # duplicate ts likely
        meta = {"comment": draw(st.sampled_from(["", "restore",
                                                 "rollback x"])),
                "username": draw(st.sampled_from(["A", "FixBot", ""]))}
        kind = draw(st.sampled_from(["claims", "claims", "claims", "same",
                                     "alias_only", "sitelink_only",
                                     "redirect", "emptied"]))
        if kind == "same" and rows:
            # the previous snapshot again, under this revision's meta, and
            # maybe with an empty qualifier list on each statement without
            # qualifiers (the qualifier diff emits nothing for it)
            doc = json.loads(rows[-1]["content"])
            doc["meta"].update(revision_id=rid, timestamp=ts, **meta)
            if draw(st.booleans()):
                for stmts in (doc.get("claims") or {}).values():
                    for stmt in stmts:
                        stmt.setdefault("qualifiers", {"P582": []})
            body = json.dumps(doc)
        elif kind == "alias_only":
            body = fixtures.content(rid, ts, aliases=[draw(
                st.sampled_from(["al", "am"]))], **meta)
        elif kind == "sitelink_only":
            body = fixtures.content(rid, ts, sitelinks={"enwiki": {
                "site": "enwiki", "title": draw(st.sampled_from(
                    ["T", "U"]))}}, **meta)
        elif kind == "redirect":
            body = fixtures.content(rid, ts, redirect="Q42", entity="Q77000",
                                    **meta)
        elif kind == "emptied":
            body = fixtures.content(rid, ts, **meta)
        else:
            claims = {}
            for pid, sid in (("P31", "s1"), ("P1082", "s2"),
                             ("P569", "s3")):
                if draw(st.booleans()):
                    mk = snak_pool[draw(st.sampled_from(pools[sid]))]
                    stmt = fixtures.statement(
                        f"q7${sid}", mk(),
                        rank=draw(st.sampled_from(["normal", "preferred",
                                                   "deprecated"])),
                        qualifiers=draw(st.sampled_from(
                            [None, None, {"P582": end_time},
                             {"P582": []}])),
                        references=[fixtures.reference({"P143": [
                            fixtures.entity_snak("P143", "Q328")]})]
                        if draw(st.booleans()) else None)
                    claims.setdefault(pid, []).append(stmt)
            body = fixtures.content(
                rid, ts, claims=claims,
                label=draw(st.sampled_from(["L", "M", None])),
                desc=draw(st.sampled_from(["d", None])), **meta)
        rows.append(fixtures.row("Q77000", rid, body))
    return rows


@settings(max_examples=120, deadline=None)
@given(_page_history())
def test_hypothesis_differential(rows):
    engine = _assert_match(rows)
    # a draw is one page, so every table is unique on its key within it
    for table, pk in TABLE_PKS.items():
        keys = [tuple(r[c] for c in ("repo", "entity_id", *pk))
                for r in engine[table]]
        assert len(keys) == len(set(keys)), table


def test_null_revision_id_pages():
    """Pages whose content lacks meta.revision_id: the engine's PK dedup
    treats those null ids as equal within a page, like the cleanroom."""
    _assert_match(_null_revision_id_rows())


def test_quarantine_meta_recovery():
    """Broken-JSON rows keep whatever meta survives a plain json.loads."""
    rows = [
        fixtures.row("Q1", 10, "{not json at all"),
        fixtures.row("Q1", 11, fixtures.content(11, fixtures._ts(1, 0),
                                                label="ok")),
    ]
    clean = replay_corpus(rows)
    assert [q["revision_id"] for q in clean["quarantine"]] == [None]
    assert len(clean["revision"]) == 1


# ---------------------------------------------------------------------------
# feature-battery differential: cleanroom/features.py vs engine featurelib
# ---------------------------------------------------------------------------

from widiff_spark import featurelib as FL  # noqa: E402
from cleanroom import features as CF  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(["text", "entity"]),
       st.text(max_size=25), st.text(max_size=25))
def test_text_features_differential(datatype, old, new):
    assert CF.text_features(datatype, old, new) == \
        FL.text_features(datatype, old, new)


_NUM = st.builds(
    lambda sign, digits, frac, plus, quote: (
        (f'"{sign}{digits}{frac}"' if quote else f"{sign}{digits}{frac}")
        if not plus else f"+{digits}{frac}"),
    st.sampled_from(["", "-"]), st.integers(0, 99999).map(str),
    st.sampled_from(["", ".0", ".5", ".00", ".250", ".01"]),
    st.booleans(), st.booleans())


@settings(max_examples=300, deadline=None)
@given(_NUM, _NUM)
def test_quantity_features_differential(old, new):
    assert CF.quantity_features(old, new) == FL.quantity_features(old, new)


_COORD = st.sampled_from([0.0, 0.5, -0.5, 1.0, 12.25, -80.0, 0.01, 52.516667])


@settings(max_examples=300, deadline=None)
@given(_COORD, _COORD, _COORD, _COORD)
def test_globe_features_differential(lat1, lon1, lat2, lon2):
    old = json.dumps({"longitude": lon1, "latitude": lat1})
    new = json.dumps({"longitude": lon2, "latitude": lat2})
    assert CF.globe_features(old, new) == FL.globe_features(old, new)


_DATE = st.builds(
    lambda sign, y, m, d: f'"{sign}{y:04d}-{m:02d}-{d:02d}T00:00:00Z"',
    st.sampled_from(["+", "-", "+0000"]),
    st.integers(0, 2100), st.integers(0, 12), st.integers(0, 28))


@settings(max_examples=300, deadline=None)
@given(_DATE, _DATE)
def test_time_features_differential(old, new):
    assert CF.time_features(old, new) == FL.time_features(old, new)

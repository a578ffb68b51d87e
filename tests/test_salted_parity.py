"""Salted (pair-parallel) mode must be ROW-IDENTICAL to the grouped replay.

The only tolerated difference: the diagnostic ``total_*_time_sec`` payload
fields (they time a per-page loop the salted mode doesn't have) — zeroed on
both sides before comparison.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from widiff_spark import diff, fixtures, parse, salted

_TIMING_KEYS = ("total_xml_parse_time_sec", "total_process_time_sec",
                "total_revision_diff_time_sec", "total_rev_edit_time_sec",
                "total_feature_creation_sec")


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.copy()

    def fix_payload(p):
        if p is None or (isinstance(p, float) and pd.isna(p)):
            return None
        d = json.loads(p)
        for k in _TIMING_KEYS:
            d[k] = 0.0
        return json.dumps(d, ensure_ascii=False)

    pdf["payload"] = [fix_payload(p) for p in pdf["payload"]]
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].round(6)
    return sorted(tuple(str(v) for v in row) for row in pdf.values.tolist())


def _assert_identical(spark, docs):
    parsed = parse.parse_documents(docs).persist()
    grouped = diff.extract_changes(parsed).toPandas()
    pair = salted.extract_changes_salted(parsed).toPandas()
    parsed.unpersist()
    a, b = _canon(grouped), _canon(pair)
    assert len(a) == len(b), (len(a), len(b))
    bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
    assert a == b, bad


def test_edge_corpus_parity(spark):
    """Every scripted edge case (redirects, cleaned entities, deleted
    revisions, alias-only skips, quarantine, reverts, hot page)."""
    docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                     hot_revisions=60)
    _assert_identical(spark, docs)


def test_derived_corpus_parity(spark):
    """The driver-facing derived corpus at sf0.001 (quals, refs, time/globe/
    entity updates, metadata routing, anon users, broken JSON)."""
    docs = fixtures.corpus_from_documents(spark, "/root/testdata/sf0.001")
    _assert_identical(spark, docs)


def _adversarial_corpus_rows(n_pages: int = 120, seed: int = 7) -> list[dict]:
    """Randomized page histories aimed at the keep-decision edge cases:
    identical consecutive snapshots, redirect/cleaned runs (incl. as first
    revision), alias-only and deleted revisions, broken JSON, time-noise-only
    updates (hash changes, zero emitted rows — keep still advances), rank
    flips, qualifier/reference churn, restore-comment revert chains."""
    import random

    rng = random.Random(seed)
    rows = []
    for p in range(n_pages):
        path = f"Q{80000 + p}"
        n = rng.randint(1, 8)
        rid0 = 700000 + p * 100
        prev_kind = None
        for i in range(n):
            rid = rid0 + i
            ts = fixtures._ts(i, p % 24)
            kind = rng.choice(
                ["normal", "normal", "normal", "same", "time_noise",
                 "redirect", "cleaned", "alias_only", "deleted", "broken",
                 "rank_flip", "qual_churn"])
            comment = rng.choice(["", "restore old value", "Undid revision",
                                  "rollback vandalism", "edit"])
            username = rng.choice(["A", "SomeBot", ""])
            if kind == "deleted":
                rows.append(fixtures.row(path, rid, json.dumps(
                    {"meta": {"revision_id": rid, "parent_id": rid - 1,
                              "timestamp": ts}}), lang="deleted"))
                continue
            if kind == "broken":
                rows.append(fixtures.row(path, rid, "{not json" + str(rid)))
                continue
            if kind == "redirect":
                rows.append(fixtures.row(path, rid, fixtures.content(
                    rid, ts, redirect="Q42", entity=path, username=username,
                    comment=comment)))
                prev_kind = kind
                continue
            if kind == "cleaned":
                rows.append(fixtures.row(path, rid, fixtures.content(
                    rid, ts, username=username, comment=comment)))
                prev_kind = kind
                continue
            if kind == "alias_only":
                rows.append(fixtures.row(path, rid, fixtures.content(
                    rid, ts, aliases=[f"alias {rng.randint(0, 3)}"],
                    username=username, comment=comment)))
                continue
            if kind == "same" and prev_kind == "normal":
                rows.append(rows[-1] | {  # identical snapshot, new commit
                    "commit": f"r{rid:010d}"})
                continue
            # normal-ish snapshot with deep structural variety
            pad = "+0000" if kind == "time_noise" and i % 2 else "+"
            quals = None
            if kind == "qual_churn" or rng.random() < 0.25:
                quals = {"P580": [fixtures.time_snak(
                    "P580", f"+200{rng.randint(0, 2)}-01-01T00:00:00Z")]}
                if rng.random() < 0.4:  # multi-snak qualifier pid
                    quals["P580"].append(fixtures.time_snak(
                        "P580", "+1999-01-01T00:00:00Z"))
                    quals["P1545"] = [fixtures.string_snak(
                        "P1545", str(rng.randint(1, 2)))]
            refs = None
            if rng.random() < 0.35:
                refs = [fixtures.reference(
                    {"P143": [fixtures.entity_snak("P143", "Q328")]})]
                if rng.random() < 0.4:  # second reference group
                    refs.append(fixtures.reference(
                        {"P854": [fixtures.string_snak(
                            "P854", f"https://x.org/{rng.randint(0, 2)}")]}))
            mainsnak = rng.choice([
                lambda: fixtures.quantity_snak(
                    "P1082", f"+{rng.randint(1, 3)}"),
                lambda: fixtures.quantity_snak(
                    "P1082", f"+{rng.randint(1, 3)}"),
                lambda: fixtures.sentinel_snak(
                    "P1082", rng.choice(["novalue", "somevalue"]),
                    f"h-{rng.randint(0, 2)}"),
            ])()
            claims = {
                "P31": [fixtures.statement(
                    f"p{p}$S1", fixtures.entity_snak(
                        "P31", rng.choice(["Q5", "Q523", "Q42"]),
                        include_id=rng.random() < 0.8))],
                "P1082": [fixtures.statement(
                    f"p{p}$S2", mainsnak,
                    rank="preferred" if kind == "rank_flip" else "normal",
                    qualifiers=quals, references=refs)],
                "P569": [fixtures.statement(
                    f"p{p}$S3", fixtures.time_snak(
                        "P569", f"{pad}2013-10-28T00:00:00Z"))],
            }
            if rng.random() < 0.15:  # duplicate statement id (last wins)
                claims["P1082"].append(fixtures.statement(
                    f"p{p}$S2",
                    fixtures.quantity_snak("P1082", f"+{rng.randint(7, 9)}")))
            if rng.random() < 0.2:  # second statement on the same pid
                claims["P31"].append(fixtures.statement(
                    f"p{p}$S4", fixtures.entity_snak("P31", "Q318")))
            if rng.random() < 0.3:
                del claims["P1082"]
            body = fixtures.content(
                rid, ts, label=rng.choice([f"page {p}", f"page {p}", "x"]),
                claims=claims, username=username, comment=comment)
            if rng.random() < 0.1:  # HTML-escaped payload (case 18 recovery)
                body = body.replace('"', "&quot;")
            rows.append(fixtures.row(path, rid, body))
            prev_kind = "normal"
    return rows


def test_adversarial_random_corpus_parity(spark):
    """120 randomized histories over every keep-decision branch: salted and
    grouped must stay row-identical."""
    import pandas as _pd

    docs = spark.createDataFrame(_pd.DataFrame(_adversarial_corpus_rows()),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    _assert_identical(spark, docs)


def _null_revision_id_rows() -> list[dict]:
    """Pages whose content has no meta.revision_id.  Q991: the first of
    three revisions lacks it (P31 Q5 -> Q6 -> Q7), so revision 7001 is an
    UPDATE with a null prev_revision_id.  Q992/Q993: single-revision pages
    whose label CREATE rows share the PK (null, -1, 'label', '') — the PK
    dedup is per page.  Q994: three null-id revisions (label x -> y -> x,
    the last a restore) share one PK within the page."""
    def body(rid, label, p31=None, comment=""):
        claims = {"P31": [fixtures.statement(
            "q991$S1", fixtures.entity_snak("P31", p31))]} if p31 else None
        return fixtures.content(rid, fixtures._ts(rid % 100), label=label,
                                claims=claims, comment=comment)

    def no_rid(path, rid, *args, **kw):
        doc = json.loads(body(rid, *args, **kw))
        del doc["meta"]["revision_id"]
        return fixtures.row(path, rid, json.dumps(doc))

    return [no_rid("Q991", 7000, "x", "Q5"),
            fixtures.row("Q991", 7001, body(7001, "x", "Q6")),
            fixtures.row("Q991", 7002, body(7002, "x", "Q7")),
            no_rid("Q992", 7100, "a"), no_rid("Q993", 7200, "b"),
            no_rid("Q994", 7300, "x"), no_rid("Q994", 7301, "y"),
            no_rid("Q994", 7302, "x", comment="restore")]


def test_null_revision_id_parity(spark):
    """A kept revision without a revision_id neither makes the next one a
    created entity nor shares its PK dedup with other pages."""
    docs = spark.createDataFrame(pd.DataFrame(_null_revision_id_rows()),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    _assert_identical(spark, docs)


# Q995's revisions whose meta id is not a JSON integer that fits a long
_MALFORMED_META = {7501: ("revision_id", "abc"), 7502: ("revision_id", 1.5),
                   7503: ("revision_id", True), 7504: ("parent_id", "7"),
                   7505: ("revision_id", 2 ** 63)}


def _malformed_meta_rows() -> list[dict]:
    """Q995: clean revisions 7500 and 7506 around one revision per mistyped
    meta id (string, fraction, bool, numeric string, past a long)."""
    rows = []
    for rid in range(7500, 7507):
        doc = json.loads(fixtures.content(rid, fixtures._ts(rid % 100),
                                          label=f"l{rid}"))
        if rid in _MALFORMED_META:
            key, value = _MALFORMED_META[rid]
            doc["meta"][key] = value
        rows.append(fixtures.row("Q995", rid, json.dumps(doc)))
    return rows


@pytest.mark.parametrize("mode", ["grouped", "salted"])
def test_malformed_meta_ids_are_quarantined(spark, mode):
    """A mistyped meta id quarantines its revision with its own reason and
    a null id; it neither fails the parse task nor reaches a change table,
    and both modes agree on the rest of the page."""
    from widiff_spark import pipeline

    docs = spark.createDataFrame(pd.DataFrame(_malformed_meta_rows()),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    res = pipeline.run_pipeline(spark, docs, mode=mode)
    try:
        got = sorted(tuple(r) for r in res.tables["quarantine"].select(
            "commit", "revision_id", "error").collect())
        assert got == [
            (f"r{rid:010d}", rid if key == "parent_id" else None,
             "invalid_meta")
            for rid, (key, _v) in sorted(_MALFORMED_META.items())]
        revisions = res.tables["revision"].select(
            "revision_id", "prev_revision_id").collect()
        assert sorted(tuple(r) for r in revisions) == [(7500, -1),
                                                       (7506, 7500)]
    finally:
        res.unpersist()
    _assert_identical(spark, docs)


# Q996's revisions whose claims have a shape the digest cannot read
_MALFORMED_CLAIMS = {
    7601: {"P31": [{"id": 5, "mainsnak": {}}]},  # numeric statement id
    7602: {"foo": []},  # claims key not P<digits>
    7603: {"P31": [fixtures.statement(
        "q996$S1", fixtures.entity_snak("P31", "Q5"),
        qualifiers={"foo": [fixtures.string_snak("foo", "v")]})]},
    7604: {"P31": [fixtures.statement(
        "q996$S1", fixtures.entity_snak("P31", "Q5"),
        references=[fixtures.reference(
            {"zz": [fixtures.string_snak("zz", "v")]})])]},
    7605: {"P31": ["q996$S1"]},  # statement not an object
}


def _malformed_claims_rows() -> list[dict]:
    """Q996: clean revisions 7600 and 7606 around one revision per
    malformed claim shape."""
    return [fixtures.row("Q996", rid, fixtures.content(
        rid, fixtures._ts(rid % 100), label=f"l{rid}",
        claims=_MALFORMED_CLAIMS.get(rid))) for rid in range(7600, 7607)]


@pytest.mark.parametrize("mode", ["grouped", "salted"])
def test_malformed_claims_are_quarantined(spark, mode):
    """A claim shape the digest cannot read (a numeric statement id, a
    claims, qualifier or reference key that is no P-id, a statement that
    is no object) quarantines its revision instead of failing the task
    and with it every page in the partition."""
    from widiff_spark import pipeline

    docs = spark.createDataFrame(pd.DataFrame(_malformed_claims_rows()),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    res = pipeline.run_pipeline(spark, docs, mode=mode)
    try:
        got = sorted(tuple(r) for r in res.tables["quarantine"].select(
            "commit", "revision_id", "error").collect())
        assert got == [(f"r{rid:010d}", rid, "invalid_claims")
                       for rid in sorted(_MALFORMED_CLAIMS)]
        revisions = res.tables["revision"].select(
            "revision_id", "prev_revision_id").collect()
        assert sorted(tuple(r) for r in revisions) == [(7600, -1),
                                                       (7606, 7600)]
    finally:
        res.unpersist()


# snak bodies whose datavalue the digest cannot read
_MALFORMED_SNAKS = {
    "datavalue_without_value": {"snaktype": "value", "property": "P31",
                                "datavalue": {"type": "wikibase-entityid"}},
    "time_value_not_object": {"snaktype": "value", "property": "P580",
                              "datavalue": {"value": "+2013-10-28T00:00:00Z",
                                            "type": "time"}},
    "entity_value_without_id": {"snaktype": "value", "property": "P31",
                                "datavalue": {"value": {"entity-type": "item"},
                                              "type": "wikibase-entityid"}},
}


def _malformed_snak_rows(snak: dict) -> list[dict]:
    """Q997: clean revisions 7700 and 7704 around ``snak`` as a mainsnak
    (7701), a qualifier snak (7702) and a reference snak (7703)."""
    ok = fixtures.entity_snak("P31", "Q5")
    claims = {
        7700: [fixtures.statement("q997$S1", ok)],
        7701: [fixtures.statement("q997$S1", snak)],
        7702: [fixtures.statement("q997$S1", ok, qualifiers={"P580": [snak]})],
        7703: [fixtures.statement("q997$S1", ok, references=[
            fixtures.reference({"P143": [snak]})])],
        7704: [fixtures.statement("q997$S1", fixtures.entity_snak("P31",
                                                                 "Q6"))],
    }
    return [fixtures.row("Q997", rid, fixtures.content(
        rid, fixtures._ts(rid % 100), label="l", claims={"P31": stmts}))
        for rid, stmts in claims.items()]


@pytest.mark.parametrize("shape", sorted(_MALFORMED_SNAKS))
@pytest.mark.parametrize("mode", ["grouped", "salted"])
def test_malformed_snaks_are_quarantined(spark, mode, shape):
    """A snak the digest cannot read — as a mainsnak, a qualifier or a
    reference snak — quarantines its revision as invalid_claims instead of
    failing the parse task and every page in its partition."""
    from widiff_spark import pipeline

    docs = spark.createDataFrame(
        pd.DataFrame(_malformed_snak_rows(_MALFORMED_SNAKS[shape])),
        schema=fixtures.DOCUMENTS_SCHEMA)
    res = pipeline.run_pipeline(spark, docs, mode=mode)
    try:
        got = sorted(tuple(r) for r in res.tables["quarantine"].select(
            "commit", "revision_id", "error").collect())
        assert got == [(f"r{rid:010d}", rid, "invalid_claims")
                       for rid in (7701, 7702, 7703)]
        revisions = res.tables["revision"].select(
            "revision_id", "prev_revision_id").collect()
        assert sorted(tuple(r) for r in revisions) == [(7700, -1),
                                                       (7704, 7700)]
    finally:
        res.unpersist()


def _twin_path_rows() -> list[dict]:
    """Q012 and Q12 parse to one entity id but are two pages: Q012 has two
    revisions (labels a, c), Q12 one (label b) committed between them."""
    return [fixtures.row(path, rid, fixtures.content(
        rid, fixtures._ts(rid % 100), label=label))
        for path, rid, label in (("Q012", 9001, "a"), ("Q12", 9002, "b"),
                                 ("Q012", 9003, "c"))]


def _empty_qualifier_rows() -> list[dict]:
    """Q500: 7002 repeats 7001's P31=Q5 plus an empty P580 qualifier list,
    for which the qualifier diff emits nothing; 7003 changes the label
    x -> y."""
    def body(rid, label, qualifiers=None):
        return fixtures.content(rid, fixtures._ts(rid % 100), label=label,
                                claims={"P31": [fixtures.statement(
                                    "q500$S1",
                                    fixtures.entity_snak("P31", "Q5"),
                                    qualifiers=qualifiers)]})
    return [fixtures.row("Q500", 7001, body(7001, "x")),
            fixtures.row("Q500", 7002, body(7002, "x", {"P580": []})),
            fixtures.row("Q500", 7003, body(7003, "y"))]


@pytest.mark.parametrize("mode", ["grouped", "salted"])
def test_page_key_and_keep_rule_match_cleanroom(spark, mode):
    """Both modes give the cleanroom's revision rows and page stats where
    they once disagreed: twin paths of one entity id stay two pages, and
    an empty qualifier list is no change."""
    from cleanroom import replay_corpus

    rows = _twin_path_rows() + _empty_qualifier_rows()
    docs = spark.createDataFrame(pd.DataFrame(rows),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    parsed = parse.parse_documents(docs).persist()
    extract = diff.extract_changes if mode == "grouped" \
        else salted.extract_changes_salted
    unified = extract(parsed).toPandas()
    parsed.unpersist()
    clean = replay_corpus(rows)

    def revisions(rs):
        return sorted((r["entity_id"], r["revision_id"],
                       r["prev_revision_id"]) for r in rs)

    def stats(ss):
        return sorted((s["entity_id"], s["entity_label"], s["num_revisions"])
                      for s in ss)
    got_revisions = revisions(
        unified[unified.table == "revision"].to_dict("records"))
    got_stats = stats(map(json.loads, unified[
        unified.table == "entity_stats"].payload))
    assert got_revisions == revisions(clean["revision"])
    assert got_stats == stats(clean["entity_stats"])
    assert got_stats == [(12, "b", 1), (12, "c", 2), (500, "y", 2)]
    assert (500, 7003, 7001) in got_revisions


def _parsed_rows_per_run(spark, monkeypatch, mode: str) -> tuple[int, int]:
    """(input rows, rows the parse UDF emitted) over one run_pipeline that
    reads value_change, entity_stats and quarantine."""
    from widiff_spark import pipeline

    docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                     hot_revisions=60).persist()
    n_rows = parse.parse_documents(docs).count()
    parsed_rows = spark.sparkContext.accumulator(0)
    parse_batches = parse._parse_batches

    def counting(batches):
        for pdf in parse_batches(batches):
            parsed_rows.add(len(pdf))
            yield pdf

    monkeypatch.setattr(parse, "_parse_batches", counting)
    res = pipeline.run_pipeline(spark, docs, mode=mode)
    try:
        assert res.mode == mode
        res.tables["value_change"].count()
        res.tables["entity_stats"].count()
        assert res.tables["quarantine"].count() > 0
    finally:
        res.unpersist()
        docs.unpersist()
    return n_rows, parsed_rows.value


def test_salted_run_parses_each_row_once(spark, monkeypatch):
    """The keep window, the page aggregation and the quarantine table read
    one materialization of the parsed stream: a salted run parses each
    input row once."""
    n_rows, parsed = _parsed_rows_per_run(spark, monkeypatch, "salted")
    assert parsed == n_rows


def test_grouped_run_parses_each_row_once(spark, monkeypatch):
    """The grouped diff and the quarantine table share one parse."""
    n_rows, parsed = _parsed_rows_per_run(spark, monkeypatch, "grouped")
    assert parsed == n_rows


def test_keep_decision_matches_changed_flag(spark):
    """The projection-equality keep rule equals the reference's ``changed``:
    pages whose consecutive snapshots are byte-identical produce exactly one
    kept revision (plus the non-dedupable redirect/cleaned specials)."""
    rows = []
    body = fixtures.content(
        1, fixtures._ts(0), label="same",
        claims={"P31": [fixtures.statement(
            "qx$S1", fixtures.entity_snak("P31", "Q5"))]})
    for rid in (5000, 5001, 5002):  # identical snapshots -> one kept
        rows.append(fixtures.row("Q990", rid, json.dumps({
            **json.loads(body), "meta": {"revision_id": rid,
                                         "timestamp": fixtures._ts(rid - 5000),
                                         "username": "A", "user_id": "1",
                                         "comment": ""}})))
    docs = spark.createDataFrame(pd.DataFrame(rows),
                                 schema=fixtures.DOCUMENTS_SCHEMA)
    parsed = parse.parse_documents(docs)
    kept = salted.kept_pairs(parsed)
    assert kept.count() == 1
    unified = salted.extract_changes_salted(parsed).toPandas()
    assert (unified["table"] == "revision").sum() == 1

"""Fine-grained diff parity checks driven directly through PageDiffer
(no Spark session — fast regression locks for the subtle reference paths)."""

from __future__ import annotations

from widiff_spark import fixtures as FX
from widiff_spark.config import DEFAULT_CONFIG
from widiff_spark.diff import PageDiffer
from widiff_spark.parse import digest_revision, keep_flags, state_key


def run_page(bodies: list[tuple[str, str]], entity_id: int = 9) -> dict:
    """bodies: [(lang, content_json)] in revision order."""
    revisions = []
    for lang, body in bodies:
        meta, digest, _err = digest_revision(body, lang)
        redirect, cleaned, alias_only = keep_flags(digest)
        revisions.append({
            "state_key": state_key(digest), "is_redirect": redirect,
            "is_cleaned": cleaned, "is_alias_only": alias_only,
            "revision_id": meta.get("revision_id"),
            "timestamp": meta.get("timestamp"),
            "comment": meta.get("comment") or "",
            "username": meta.get("username") or "",
            "user_id": str(meta.get("user_id") or ""),
            "is_deleted": lang == "deleted",
            "digest": digest,
        })
    return PageDiffer("repo", entity_id, DEFAULT_CONFIG).process_page(revisions)


class TestMonolingualRouting:
    def test_language_delete_routes_to_value_change(self):
        # whole statement with monolingualtext mainsnak deleted -> the
        # 'language' metadata key lands in value_change, not metadata
        # (deletion branch, page_parser.py:623-637)
        r1 = FX.content(1, FX._ts(0), claims={
            "P1448": [FX.statement("q9$S1", FX.mono_snak("P1448", "x", "en"))]})
        r2 = FX.content(2, FX._ts(1), claims={
            "P1448": [FX.statement("q9$S2", FX.string_snak("P1448", "x"))]})
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        lang_rows = [r for r in res["value_change"]
                     if r["change_target"] == "language"]
        assert len(lang_rows) == 1
        assert lang_rows[0]["action"] == "DELETE"
        assert lang_rows[0]["old_value"] == '"en"'
        assert not any(r["change_target"] == "language"
                       for r in res["datatype_metadata_change"])

    def test_language_create_on_new_statement(self):
        r1 = FX.content(1, FX._ts(0), claims={
            "P31": [FX.statement("q9$S0", FX.entity_snak("P31", "Q5"))]})
        r2 = FX.content(2, FX._ts(1), claims={
            "P31": [FX.statement("q9$S0", FX.entity_snak("P31", "Q5"))],
            "P1448": [FX.statement("q9$S1", FX.mono_snak("P1448", "x", "de"))]})
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        lang_rows = [r for r in res["value_change"]
                     if r["change_target"] == "language"]
        assert len(lang_rows) == 1 and lang_rows[0]["action"] == "CREATE"
        assert lang_rows[0]["new_value"] == '"de"'


class TestStatementDeletePaths:
    def test_removed_pid_emits_qualifier_deletes(self):
        r1 = FX.content(1, FX._ts(0), claims={
            "P39": [FX.statement(
                "q9$S1", FX.entity_snak("P39", "Q11696"),
                qualifiers={"P1545": [FX.string_snak("P1545", "1")]})],
            "P31": [FX.statement("q9$S2", FX.entity_snak("P31", "Q5"))]})
        r2 = FX.content(2, FX._ts(1), claims={
            "P31": [FX.statement("q9$S2", FX.entity_snak("P31", "Q5"))]})
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        q = [r for r in res["qualifier_change"] if r["revision_id"] == 2]
        assert len(q) == 1 and q[0]["action"] == "DELETE"
        assert q[0]["qual_property_id"] == 1545

    def test_cleaned_entity_qualifier_quirk(self):
        # the reference passes curr_stmt=stmt on the cleaned path, emitting
        # CREATE rows for the dying statement's qualifiers
        # (page_parser.py:1503-1507) — replicated as-is
        r1 = FX.content(1, FX._ts(0), label="x", claims={
            "P39": [FX.statement(
                "q9$S1", FX.entity_snak("P39", "Q11696"),
                qualifiers={"P1545": [FX.string_snak("P1545", "1")]})]})
        r2 = FX.content(2, FX._ts(1))  # completely empty -> cleaned
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        q = [r for r in res["qualifier_change"] if r["revision_id"] == 2]
        assert len(q) == 1 and q[0]["action"] == "CREATE"

    def test_remaining_pid_statement_delete_metadata_datatypes(self):
        # NB quirk: on the remaining-pid DELETE branch the reference passes
        # old_datatype as BOTH datatypes to the metadata diff
        # (page_parser.py:1830)
        r1 = FX.content(1, FX._ts(0), claims={
            "P569": [FX.statement("q9$S1",
                                  FX.time_snak("P569", "+1990-01-01T00:00:00Z")),
                     FX.statement("q9$S2",
                                  FX.time_snak("P569", "+1991-01-01T00:00:00Z"))]})
        r2 = FX.content(2, FX._ts(1), claims={
            "P569": [FX.statement("q9$S1",
                                  FX.time_snak("P569", "+1990-01-01T00:00:00Z"))]})
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        meta_rows = [r for r in res["datatype_metadata_change"]
                     if r["revision_id"] == 2]
        assert meta_rows, "metadata DELETE rows expected"
        for r in meta_rows:
            assert r["old_datatype"] == "time"
            assert r["new_datatype"] == "time"  # the reference quirk
            assert r["action"] == "DELETE"
        assert {r["change_target"] for r in meta_rows} == \
            {"precision", "calendarmodel"}
        cal = [r for r in meta_rows if r["change_target"] == "calendarmodel"][0]
        assert cal["old_value"] == '"Q1985727"'  # URL reduced to Q-id

    def test_novalue_qualifier_uses_snak_hash(self):
        snak = FX.sentinel_snak("P582", "novalue", "h-nv-q")
        r1 = FX.content(1, FX._ts(0), claims={
            "P39": [FX.statement("q9$S1", FX.entity_snak("P39", "Q11696"),
                                 qualifiers={"P582": [snak]})]})
        r2 = FX.content(2, FX._ts(1), claims={
            "P39": [FX.statement("q9$S1", FX.entity_snak("P39", "Q11696"))]})
        res = run_page([("wikidata-json", r1), ("wikidata-json", r2)])
        q = [r for r in res["qualifier_change"] if r["revision_id"] == 2]
        assert len(q) == 1
        assert q[0]["value_hash"] == "h-nv-q"   # sentinel keeps its own hash
        assert q[0]["old_value"] == '"novalue"'
        assert q[0]["old_datatype"] == "string"


class TestFirstRevisionQuirks:
    def test_first_revision_redirect_not_flagged(self):
        # a redirect as the very first parse-ok revision goes through the
        # created-entity path: stored with redirect=False
        # (page_parser.py:1896-1899 precedes the redirect check)
        r1 = FX.content(1, FX._ts(0), redirect="Q42", entity="Q9")
        res = run_page([("redirect", r1)])
        assert len(res["revision"]) == 1
        assert res["revision"][0]["redirect"] is False
        assert res["value_change"] == []

    def test_alias_only_first_revision_stored(self):
        r1 = FX.content(1, FX._ts(0), aliases=["alias"])
        res = run_page([("wikidata-json", r1)])
        assert len(res["revision"]) == 1      # created path forces change=True
        assert res["value_change"] == []

"""Byte-parity tests for the identity core (F1-F5, P7-P9).

Golden values are computed inline with the exact formulas the reference
documents (sha1 of json.dumps with the reference's separator choices) —
change identity is bit-parity-mandatory (SURVEY.md §7.4.1).
"""

import hashlib
import json
from datetime import datetime, timedelta

import pytest

from widiff_spark import canonical as C


def sha1_compact(obj) -> str:
    return hashlib.sha1(
        json.dumps(obj, separators=(",", ":")).encode("utf-8")).hexdigest()


class TestValueHash:
    def test_plain_datavalue(self):
        snak = {"snaktype": "value", "property": "P31",
                "datavalue": {"value": {"entity-type": "item", "id": "Q5"},
                              "type": "wikibase-entityid"}}
        assert C.value_hash(snak) == sha1_compact(snak["datavalue"])

    def test_sentinel_returns_own_hash(self):
        snak = {"snaktype": "novalue", "hash": "abc123"}
        assert C.value_hash(snak) == "abc123"
        snak = {"snaktype": "somevalue", "hash": "xyz"}
        assert C.value_hash(snak) == "xyz"

    def test_insertion_order_preserved(self):
        a = {"snaktype": "value",
             "datavalue": {"value": {"x": 1, "y": 2}, "type": "string"}}
        b = {"snaktype": "value",
             "datavalue": {"value": {"y": 2, "x": 1}, "type": "string"}}
        # key order is part of the identity (page_parser.py:1082 uses plain
        # json.dumps, not sort_keys)
        assert C.value_hash(a) != C.value_hash(b)

    def test_homogenize_then_hash_equalizes_time_padding(self):
        def time_snak(t):
            return {"snaktype": "value", "datavalue": {
                "value": {"time": t, "timezone": 0, "before": 0, "after": 0,
                          "precision": 11, "calendarmodel": "cal"},
                "type": "time"}}
        a = C.homogenize_datavalue(time_snak("+00002013-10-28T00:00:00Z"))
        b = C.homogenize_datavalue(time_snak("+2013-10-28T00:00:00Z"))
        assert C.value_hash(a) == C.value_hash(b)
        assert a["datavalue"]["value"]["time"] == "+2013-10-28T00:00:00Z"
        assert "before" not in a["datavalue"]["value"]

    def test_homogenize_entity_id_synthesis(self):
        snak = {"snaktype": "value", "datavalue": {
            "value": {"entity-type": "item", "numeric-id": 15241312},
            "type": "wikibase-entityid"}}
        out = C.homogenize_datavalue(snak)
        assert out["datavalue"]["value"]["id"] == "Q15241312"
        assert "numeric-id" not in out["datavalue"]["value"]

    def test_homogenize_globe_drops_altitude(self):
        snak = {"snaktype": "value", "datavalue": {
            "value": {"latitude": 1.0, "longitude": 2.0, "altitude": None},
            "type": "globecoordinate"}}
        assert "altitude" not in C.homogenize_datavalue(snak)["datavalue"]["value"]


class TestReferenceGroupHash:
    def test_sorted_default_separators(self):
        pairs = [("P854", "h2"), ("P143", "h1")]
        expected = hashlib.sha1(
            json.dumps(sorted(pairs)).encode("utf-8")).hexdigest()
        assert C.reference_group_hash(pairs) == expected
        assert C.reference_group_hash(list(reversed(pairs))) == expected


class TestParseDatavalue:
    def test_quantity(self):
        v, dt, md = C.parse_datavalue_json({"amount": "+1", "unit": "u"},
                                           "quantity")
        assert (v, dt, md) == ("+1", "quantity", {"unit": "u"})

    def test_time_metadata(self):
        v, dt, md = C.parse_datavalue_json(
            {"time": "+2024-01-01T00:00:00Z", "timezone": 0, "before": 0,
             "after": 0, "precision": 11, "calendarmodel": "cal"}, "time")
        assert v == "+2024-01-01T00:00:00Z"
        assert md == {"precision": 11, "calendarmodel": "cal"}

    def test_globecoordinate_value_and_metadata(self):
        v, dt, md = C.parse_datavalue_json(
            {"latitude": 52.0, "longitude": 13.0, "globe": "g",
             "precision": 0.1}, "globecoordinate")
        assert v == {"longitude": 13.0, "latitude": 52.0}
        assert md == {"globe": "g", "precision": 0.1}

    def test_entity_without_id(self):
        v, _, _ = C.parse_datavalue_json(
            {"entity-type": "item", "numeric-id": 7}, "wikibase-entityid")
        assert v == "Q7"

    def test_monolingual(self):
        v, dt, md = C.parse_datavalue_json(
            {"text": "hi", "language": "en"}, "monolingualtext")
        assert (v, md) == ("hi", {"language": "en"})

    def test_sentinels(self):
        assert C.parse_snak({"snaktype": "novalue"}) == \
            ("novalue", "unknown-values", None)
        assert C.parse_snak({"snaktype": "somevalue"}) == \
            ("somevalue", "unknown-values", None)


class TestScalars:
    def test_id_to_int(self):
        assert C.id_to_int("Q38830") == 38830
        assert C.id_to_int("P31") == 31

    def test_clean_time_string(self):
        assert C.clean_time_string("+00002025-10-01T00:00:00Z") == \
            "+2025-10-01T00:00:00Z"
        # fewer than 4 remaining digits: untouched (lookahead needs \d{4}-)
        assert C.clean_time_string("+0013-01-01") == "+0013-01-01"

    def test_serialize(self):
        assert C.serialize_or_empty(None) == "{}"
        assert C.serialize_or_empty("") == "{}"
        assert C.serialize_or_empty("ü") == '"ü"'   # ensure_ascii=False
        assert C.serialize_or_empty({"a": 1}) == '{"a": 1}'

    def test_split_change_type(self):
        assert C.split_change_type("CREATE_PROPERTY_VALUE") == \
            ("CREATE", "PROPERTY_VALUE")
        assert C.split_change_type(None) == (None, None)

    def test_label_change_type(self):
        assert C.label_change_type(None, "x") == C.CREATE_PROPERTY_VALUE
        assert C.label_change_type("x", None) == C.DELETE_PROPERTY_VALUE
        assert C.label_change_type("x", "y") == C.UPDATE_PROPERTY_VALUE
        assert C.label_change_type("x", "x") is None

    @pytest.mark.parametrize("date,expected_week", [
        (datetime(2024, 12, 30), "2024-W01"),   # ISO week 1 of 2025, cal year 2024
        (datetime(2023, 1, 1), "2023-W52"),     # ISO week 52 of 2022
        (datetime(2021, 1, 1), "2021-W53"),
        (datetime(2024, 3, 1), "2024-W09"),
    ])
    def test_week_feature_matches_strftime(self, date, expected_week):
        ts = date.strftime("%Y-%m-%dT%H:%M:%SZ")
        assert C.time_feature(ts, "week") == expected_week
        assert C.time_feature(ts, "week") == date.strftime("%Y-W%V")

    def test_year_month(self):
        assert C.time_feature("2017-09-03T12:00:00Z", "year_month") == "2017-09"
        assert C.time_feature("2017-09-03T12:00:00Z", "year") == "2017"


class TestDecode:
    def test_html_escaped_with_control_chars(self):
        raw = '{"a": "b"}'.replace('"', "&quot;") + "\x0b"
        assert C.decode_revision_json(raw) == {"a": "b"}

    def test_smart_quotes(self):
        assert C.decode_revision_json('{“a”: “b”}') == {"a": "b"}

    def test_plain_json(self):
        assert C.decode_revision_json(' {"a": 1} ') == {"a": 1}

    def test_broken_returns_none(self):
        assert C.decode_revision_json("{nope") is None

    def test_timestamp_parse(self):
        dt = C.parse_timestamp("2024-03-01T12:00:00Z")
        assert dt == datetime(2024, 3, 1, 12)
        assert C.parse_timestamp("2024-03-01 12:00:00+02:00") == \
            datetime(2024, 3, 1, 12)


class TestStripTimeLeadingZeros:
    """The pure-string time-zero stripper must match the original regex
    substitution byte-for-byte on every input."""

    def test_fuzzed_equivalence_with_regex(self):
        import random
        import re

        from widiff_spark.canonical import _strip_time_leading_zeros

        pat = re.compile(r"^([+-])0*(\d+)")

        def ref(s):
            return pat.sub(r"\1\2", s)

        cases = [
            "", "+", "-", "+0", "-0", "+00", "+0000", "+2013-01-01T00:00:00Z",
            "+00000002013-01-01T00:00:00Z", "-00000000100-01-01T00:00:00Z",
            "+0abc", "+000abc", "+abc", "0123", "abc", "+٣٤", "+00٣",
            "+0²", "+00-01-01", "+0000-01-01T00:00:00Z",
        ]
        for s in cases:
            assert _strip_time_leading_zeros(s) == ref(s), repr(s)

        rng = random.Random(8)
        alphabet = "+-0123456789T:Z-abc٣²"
        for _ in range(20000):
            s = "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(0, 12)))
            assert _strip_time_leading_zeros(s) == ref(s), repr(s)

"""Canonicalization + identity core (pure Python, no Spark imports).

These functions define the *identity* of every change row: the sha1 of a
canonical ``json.dumps`` of the (homogenized) datavalue.  Byte parity with the
reference implementation is mandatory — change detection, revert pairing and
the PKs of every output table key on these bytes — so the serialization is
done with the exact same ``json.dumps`` arguments the reference uses and is
never re-serialized through Spark's ``to_json``.

Reference parity map (file:line in /root/reference):
  homogenize_datavalue      -> scripts/page_parser.py:1000-1030
  value_hash                -> scripts/page_parser.py:1032-1082
  reference_group_hash      -> scripts/page_parser.py:1141-1143
  parse_datavalue_json      -> scripts/page_parser.py:250-280
  parse_snak                -> scripts/page_parser.py:282-304
  serialize_value           -> scripts/page_parser.py:364-376
  clean_time_string         -> scripts/page_parser.py:1857-1858
  id_to_int                 -> scripts/utils.py:428-432
  time_feature              -> scripts/utils.py:442-459
  label_change_type         -> scripts/page_parser.py:306-317
  split_change_type         -> scripts/page_parser.py:189-200
"""

from __future__ import annotations

import hashlib
import json
import re
from datetime import datetime

try:  # optional fast JSON codec for the *internal* digest transport only —
    # identity serialization below stays on the exact stdlib json.dumps
    # arguments the reference uses (byte parity is mandatory there)
    import orjson as _orjson
except ImportError:  # pragma: no cover - orjson ships in this environment
    _orjson = None


def fast_json_loads(s):
    """``json.loads`` with an orjson fast path.

    orjson accepts a strict subset of what stdlib json accepts (it rejects
    NaN/Infinity literals, >64-bit ints, trailing data), so falling back to
    the stdlib on *any* orjson error preserves stdlib semantics exactly:
    every input decodes to the same object, and invalid input raises the
    stdlib ``json.JSONDecodeError`` the callers catch.
    """
    if _orjson is not None:
        try:
            return _orjson.loads(s)
        except Exception:
            pass
    return json.loads(s)


def fast_json_dumps_compact(obj, sort_keys: bool = False) -> str:
    """Compact ``json.dumps(ensure_ascii=False, separators=(',', ':'))``
    with an orjson fast path — for internal values ONLY: the digest
    transport (consumers parse it back) and parse.state_key (whose hashes
    are only compared with each other, never with the reference's bytes).

    Falls back to the stdlib for anything orjson cannot serialize
    (non-string keys, >64-bit ints, inf/nan floats).
    """
    if _orjson is not None:
        try:
            return _orjson.dumps(
                obj, option=_orjson.OPT_SORT_KEYS if sort_keys else None
            ).decode("utf-8")
        except Exception:
            pass
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"),
                      sort_keys=sort_keys)

# --- change-type vocabulary (reference scripts/const.py:51-65) ---------------
CREATE_PROPERTY_VALUE = "CREATE_PROPERTY_VALUE"
UPDATE_PROPERTY_VALUE = "UPDATE_PROPERTY_VALUE"
UPDATE_PROPERTY_DATATYPE_METADATA = "UPDATE_PROPERTY_DATATYPE_METADATA"
DELETE_PROPERTY_VALUE = "DELETE_PROPERTY_VALUE"
UPDATE_RANK = "UPDATE_RANK"
CREATE_QUALIFIER_VALUE = "CREATE_QUALIFIER_VALUE"
DELETE_QUALIFIER_VALUE = "DELETE_QUALIFIER_VALUE"
CREATE_REFERENCE_VALUE = "CREATE_REFERENCE_VALUE"
DELETE_REFERENCE_VALUE = "DELETE_REFERENCE_VALUE"

# Wikidata sentinels (reference scripts/const.py:94-95)
NO_VALUE = "novalue"
SOME_VALUE = "somevalue"

# datatype taxonomy (reference scripts/const.py:106-107)
WD_STRING_TYPES = [
    "monolingualtext", "string", "external-id", "url", "commonsMedia",
    "geo-shape", "tabular-data", "math", "musical-notation", "unknown-values",
]
WD_ENTITY_TYPES = [
    "wikibase-item", "wikibase-entityid", "wikibase-property",
    "wikibase-lexeme", "wikibase-sense", "wikibase-form", "entity-schema",
]

# synthetic property ids for labels/descriptions (reference scripts/const.py:80-81)
LABEL_PROP_ID = -1
DESCRIPTION_PROP_ID = -2

# end-time qualifier properties -> soft_deletion (reference page_parser.py:541-549)
END_TIME_QUALIFIER_PIDS = (582, 8554, 12506, 3416)

_TIME_LEADING_ZEROS = re.compile(r"^([+-])0*(\d+)")
_TIME_UPDATE_NOISE = re.compile(r"^([+-])0+(?=\d{4}-)")
_CONTROL_CHARS = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
_TZ_SUFFIX = re.compile(r"[+-]\d{2}:?\d{0,2}$")


def id_to_int(wd_id: str) -> int:
    """``Q38830``/``P31`` -> 38830/31 (reference scripts/utils.py:428-432)."""
    return int(wd_id[1:])


def _strip_time_leading_zeros(s: str) -> str:
    """Pure-string equivalent of ``_TIME_LEADING_ZEROS.sub(r"\\1\\2", s)``
    (pattern ``^([+-])0*(\\d+)``) — the regex + template expansion was a
    measurable share of the parse stage.  Equivalence is fuzz-pinned in
    tests/test_canonical.py."""
    if not s or s[0] not in "+-":
        return s
    i = 1
    n = len(s)
    while i < n and s[i] == "0":
        i += 1
    if i == 1:  # no leading zeros: the sub is the identity
        return s
    if i < n and s[i].isdecimal():  # regex \d == Unicode category Nd
        return s[0] + s[i:]
    # zeros followed by a non-digit (or end): the regex backtracks to leave
    # one digit, so exactly one zero survives
    return s[0] + "0" + s[i:]


def homogenize_datavalue(snak: dict) -> dict:
    """Normalize a snak in place before hashing/diffing.

    Drops deprecated/unused fields (globecoordinate ``altitude``, time
    ``before``/``after``), strips leading zeros from time strings, and
    normalizes entity values to carry ``id`` only (synthesizing it from
    ``numeric-id`` when absent).  Reference: page_parser.py:1000-1030.
    """
    if "datavalue" not in snak:  # fallback for somevalue/novalue
        return snak

    dtype = snak["datavalue"]["type"]
    value = snak["datavalue"]["value"]

    if dtype == "globecoordinate":
        value.pop("altitude", None)

    if dtype == "time":
        value.pop("before", None)
        value.pop("after", None)
        value["time"] = _strip_time_leading_zeros(value["time"])

    if dtype in WD_ENTITY_TYPES:
        if "id" not in value:
            value["id"] = f"Q{value['numeric-id']}"
        value.pop("numeric-id", None)

    return snak


def value_hash(hom_snak: dict | None) -> str | None:
    """sha1 identity of a homogenized snak's datavalue.

    For ``novalue``/``somevalue`` snaks the snak's own ``hash`` field is the
    identity.  The dump preserves *insertion order* of the datavalue keys —
    the same bytes Python's ``json.dumps`` with compact separators produces.
    Reference: page_parser.py:1032-1082.
    """
    if not hom_snak:
        return None
    if hom_snak.get("snaktype") in (NO_VALUE, SOME_VALUE):
        return hom_snak.get("hash")
    payload = json.dumps(hom_snak["datavalue"], separators=(",", ":"))
    return hashlib.sha1(payload.encode("utf-8")).hexdigest()


def reference_group_hash(snak_pairs: list) -> str:
    """Stable content id for a whole reference group.

    ``snak_pairs`` is ``[(pid, value_hash), ...]`` over every snak in the
    reference; sorted + default-separator json.dumps to match the reference's
    bytes exactly (page_parser.py:1141-1143 uses ``json.dumps(sorted(...))``
    with *default* separators).
    """
    return hashlib.sha1(json.dumps(sorted(snak_pairs)).encode("utf-8")).hexdigest()


def parse_datavalue_json(value_json, datatype):
    """Split a raw datavalue into (value, datatype, datatype_metadata).

    Complex datatypes (time/quantity/globecoordinate/monolingualtext) keep the
    principal field(s) as the value and demote everything else to metadata;
    entity-likes reduce to the Q-id.  Reference: page_parser.py:250-280.
    """
    value = None
    datatype_metadata: dict = {}
    if isinstance(value_json, dict):
        if datatype == "globecoordinate":
            value = {
                "longitude": value_json["longitude"],
                "latitude": value_json["latitude"],
            }
        if datatype != "wikibase-entityid":
            for k, v in value_json.items():
                if k not in ("time", "amount", "text", "latitude", "longitude",
                             "altitude", "before", "after", "timezone"):
                    datatype_metadata[k] = v
                elif datatype != "globecoordinate" and k not in (
                        "altitude", "before", "after", "timezone"):
                    value = v
        else:
            if "id" in value_json:
                value = value_json.get("id")
            else:
                value = "Q" + str(value_json.get("numeric-id"))
    else:
        value = value_json
    return value, datatype, datatype_metadata


def parse_snak(snak: dict | None):
    """(value, datatype, metadata) for any snak incl. sentinel snaktypes.

    Reference: page_parser.py:282-304 (mainsnak path) — sentinel snaks map to
    (sentinel, 'unknown-values', None).
    """
    if not snak:
        return None, None, None
    snaktype = snak.get("snaktype")
    if snaktype == "value":
        dv = snak.get("datavalue", {})
        return parse_datavalue_json(dv.get("value"), dv.get("type"))
    value = NO_VALUE if snaktype == "novalue" else SOME_VALUE
    return value, "unknown-values", None


def parse_qual_ref_snak(snak: dict):
    """Qualifier/reference snak value parse (page_parser.py:1176-1180,
    1302-1308): sentinel snaktypes map to (sentinel, 'string', None)."""
    snaktype = snak.get("snaktype")
    if snaktype in (NO_VALUE, SOME_VALUE):
        return snaktype, "string", None
    dv = snak["datavalue"]
    return parse_datavalue_json(dv["value"], dv["type"])


_JSON_STR_ESCAPE = re.compile(r'["\\\x00-\x1f]')


def serialize_value(value) -> str | None:
    """Canonical JSON text of a change value (page_parser.py:364-368).

    Fast path: ``json.dumps(s, ensure_ascii=False)`` escapes only quotes,
    backslashes and control chars, so an escape-free string serializes to
    exactly ``'"' + s + '"'`` — byte-identical, without the encoder walk
    (values are overwhelmingly plain strings; profiled hot under
    save_change)."""
    if value is None:
        return None
    if type(value) is str and not _JSON_STR_ESCAPE.search(value):
        return '"' + value + '"'
    return json.dumps(value, ensure_ascii=False)


def serialize_or_empty(value) -> str:
    """Serialized value with the reference's ``'{}'``-for-NULL convention
    (page_parser.py:375-376 — "null = null is NULL in postgresql")."""
    return serialize_value(value) if value else "{}"


def clean_time_string(v: str) -> str:
    """Strip WD-internal zero padding (``+00002013-…`` -> ``+2013-…``) used to
    suppress formatting-only UPDATEs (page_parser.py:1854-1860)."""
    return _TIME_UPDATE_NOISE.sub(r"\1", v)


_SPLIT_CHANGE_TYPE_CACHE: dict = {}


def split_change_type(change_type: str):
    """``CREATE_PROPERTY_VALUE`` -> ('CREATE', 'PROPERTY_VALUE')
    (page_parser.py:189-200).  Memoized: the vocabulary is the fixed
    constant set above, and the diff stage calls this once per emitted row."""
    hit = _SPLIT_CHANGE_TYPE_CACHE.get(change_type)
    if hit is not None:
        return hit
    if not change_type or "_" not in change_type:
        result = (change_type, None)
    else:
        action, target = change_type.split("_", 1)
        result = (action, target)
    if len(_SPLIT_CHANGE_TYPE_CACHE) < 1024:  # vocabulary is ~9 constants
        _SPLIT_CHANGE_TYPE_CACHE[change_type] = result
    return result


def label_change_type(old_value, new_value):
    """CREATE / DELETE / UPDATE typing for single-valued label/description
    changes (page_parser.py:306-317). Returns None when both sides falsy."""
    if not old_value and new_value:
        return CREATE_PROPERTY_VALUE
    if old_value and not new_value:
        return DELETE_PROPERTY_VALUE
    if old_value and new_value and old_value != new_value:
        return UPDATE_PROPERTY_VALUE
    return None


def unescape_revision_text(text: str) -> str:
    """Stage-1 cleanup of revision text before ``json.loads``: HTML unescape,
    smart-quote normalization, control-char strip (page_parser.py:158-164)."""
    import html

    json_text = text.strip()
    if "&" in json_text:  # html.unescape is the identity without '&'
        json_text = html.unescape(json_text)
    if not json_text.isascii():  # smart quotes are non-ASCII; isascii is
        # O(1) (cached str flag) vs four full `.replace` scans per revision
        json_text = (json_text.replace("“", '"').replace("”", '"')
                     .replace("„", '"').replace("‟", '"'))
    return _CONTROL_CHARS.sub("", json_text)


def decode_revision_json(text: str):
    """Two-stage tolerant JSON decode of a revision payload.

    Returns the parsed dict or None (quarantine) — reference
    page_parser.py:152-187 minus the log-file side channel (bad rows become a
    quarantine DataFrame instead).
    """
    try:
        return fast_json_loads(unescape_revision_text(text))
    except json.JSONDecodeError:
        pass
    try:
        return fast_json_loads(text.strip())
    except json.JSONDecodeError:
        return None


def parse_timestamp(ts) -> datetime:
    """Tolerant timestamp parse used by revert pairing
    (feature_creation.py:888-893).

    Fast path: the canonical ``YYYY-MM-DDTHH:MM:SSZ`` shape every dump
    timestamp has is parsed with the plain datetime constructor (~15x
    cheaper than strptime — the #1 diff-stage hotspot in profiling was
    strptime under the revert scan).  Anything else takes the original
    tolerant path; the constructor validates ranges exactly like strptime,
    so the result is identical."""
    if isinstance(ts, datetime):
        return ts
    s = str(ts)
    if (len(s) in (19, 20) and s[4] == "-" and s[7] == "-"
            and s[10] in "T " and s[13] == ":" and s[16] == ":"
            and (len(s) == 19 or s[19] == "Z")):
        try:
            return datetime(int(s[0:4]), int(s[5:7]), int(s[8:10]),
                            int(s[11:13]), int(s[14:16]), int(s[17:19]))
        except ValueError:
            pass
    ts_str = s.replace("T", " ").replace("Z", "")
    ts_str = _TZ_SUFFIX.sub("", ts_str).strip()
    return datetime.strptime(ts_str, "%Y-%m-%d %H:%M:%S")


def time_feature(timestamp: str, option: str) -> str:
    """Denormalized time buckets carried on every fact row.

    ``week`` is ``%Y-W%V`` — *calendar* year + ISO week number, exactly the
    reference's strftime (utils.py:442-459).  The Spark-side equivalent used
    in enrich.py (year(ts) || '-W' || lpad(weekofyear(ts),2,'0')) is parity
    tested against this function.
    """
    dt = parse_timestamp(timestamp)
    if option == "year":
        return str(dt.year)
    if option == "year_month":
        return dt.strftime("%Y-%m")
    if option == "week":
        return dt.strftime("%Y-W%V")
    return timestamp


def safe_get_nested(d, *keys):
    """Nested dict access where any miss / list value collapses to ``{}``
    (page_parser.py:213-235 — WD serializes empty maps as ``[]``)."""
    default: dict = {}
    current = d
    for key in keys:
        if isinstance(current, dict):
            current = current.get(key, default)
        else:
            return default
    if isinstance(current, list):
        return default
    return current

"""Snapshot parsing: ``(repo, path, commit, lang, content)`` -> digested revisions.

This is the heavy, *row-parallel* stage.  Every revision's entity JSON is
decoded, homogenized and pre-hashed here, inside ``mapInArrow`` (columns read
as Python lists, one Arrow batch built per input batch) — so the
per-page grouped diff (diff.py) only performs cheap
set operations over pre-computed identities.  That split is the engine's
primary skew mitigation: the reference does all of this work inside one
sequential per-page loop (page_parser.py:1956-2326), which at 10^12 scale
would pin a hot page (e.g. a 60k-revision sandbox entity,
general_analysis.py:367-369) to a single worker; here the expensive JSON +
sha1 work for that page spreads over the whole cluster and only the
lightweight replay is grouped.

Next to the digest, each row carries the keep projection that both diff
modes read (diff.PageDiffer.process_page, salted.kept_pairs), computed from
the digest while it is still in memory, so no stage re-derives what a
change is::

    state_key      # sha1 of the comparable projection (see ``state_key``)
    is_redirect, is_cleaned, is_alias_only   # see ``keep_flags``

Digest format (one JSON string per revision), consumed by diff.py::

    {redirect, redirect_qid, has_labels, has_descs, has_claims,
     has_aliases, has_sitelinks, label, description, alias,
     claims: {pid: [stmt, ...]}}

    stmt = {sid, rank,
            hash,       # value_hash(homogenized mainsnak)  (page_parser.py:1032-1082)
            raw_hash,   # the snak's own 'hash' field — the first-revision
                        # path hashes with this, not the canonical hash
                        # (page_parser.py:1359)
            value,      # parsed homogenized value           (page_parser.py:250-280)
            raw_value,  # parsed *non*-homogenized value — the first-revision
                        # path never homogenizes (page_parser.py:1350-1429)
            datatype, metadata,
            quals: {qpid: [[hash, value, datatype], ...]},   # deduped by hash,
                        # dict last-wins (page_parser.py:1276-1289)
            refs: [[ref_hash, rpid, value_hash, value, datatype], ...]}
                        # keyed (ref_hash, rpid, value_hash), last-wins
                        # (page_parser.py:1125-1156)
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from . import canonical as C
from .schema import PARSED_SCHEMA, pylist

LANGUAGE = "en"  # reference setup.yml:3


def _norm_lang_value(revision: dict, field: str) -> str | None:
    """labels/descriptions['en']['value'] with misses collapsed to None
    (page_parser.py:237-248 — ``_safe_get_nested`` returns {} on miss)."""
    v = C.safe_get_nested(revision, field, LANGUAGE, "value")
    return None if isinstance(v, dict) else v


_HOMOGENIZE_TOUCHES = frozenset(("globecoordinate", "time")) \
    | frozenset(C.WD_ENTITY_TYPES)


def _digest_statement(stmt: dict) -> dict:
    """Pre-compute every identity the diff needs for one statement."""
    mainsnak = stmt.get("mainsnak") or {}
    raw_hash = mainsnak.get("hash")

    dv = mainsnak.get("datavalue")
    dtype0 = dv.get("type") if type(dv) is dict else None
    if mainsnak and (dv is None or (type(dv) is dict
                                    and dtype0 not in _HOMOGENIZE_TOUCHES)):
        # homogenize_datavalue is the identity for every datatype except
        # globecoordinate/time/entity (it only pops/edits those), so the
        # raw and homogenized parses coincide — one parse_snak + one hash
        # instead of two parses (the second parse was ~10% of the whole
        # parse stage in profiling; string statements dominate real dumps)
        value, datatype, metadata = C.parse_snak(mainsnak)
        raw_value = value
        hom = mainsnak
        vhash = C.value_hash(mainsnak)
    else:
        # first-revision path: raw parse + the snak's own hash
        # (page_parser.py:1356-1359)
        raw_value, _raw_dt, _raw_meta = (
            C.parse_snak(mainsnak) if mainsnak else (None, None, None))
        # all later paths: homogenize, canonical hash (page_parser.py:1607,
        # 1659, 1804-1810).  In-place mutation is safe: this revision's
        # parsed JSON is owned by this call and the raw value/hash were
        # captured above.
        hom = C.homogenize_datavalue(mainsnak)
        value, datatype, metadata = C.parse_snak(hom)
        vhash = C.value_hash(hom)

    # qualifiers: per qual-pid hash maps, deduped last-wins (page_parser.py:1276-1289)
    quals = {}
    qualifiers = stmt.get("qualifiers") or {}
    if isinstance(qualifiers, dict):
        for qpid, snaks in qualifiers.items():
            hash_map = {}
            for snak in snaks:
                hsnak = C.homogenize_datavalue(snak)
                h = C.value_hash(hsnak)
                qval, qdt, _ = C.parse_qual_ref_snak(hsnak)
                hash_map[h] = [h, qval, qdt]
            quals[qpid] = list(hash_map.values())

    # references: group-content hash + per-snak identities (page_parser.py:1125-1156)
    refs_map = {}
    for ref in stmt.get("references") or []:
        snaks = ref.get("snaks")
        if not isinstance(snaks, dict):
            continue
        pairs = []
        hom_snaks = []
        for rpid, rsnaks in snaks.items():
            for snak in rsnaks:
                hsnak = C.homogenize_datavalue(snak)
                h = C.value_hash(hsnak)
                pairs.append((rpid, h))
                hom_snaks.append((rpid, h, hsnak))
        ref_hash = C.reference_group_hash(pairs)
        for rpid, h, hsnak in hom_snaks:
            rval, rdt, _ = C.parse_qual_ref_snak(hsnak)
            refs_map[(ref_hash, rpid, h)] = [ref_hash, rpid, h, rval, rdt]
    refs = list(refs_map.values())

    return {
        "sid": stmt.get("id"),
        "rank": stmt.get("rank"),
        "hash": vhash,
        "raw_hash": raw_hash,
        "value": value,
        "raw_value": raw_value,
        "datatype": datatype,
        "metadata": metadata if metadata is not None else None,
        "quals": quals,
        "refs": refs,
    }


def digest_revision(content: str, lang: str) -> tuple[dict | None, dict | None, str | None]:
    """Decode + digest one revision's content.

    Returns (meta, digest, error); digest is None for deleted/broken rows.
    """
    if lang == "deleted":
        # suppressed text (<text deleted="deleted"/>, page_parser.py:1993-2011):
        # only the meta survives, for parent-pointer repair.
        try:
            meta = C.fast_json_loads(content).get("meta", {})
        except (json.JSONDecodeError, AttributeError):
            meta = {}
        return meta, None, None

    revision = C.decode_revision_json(content)
    if revision is None:
        # quarantine channel (page_parser.py:168-187)
        try:
            meta = C.fast_json_loads(content).get("meta", {})
        except (json.JSONDecodeError, AttributeError):
            meta = {}
        return meta, None, "json_decode_error"

    meta = revision.get("meta", {}) if isinstance(revision, dict) else {}

    claims = C.safe_get_nested(revision, "claims")
    if not _claims_ok(claims):
        return meta, None, "invalid_claims"
    aliases = revision.get("aliases")
    alias = ""
    if isinstance(aliases, dict):
        alias_list = aliases.get(LANGUAGE, [])
        alias = alias_list[0]["value"] if len(alias_list) > 0 else ""

    digest = {
        "redirect": "redirect" in revision,
        "redirect_qid": (
            C.id_to_int(revision["redirect"])
            if revision.get("redirect") else None
        ),
        "has_labels": bool(C.safe_get_nested(revision, "labels")),
        "has_descs": bool(C.safe_get_nested(revision, "descriptions")),
        "has_claims": bool(claims),
        "has_aliases": bool(C.safe_get_nested(revision, "aliases")),
        "has_sitelinks": bool(C.safe_get_nested(revision, "sitelinks")),
        "label": _norm_lang_value(revision, "labels"),
        "description": _norm_lang_value(revision, "descriptions"),
        "alias": alias,
        "claims": {
            pid: [_digest_statement(s) for s in stmts]
            for pid, stmts in claims.items()
        },
    }
    return meta, digest, None


def state_key(digest: dict | None) -> str | None:
    """sha1 of the comparable projection (label, description, claims as
    {pid: {sid: [value_hash, rank, qualifier-hash-sets,
    reference-key-sets]}}) — exactly the fields the reference's
    ``changed`` predicate reads (page_parser.py:1890-1953).

    Excludes aliases/sitelinks (alias-only revisions never set ``changed``),
    raw_* fields (first-revision-only), datatype metadata (covered by
    the statement value_hash — metadata lives inside the hashed datavalue)
    and empty qualifier lists (the qualifier diff emits nothing for them).
    Duplicate statement ids collapse last-wins exactly like the reference's
    ``{s['id']: s}`` dicts (page_parser.py:1758-1781).
    """
    if digest is None:
        return None
    claims_proj = {}
    for pid, stmts in digest["claims"].items():
        by_sid = {}
        for s in stmts:
            by_sid[str(s["sid"])] = [
                s["hash"], s["rank"],
                {qp: sorted(h for h, _v, _d in lst)
                 for qp, lst in s["quals"].items() if lst},
                sorted([rh, rp, vh] for rh, rp, vh, _v, _d in (s["refs"] or [])),
            ]
        claims_proj[pid] = by_sid
    proj = {"label": digest["label"], "description": digest["description"],
            "claims": claims_proj}
    return hashlib.sha1(C.fast_json_dumps_compact(proj, sort_keys=True)
                        .encode("utf-8")).hexdigest()


def keep_flags(digest: dict | None) -> tuple[bool, bool, bool]:
    """(is_redirect, is_cleaned, is_alias_only) from a digest."""
    if digest is None:
        return False, False, False
    if digest["redirect"]:
        return True, False, False
    if not digest["has_claims"] and not digest["has_labels"] \
            and not digest["has_descs"]:
        if digest["has_aliases"] or digest["has_sitelinks"]:
            return False, False, True
        return False, True, False
    return False, False, False


# meta fields PARSED_SCHEMA types: a value of another JSON type (a string
# or fractional id, a bool — which Python counts as an int — or a number
# where text belongs) would fail the Arrow conversion of the whole batch, so
# it nulls the field and quarantines its revision instead
_META_TYPES = {"revision_id": int, "parent_id": int, "timestamp": str,
               "username": str, "comment": str}
_INT64 = range(-2 ** 63, 2 ** 63)


def _typed_meta(meta) -> tuple[dict, bool]:
    """``meta`` with every mistyped field nulled, and whether all were
    typed right (null is allowed; ids must fit a long)."""
    if not isinstance(meta, dict):
        return {}, False
    bad = [k for k, t in _META_TYPES.items()
           if (v := meta.get(k)) is not None
           and (type(v) is not t or (t is int and v not in _INT64))]
    if not bad:
        return meta, True
    return {k: v for k, v in meta.items() if k not in bad}, False


_PID = re.compile(r"P\d+").fullmatch
_SENTINELS = (C.NO_VALUE, C.SOME_VALUE)
# per datatype, the keys homogenize_datavalue and parse_datavalue_json index
_VALUE_KEYS = {
    "time": lambda v: "time" in v and type(v["time"]) in (str, type(None)),
    "globecoordinate": lambda v: "latitude" in v and "longitude" in v,
    **dict.fromkeys(C.WD_ENTITY_TYPES,
                    lambda v: "id" in v or "numeric-id" in v)}


def _snak_ok(snak: dict, main: bool = False) -> bool:
    """Whether the digest can read ``snak``: a novalue/somevalue snak or an
    empty mainsnak needs no datavalue; any other snak's datavalue is an
    object with a ``value`` (outside a mainsnak, also a ``type``), and an
    object value where its datatype indexes one (``_VALUE_KEYS``)."""
    if "datavalue" not in snak:
        return (main and not snak) or snak.get("snaktype") in _SENTINELS
    dv = snak["datavalue"]
    if type(dv) is not dict or "value" not in dv \
            or not (main or "type" in dv):
        return False
    v, dtype = dv["value"], dv.get("type")
    if dtype in _VALUE_KEYS:
        return type(v) is dict and _VALUE_KEYS[dtype](v)
    return True


def _snaks_ok(snaks) -> bool:
    """A qualifier or reference snak map: P-id keys, lists of snaks."""
    return all(_PID(pid) and type(lst) is list
               and all(type(sn) is dict and _snak_ok(sn) for sn in lst)
               for pid, lst in snaks.items())


def _claims_ok(claims) -> bool:
    """Whether ``claims`` has the shape the digest and the diff read: P-id
    keys mapping to lists of statement objects, each with a string (or
    null) id, an object mainsnak and P-id qualifier and reference snak
    keys, and every snak readable.  Another shape would crash the task,
    failing every page in its partition, so it quarantines the revision."""
    if type(claims) is not dict:
        return False
    for pid, stmts in claims.items():
        if not _PID(pid) or type(stmts) is not list:
            return False
        for s in stmts:
            if type(s) is not dict:
                return False
            sid, refs = s.get("id"), s.get("references") or []
            quals = s.get("qualifiers")
            main = s.get("mainsnak") or {}
            if (sid is not None and type(sid) is not str) \
                    or type(main) is not dict or not _snak_ok(main, True) \
                    or (isinstance(quals, dict) and not _snaks_ok(quals)) \
                    or type(refs) is not list:
                return False
            for ref in refs:
                if type(ref) is not dict:
                    return False
                snaks = ref.get("snaks")
                if isinstance(snaks, dict) and not _snaks_ok(snaks):
                    return False
    return True


_PARSED_ARROW = to_arrow_schema(PARSED_SCHEMA)


def _parse_batches(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        # columnar accumulation: one list per output column, built into
        # one Arrow batch
        out: dict[str, list] = {c: [] for c in _PARSED_ARROW.names}
        ap = {c: acc.append for c, acc in out.items()}
        for repo, path, commit, lang, content in zip(
                *(pylist(batch.column(c))
                  for c in ("repo", "path", "commit", "lang", "content"))):
            meta, digest, error = digest_revision(content, lang)
            meta, meta_ok = _typed_meta(meta or {})
            if not meta_ok:
                digest, error = None, error or "invalid_meta"
            ap["repo"](repo)
            ap["path"](path)
            ap["commit"](commit)
            ap["entity_id"](C.id_to_int(path))
            ap["revision_id"](meta.get("revision_id"))
            ap["parent_id"](meta.get("parent_id"))
            ap["timestamp"](meta.get("timestamp"))
            ap["username"](meta.get("username") or "")
            ap["user_id"](str(meta.get("user_id") or ""))
            ap["comment"](meta.get("comment") or "")
            ap["is_deleted"](lang == "deleted")
            ap["parse_ok"](digest is not None)
            # compact separators: the digest is an internal transport
            # format (decoded in diff/salted, never hashed) — ~12% fewer
            # bytes through the page shuffle; orjson fast path with stdlib
            # fallback (consumers parse values back, so only value
            # equivalence matters here, not byte layout)
            ap["snapshot"](C.fast_json_dumps_compact(digest)
                           if digest is not None else None)
            ap["error"](error)
            ap["state_key"](state_key(digest))
            redirect, cleaned, alias_only = keep_flags(digest)
            ap["is_redirect"](redirect)
            ap["is_cleaned"](cleaned)
            ap["is_alias_only"](alias_only)
        yield pa.RecordBatch.from_pydict(out, schema=_PARSED_ARROW)


ITEM_PATH = r"^Q\d+$"  # the one definition of an item page's path
_NAMESPACE_RES = {"item": ITEM_PATH, "property": r"^P\d+$"}


def parse_documents(docs: DataFrame, namespace: str = "item") -> DataFrame:
    """Versioned-document table -> parsed revision table.

    Applies the namespace filter first (default: keep item pages only —
    paths shaped ``Q<digits>``; reference file_parser.py:326-329) so the
    predicate is pushed to the scan, then digests each revision
    Arrow-batch-wise.  ``namespace='property'`` admits ``P<digits>`` pages
    instead — the PropertyDocument pass of the reference's
    ExtractLabelsProperties dump tool (extractors.property_labels)."""
    filtered = docs.filter(F.col("path").rlike(_NAMESPACE_RES[namespace]))
    return filtered.mapInArrow(_parse_batches, schema=PARSED_SCHEMA)


def quarantine(parsed: DataFrame) -> DataFrame:
    """Undecodable revisions as a DataFrame (replaces the reference's
    error_revision_text.txt side channel, page_parser.py:177-187)."""
    return parsed.filter((~F.col("parse_ok")) & (~F.col("is_deleted"))) \
                 .select("repo", "path", "commit", "revision_id", "error")

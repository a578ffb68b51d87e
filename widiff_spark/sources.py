"""Ingestion sources (S1-S3): MediaWiki XML history dumps -> the
versioned-document contract.

The reference streams ``pages-meta-history*.xml.bz2`` with lxml iterparse in
a multiprocess pool (file_parser.py:303-359); here each dump file is one
``binaryFile`` row fanned out through ``mapInPandas`` — Spark's task
scheduler replaces the file-claim ledger (main.py:62-137), and each file
splits into documents rows

    repo   = dump file name            (the reference's file_path)
    path   = page <title>              (Q-pages only, file_parser.py:326-329)
    commit = zero-padded document-order index (revision order)
    lang   = 'wikidata-json' | 'deleted'
    content= revision JSON with the XML metadata merged under "meta"

Revision text is decoded with the reference's two-stage tolerant decode
(page_parser.py:152-187); undecodable text passes through raw so the parse
stage quarantines it with full context.

Uses stdlib ``xml.etree.iterparse`` + ``bz2`` (lxml is API-compatible where
available).  Scale note: parallelism is per *file* here, matching the
reference's unit of work; for multi-GB single files, pre-split with
``split_xml_stream`` offsets or convert once to the documents table and let
every later run scan columnar storage.
"""

from __future__ import annotations

import bz2
import io
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import canonical as C
from .schema import DOCUMENTS_SCHEMA

MEDIAWIKI_NS = "http://www.mediawiki.org/xml/export-0.11/"


def _tag(name: str) -> str:
    return f"{{{MEDIAWIKI_NS}}}{name}"


def parse_dump_bytes(repo: str, raw: bytes) -> Iterator[dict]:
    """One dump file -> documents rows (incremental parse, memory-bounded:
    elements are cleared as pages complete, like the reference's
    elem.clear(), file_parser.py:353-356)."""
    import xml.etree.ElementTree as ET

    stream: io.BufferedIOBase
    if raw[:3] == b"BZh":
        stream = io.BufferedReader(bz2.BZ2File(io.BytesIO(raw)))
    else:
        stream = io.BytesIO(raw)

    seq = 0
    for _event, elem in ET.iterparse(stream, events=("end",)):
        if elem.tag != _tag("page"):
            continue
        title = (elem.findtext(_tag("title")) or "").strip()
        if not title.startswith("Q"):
            elem.clear()
            continue
        for rev in elem.findall(_tag("revision")):
            seq += 1
            rev_id = int((rev.findtext(_tag("id")) or "0").strip() or 0)
            parent = (rev.findtext(_tag("parentid")) or "").strip()
            contrib = rev.find(_tag("contributor"))
            meta = {
                "revision_id": rev_id,
                "parent_id": int(parent) if parent else None,
                "timestamp": (rev.findtext(_tag("timestamp")) or "").strip(),
                "username": ((contrib.findtext(_tag("username")) or "").strip()
                             if contrib is not None else ""),
                "user_id": ((contrib.findtext(_tag("id")) or "").strip()
                            if contrib is not None else ""),
                "comment": (rev.findtext(_tag("comment")) or "").strip(),
            }
            text_elem = rev.find(_tag("text"))
            deleted = text_elem is not None and text_elem.get("deleted")
            if deleted or text_elem is None or not (text_elem.text or "").strip():
                yield {"repo": repo, "path": title, "commit": f"r{seq:010d}",
                       "lang": "deleted",
                       "content": json.dumps({"meta": meta})}
                continue
            decoded = C.decode_revision_json(text_elem.text)
            if decoded is None or not isinstance(decoded, dict):
                # undecodable: pass raw through -> downstream quarantine
                yield {"repo": repo, "path": title, "commit": f"r{seq:010d}",
                       "lang": "wikidata-json", "content": text_elem.text}
                continue
            decoded["meta"] = meta
            yield {"repo": repo, "path": title, "commit": f"r{seq:010d}",
                   "lang": "wikidata-json",
                   "content": json.dumps(decoded, ensure_ascii=False)}
        elem.clear()


def _render_repo_dump(repo_rows: pd.DataFrame) -> bytes:
    """Render one repo shard's corpus rows (any order) as MediaWiki
    ``pages-meta-history`` XML bytes — the inverse of
    :func:`parse_dump_bytes`.  Revision metadata moves back into XML
    elements; the ``<text>`` payload is the content with ``meta`` stripped
    (undecodable content passes through raw, exactly what the reader
    expects to re-quarantine)."""
    import xml.sax.saxutils as SX

    g = repo_rows.sort_values(["path", "commit"], kind="mergesort")
    parts = [f'<mediawiki xmlns="{MEDIAWIKI_NS}">']
    for title, page in g.groupby("path", sort=True):
        parts.append(f"<page><title>{SX.escape(str(title))}</title>")
        for rec in page.to_dict("records"):
            try:
                doc = json.loads(rec["content"])
                meta = doc.pop("meta", {}) or {}
            except (json.JSONDecodeError, AttributeError):
                doc, meta = None, {}
            rid = meta.get("revision_id") or 0
            parent = meta.get("parent_id")
            parts.append(f"<revision><id>{rid}</id>")
            if parent is not None:
                parts.append(f"<parentid>{parent}</parentid>")
            parts.append(
                f"<timestamp>{SX.escape(str(meta.get('timestamp') or ''))}"
                f"</timestamp><contributor>"
                f"<username>{SX.escape(str(meta.get('username') or ''))}"
                f"</username><id>{SX.escape(str(meta.get('user_id') or ''))}"
                f"</id></contributor>"
                f"<comment>{SX.escape(str(meta.get('comment') or ''))}"
                f"</comment>")
            if rec["lang"] == "deleted":
                parts.append('<text deleted="deleted" /></revision>')
                continue
            payload = (json.dumps(doc, ensure_ascii=False)
                       if doc is not None else rec["content"])
            parts.append(f"<text>{SX.escape(payload)}</text></revision>")
        parts.append("</page>")
    parts.append("</mediawiki>")
    return "".join(parts).encode("utf-8")


def write_corpus_as_dumps_distributed(docs, out_dir: str,
                                      compress: bool = True) -> list[str]:
    """Executor-side shard writer: group the corpus DataFrame by ``repo``
    and render+write one ``.xml.bz2`` per shard inside the grouped task —
    the corpus never passes through the driver.  ``out_dir`` must be
    storage every executor can reach (shared FS / object store; local FS in
    local mode)."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        repo = str(pdf["repo"].iloc[0])
        blob = _render_repo_dump(pdf)
        path = os.path.join(out_dir,
                            f"{repo}.xml.bz2" if compress else f"{repo}.xml")
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(bz2.compress(blob) if compress else blob)
        os.replace(tmp, path)
        return pd.DataFrame({"path": [path], "n_rows": [len(pdf)]})

    written = (docs.repartition(F.col("repo")).groupBy("repo")
               .applyInPandas(write_shard, schema="path string, n_rows long")
               .collect())
    return sorted(r["path"] for r in written)


def read_mediawiki_dump(spark: SparkSession, path_glob: str) -> DataFrame:
    """``*.xml`` / ``*.xml.bz2`` dump files -> documents DataFrame."""
    files = spark.read.format("binaryFile").load(path_glob) \
        .select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for fpath, raw in zip(pdf["path"], pdf["content"]):
                repo = str(fpath).rsplit("/", 1)[-1]
                rows.extend(parse_dump_bytes(repo, bytes(raw)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in DOCUMENTS_SCHEMA.fields])

    return files.mapInPandas(run, schema=DOCUMENTS_SCHEMA)

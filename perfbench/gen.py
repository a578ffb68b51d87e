"""Seeded input generation for the benchmark workloads.

Everything here runs in the benchmark's own process (no Spark, no worker
pool) and writes plain parquet files that the engine later reads as data.
The same seed always yields byte-identical rows.

* ``bulk_rows``   - the fixtures derived-corpus generator
  (``fixtures._corpus_batches``) fed with seeded ``(doc_id, text)`` seeds;
* ``hot_rows``    - one page whose revision count exceeds the skew threshold,
  with values that flip back so revert tagging has pairs to match.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from widiff_spark import fixtures

COLUMNS = ["repo", "path", "commit", "lang", "content"]
_WORDS = ("graph edit claim value item page label bot revert sitelink "
          "qualifier reference rank property entity history dump").split()
HOT_DOC_ID = 990_000          # outside every background doc id (< 900k)


def bulk_rows(seed: int, n_docs: int) -> pd.DataFrame:
    """Derived corpus over ``n_docs`` seeded documents (3-8 revisions each,
    with quarantine, redirect, deleted-text and revert-comment cases)."""
    rng = random.Random(seed)
    doc_ids = sorted(rng.sample(range(900_000), n_docs))
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 12)))
             for _ in doc_ids]
    seeds = pd.DataFrame({"doc_id": doc_ids, "text": texts})
    return pd.concat(list(fixtures._corpus_batches(iter([seeds]))),
                     ignore_index=True)


def _minute_ts(i: int) -> str:
    return fixtures._ts(i // 1440, (i // 60) % 24, i % 60)


def hot_rows(seed: int, n_revisions: int) -> pd.DataFrame:
    """One page with ``n_revisions`` revisions, one minute apart.  The
    population value walks over a small pool, so most edits later flip
    back to an earlier value inside the revert window; some edits carry an
    undo comment, a rank flip or a second statement appearing/vanishing."""
    rng = random.Random(seed)
    path = f"Q{HOT_DOC_ID + 10000}"
    base_rid = HOT_DOC_ID * 100
    rows = []
    value = 1000
    for i in range(n_revisions):
        rid = base_rid + i
        if rng.random() < 0.6:
            value = 1000 + rng.randrange(6)
        claims = {
            "P31": [fixtures.statement(f"q{HOT_DOC_ID}$S1",
                                       fixtures.entity_snak("P31", "Q5"))],
            "P1082": [fixtures.statement(
                f"q{HOT_DOC_ID}$S2",
                fixtures.quantity_snak("P1082", f"+{value}"),
                rank="preferred" if rng.random() < 0.05 else "normal")],
        }
        if rng.random() < 0.3:
            claims["P569"] = [fixtures.statement(
                f"q{HOT_DOC_ID}$S3", fixtures.time_snak(
                    "P569", f"+19{50 + rng.randrange(3)}-01-01T00:00:00Z"))]
        comment = "Undid revision" if rng.random() < 0.1 else "edit"
        user = rng.choice(["HotBot", "Editor", ""])
        rows.append(fixtures.row(path, rid, fixtures.content(
            rid, _minute_ts(i), label="hot page", claims=claims,
            username=user, user_id="" if user == "" else "3",
            comment=comment), repo="wd-shard-hot"))
    return pd.DataFrame(rows, columns=COLUMNS)


def write_parquet(rows: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files under ``out_dir`` (pages
    stay contiguous, as in a dump)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = rows.sort_values(["repo", "path", "commit"], kind="mergesort") \
        .reset_index(drop=True)
    n_files = max(1, min(n_files, len(rows)))
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        part = rows.iloc[i * step:(i + 1) * step]
        if part.empty:
            continue
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(out_dir, f"part-{i:04d}.parquet"))

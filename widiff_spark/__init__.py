"""widiff_spark — a PySpark-native knowledge-graph change-history construction engine.

Re-implements the semantics of the reference pipeline
(caroocortes/wikidata-edit-history, a pure-Python multiprocessing + Postgres
system) on idiomatic Spark:

* ``parse``   — Arrow-batched snapshot parsing (``mapInArrow``)
* ``diff``    — per-page grouped set-diff replay (``applyInArrow``)
* ``enrich``  — broadcast dimension joins + JVM-side time/cohort projections
* ``features``— vectorized ML feature batteries over change rows
* ``stats``   — per-entity stats + relational analysis aggregates
* ``checkpoint``/``materialize`` — resumable, partitioned table writes

The input contract is the versioned-document table
``(repo, path, commit, lang, content)`` where one row is one revision of one
page; see ``fixtures.py`` for the deterministic synthetic corpora used in
tests and benchmarks.
"""

__version__ = "0.1.0"

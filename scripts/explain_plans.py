"""Dump formatted physical plans of the headline operators to PLANS.md.

The task brief's plan-quality bar — pushed filters, pruned read schemas,
broadcast dims, no cartesian pair joins, single wide exchange into the
grouped diff — is asserted programmatically in tests/test_plans.py; this
script materializes the actual plans so a reviewer can read them without
running Spark.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from widiff_spark.pipeline import build_session  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def trim(p: str, max_lines: int = 70) -> str:
    lines = [ln.rstrip() for ln in p.splitlines()]
    # drop the verbose per-node detail section beyond the tree + first blocks
    if len(lines) > max_lines:
        lines = lines[:max_lines] + ["   ... (detail section truncated)"]
    return "\n".join(lines)


def _closure_round(spark, sf):
    """One semi-naive round, written out exactly as closure.transitive_closure
    builds it (pre-checkpoint), so its join strategy is reviewable."""
    from pyspark.sql import functions as F

    from widiff_spark import closure as CL

    edges = CL.hierarchy_edges(spark, sf).distinct()
    hop = edges.select(F.col("property_id").alias("_pid"),
                       F.col("src").alias("_hop_src"),
                       F.col("dst").alias("_hop_dst"))
    grown = (edges.join(hop, (edges["dst"] == hop["_hop_src"])
                        & (edges["property_id"] == hop["_pid"]))
             .select("property_id", "src", F.col("_hop_dst").alias("dst"))
             .distinct())
    return grown.join(edges, ["property_id", "src", "dst"], "left_anti")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = build_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from widiff_spark import dedup, diff, enrich, fixtures, parse, relops, \
        similarity

    docs_tbl = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = fixtures.corpus_from_documents(spark, sf)
    parsed = parse.parse_documents(corpus)
    unified = diff.extract_changes(parsed)
    vc = enrich.add_property_labels(
        enrich.add_time_buckets(enrich.split_table(unified, "value_change")),
        fixtures.property_labels_df(spark))
    queries = emb.filter("vec_id < 5").selectExpr("vec_id as query_id",
                                                  "embedding")

    sections = [
        ("kg extraction core (parse -> bucket-grouped diff -> split/enrich)",
         vc,
         "What to look for: past the parse, ONE Exchange (the xxhash64 "
         "page-bucket shuffle of compact digests) feeding the grouped "
         "FlatMapGroupsInArrow; the rlike namespace filter sits on the scan "
         "side of the parse MapInArrow; no pandas operator from the parse "
         "on (the MapInPandas under it is the fixture corpus generator, "
         "fixtures._corpus_batches); the property-label dim joins as "
         "BroadcastHashJoin."),
        ("relational probe with pushdown (rel_pricing_summary)",
         relops.QUERIES["rel_pricing_summary"](spark, sf),
         "PushedFilters + pruned ReadSchema on the lineitem scan; partial + "
         "final HashAggregate (map-side combine)."),
        ("simhash near-dup pairs (value-level pigeonhole bands)",
         dedup.simhash_near_duplicates(docs_tbl, max_hamming=1),
         "Round 8: candidates pair the DISTINCT signature values (bounded "
         "by min(n_docs, 2^bits)) on (band, key) equi-joins; doc expansion "
         "is salted equi-joins with explicit repartition counts (exempt "
         "from AQE byte-coalescing — the expansion output IS the answer, "
         "so tiny-input/huge-output stages must be spread explicitly).  No "
         "BroadcastNestedLoopJoin / CartesianProduct anywhere; 365.7 -> "
         "4.9 s at sf1.0."),
        ("minhash LSH near-dup (bucketed candidates + pair-driven verify)",
         dedup.minhash_near_duplicates(docs_tbl, min_jaccard=0.5),
         "Band-bucket equi-join candidates; the verify expands candidate "
         "pairs by doc_a shingles and left-semi joins doc_b's — cost "
         "|candidates| x shingles, immune to hot-shingle blowup."),
        ("embedding near-dup (LSH sketch buckets)",
         similarity.bucketed_pairwise_cosine(emb, 0.4, dim=64, n_planes=4),
         "Sketch equi-join; exact cosine only inside buckets."),
        ("ANN top-k (broadcast query side)",
         similarity.knn_bruteforce(emb, queries, k=5),
         "Query vectors broadcast; scoring is map-only; only the per-query "
         "top-k window exchanges data.  The BroadcastNestedLoopJoin here is "
         "the INTENDED exact-scan shape — a cross of the corpus with a "
         "5-row broadcast is a flatMap, not a pair blowup (the ANN variants "
         "replace it with sketch/cell equi-joins)."),
        ("multi-table LSH ANN (ann_knn_lsh_multi)",
         similarity.knn_lsh_tables(emb, queries, dim=64, k=5, n_planes=4,
                                   n_tables=6),
         "One (table_id, sketch) equi-join against broadcast probe rows; "
         "the corpus is sketched for all 6 tables in a single posexplode "
         "projection (one scan), candidates verified by exact cosine.  "
         "Round 8: vector norms are projected ONCE per side (_n/_qn) and "
         "the per-candidate kernel is dot/(n_a*n_q) — one higher-order-"
         "function evaluation per candidate instead of three (17.3 -> "
         "11.3 s at sf1.0)."),
        ("transitive-closure round join (closure.py semi-naive step)",
         _closure_round(spark, sf),
         "The per-round delta join is a plain (property_id, dst=src) "
         "equi-join + distinct + left-anti against the known closure — no "
         "CartesianProduct / BroadcastNestedLoopJoin; localCheckpoint "
         "between rounds keeps this plan flat.  Round 8: the hop side is "
         "the ACCUMULATED closure (path doubling — the reference's own "
         "accelerated iterations), so a depth-d graph converges in "
         "ceil(log2 d)+1 rounds instead of d (19.5 -> 11.3 s at sf1.0); "
         "round 1, shown here, is identical in both forms."),
        ("zero-Python label dim pass (entity_labels_fast)",
         __import__("widiff_spark.extractors",
                    fromlist=["x"]).entity_labels_fast(corpus),
         "get_json_object projections + ONE hash aggregate, entirely "
         "inside whole-stage codegen — no MapInArrow/MapInPandas/"
         "ArrowEvalPython anywhere (plan-asserted); 5.3x the decode path "
         "at sf0.1."),
        ("deterministic stratified sample (sampling.py)",
         __import__("widiff_spark.sampling",
                    fromlist=["x"]).stratified_sample(docs_tbl, "lang", 10),
         "Scan -> ONE exchange on the stratum key -> window rank -> "
         "filter; hash_sample (not shown) is a pure map — zero exchanges."),
        ("sequence packing (textops.pack_documents)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).pack_documents(docs_tbl),
         "One shard shuffle into FlatMapGroupsInPandas — the greedy fold "
         "is sequential within a pack stream, so the shard is the "
         "parallel unit; everything upstream is a narrow projection."),
        ("connected-components star round (dedup large-star)",
         dedup._large_star(
             dedup.minhash_near_duplicates(docs_tbl, min_jaccard=0.5)
             .selectExpr("CAST(doc_a AS LONG) u", "CAST(doc_b AS LONG) v")
             .localCheckpoint()),
         "Each large-star/small-star round: symmetrize (union), ONE hash "
         "aggregate for per-node minima, ONE equi-join back — no "
         "cartesian; localCheckpoint between rounds keeps the iterated "
         "plan flat (O(log n) rounds total)."),
        ("duplicated-substring spans (dedup.duplicate_spans)",
         dedup.duplicate_spans(docs_tbl, k=10),
         "Positional gram stream -> partial-aggregated count-distinct for "
         "the >1-doc gram set -> LeftSemi position mark (each position "
         "matches at most once, so a boilerplate gram cannot blow up the "
         "join) -> one per-doc window for the lag-based span merge."),
        ("DSIR importance scores (textops.dsir_logratio)",
         __import__("widiff_spark.textops", fromlist=["x"]).dsir_logratio(
             docs_tbl, docs_tbl.filter("lang = 'en'")),
         "Two wordcount-shaped bucket counts (partial aggregated); the "
         "merged B-row LM enters the gram stream as a "
         "BroadcastHashJoin — the corpus grams never hash-exchange for "
         "the lookup; per-doc sum is one partial+final aggregate."),
        ("SemDeDup (similarity.semdedup)",
         similarity.semdedup(emb, min_cosine=0.35),
         "The nested-loop joins are all the 32-row centroid broadcast "
         "(intended: assignment is a flatMap over n_cells). The "
         "duplicate probe itself joins on cell_id — quadratic only "
         "within a cell, never across the corpus."),
        ("IVF ANN (similarity.knn_ivf)",
         similarity.knn_ivf(emb, queries, n_cells=8, n_probe=2, k=5),
         "Corpus cell assignment is a partial-aggregated max_by hash "
         "aggregate (round 6 — previously a row_number window that "
         "sort-exchanged corpus x n_cells rows by vec_id); the only "
         "windows left are the small query-side top-n_probe and the "
         "final per-query top-k.  Probing joins corpus cells to query "
         "cells on cell_id — the partition-pruning analog at scale."),
        ("composed corpus filter (textops.corpus_filter)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).corpus_filter(docs_tbl),
         "Three doc_id-keyed signal aggregates joined on doc_id; the "
         "stopword dim broadcasts; no extra pass over text beyond the "
         "signals themselves."),
        ("curation flagship (curation.curate_corpus)",
         __import__("widiff_spark.curation", fromlist=["x"]).curate_corpus(
             docs_tbl, docs_tbl.filter("doc_id % 23 = 0")
             .selectExpr("doc_id as bench_id", "text"), target_rows=100),
         "The narrow per-doc verdict frame shows as InMemoryTableScan at "
         "every one of its FOUR references (final fate join, sampler "
         "scan, mixture stats x2) — round 6: without the persist, Spark "
         "re-executed the gram-explode decontamination and the quality "
         "cascade once per reference (stage attribution in "
         "BENCH/BASELINE.md).  The resampling tail itself is a broadcast "
         "weights join + map-only hash-threshold filter."),
        ("as-of join (relops.q_asof_join)",
         __import__("widiff_spark.relops", fromlist=["x"]).q_asof_join(
             spark, sf),
         "Union + ordered carry-forward: ONE hash exchange on the join "
         "key feeds the per-key (ts, tag) window — no range join, no "
         "CartesianProduct, cost |probe|+|build| regardless of "
         "time-range width."),
        ("incremental snapshot dedup (dedup.incremental_new_docs)",
         dedup.incremental_new_docs(
             docs_tbl, docs_tbl.selectExpr(
                 "doc_id + 1000000 AS doc_id", "text || ' rev2' AS text")),
         "Both sides reduce to 64-bit xxhash64 keys BEFORE the LeftAnti "
         "equi-join (snapshot side distinct-aggregated first) — the wide "
         "exchange carries hashes plus the batch row, never two copies "
         "of document bodies."),
        ("token-window chunking (textops.chunk_windows)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).chunk_windows(docs_tbl),
         "Map-only: tokenize -> per-doc chunk structs built inside "
         "transform() -> explode.  The operator adds ZERO exchanges "
         "(pinned by tests/test_round7c_ops.py on a pre-widened input); "
         "any Exchange below is the scan-spread guard widening a "
         "small-file scan (round-7 10x rehearsal: 19.1 -> 1.0 s).  Each "
         "exploded row carries only its own <= width tokens."),
        ("per-source domain cap (sampling.domain_cap)",
         __import__("widiff_spark.sampling",
                    fromlist=["x"]).domain_cap(docs_tbl, cap=15),
         "Bounded-state (source, 4-dec-quality) histogram aggregate -> "
         "per-source descending aggregate scan for threshold + tie "
         "allowance -> BroadcastHashJoin of the tiny threshold dim -> "
         "map-only keep filter; ties at the threshold resolve by a "
         "salted two-phase min-k (round 8): phase 1 ranks within "
         "(source, salt) so a hot single-quality tie set splits salt_k "
         "ways, phase 2 ranks the <= salt_k*keep_at survivors.  The "
         "text scan is spread-guarded (weight 2: quality tokenizes the "
         "corpus twice; 36.1 -> 4.1 s at the 10x rehearsal)."),
        ("Stupid-Backoff bigram LM (textops.bigram_logprob)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).bigram_logprob(docs_tbl),
         "Window-free (plan-asserted): the predecessor token rides the "
         "posexplode-carried array via element_at on the SAME row, so the "
         "thrice-referenced position stream never sorts; the unigram and "
         "bigram LMs are partial-aggregated wordcounts joined back on the "
         "gram key (equi hash joins; AQE picks broadcast when the LM "
         "fits); the only nested-loop is the 1-row normalizer broadcast."),
        ("CCNet perplexity buckets (textops.perplexity_buckets)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).perplexity_buckets(docs_tbl),
         "Corpus-own bigram LM + ONE exact-percentile aggregate over the "
         "4-decimal score grid (bounded state) + broadcast thresholds + "
         "map-only CASE — no global sort, no Window over the doc "
         "stream."),
        ("segment-level dedup (dedup.duplicate_segments)",
         dedup.duplicate_segments(docs_tbl, width=3),
         "Explode to ~n_tokens/width (doc, segment) rows -> ONE "
         "partial-aggregated distinct-owner count per segment -> equi-join "
         "back on the segment key -> per-doc aggregate.  A viral segment "
         "is a hot COUNT, never a pair list; partial aggregation collapses "
         "per-partition repeats before the shuffle (plan-asserted: >= 2 "
         "HashAggregates, equi hash join, no cartesian)."),
        ("quality-aware canonical dedup (dedup.canonical_corpus)",
         dedup.canonical_corpus(docs_tbl),
         "Reuses the bounded-round LSH + large/small-star clustering, then "
         "ONE max_by((quality, -doc_id)) hash aggregate per component and "
         "one equi-join of the winner dim back on component_id — no "
         "window, no global sort over the corpus (plan-asserted)."),
        ("per-source curation stats (textops.source_stats)",
         __import__("widiff_spark.textops",
                    fromlist=["x"]).source_stats(docs_tbl),
         "Single scan: quality computed INLINE via the shared "
         "_quality_exprs (no join back on doc_id — plan-asserted "
         "join-free), one source-keyed partial+final aggregate; a viral "
         "domain is a hot count."),
        ("curriculum buckets (sampling.curriculum_buckets)",
         __import__("widiff_spark.sampling",
                    fromlist=["x"]).curriculum_buckets(docs_tbl),
         "ONE exact-percentile aggregate on the pre-rounded 4-dec quality "
         "grid (bounded state), a 1-row threshold broadcast (the single "
         "expected BroadcastNestedLoopJoin) and a map-only CASE — "
         "plan-asserted Window-free (ntile would global-sort the "
         "corpus)."),
        ("one-pass GROUPING SETS rollup (relops.q_grouping_sets)",
         relops.QUERIES["rel_grouping_sets"](spark, sf),
         "All three granularities from ONE parquet scan via Expand + one "
         "partially-aggregated shuffle — where the UNION ALL formulation "
         "pays k scans (plan-asserted: Expand present, exactly one Scan "
         "parquet node)."),
        ("SQ8 scalar-quantized ANN (similarity.knn_sq8)",
         similarity.knn_sq8(emb, queries, k=5, dim=64),
         "Codebook = one aggregate pass folded in as literals (no bounds "
         "join); encode + asymmetric scoring are map-only against the "
         "broadcast query side (the knn_bruteforce shape: corpus never "
         "shuffles, <= 2 exchanges total, plan-asserted)."),
    ]

    out = ["# PLANS.md — physical plans of the headline operators",
           "",
           f"Generated by `python scripts/explain_plans.py {sf}`; the "
           "same properties are asserted in tests/test_plans.py.", ""]
    for title, df, note in sections:
        out += [f"## {title}", "", note, "", "```",
                trim(plan(df)), "```", ""]

    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    n = sum(1 for _ in open(path))
    print(f"wrote {path} ({n} lines)")
    spark.stop()


if __name__ == "__main__":
    main()

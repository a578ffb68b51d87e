"""Dump-level dim extractors (extractors.py vs the wdtk reference tools)."""

from __future__ import annotations

import json

import pandas as pd

from widiff_spark import extractors, fixtures, parse


def _parsed(spark, rows):
    docs = spark.createDataFrame(pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]))
    return parse.parse_documents(docs)


def test_entity_labels_last_nonempty(spark):
    rows = [
        fixtures.row("Q1", 10, fixtures.content(10, fixtures._ts(0),
                                                label="first", desc="d1")),
        # label goes missing -> previous value sticks (last NON-EMPTY)
        fixtures.row("Q1", 11, fixtures.content(11, fixtures._ts(1),
                                                desc="d2",
                                                aliases=["ali"])),
        fixtures.row("Q1", 12, fixtures.content(12, fixtures._ts(2),
                                                label="final")),
        # page whose only revision is broken JSON: empty fields, still a row
        fixtures.row("Q2", 20, "{broken"),
    ]
    out = {r.qid: r for r in
           extractors.entity_labels(_parsed(spark, rows)).collect()}
    assert out["Q1"].label == "final"
    assert out["Q1"].alias == "ali"
    assert out["Q1"].description == "d2"
    assert out["Q1"].numeric_id == 1
    assert (out["Q2"].label, out["Q2"].alias, out["Q2"].description) \
        == ("", "", "")


def test_type_pairs_live_statements(spark):
    vc = spark.createDataFrame(pd.DataFrame([
        # P31 updated Q5 -> Q42: live pair is Q42
        (7, 31, "s1", "", "CREATE", '"Q5"', 100),
        (7, 31, "s1", "", "UPDATE", '"Q42"', 200),
        # P279 deleted: no pair
        (7, 279, "s2", "", "CREATE", '"Q9"', 100),
        (7, 279, "s2", "", "DELETE", "{}", 300),
        # other property ignored
        (7, 361, "s3", "", "CREATE", '"Q2"', 100),
    ], columns=["entity_id", "property_id", "value_id", "change_target",
                "action", "new_value", "revision_id"]))
    got = [(r.property_id, r.entity, r.entity_numeric_id, r.entity_type,
            r.entity_type_numeric_id)
           for r in extractors.type_pairs(vc).collect()]
    assert got == [(31, "Q7", 7, "Q42", 42)]


def test_entity_labels_matches_cleanroom_on_adversarial_corpus(spark):
    """The JVM-side last-non-empty aggregate must agree with the cleanroom
    replayer's label state on histories full of deleted/quarantined/
    redirect/alias-only revisions."""
    from cleanroom import replay_corpus
    from test_salted_parity import _adversarial_corpus_rows

    rows = _adversarial_corpus_rows(n_pages=60, seed=99)
    clean = {r["qid"]: r for r in replay_corpus(rows)["entity_labels"]}
    got = {r.qid: r for r in
           extractors.entity_labels(_parsed(spark, rows)).collect()}
    assert set(got) == set(clean)
    for qid, r in got.items():
        c = clean[qid]
        assert (r.label, r.alias, r.description) == \
            (c["label"], c["alias"], c["description"]), qid


class TestPropertyLabels:
    """PropertyDocument half of ExtractLabelsProperties (round 4): the
    namespace-filtered parse + last-non-empty aggregate over P-pages."""

    def test_property_dim_from_corpus(self, spark):
        from widiff_spark import extractors, fixtures, parse

        parsed = parse.parse_documents(
            fixtures.property_pages_corpus(spark), namespace="property")
        dim = extractors.property_labels(parsed).toPandas() \
            .set_index("numeric_id")
        assert (dim.loc[31, "label"] == "instance of"
                and dim.loc[31, "alias"] == "instance of alt"
                and dim.loc[31, "description"] == "property P31")
        # every positive property present exactly once
        expected = sorted(p for p in fixtures.PROPERTY_LABELS if p > 0)
        assert sorted(dim.index) == expected
        assert (dim.loc[expected, "label"]
                == [fixtures.PROPERTY_LABELS[p] for p in expected]).all()

    def test_empty_middle_label_does_not_clobber(self, spark):
        """The generator's middle revision has NO label (only description):
        under last-non-empty the final label must win and the middle
        description must survive the label-bearing final revision."""
        import pandas as pd

        from widiff_spark import extractors, fixtures, parse

        rows = [
            fixtures.row("P77", 10, fixtures.content(
                10, fixtures._ts(0), label="first")),
            fixtures.row("P77", 11, fixtures.content(
                11, fixtures._ts(1), desc="only desc")),
        ]
        parsed = parse.parse_documents(
            spark.createDataFrame(pd.DataFrame(rows),
                                  schema=fixtures.DOCUMENTS_SCHEMA),
            namespace="property")
        dim = extractors.property_labels(parsed).collect()[0]
        assert dim.label == "first" and dim.description == "only desc"

    def test_namespace_filter_separates_item_and_property(self, spark):
        import pandas as pd

        from widiff_spark import fixtures, parse

        rows = [fixtures.row("Q1", 1, fixtures.content(1, fixtures._ts(0),
                                                       label="item")),
                fixtures.row("P1", 2, fixtures.content(2, fixtures._ts(0),
                                                       label="prop"))]
        docs = spark.createDataFrame(pd.DataFrame(rows),
                                     schema=fixtures.DOCUMENTS_SCHEMA)
        assert parse.parse_documents(docs).select("path").collect()[0][0] == "Q1"
        assert parse.parse_documents(docs, namespace="property") \
            .select("path").collect()[0][0] == "P1"


class TestEntityLabelsFast:
    def test_row_identical_to_decode_path(self, spark):
        """The JVM-only fast pass must equal the parse-based extractor on
        the full edge-case corpus (redirects, deleted revisions, alias
        fallbacks, the works)."""
        from widiff_spark import extractors, fixtures, parse

        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        slow = extractors.entity_labels(parse.parse_documents(docs)) \
            .orderBy("qid").collect()
        fast = extractors.entity_labels_fast(docs).orderBy("qid").collect()
        assert [tuple(r) for r in fast] == [tuple(r) for r in slow]

    def test_no_python_stage_in_plan(self, spark):
        from widiff_spark import extractors, fixtures

        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        p = extractors.entity_labels_fast(docs) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in p and "ArrowEvalPython" not in p
        assert "MapInArrow" not in p and "BatchEvalPython" not in p

"""Resume/idempotence tests (T4, north_rule checkpoint contract)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from widiff_spark import checkpoint, fixtures, materialize
from widiff_spark.pipeline import CHANGE_TABLES, run_incremental, run_pipeline


def _rows(df):
    # the diff's own timing diagnostics differ between any two runs
    df = df.drop(*[c for c in df.columns if c.endswith("_sec")])
    pdf = df.toPandas().astype(str)
    pdf = pdf[sorted(pdf.columns)]
    return sorted(map(tuple, pdf.values.tolist()))


def _table_fingerprint(spark, path, table):
    return _rows(spark.read.parquet(f"{path}/{table}"))


class TestCheckpoint:
    def test_incremental_run_resume_and_idempotence(self, spark, tmp_path):
        out = str(tmp_path / "warehouse")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)

        # first run processes every bucket with input
        r1 = run_incremental(spark, docs, out, run_id="r1")
        assert r1["processed_buckets"]
        fp1 = _table_fingerprint(spark, out, "value_change")
        ckpt1 = spark.read.parquet(f"{out}/{checkpoint.CHECKPOINT_TABLE}") \
            .toPandas()
        assert set(ckpt1.run_id) == {"r1"}
        assert ckpt1.num_triples.sum() > 0
        assert ckpt1.num_revisions.sum() > 0

        # unchanged input -> no-op
        r2 = run_incremental(spark, docs, out, run_id="r2")
        assert r2["processed_buckets"] == []
        assert _table_fingerprint(spark, out, "value_change") == fp1

        # new commits on one page -> only that page's bucket re-runs,
        # tables converge to the full-history result
        extra = fixtures.row("Q102", 1102, fixtures.content(
            1102, fixtures._ts(3),
            claims={"P1476": [fixtures.statement(
                "q102$S1", fixtures.string_snak("P1476", "third title"))]},
            label="title page"))
        docs2 = docs.unionByName(
            spark.createDataFrame(pd.DataFrame([extra])))
        r3 = run_incremental(spark, docs2, out, run_id="r3")
        assert len(r3["processed_buckets"]) >= 1
        vc = spark.read.parquet(f"{out}/value_change")
        new_row = vc.filter("revision_id = 1102").collect()
        assert len(new_row) == 1 and new_row[0]["new_value"] == '"third title"'
        # untouched pages still present exactly once
        assert vc.filter("entity_id = 101").count() == 3
        # lineage: the re-run bucket's row was upserted with the new run_id
        ckpt3 = spark.read.parquet(f"{out}/{checkpoint.CHECKPOINT_TABLE}") \
            .toPandas().set_index("bucket")
        for b in r3["processed_buckets"]:
            assert ckpt3.loc[b, "run_id"] == "r3"

    def test_quarantine_written_per_bucket(self, spark, tmp_path):
        """run_incremental writes the quarantine table by default,
        partitioned by entity bucket: a delta touching one bucket leaves
        the other buckets' quarantined rows in place."""
        from widiff_spark import parse

        def broken(path, rid):
            return fixtures.row(path, rid, '{"meta": {"revision_id": %d}, '
                                '"claims": {broken' % rid)

        def n_quarantined(docs):
            return parse.quarantine(parse.parse_documents(docs)).count()

        out = str(tmp_path / "warehouse")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False) \
            .unionByName(spark.createDataFrame(pd.DataFrame(
                [broken(f"Q{880 + i}", 8800 + i) for i in range(8)]),
                schema=fixtures.DOCUMENTS_SCHEMA))
        run_incremental(spark, docs, out, run_id="r1")
        q1 = spark.read.parquet(f"{out}/quarantine").collect()
        assert len(q1) == n_quarantined(docs)
        assert len({r["entity_bucket"] for r in q1}) >= 2

        docs2 = docs.unionByName(spark.createDataFrame(
            pd.DataFrame([broken("Q880", 8900)]),
            schema=fixtures.DOCUMENTS_SCHEMA))
        r2 = run_incremental(spark, docs2, out, run_id="r2")
        assert len(r2["processed_buckets"]) == 1
        q2 = spark.read.parquet(f"{out}/quarantine").collect()
        assert len(q2) == n_quarantined(docs2) == len(q1) + 1

        def untouched(rows):
            return sorted(r for r in rows
                          if r["entity_bucket"] not in r2["processed_buckets"])
        assert untouched(q1) and untouched(q2) == untouched(q1)

    def test_salted_run_releases_its_caches(self, spark, tmp_path):
        """A salted run_incremental leaves no cached RDD behind: the
        pair-diff and revert-tag intermediates go with the result."""
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=20)
        r = run_incremental(spark, docs, str(tmp_path / "warehouse"),
                            run_id="salted", mode="salted")
        assert r["processed_buckets"]
        assert jsc.getPersistentRDDs().size() == before

    def test_empty_quarantine_table_is_readable(self, spark, tmp_path):
        """An input with no undecodable revision writes an empty quarantine
        table that still reads back, with the table's columns."""
        from widiff_spark import parse

        out = str(tmp_path / "warehouse")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False) \
            .filter(F.col("path") != "Q122")  # the one quarantined page
        expected = parse.quarantine(parse.parse_documents(docs))
        assert expected.count() == 0
        run_incremental(spark, docs, out, run_id="r1")
        q = materialize.read_table(spark, out, "quarantine")
        assert q.count() == 0
        assert sorted(q.columns) == sorted(expected.columns
                                           + ["entity_bucket"])

    def test_rows_arriving_mid_call_stay_pending(self, spark, tmp_path,
                                                 monkeypatch):
        """The ledger records the marks the call read, not a re-scan: a
        commit that lands on a live input after the pending check (here,
        while lineage is computed) is redone by the next call."""
        import json

        from pyspark.sql.datasource import DataSource, DataSourceReader

        src = tmp_path / "docs.jsonl"
        rows = fixtures.edge_case_rows()
        src.write_text("".join(json.dumps(r) + "\n" for r in rows))

        # a data source that re-reads the file on every scan, as a live
        # staging directory would (a parquet input fixes its file list
        # when the DataFrame is made)
        class JsonlReader(DataSourceReader):
            def __init__(self, path):
                self.path = path

            def read(self, partition):
                import json
                with open(self.path) as f:
                    for line in f:
                        r = json.loads(line)
                        yield (r["repo"], r["path"], r["commit"], r["lang"],
                               r["content"])

        class JsonlDocs(DataSource):
            @classmethod
            def name(cls):
                return "widiff_jsonl_docs"

            def schema(self):
                return fixtures.DOCUMENTS_SCHEMA

            def reader(self, schema):
                return JsonlReader(self.options["path"])

        spark.dataSource.register(JsonlDocs)
        docs = spark.read.format("widiff_jsonl_docs") \
            .option("path", str(src)).load()

        late = fixtures.row("Q102", 1102, fixtures.content(
            1102, fixtures._ts(3),
            claims={"P1476": [fixtures.statement(
                "q102$S1", fixtures.string_snak("P1476", "late title"))]},
            label="title page"))
        real_lineage = checkpoint.lineage_from_unified

        def lineage_then_arrive(unified, *args, **kwargs):
            if late["commit"] not in src.read_text():
                with open(src, "a") as f:
                    f.write(json.dumps(late) + "\n")
            return real_lineage(unified, *args, **kwargs)

        monkeypatch.setattr(checkpoint, "lineage_from_unified",
                            lineage_then_arrive)
        out = str(tmp_path / "warehouse")
        run_incremental(spark, docs, out, run_id="r1")
        assert late["commit"] in src.read_text()
        vc = materialize.read_table(spark, out, "value_change")
        assert vc.filter("revision_id = 1102").count() == 0

        r2 = run_incremental(spark, docs, out, run_id="r2")
        assert r2["processed_buckets"]
        vc = materialize.read_table(spark, out, "value_change")
        new_row = vc.filter("revision_id = 1102").collect()
        assert len(new_row) == 1 and new_row[0]["new_value"] == '"late title"'

    @pytest.mark.parametrize("mode", ["grouped", "salted"])
    def test_restricted_build_matches_full_pipeline(self, spark, tmp_path,
                                                    mode):
        """run_incremental builds only the tables it writes; those tables
        are row-identical to the same tables of a run_pipeline that built
        every table."""
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=20)
        wanted = ["value_change", "entity_stats", "features_text",
                  "features_entity", "quarantine"]
        part, full = str(tmp_path / "part"), str(tmp_path / "full")
        run_incremental(spark, docs, part, tables=wanted, mode=mode)

        res = run_pipeline(spark, docs, mode=mode)
        every = dict(res.tables)
        assert len(every) == 13
        for name in wanted:
            df = every[name]
            if name == "quarantine":
                df = df.withColumn("entity_bucket", checkpoint.bucket_col())
            materialize.write_table(df, full, name)
        res.unpersist()
        for name in wanted:
            assert _table_fingerprint(spark, part, name) == \
                _table_fingerprint(spark, full, name), name

    @pytest.mark.parametrize("mode", ["grouped", "salted"])
    def test_ledger_counts_pages_per_path(self, spark, tmp_path, mode):
        """The ledger's num_pages per bucket is the bucket's distinct
        (repo, path) pages.  Q012 and Q12 parse to one entity_id, and the
        ledger keeps them as two pages in both modes."""
        twins = [fixtures.row(path, rid, fixtures.content(
            rid, fixtures._ts(0), label=path)) for path, rid in
            (("Q012", 9000), ("Q12", 9001))]
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=20).unionByName(
            spark.createDataFrame(pd.DataFrame(twins),
                                  schema=fixtures.DOCUMENTS_SCHEMA))
        out = str(tmp_path / "warehouse")
        run_incremental(spark, docs, out, mode=mode)
        ledger = {r.bucket: r.num_pages for r in
                  checkpoint.read_checkpoints(spark, out).collect()}
        paths: dict = {}
        for r in docs.filter(F.col("path").rlike(r"^Q\d+$")).select(
                "repo", "path", checkpoint.bucket_col().alias("b")).collect():
            paths.setdefault(r.b, set()).add((r.repo, r.path))
        assert ledger == {b: len(p) for b, p in paths.items()}
        assert any({(fixtures.REPO, "Q012"), (fixtures.REPO, "Q12")} <= p
                   for p in paths.values())

    @pytest.mark.parametrize("corpus", ["fork", "twins", "null_revision_id",
                                        "adversarial"])
    @pytest.mark.parametrize("mode", ["grouped", "salted"])
    def test_written_tables_equal_in_memory(self, spark, tmp_path, mode,
                                            corpus):
        """Every row the pipeline emits is written: run_incremental's
        tables read back equal run_pipeline's, as multisets, where the
        reference's keys repeat — a fork shares every revision id with its
        origin, twin paths share an entity id, null revision ids share
        label keys, and the adversarial corpus repeats statement ids."""
        from test_salted_parity import (_adversarial_corpus_rows,
                                        _null_revision_id_rows,
                                        _twin_path_rows)

        rows = {
            "fork": lambda: [r | {"repo": repo} for repo in
                             (fixtures.REPO, "wd-fixture-fork")
                             for r in fixtures.edge_case_rows()],
            "twins": _twin_path_rows,
            "null_revision_id": _null_revision_id_rows,
            "adversarial": lambda: _adversarial_corpus_rows(n_pages=40),
        }[corpus]()
        docs = spark.createDataFrame(pd.DataFrame(rows),
                                     schema=fixtures.DOCUMENTS_SCHEMA)
        out = str(tmp_path / "warehouse")
        wanted = CHANGE_TABLES + ["entity_stats"]
        run_incremental(spark, docs, out, tables=wanted, mode=mode)
        res = run_pipeline(spark, docs, mode=mode)
        try:
            for name in wanted:
                written = materialize.read_table(spark, out, name) \
                    .drop("entity_bucket")
                assert _rows(written) == _rows(res.tables[name]), name
        finally:
            res.unpersist()

    def test_physical_bucket_trusted_only_at_default_count(self, spark):
        """ADVICE r5: a physical ``bucket`` column is only authoritative
        for the default N_ENTITY_BUCKETS it was written with; any other
        requested count must re-derive or watermarks/filters are silently
        wrong.  Poison the column and check both consumers."""
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False) \
            .filter(F.col("path").rlike(r"^Q\d+$"))
        n_alt = 3  # non-default count
        poisoned = docs.withColumn("bucket", F.lit(999))

        # non-default count: the stale column must be ignored
        marks = checkpoint.input_watermarks(poisoned, n_buckets=n_alt)
        got = sorted(r["bucket"] for r in marks.select("bucket").collect())
        assert got and all(0 <= b < n_alt for b in got)

        derived = docs.withColumn("__b", checkpoint.bucket_col(n_alt))
        keep = [0]
        filtered = checkpoint.filter_to_buckets(poisoned, keep,
                                                n_buckets=n_alt)
        expected = derived.filter(F.col("__b").isin(keep)).drop("__b")
        assert filtered.drop("bucket").exceptAll(
            expected.drop("bucket")).count() == 0
        assert filtered.count() == expected.count()

        # default count: the physical column IS trusted (partition pruning
        # depends on it) — the poisoned value routes everything to 999
        marks_def = checkpoint.input_watermarks(poisoned)
        assert [r["bucket"] for r in marks_def.collect()] == [999]

    def test_bucket_consistency(self, spark):
        """checkpoint bucket of a docs row == materialize bucket of its
        output rows (the redo unit must match the write partition)."""
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False) \
            .filter(F.col("path").rlike(r"^Q\d+$"))
        a = (docs.select(F.col("repo"),
                         F.substring("path", 2, 18).cast("long").alias("entity_id"),
                         checkpoint.bucket_col().alias("b1"))
             .distinct())
        b = materialize.with_entity_bucket(
            a.select("repo", "entity_id", "b1"))
        assert b.filter(F.col("b1") != F.col("entity_bucket")).count() == 0


class TestIcebergSeam:
    """The Iceberg catalog path is conf-gated: absent here (no runtime in
    this container) the parquet path runs; the detector itself is pinned."""

    def test_no_catalog_in_container(self, spark):
        from widiff_spark.materialize import iceberg_catalog
        assert iceberg_catalog(spark) is None

    def test_catalog_detection(self):
        from widiff_spark.materialize import _catalog_from_confs
        confs = [
            ("spark.master", "local[4]"),
            ("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog"),
            ("spark.sql.catalog.lake.type", "hive"),
        ]
        assert _catalog_from_confs(confs) == "lake"
        assert _catalog_from_confs([("spark.sql.catalog.x", "com.other.Cat")]) is None
        assert _catalog_from_confs([]) is None


class TestCrashWindow:
    """Kill-window coverage for the ledger swap (VERDICT r3 ask #5): the
    vulnerable window is between the park-rename (target -> __old) and the
    promote-rename (staging -> target)."""

    def _seed(self, spark, tmp_path):
        out = str(tmp_path / "warehouse")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        r1 = run_incremental(spark, docs, out, run_id="r1")
        assert r1["processed_buckets"]
        return out, docs

    def test_death_inside_window_recovers_from_backup(self, spark, tmp_path):
        """Simulated crash AFTER the park-rename, BEFORE the promote: the
        live ledger sits at __old only.  The next run must read the backup
        and see unchanged input as a no-op (no bucket reprocessed)."""
        import os

        out, docs = self._seed(spark, tmp_path)
        live = f"{out}/{checkpoint.CHECKPOINT_TABLE}"
        os.rename(live, f"{live}__old")  # the exact mid-swap disk state
        assert run_incremental(spark, docs, out,
                               run_id="r2")["processed_buckets"] == []

    def test_failed_promote_restores_ledger(self, spark, tmp_path, monkeypatch):
        """The promote-rename returns False: record() must raise AND restore
        the parked ledger so readers still see the pre-swap marks."""
        import pytest

        out, docs = self._seed(spark, tmp_path)
        before = sorted(
            map(tuple, checkpoint.read_checkpoints(spark, out)
                .select("bucket", "max_commit").collect()))

        real_rename = checkpoint._fs_rename.__wrapped__ \
            if hasattr(checkpoint._fs_rename, "__wrapped__") \
            else checkpoint._fs_rename

        def failing(fs, src, dst):
            if str(dst).endswith(checkpoint.CHECKPOINT_TABLE.split("/")[-1]) \
                    and str(src).endswith("__staging"):
                return False  # the promote fails; restore branch must run
            return real_rename(fs, src, dst)

        monkeypatch.setattr(checkpoint, "_fs_rename", failing)
        extra = fixtures.row("Q102", 1102, fixtures.content(
            1102, fixtures._ts(3), label="retry page"))
        docs2 = docs.unionByName(
            spark.createDataFrame(pd.DataFrame([extra])))
        with pytest.raises(IOError, match="checkpoint swap"):
            run_incremental(spark, docs2, out, run_id="r3")
        monkeypatch.undo()
        after = sorted(
            map(tuple, checkpoint.read_checkpoints(spark, out)
                .select("bucket", "max_commit").collect()))
        assert after == before  # restored, not absent / half-swapped
        # and the engine converges on retry once the fault clears
        r = run_incremental(spark, docs2, out, run_id="r4")
        assert r["processed_buckets"]


class TestIcebergSql:
    """The Iceberg branch never executes in this container (no runtime jar,
    no network — COVERAGE.md records the attempt), so its SQL *text* is
    pinned here: every statement must survive Spark's parser (ADVICE r3:
    the old '{catalog}.widiff._checkpoints/highwater' identifier threw a
    ParseException on any real Iceberg cluster)."""

    def _parse(self, spark, sql):
        spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)

    def test_merge_sql_parses(self, spark):
        sql = checkpoint._iceberg_merge_sql("lake", "__ckpt_updates")
        assert "/" not in sql.split(" USING ")[0]
        self._parse(spark, sql)

    def test_create_namespace_parses(self, spark):
        self._parse(spark, "CREATE NAMESPACE IF NOT EXISTS `lake`.`widiff`")

    def test_ledger_identifier_is_plain(self, spark):
        full = checkpoint._iceberg_ledger_identifier("lake")
        assert full == "`lake`.`widiff`.`checkpoints_highwater`"
        self._parse(spark, f"SELECT * FROM {full}")

    def test_table_identifier_quotes_every_part(self, spark):
        ident = materialize.iceberg_identifier("lake", "value_change")
        assert ident == "`lake`.`widiff`.`value_change`"
        self._parse(spark, f"SELECT * FROM {ident}")


class _Rec:
    """Duck-typed SparkSession recording catalog reads (the Iceberg read
    routing can't execute here — no runtime — but the routing decision and
    the identifier it resolves are real code paths)."""

    class _Read:
        def __init__(self, outer):
            self.outer = outer

        def table(self, name):
            self.outer.read_tables.append(name)
            return "DF:" + name

    class _Catalog:
        def __init__(self, exists):
            self._exists = exists

        def tableExists(self, name):
            return self._exists

    class _SC:
        class _Conf:
            def getAll(self):
                return [("spark.sql.catalog.lake",
                         "org.apache.iceberg.spark.SparkCatalog")]

        def getConf(self):
            return self._Conf()

    def __init__(self, exists=True):
        self.read_tables = []
        self.read = self._Read(self)
        self.catalog = self._Catalog(exists)
        self.sparkContext = self._SC()


class TestIcebergReadRouting:
    def test_read_checkpoints_routes_to_catalog(self):
        fake = _Rec(exists=True)
        out = checkpoint.read_checkpoints(fake, "/never/written")
        assert out == "DF:`lake`.`widiff`.`checkpoints_highwater`"
        assert fake.read_tables == ["`lake`.`widiff`.`checkpoints_highwater`"]

    def test_read_table_routes_to_catalog(self):
        fake = _Rec(exists=True)
        out = materialize.read_table(fake, "/never/written", "value_change")
        assert out == "DF:`lake`.`widiff`.`value_change`"

    def test_parquet_fallback_without_catalog(self, spark, tmp_path):
        import pandas as _pd

        p = str(tmp_path / "t")
        spark.createDataFrame(_pd.DataFrame({"a": [1, 2]})) \
            .write.parquet(f"{p}/value_change")
        assert materialize.read_table(spark, p, "value_change").count() == 2


class TestIcebergWriteMode:
    def test_write_iceberg_honors_mode(self):
        """mode='append' must append, not overwritePartitions (ADVICE r3:
        a future append caller would silently overwrite on Iceberg only)."""
        calls = []

        class _Writer:
            def append(self):
                calls.append("append")

            def overwritePartitions(self):
                calls.append("overwritePartitions")

        class _FakeDF:
            class _S:
                def sql(self, q):
                    calls.append(("sql", q))

                class catalog:
                    @staticmethod
                    def tableExists(name):
                        return True

            sparkSession = _S()

            def writeTo(self, full):
                calls.append(("writeTo", full))
                return _Writer()

        materialize._write_iceberg(_FakeDF(), "lake", "t", [], mode="append")
        assert "append" in calls and "overwritePartitions" not in calls
        materialize._write_iceberg(_FakeDF(), "lake", "t", [], mode="overwrite")
        assert "overwritePartitions" in calls

    def test_write_table_returns_parquet_location(self, spark, tmp_path):
        import pandas as _pd

        df = spark.createDataFrame(_pd.DataFrame({"a": [1]}))
        loc = materialize.write_table(df, str(tmp_path), "misc_table")
        assert loc == f"{tmp_path}/misc_table"
        assert spark.read.parquet(loc).count() == 1

"""End-to-end engine tests against a real local SparkSession + tmpdir warehouse.

Ports the golden scenarios of the reference's example specs:

- ``SnapshotTableLoaderSpec.scala`` — two snapshot writes, rollback,
  roll-forward (:45-87).
- ``DatePartitionedTableLoaderSpec.scala`` — three daily inserts accumulate
  (:54-85), partition-pruned read (:86-101), reprocess of one day replaces only
  that partition (:110-123), rollback across history incl. empty post-init
  state (:125-137), insert-after-rollback returns to head (:139-148), on-disk
  version dirs accumulate (:151-157).
- ``MultiPartitionTableLoaderSpec.scala`` — two partition columns, ORC format,
  late-arriving data (:37-45, scenario body).
"""

import os

import pytest
from pyspark.sql import Row, functions as F

from table_versions_spark.core.model import Partition, TableName


def rows(df, *cols):
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


USERS_V1 = [("user-1", "Alice", "alice@mail.com"),
            ("user-2", "Bob", "bob@mail.com"),
            ("user-3", "Carol", "carol@mail.com")]
# v2 drops user-1, changes Carol's email, adds Dave (SnapshotTableLoaderSpec.scala:45-65)
USERS_V2 = [("user-2", "Bob", "bob@mail.com"),
            ("user-3", "Carol", "carol@gmail.com"),
            ("user-4", "Dave", "dave@mail.com")]
USERS_SCHEMA = "id string, name string, email string"


class TestSnapshotTable:
    def test_snapshot_write_read_rollback(self, spark, engine):
        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        # empty before first insert
        assert engine.read("db.users").count() == 0

        r1 = engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                           "db.users", "alice", "v1")
        assert rows(engine.read("db.users")) == sorted(USERS_V1)

        r2 = engine.insert(spark.createDataFrame(USERS_V2, USERS_SCHEMA),
                           "db.users", "alice", "v2")
        assert rows(engine.read("db.users")) == sorted(USERS_V2)

        # rollback → v1 visible again; roll forward → v2
        engine.checkout("db.users", r1.commit_id)
        assert rows(engine.read("db.users")) == sorted(USERS_V1)
        engine.checkout("db.users", r2.commit_id)
        assert rows(engine.read("db.users")) == sorted(USERS_V2)

        # time-travel read without moving the pointer
        assert rows(engine.read("db.users", at_commit=r1.commit_id)) == sorted(USERS_V1)
        assert rows(engine.read("db.users")) == sorted(USERS_V2)

    def test_history(self, spark, engine):
        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.users", "alice", "first")
        hist = engine.history("db.users").collect()
        assert [h.message for h in hist] == ["first", "init"]
        assert hist[0].user_id == "alice"


PAGEVIEW_SCHEMA = "id string, path string, ts timestamp, date date"


def pageviews(spark, day, rows_):
    data = [Row(id=i, path=p, ts=None, date=None) for i, p in rows_]
    df = spark.createDataFrame([(i, p) for i, p in rows_], "id string, path string")
    return (df.withColumn("ts", F.to_timestamp(F.lit(f"{day} 10:00:00")))
              .withColumn("date", F.to_date(F.lit(day))))


DAY1 = [("user-1", "news/politics"), ("user-2", "sport/football")]
DAY2 = [("user-1", "news/tech"), ("user-3", "culture/film")]
DAY3 = [("user-2", "news/politics")]


class TestDatePartitionedTable:
    def test_daily_inserts_accumulate(self, spark, engine):
        # DatePartitionedTableLoaderSpec.scala:54-85
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "day1")
        assert engine.read("db.pageview").count() == 2
        engine.insert(pageviews(spark, "2019-03-14", DAY2), "db.pageview", "u", "day2")
        engine.insert(pageviews(spark, "2019-03-15", DAY3), "db.pageview", "u", "day3")
        df = engine.read("db.pageview")
        assert df.count() == 5
        assert rows(df, "id", "path") == sorted(
            [(i, p) for i, p in DAY1 + DAY2 + DAY3])

    def test_partition_pruned_read(self, spark, engine):
        # DatePartitionedTableLoaderSpec.scala:86-101
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        engine.insert(pageviews(spark, "2019-03-14", DAY2), "db.pageview", "u", "d2")
        df = engine.read("db.pageview").where(F.col("date") == "2019-03-13")
        assert rows(df, "id") == [("user-1",), ("user-2",)]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "2019-03-13" in plan

    def test_reprocess_replaces_only_touched_partition(self, spark, engine):
        # DatePartitionedTableLoaderSpec.scala:110-123 — Hive overwrite semantics
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        engine.insert(pageviews(spark, "2019-03-14", DAY2), "db.pageview", "u", "d2")
        # reprocess day 2 with different content
        day2b = [("user-9", "reprocessed/page")]
        engine.insert(pageviews(spark, "2019-03-14", day2b), "db.pageview", "u", "d2-fix")
        df = engine.read("db.pageview")
        assert rows(df, "id", "path") == sorted(
            [(i, p) for i, p in DAY1 + day2b])
        # both versions of day2 remain on disk (old versions never deleted —
        # DatePartitionedTableLoaderSpec.scala:118-123)
        defn = engine.definition("db.pageview")
        d2dir = os.path.join(defn.location, "date=2019-03-14")
        version_dirs = [d for d in os.listdir(d2dir) if not d.startswith(".")]
        assert len(version_dirs) == 2

    def test_rollback_and_insert_after_rollback(self, spark, engine):
        # DatePartitionedTableLoaderSpec.scala:125-148
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        r1 = engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        r2 = engine.insert(pageviews(spark, "2019-03-14", DAY2), "db.pageview", "u", "d2")
        engine.checkout("db.pageview", r1.commit_id)
        assert engine.read("db.pageview").count() == 2
        # rollback to empty post-init state
        init_commit = engine.history("db.pageview").collect()[-1].commit_id
        engine.checkout("db.pageview", init_commit)
        assert engine.read("db.pageview").count() == 0
        # next insert jumps back to head+1: all partitions visible again plus new
        engine.insert(pageviews(spark, "2019-03-15", DAY3), "db.pageview", "u", "d3")
        assert engine.read("db.pageview").count() == 5

    def test_remove_partition_metadata_only(self, spark, engine):
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        engine.insert(pageviews(spark, "2019-03-14", DAY2), "db.pageview", "u", "d2")
        engine.remove_partitions("db.pageview",
                                 [Partition.parse("date=2019-03-13")], "u", "rm")
        df = engine.read("db.pageview")
        assert rows(df, "id") == [("user-1",), ("user-3",)]
        # data still on disk
        defn = engine.definition("db.pageview")
        assert os.path.isdir(os.path.join(defn.location, "date=2019-03-13"))


ADS_SCHEMA = ("user_id string, ad_id string, ts timestamp, "
              "impression_date date, processed_date date")


class TestMultiPartitionOrcTable:
    def test_two_level_partitions_orc(self, spark, engine):
        # MultiPartitionTableLoaderSpec.scala — ORC, late-arriving data
        engine.create_table("db.ads", schema_ddl=ADS_SCHEMA,
                            partition_columns=["impression_date", "processed_date"],
                            format="orc")
        batch1 = spark.createDataFrame(
            [("u1", "ad1", "2019-03-13"), ("u2", "ad2", "2019-03-13"),
             ("u3", "ad3", "2019-03-12")],  # late arrival
            "user_id string, ad_id string, d string"
        ).select(
            "user_id", "ad_id",
            F.to_timestamp(F.col("d")).alias("ts"),
            F.to_date(F.col("d")).alias("impression_date"),
            F.to_date(F.lit("2019-03-13")).alias("processed_date"))
        engine.insert(batch1, "db.ads", "u", "b1")
        df = engine.read("db.ads")
        assert df.count() == 3
        assert engine.definition("db.ads").format == "orc"
        parts = engine.current_version("db.ads").partition_versions
        assert len(parts) == 2  # (03-13, 03-13) and (03-12, 03-13)
        # reprocess one (impression, processed) pair
        batch2 = batch1.where(F.col("impression_date") == "2019-03-12") \
                       .withColumn("ad_id", F.lit("ad3-fixed"))
        engine.insert(batch2, "db.ads", "u", "b2")
        df2 = engine.read("db.ads")
        assert df2.count() == 3
        assert rows(df2.where(F.col("impression_date") == "2019-03-12"), "ad_id") \
            == [("ad3-fixed",)]


class TestAppendMode:
    def test_partitioned_append_accumulates_within_partition(self, spark, engine):
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        late = [("user-9", "late/page")]
        engine.insert(pageviews(spark, "2019-03-13", late), "db.pageview", "u",
                      "late arrivals", mode="append")
        df = engine.read("db.pageview")
        assert rows(df, "id", "path") == sorted([(i, p) for i, p in DAY1 + late])
        # append created a fresh version; rollback still sees only DAY1
        hist = engine.history("db.pageview").collect()
        engine.checkout("db.pageview", hist[1].commit_id)
        assert engine.read("db.pageview").count() == 2

    def test_snapshot_append(self, spark, engine):
        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.users", "u", "v1")
        extra = [("user-9", "Zoe", "zoe@mail.com")]
        engine.insert(spark.createDataFrame(extra, USERS_SCHEMA),
                      "db.users", "u", "v2 append", mode="append")
        assert rows(engine.read("db.users")) == sorted(USERS_V1 + extra)

    def test_invalid_mode(self, spark, engine):
        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        with pytest.raises(ValueError):
            engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                          "db.users", "u", "bad", mode="upsert")


class TestMaintenance:
    def test_vacuum_removes_unreferenced_versions(self, spark, engine):
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "d1")
        for i in range(4):  # 4 reprocesses of the same day → 5 versions
            engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview",
                          "u", f"re{i}")
        defn = engine.definition("db.pageview")
        d = os.path.join(defn.location, "date=2019-03-13")
        assert len(os.listdir(d)) == 5
        removed = engine.vacuum("db.pageview", keep_commits=2, grace_hours=0)
        assert len(removed) == 3
        assert len(os.listdir(d)) == 2
        # current read still works
        assert engine.read("db.pageview").count() == 2
        # time travel within retention still works
        hist = engine.history("db.pageview").collect()
        assert engine.read("db.pageview", at_commit=hist[1].commit_id).count() == 2

    def test_vacuum_grace_protects_long_inflight_writes(self, spark, engine):
        """The grace guard must key on file ACTIVITY, not just the version
        label's mint time: a write whose data phase outruns grace_hours
        has an old label but fresh files — vacuum must keep its dir until
        the files go quiet too."""
        import time as _time

        from table_versions_spark.core.model import Version

        engine.create_table("db.gr", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.gr", "u",
                      "d1")
        defn = engine.definition("db.gr")
        pdir = os.path.join(defn.location, "date=2019-03-13")
        # simulate an in-flight write that started 2h ago: an uncommitted
        # version dir with a 2h-old label whose data file just landed
        old = Version.generate()
        old = type(old)(epoch_seconds=old.epoch_seconds - 7200,
                        nanos=old.nanos, uuid=old.uuid)
        inflight = os.path.join(pdir, old.label)
        engine.storage.makedirs(inflight)
        src = next(os.path.join(pdir, d, f)
                   for d in os.listdir(pdir) if d != old.label
                   for f in os.listdir(os.path.join(pdir, d))
                   if f.startswith("part-"))
        engine.storage.link_or_copy(src, os.path.join(inflight, "part-x-y"))
        removed = engine.vacuum("db.gr", keep_commits=1, grace_hours=1.0)
        assert inflight not in removed and os.path.isdir(inflight)
        # once the files are old too (write abandoned), vacuum reclaims it
        stale = _time.time() - 7200
        os.utime(os.path.join(inflight, "part-x-y"), (stale, stale))
        removed = engine.vacuum("db.gr", keep_commits=1, grace_hours=1.0)
        assert inflight in removed and not os.path.isdir(inflight)

    def test_vacuum_snapshot(self, spark, engine):
        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        for i in range(4):
            engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                          "db.users", "u", f"v{i}")
        defn = engine.definition("db.users")
        from table_versions_spark.core.model import Version
        n_before = sum(Version.is_version_label(e) for e in os.listdir(defn.location))
        assert n_before == 4
        engine.vacuum("db.users", keep_commits=1, grace_hours=0)
        n_after = sum(Version.is_version_label(e) for e in os.listdir(defn.location))
        assert n_after == 1
        assert engine.read("db.users").count() == 3

    def test_vacuum_keep_hours_unions_with_keep_commits(self, spark, engine):
        """Hour-based retention: commits younger than keep_hours survive
        even when keep_commits alone would drop them; both horizons union."""
        from table_versions_spark.core.model import Version

        engine.create_table("db.vh", schema_ddl=USERS_SCHEMA)
        for i in range(4):
            engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                          "db.vh", "u", f"v{i}")
        defn = engine.definition("db.vh")
        # all 4 commits are seconds old: a 1-hour window keeps everything
        removed = engine.vacuum("db.vh", keep_commits=1, keep_hours=1.0, grace_hours=0)
        assert removed == []
        assert sum(Version.is_version_label(e)
                   for e in os.listdir(defn.location)) == 4
        # a zero-hour window adds nothing beyond keep_commits
        engine.vacuum("db.vh", keep_commits=1, keep_hours=0.0, grace_hours=0)
        assert sum(Version.is_version_label(e)
                   for e in os.listdir(defn.location)) == 1

    def test_compact_partitioned(self, spark, engine):
        engine.create_table("db.pageview", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        # several appends → multiple files per partition
        engine.insert(pageviews(spark, "2019-03-13", DAY1), "db.pageview", "u", "a")
        engine.insert(pageviews(spark, "2019-03-13", DAY2), "db.pageview", "u", "b",
                      mode="append")
        before = engine.read("db.pageview")
        n_rows = before.count()
        n_files_before = len(before.inputFiles())
        engine.compact("db.pageview")
        after = engine.read("db.pageview")
        assert after.count() == n_rows
        assert len(after.inputFiles()) < n_files_before
        assert rows(after, "id", "path") == rows(before, "id", "path")


class TestErrors:
    def test_unknown_table_read(self, engine):
        from table_versions_spark.core.log import UnknownTableError

        with pytest.raises(UnknownTableError):
            engine.read("db.nope")

    def test_unknown_commit_checkout(self, spark, engine):
        from table_versions_spark.core.log import UnknownCommitError

        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        with pytest.raises(UnknownCommitError):
            engine.checkout("db.users", "bogus")

    def test_missing_partition_column(self, spark, engine):
        engine.create_table("db.pv", schema_ddl=PAGEVIEW_SCHEMA,
                            partition_columns=["date"])
        bad = spark.createDataFrame([("a",)], "id string")
        with pytest.raises(ValueError):
            engine.insert(bad, "db.pv", "u", "bad")


class TestSchemaEvolution:
    def test_new_column_rejected_by_default(self, spark, engine):
        engine.create_table("db.se1", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.se1", "u", "v1")
        widened = spark.createDataFrame(
            [("user-9", "Zed", "zed@mail.com", 42)],
            USERS_SCHEMA + ", age bigint")
        with pytest.raises(ValueError, match="evolve_schema"):
            engine.insert(widened, "db.se1", "u", "v2")

    def test_evolve_snapshot(self, spark, engine):
        engine.create_table("db.se2", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.se2", "u", "v1")
        widened = spark.createDataFrame(
            [("user-9", "Zed", "zed@mail.com", 42)],
            USERS_SCHEMA + ", age bigint")
        engine.insert(widened, "db.se2", "u", "v2", evolve_schema=True)
        df = engine.read("db.se2")
        assert "age" in df.columns
        assert rows(df, "id", "age") == [("user-9", 42)]
        # time travel to v1 still works; pre-evolution data has no age column
        v1_commit = engine.history("db.se2").collect()[1]["commit_id"]
        old = engine.read("db.se2", at_commit=v1_commit)
        assert old.count() == 3

    def test_evolve_partitioned_merges_old_versions_as_null(self, spark, engine):
        engine.create_table("db.se3", schema_ddl="id string, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame([("a", "1"), ("b", "2")],
                                            "id string, d string"),
                      "db.se3", "u", "v1")
        engine.insert(spark.createDataFrame([("c", 7, "3")],
                                            "id string, score bigint, d string"),
                      "db.se3", "u", "v2", evolve_schema=True)
        df = engine.read("db.se3")
        assert set(df.columns) == {"id", "score", "d"}
        got = {r["id"]: r["score"] for r in df.collect()}
        # old partitions surface NULL for the evolved column
        assert got == {"a": None, "b": None, "c": 7}
        # evolution is persisted: a fresh engine object sees merge_schema
        assert engine.definition("db.se3").merge_schema is True


class TestReadChanges:
    def test_partitioned_changefeed(self, spark, engine):
        engine.create_table("db.cdf", schema_ddl="id string, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame([("a", "1"), ("b", "2")],
                                            "id string, d string"),
                      "db.cdf", "u", "v1")
        c1 = engine.history("db.cdf").first()["commit_id"]
        # reprocess d=2, add d=3
        engine.insert(spark.createDataFrame([("b2", "2"), ("c", "3")],
                                            "id string, d string"),
                      "db.cdf", "u", "v2")
        changed = engine.read_changes("db.cdf", since_commit=c1)
        assert rows(changed, "id", "d") == [("b2", "2"), ("c", "3")]
        # no changes since head → empty with stable schema
        head = engine.history("db.cdf").first()["commit_id"]
        assert engine.read_changes("db.cdf", since_commit=head).count() == 0
        # bounded range: since init, up to c1 → only v1 rows
        init = engine.history("db.cdf").collect()[-1]["commit_id"]
        first_only = engine.read_changes("db.cdf", since_commit=init, to_commit=c1)
        assert rows(first_only, "id", "d") == [("a", "1"), ("b", "2")]

    def test_snapshot_changefeed(self, spark, engine):
        engine.create_table("db.cdfs", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA), "db.cdfs", "u", "v1")
        c1 = engine.history("db.cdfs").first()["commit_id"]
        engine.insert(spark.createDataFrame(USERS_V2, USERS_SCHEMA), "db.cdfs", "u", "v2")
        assert engine.read_changes("db.cdfs", since_commit=c1).count() == len(USERS_V2)
        head = engine.history("db.cdfs").first()["commit_id"]
        assert engine.read_changes("db.cdfs", since_commit=head).count() == 0


class TestUpsertDelete:
    def test_upsert_partitioned(self, spark, engine):
        engine.create_table("db.up1", schema_ddl="id bigint, v string, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "old", "a"), (2, "old", "a"), (3, "old", "b")],
            "id bigint, v string, d string"), "db.up1", "u", "v1")
        # update id=2, insert id=4, both in partition a; partition b untouched
        engine.upsert(spark.createDataFrame(
            [(2, "new", "a"), (4, "new", "a")], "id bigint, v string, d string"),
            "db.up1", keys=["id"], user_id="u", message="merge")
        got = {(r["id"], r["v"]) for r in engine.read("db.up1").collect()}
        assert got == {(1, "old"), (2, "new"), (3, "old"), (4, "new")}
        # partition b kept its version (only a was rewritten)
        state = engine.current_version("db.up1").partition_versions
        hist = engine.history("db.up1").collect()
        first_state = engine.read("db.up1", at_commit=hist[1]["commit_id"])
        from table_versions_spark.core.model import Partition
        v1 = {p.render(): v for p, v in state.items()}
        assert "d=b" in v1

    def test_upsert_snapshot(self, spark, engine):
        engine.create_table("db.up2", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA), "db.up2", "u", "v1")
        engine.upsert(spark.createDataFrame(
            [("user-1", "Alice2", "alice2@mail.com"), ("user-9", "Zed", "z@m.com")],
            USERS_SCHEMA), "db.up2", keys=["id"], user_id="u", message="merge")
        got = {(r["id"], r["name"]) for r in engine.read("db.up2").collect()}
        assert got == {("user-1", "Alice2"), ("user-2", "Bob"),
                       ("user-3", "Carol"), ("user-9", "Zed")}

    def test_delete_rows_and_whole_partition(self, spark, engine):
        engine.create_table("db.del1", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id bigint, d string"),
            "db.del1", "u", "v1")
        state_before = {p.render(): v for p, v in
                        engine.current_version("db.del1").partition_versions.items()}
        # delete one row of a, ALL of b, nothing in c
        engine.delete("db.del1", "id IN (2, 3)", "u", "del")
        got = sorted((r["id"], r["d"]) for r in engine.read("db.del1").collect())
        assert got == [(1, "a"), (4, "c")]
        state = {p.render(): v for p, v in
                 engine.current_version("db.del1").partition_versions.items()}
        assert "d=b" not in state                      # fully-emptied: removed
        assert state["d=c"] == state_before["d=c"]     # untouched: same version
        assert state["d=a"] != state_before["d=a"]     # rewritten: new version
        # single commit for the whole delete; time travel still sees old rows
        hist = engine.history("db.del1").collect()
        assert len(hist) == 3
        old = engine.read("db.del1", at_commit=hist[1]["commit_id"])
        assert old.count() == 4

    def test_delete_snapshot(self, spark, engine):
        engine.create_table("db.del2", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA), "db.del2", "u", "v1")
        engine.delete("db.del2", "id = 'user-2'", "u", "del")
        assert engine.read("db.del2").count() == 2


class TestSqlView:
    def test_register_view_and_time_travel(self, spark, engine):
        engine.create_table("db.sqlv", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA), "db.sqlv", "u", "v1")
        c1 = engine.history("db.sqlv").first()["commit_id"]
        engine.insert(spark.createDataFrame(USERS_V2, USERS_SCHEMA), "db.sqlv", "u", "v2")
        name = engine.register_view("db.sqlv")
        assert name == "db_sqlv"
        assert spark.sql(f"SELECT COUNT(*) FROM {name}").first()[0] == len(USERS_V2)
        old = engine.register_view("db.sqlv", view_name="sqlv_v1", at_commit=c1)
        rows_ = spark.sql(f"SELECT id FROM {old} ORDER BY id").collect()
        assert [r["id"] for r in rows_] == ["user-1", "user-2", "user-3"]


class TestMultiLevelDelete:
    def test_delete_on_two_level_partitions(self, spark, engine):
        engine.create_table("db.ml", schema_ddl="id bigint, d string, h string",
                            partition_columns=["d", "h"], format="orc")
        engine.insert(spark.createDataFrame(
            [(1, "a", "0"), (2, "a", "1"), (3, "b", "0")],
            "id bigint, d string, h string"), "db.ml", "u", "v1")
        # empties partition (a,1) entirely; (a,0) and (b,0) untouched
        engine.delete("db.ml", "id = 2", "u", "del")
        got = sorted((r["id"], r["d"], r["h"])
                     for r in engine.read("db.ml").collect())
        assert got == [(1, "a", "0"), (3, "b", "0")]
        state = {p.render() for p in
                 engine.current_version("db.ml").partition_versions}
        assert state == {"d=a/h=0", "d=b/h=0"}


class TestMetadataPruning:
    def test_partition_filter_prunes_paths(self, spark, engine):
        engine.create_table("db.pf", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, d string"),
            "db.pf", "u", "v1")
        one = engine.read("db.pf", partition_filter={"d": "b"})
        assert rows(one, "id", "d") == [(2, "b")]
        # only the selected partition's path reaches the scan
        files = one.inputFiles()
        assert files and all("d=b" in f for f in files)
        many = engine.read("db.pf", partition_filter={"d": ["a", "c"]})
        assert rows(many, "id") == [(1,), (3,)]
        # empty selection -> empty frame with declared schema
        none = engine.read("db.pf", partition_filter={"d": "zzz"})
        assert none.count() == 0 and set(none.columns) == {"id", "d"}
        with pytest.raises(ValueError, match="Not partition columns"):
            engine.read("db.pf", partition_filter={"id": 1})


class TestDataSkipping:
    def test_stats_written_and_skipping_prunes_dirs(self, spark, engine):
        engine.create_table("db.ds", schema_ddl="id bigint, v double, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "a"), (100, 900.0, "b")],
            "id bigint, v double, d string"), "db.ds", "u", "v1")
        # value 900 lives only in d=b: id range proves d=a cannot match
        hit = engine.read("db.ds", stats_filter={"id": 100})
        assert hit.count() == 1
        assert all("d=b" in f for f in hit.inputFiles())
        # range filter overlapping only d=a
        lo = engine.read("db.ds", stats_filter={"v": (0.0, 50.0)})
        assert all("d=a" in f for f in lo.inputFiles())
        assert lo.count() == 2
        # nothing can match -> empty with declared schema, zero files listed
        none = engine.read("db.ds", stats_filter={"id": 999999})
        assert none.count() == 0
        # skipping is an optimization, not a filter: in-range reads keep rows
        assert engine.read("db.ds", stats_filter={"id": (1, 200)}).count() == 3

    def test_update_rows_partition_scoped(self, spark, engine):
        """UPDATE rewrites only partitions containing matches; assignments
        evaluate simultaneously against the pre-update row."""
        engine.create_table("db.up", schema_ddl="id bigint, a double, "
                            "b double, d string", partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 1.0, 10.0, "x"), (2, 2.0, 20.0, "x"), (3, 3.0, 30.0, "y")],
            "id bigint, a double, b double, d string"), "db.up", "u", "v1")
        files_y = {f for f in engine.read("db.up").inputFiles() if "d=y" in f}
        # swap a and b where id <= 2 — catches sequential assignment
        engine.update("db.up", set={"a": "b", "b": "a"},
                      predicate="id <= 2", user_id="u", message="swap")
        got = {(r.id, r.a, r.b) for r in engine.read("db.up").collect()}
        assert got == {(1, 10.0, 1.0), (2, 20.0, 2.0), (3, 3.0, 30.0)}
        # untouched partition kept its version (same files)
        assert {f for f in engine.read("db.up").inputFiles()
                if "d=y" in f} == files_y
        import pytest as _pytest

        with _pytest.raises(ValueError, match="partition column"):
            engine.update("db.up", set={"d": "'z'"}, predicate="id = 1",
                          user_id="u", message="bad")
        with _pytest.raises(ValueError, match="Unknown column"):
            engine.update("db.up", set={"nope": "1"}, predicate="id = 1",
                          user_id="u", message="bad")

    def test_rename_column_without_rewrite(self, spark, engine):
        """Delta-style name-mode mapping: rename touches no data file;
        reads/writes translate; the rename is a logged commit, so time
        travel shows the schema of the era being read."""
        engine.create_table("db.cm", schema_ddl="id bigint, v double")
        r1 = engine.insert(spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id bigint, v double"), "db.cm", "u", "v1")
        files_before = set(engine.read("db.cm").inputFiles())
        engine.rename_column("db.cm", "v", "amount")
        got = engine.read("db.cm")
        assert got.columns == ["id", "amount"]
        assert {(r.id, r.amount) for r in got.collect()} == {(1, 1.0), (2, 2.0)}
        assert set(got.inputFiles()) == files_before  # no rewrite
        # the rename is in the history (auditable, attributable)
        assert engine.history("db.cm").first()["message"] \
            == "RENAME COLUMN v TO amount"
        # writers use the new logical name; files keep the physical name
        engine.insert(spark.createDataFrame(
            [(3, 3.0)], "id bigint, amount double"),
            "db.cm", "u", "v2", mode="append")
        assert {(r.id, r.amount)
                for r in engine.read("db.cm").collect()} == {
                    (1, 1.0), (2, 2.0), (3, 3.0)}
        # time travel to the pre-rename commit shows the OLD schema — the
        # rename is a logged change, not retroactive table-level metadata
        old = engine.read("db.cm", at_commit=r1.commit_id)
        assert old.columns == ["id", "v"] and old.count() == 2
        # checkout (pointer move) reads likewise see the old era's schema
        engine.checkout("db.cm", r1.commit_id)
        assert engine.read("db.cm").columns == ["id", "v"]
        head = engine.history("db.cm").first()["commit_id"]
        engine.checkout("db.cm", head)
        assert engine.read("db.cm").columns == ["id", "amount"]
        # stats_filter accepts the logical name
        hit = (engine.read("db.cm", stats_filter={"amount": (3.0, 3.0)})
               .where("amount = 3.0"))
        assert hit.count() == 1
        # old logical name is addressable again only via rename back
        engine.rename_column("db.cm", "amount", "v")
        defn = engine.definition("db.cm")
        assert defn.column_mapping == ()  # identity mapping elided
        assert engine.read("db.cm").columns == ["id", "v"]

    def test_restore_restores_column_mapping(self, spark, engine):
        """RESTORE rolls the schema back too: a rename after the target
        commit is undone by the forward-commit restore (like Delta)."""
        engine.create_table("db.cr", schema_ddl="id bigint, v double")
        r1 = engine.insert(spark.createDataFrame(
            [(1, 1.0)], "id bigint, v double"), "db.cr", "u", "v1")
        engine.rename_column("db.cr", "v", "amount")
        engine.insert(spark.createDataFrame(
            [(2, 2.0)], "id bigint, amount double"),
            "db.cr", "u", "v2", mode="append")
        engine.restore("db.cr", r1.commit_id, user_id="u")
        got = engine.read("db.cr")
        assert got.columns == ["id", "v"]
        assert {(r.id, r.v) for r in got.collect()} == {(1, 1.0)}
        assert engine.definition("db.cr").column_mapping == ()

    def test_drop_column_metadata_only(self, spark, engine):
        import pytest as _pytest

        engine.create_table("db.dc", schema_ddl="id bigint, v double, w string")
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "x")], "id bigint, v double, w string"),
            "db.dc", "u", "v1")
        engine.drop_column("db.dc", "w")
        got = engine.read("db.dc")
        assert got.columns == ["id", "v"]
        assert got.count() == 1
        # the physical name stays reserved: evolution cannot reuse it
        with _pytest.raises(ValueError, match="physical name"):
            engine.insert(spark.createDataFrame(
                [(2, 2.0, "y")], "id bigint, v double, w string"),
                "db.dc", "u", "re-add", evolve_schema=True,
                mode="append")
        # renaming another column onto the ghost name is rejected too
        with _pytest.raises(ValueError, match="physical name"):
            engine.rename_column("db.dc", "v", "w")

    def test_column_ddl_guards(self, spark, engine):
        import pytest as _pytest

        engine.create_table("db.cg", schema_ddl="id bigint, v double, d date",
                            partition_columns=["d"],
                            check_constraints=["v >= 0"])
        with _pytest.raises(ValueError, match="partition column"):
            engine.rename_column("db.cg", "d", "day")
        with _pytest.raises(ValueError, match="constraint"):
            engine.rename_column("db.cg", "v", "val")
        with _pytest.raises(ValueError, match="No column"):
            engine.drop_column("db.cg", "nope")
        # Spark resolves identifiers case-insensitively: a constraint
        # written 'VAL2 >= 0' still pins column 'val2'
        engine.create_table("db.cg2", schema_ddl="id bigint, val2 double",
                            check_constraints=["VAL2 >= 0"])
        with _pytest.raises(ValueError, match="constraint"):
            engine.rename_column("db.cg2", "val2", "v2")

    def test_check_constraints_validated_at_declaration(self, spark, engine):
        """Non-boolean or unresolvable constraint expressions fail at
        create_table, not at the first insert."""
        import pytest as _pytest

        with _pytest.raises(ValueError, match="BOOLEAN"):
            engine.create_table("db.ckb", schema_ddl="id bigint, v double",
                                check_constraints=["v"])
        with _pytest.raises(ValueError, match="resolve"):
            engine.create_table("db.ckr", schema_ddl="id bigint, v double",
                                check_constraints=["nope > 0"])

    def test_check_constraints_reject_bad_insert(self, spark, engine):
        """Declared CHECK constraints gate every write path; NULL passes
        (SQL semantics); violations reject the commit before data lands."""
        import pytest as _pytest

        from table_versions_spark import ConstraintViolationError

        engine.create_table("db.ck", schema_ddl="id bigint, v double",
                            check_constraints=["v >= 0", "id > 0"])
        engine.insert(spark.createDataFrame(
            [(1, 5.0), (2, None)], "id bigint, v double"),
            "db.ck", "u", "nulls pass")
        assert engine.read("db.ck").count() == 2
        with _pytest.raises(ConstraintViolationError, match="v >= 0"):
            engine.insert(spark.createDataFrame(
                [(3, -1.0)], "id bigint, v double"), "db.ck", "u", "bad")
        # the rejected commit left no trace
        assert engine.read("db.ck").count() == 2
        assert engine.history("db.ck").count() == 2  # init + first insert

    def test_check_constraints_exact_for_nondeterministic_input(
            self, spark, engine):
        """The CHECK gate validates the STAGED files, not a re-evaluation
        of the input frame — a non-deterministic df (rand()) whose probe
        pass could differ from its write pass must still be caught, and
        the rejected staging dirs must be cleaned up."""
        import pytest as _pytest
        from pyspark.sql import functions as _F

        from table_versions_spark import ConstraintViolationError

        engine.create_table("db.cknd", schema_ddl="id bigint, v double",
                            check_constraints=["v < 0.5"])
        df = spark.range(200).select(
            _F.col("id"), _F.rand(seed=None).alias("v"))
        with _pytest.raises(ConstraintViolationError):
            engine.insert(df, "db.cknd", "u", "nondet")
        loc = engine.definition("db.cknd").location
        from table_versions_spark.core.model import Version
        stranded = [e for e in engine.storage.list_dir(loc)
                    if Version.is_version_label(e)]
        assert stranded == []  # rejected staging dirs were removed
        assert engine.read("db.cknd").count() == 0

    def test_check_constraints_validate_delta_only_on_append(
            self, spark, engine):
        """Append-mode CHECK validation is O(new data), not O(table): it
        runs BEFORE prior-version files are linked into the new dir, so
        only the written batch is scanned. Pinned by doctoring a PRIOR
        version's parquet on disk to violate the constraint — a whole-table
        re-scan would reject the append; batch-scoped validation (prior
        commits already validated their own batches) must not."""
        engine.create_table("db.ckd", schema_ddl="id bigint, v double",
                            check_constraints=["v >= 0"])
        engine.insert(spark.createDataFrame(
            [(1, 5.0)], "id bigint, v double"), "db.ckd", "u", "v1")
        # corrupt the committed file in place (filename preserved so the
        # append's _link_data_files carries exactly this file forward)
        loc = engine.definition("db.ckd").location
        from table_versions_spark.core.model import Version
        vdir = [e for e in engine.storage.list_dir(loc)
                if Version.is_version_label(e)][0]
        import os as _os
        part = [f for f in engine.storage.list_dir(_os.path.join(loc, vdir))
                if f.endswith(".parquet")][0]
        spark.createDataFrame([(9, -9.0)], "id bigint, v double") \
            .toPandas().to_parquet(_os.path.join(loc, vdir, part))
        # the append's own batch is clean: must commit (a whole-table
        # re-validation would see the doctored -9.0 row and reject)
        engine.insert(spark.createDataFrame(
            [(2, 7.0)], "id bigint, v double"), "db.ckd", "u", "v2",
            mode="append")
        got = {(r.id, r.v) for r in engine.read("db.ckd").collect()}
        # the new batch landed AND the violating prior-version row was
        # carried by linking without being re-validated
        assert {(2, 7.0), (9, -9.0)} <= got

    def test_merge_not_matched_by_source_delete(self, spark, engine):
        """Full-sync merge: target rows absent from the source are dropped
        (Delta WHEN NOT MATCHED BY SOURCE DELETE)."""
        engine.create_table("db.ms", schema_ddl="id bigint, v double")
        engine.insert(spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "id bigint, v double"),
            "db.ms", "u", "v1")
        src = spark.createDataFrame(
            [(2, 20.0), (4, 40.0)], "id bigint, v double")
        engine.merge(src, "db.ms", keys=["id"], user_id="u",
                     message="sync", when_not_matched_by_source_delete=True)
        got = {(r.id, r.v) for r in engine.read("db.ms").collect()}
        assert got == {(2, 20.0), (4, 40.0)}
        # conditional variant: only delete target-only rows with v < 2
        engine.insert(spark.createDataFrame(
            [(1, 1.0), (3, 3.0)], "id bigint, v double"),
            "db.ms", "u", "re-add", mode="append")
        engine.merge(src, "db.ms", keys=["id"], user_id="u",
                     message="partial sync",
                     when_not_matched_by_source_delete="t.v < 2")
        got = {(r.id, r.v) for r in engine.read("db.ms").collect()}
        assert got == {(2, 20.0), (3, 3.0), (4, 40.0)}

    def test_merge_full_sync_partitioned_needs_scope(self, spark, engine):
        """On a partitioned table when_not_matched_by_source_delete=True
        silently skips untouched partitions, so an explicit sync_scope is
        required: 'source-partitions' keeps the scoped behavior, 'all'
        converges the whole table (untouched-partition rows go too)."""
        import pytest as _pytest

        ddl = "id bigint, v double, d string"
        engine.create_table("db.fsync", schema_ddl=ddl,
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")], ddl),
            "db.fsync", "u", "v1")
        src = spark.createDataFrame([(1, 10.0, "a")], ddl)
        with _pytest.raises(ValueError, match="sync_scope"):
            engine.merge(src, "db.fsync", keys=["id"], user_id="u",
                         message="sync",
                         when_not_matched_by_source_delete=True)
        # scoped: only partition 'a' converges; 'b' survives untouched
        engine.merge(src, "db.fsync", keys=["id"], user_id="u",
                     message="scoped sync",
                     when_not_matched_by_source_delete=True,
                     sync_scope="source-partitions")
        got = {(r.id, r.v, r.d) for r in engine.read("db.fsync").collect()}
        assert got == {(1, 10.0, "a"), (3, 3.0, "b")}
        # whole-table: partition 'b' (untouched by the source) converges
        # too — its target-only row is deleted and the partition dropped
        engine.merge(src, "db.fsync", keys=["id"], user_id="u",
                     message="full sync",
                     when_not_matched_by_source_delete=True,
                     sync_scope="all")
        got = {(r.id, r.v, r.d) for r in engine.read("db.fsync").collect()}
        assert got == {(1, 10.0, "a")}

    def test_generated_partition_column(self, spark, engine):
        """partition_derivations: a writer that omits the partition column
        gets it computed from the declared expression; an explicit column
        wins; derivations on non-partition columns are rejected."""
        import datetime as dt

        import pytest as _pytest

        engine.create_table("db.gp", schema_ddl="id bigint, ts timestamp, d date",
                            partition_columns=["d"],
                            partition_derivations={"d": "to_date(ts)"})
        df = spark.createDataFrame(
            [(1, dt.datetime(2019, 3, 13, 10)), (2, dt.datetime(2019, 3, 14, 2))],
            "id bigint, ts timestamp")
        engine.insert(df, "db.gp", "u", "no partition column supplied")
        got = {(r.id, r.d) for r in engine.read("db.gp").collect()}
        assert got == {(1, dt.date(2019, 3, 13)), (2, dt.date(2019, 3, 14))}
        # explicit value wins over the derivation
        df2 = spark.createDataFrame(
            [(3, dt.datetime(2019, 3, 13, 5), dt.date(2020, 1, 1))],
            "id bigint, ts timestamp, d date")
        engine.insert(df2, "db.gp", "u", "explicit d")
        assert (3, dt.date(2020, 1, 1)) in {
            (r.id, r.d) for r in engine.read("db.gp").collect()}
        with _pytest.raises(ValueError, match="non-partition"):
            engine.create_table("db.gp2", schema_ddl="id bigint",
                                partition_derivations={"id": "id + 1"})

    def test_compact_zorder_recluster(self, spark, engine):
        """OPTIMIZE ZORDER shape: a table written with no clustering gains
        two-column skipping after compact(cluster_mode='zorder')."""
        import itertools

        engine.create_table("db.cz", schema_ddl="x bigint, y bigint")
        rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
        engine.insert(spark.createDataFrame(rows, "x bigint, y bigint")
                      .repartition(16), "db.cz", "u", "unclustered")
        engine.compact("db.cz", cluster_by=["x", "y"], cluster_mode="zorder")
        total = len(engine.read("db.cz").inputFiles())
        qy = engine.read("db.cz", stats_filter={"y": (0, 7)})
        assert len(qy.inputFiles()) < total
        assert engine.read("db.cz").count() == 64 * 64

    def test_compact_zorder_honours_target_partitions(self, spark, engine):
        """A clustered compact of a snapshot table writes target_partitions
        files — fewer or more than the session's defaultParallelism."""
        import itertools

        engine.create_table("db.ct", schema_ddl="x bigint, y bigint")
        rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
        engine.insert(spark.createDataFrame(rows, "x bigint, y bigint")
                      .repartition(16), "db.ct", "u", "unclustered")
        for n in (2, 12):
            engine.compact("db.ct", target_partitions=n,
                           cluster_by=["x", "y"], cluster_mode="zorder")
            full = engine.read("db.ct")
            assert len(full.inputFiles()) == n
            assert full.count() == 64 * 64

    def test_zorder_skipping_prunes_on_both_columns(self, spark, engine):
        """Morton-clustered layout: every file covers a small (x, y)
        rectangle, so per-file stats prune range lookups on EITHER column
        — a lexicographic (x, y) sort would only serve x."""
        import itertools

        engine.create_table("db.zo", schema_ddl="x bigint, y bigint, v double")
        rows = [(x, y, float(x * y))
                for x, y in itertools.product(range(64), range(64))]
        df = (spark.createDataFrame(rows, "x bigint, y bigint, v double")
              .repartition(16))
        engine.insert(df, "db.zo", "u", "z-ordered",
                      cluster_by=["x", "y"], cluster_mode="zorder")
        full = engine.read("db.zo")
        assert full.count() == 64 * 64
        assert "__tvx_zorder" not in full.columns
        total = len(full.inputFiles())
        # multi-file layout, else skipping proves nothing. 4 files (one per
        # Morton quadrant) is the fewest that can prune on both columns:
        # z-bit 2k+i holds bit k of column i, so the top z-bit is y's top
        # bucket bit and the next is x's. 2 contiguous z-range files each
        # span all of x; 3 files all touch x <= 7. At 4 files a
        # lexicographic (x, y) sort would give 4 x-bands each spanning all
        # of y, so the qy check below still tells the two orders apart.
        assert total >= 4
        qx = engine.read("db.zo", stats_filter={"x": (0, 7)})
        qy = engine.read("db.zo", stats_filter={"y": (0, 7)})
        assert len(qx.inputFiles()) < total
        assert len(qy.inputFiles()) < total  # the lexicographic-sort killer
        both = (engine.read("db.zo", stats_filter={"x": (0, 7),
                                                   "y": (0, 7)})
                .where("x <= 7 AND y <= 7"))
        assert both.count() == 64
        assert len(both.inputFiles()) <= min(len(qx.inputFiles()),
                                             len(qy.inputFiles()))

    def test_bloom_skipping_point_lookup(self, spark, engine):
        """Hash-distributed layout: every file's min/max range overlaps, so
        only the per-file Bloom bitsets can prune a point lookup."""
        from pyspark.sql import functions as F

        engine.create_table("db.bl", schema_ddl="id bigint, v string",
                            bloom_columns=["id", "v"])
        df = (spark.range(0, 2000)
              .select(F.col("id"),
                      F.concat(F.lit("p"), F.col("id")).alias("v"))
              .repartition(8, F.col("id")))
        engine.insert(df, "db.bl", "u", "v1")
        total = len(engine.read("db.bl").inputFiles())
        assert total >= 8
        hit = engine.read("db.bl", stats_filter={"id": 1234})
        assert [r["v"] for r in
                hit.where(F.col("id") == 1234).collect()] == ["p1234"]
        # bloom pruned files that min/max ranges never could
        assert 0 < len(hit.inputFiles()) < total
        # string-typed bloom probes work the same way
        shit = engine.read("db.bl", stats_filter={"v": "p777"})
        assert 0 < len(shit.inputFiles()) < total
        assert shit.where(F.col("v") == "p777").count() == 1
        # absent key: the dir-level bloom proves absence -> empty, no scan
        miss = engine.read("db.bl", stats_filter={"id": 987654321})
        assert miss.count() == 0 and set(miss.columns) == {"id", "v"}
        # superset contract: every present key keeps its row
        for probe in (0, 999, 1999):
            got = engine.read("db.bl", stats_filter={"id": probe})
            assert probe in [r["id"] for r in got.collect()]

    def test_append_links_keep_stats_fresh(self, spark, engine):
        engine.create_table("db.ds2", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, "a")], "id bigint, d string"),
                      "db.ds2", "u", "v1")
        engine.insert(spark.createDataFrame([(500, "a")], "id bigint, d string"),
                      "db.ds2", "u", "v2", mode="append")
        # the appended version's stats must cover the LINKED old file too:
        # a filter matching only the old row must not be skipped away.
        # (File-granular skipping may legitimately drop the id=500 file —
        # the contract is a SUPERSET of matching rows, never fewer.)
        old_row = engine.read("db.ds2", stats_filter={"id": 1})
        got = sorted(r["id"] for r in old_row.collect())
        assert 1 in got and set(got) <= {1, 500}
        # and without a filter the full version is intact
        assert sorted(r["id"] for r in engine.read("db.ds2").collect()) \
            == [1, 500]

    def test_string_and_date_stats(self, spark, engine):
        from pyspark.sql import functions as F
        engine.create_table("db.ds3", schema_ddl="s string, dt date, d string",
                            partition_columns=["d"])
        df = spark.createDataFrame(
            [("apple", "2024-01-01", "a"), ("zebra", "2024-06-01", "b")],
            "s string, dt string, d string").withColumn("dt", F.to_date("dt"))
        engine.insert(df, "db.ds3", "u", "v1")
        got = engine.read("db.ds3", stats_filter={"s": "zebra"})
        assert all("d=b" in f for f in got.inputFiles())
        import datetime as dtm
        got2 = engine.read("db.ds3",
                           stats_filter={"dt": dtm.date(2024, 1, 1)})
        assert all("d=a" in f for f in got2.inputFiles())

    def test_delete_keeps_null_predicate_rows(self, spark, engine):
        """SQL DELETE semantics: a NULL predicate does not delete the row."""
        engine.create_table("db.deln", schema_ddl="id bigint, v string")
        engine.insert(spark.createDataFrame(
            [(1, "x"), (2, None), (3, "y")], "id bigint, v string"),
            "db.deln", "u", "v1")
        engine.delete("db.deln", "v = 'x'", "u", "del")
        got = sorted(r["id"] for r in engine.read("db.deln").collect())
        assert got == [2, 3]  # the NULL-v row survives


class TestSpecialPartitionValues:
    def test_filter_and_delete_with_escaped_values(self, spark, engine):
        """Spark escapes ':' '=' etc. in partition dir names; user-facing
        filters and deletes take RAW values and must still match."""
        engine.create_table("db.spv", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a b"), (2, "x:y"), (3, "p=q")], "id bigint, d string"),
            "db.spv", "u", "v1")
        assert engine.read("db.spv").count() == 3
        for raw, want_id in [("a b", 1), ("x:y", 2), ("p=q", 3)]:
            got = engine.read("db.spv", partition_filter={"d": raw})
            assert [r["id"] for r in got.collect()] == [want_id], raw
        # delete emptying the escaped partition must land its remove op
        engine.delete("db.spv", "d = 'x:y'", "u", "del")
        assert sorted(r["id"] for r in engine.read("db.spv").collect()) == [1, 3]
        rendered = {p.render() for p in
                    engine.current_version("db.spv").partition_versions}
        assert not any("%3A" in r or "x:y" in r for r in rendered)


class TestNullPartitionValues:
    def test_upsert_merges_null_partition(self, spark, engine):
        """A NULL partition value must scope like any other value: upsert
        touching the NULL partition merges with its old rows instead of
        silently dropping them (null-safe <=> scope join)."""
        ddl = "id bigint, v string, d string"
        engine.create_table("db.nup", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "old1", None), (2, "old2", None), (3, "old3", "a")], ddl),
            "db.nup", "u", "v1")
        engine.upsert(spark.createDataFrame(
            [(1, "new1", None), (4, "new4", None)], ddl),
            "db.nup", keys=["id"], user_id="u", message="merge")
        got = rows(engine.read("db.nup"), "id", "v", "d")
        assert got == [(1, "new1", None), (2, "old2", None),
                       (3, "old3", "a"), (4, "new4", None)]

    def test_delete_from_null_partition(self, spark, engine):
        """delete() must address the __HIVE_DEFAULT_PARTITION__ dir for NULL
        partition values — and actually remove the matching rows."""
        ddl = "id bigint, v string, d string"
        engine.create_table("db.nde", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "x", None), (2, "y", None), (3, "x", "a")], ddl),
            "db.nde", "u", "v1")
        engine.delete("db.nde", "v = 'x'", "u", "del")
        got = rows(engine.read("db.nde"), "id", "v", "d")
        assert got == [(2, "y", None)]  # id=3 in d=a also had v='x'
        # emptying the null partition entirely drops it from the state
        engine.delete("db.nde", "v = 'y'", "u", "del2")
        state = engine.current_version("db.nde")
        assert all("__HIVE_DEFAULT_PARTITION__" not in p.render()
                   for p in state.partition_versions)

    def test_partition_filter_none_selects_null_partition(self, spark, engine):
        ddl = "id bigint, d string"
        engine.create_table("db.npf", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, None), (2, "a")], ddl),
                      "db.npf", "u", "v1")
        got = engine.read("db.npf", partition_filter={"d": None})
        assert [r["id"] for r in got.collect()] == [1]


class TestStatsFilterTypeMismatch:
    def test_mismatched_filter_type_reads_instead_of_raising(self, spark, engine):
        """A string filter against numeric recorded stats must decline the
        skip (read everything), not raise TypeError."""
        engine.create_table("db.stm", schema_ddl="id bigint, v string")
        engine.insert(spark.createDataFrame([(1, "a"), (2, "b")],
                                            "id bigint, v string"),
                      "db.stm", "u", "v1")
        got = engine.read("db.stm", stats_filter={"id": "not-a-number"})
        assert got.count() == 2  # cannot skip, full read


class TestVacuumInteractions:
    def test_time_travel_past_retention_fails_loudly(self, spark, engine):
        """After vacuum, reading a commit whose version dirs were GC'd is an
        error (same contract as Delta VACUUM + timestampAsOf)."""
        engine.create_table("db.vi", schema_ddl=USERS_SCHEMA)
        r1 = engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                           "db.vi", "u", "v1")
        engine.insert(spark.createDataFrame(USERS_V2, USERS_SCHEMA),
                      "db.vi", "u", "v2")
        removed = engine.vacuum("db.vi", keep_commits=1, grace_hours=0)
        assert removed  # v1's version dir went away
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import AnalysisException
        with pytest.raises((AnalysisException, Py4JJavaError)):
            engine.read("db.vi", at_commit=r1.commit_id).collect()
        # head still reads fine
        assert engine.read("db.vi").count() == len(USERS_V2)

    def test_stream_source_skips_vacuumed_dirs(self, spark, engine, tmp_path):
        """The tvx source's documented behavior for a backlog that reaches
        past retention: vacuumed version dirs yield no rows (not an error)."""
        from table_versions_spark.streaming.source import register

        engine.create_table("db.vi2", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, "a")], "id bigint, d string"),
                      "db.vi2", "u", "v1")
        engine.insert(spark.createDataFrame([(2, "a")], "id bigint, d string"),
                      "db.vi2", "u", "v2")  # overwrites d=a
        engine.vacuum("db.vi2", keep_commits=1, grace_hours=0)
        register(spark)
        out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
        q = (spark.readStream.format("tvx")
             .option("location", engine.definition("db.vi2").location).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        got = [tuple(r) for r in spark.read.parquet(out).collect()]
        assert got == [(2, "a")]


class TestStatsInCommitLog:
    def test_no_sidecar_files_written(self, spark, engine):
        """Stats ride the commit record; version dirs carry no _stats.json."""
        import os
        engine.create_table("db.scl", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, "a"), (50, "b")],
                                            "id bigint, d string"),
                      "db.scl", "u", "v1")
        loc = engine.definition("db.scl").location
        sidecars = [os.path.join(dp, f) for dp, _, fs in os.walk(loc)
                    for f in fs if f == "_stats.json"]
        assert sidecars == []
        # and skipping still prunes: id=50 only in d=b
        hit = engine.read("db.scl", stats_filter={"id": 50})
        assert all("d=b" in f for f in hit.inputFiles())

    def test_stats_survive_checkpoint(self, spark, engine):
        """stats_map resumes from checkpoints: stats of dirs committed
        BEFORE the newest checkpoint still skip correctly."""
        ddl = "id bigint, d string"
        engine.create_table("db.sck", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, "early")], ddl),
                      "db.sck", "u", "v0")
        for i in range(12):  # push a checkpoint (interval 10) past commit 1
            engine.insert(spark.createDataFrame([(100 + i, f"p{i}")], ddl),
                          "db.sck", "u", f"c{i}")
        hit = engine.read("db.sck", stats_filter={"id": 1})
        assert all("d=early" in f for f in hit.inputFiles())
        assert hit.count() == 1


class TestBucketedTables:
    def test_bucketed_join_matches_plain_join_without_smj(self, spark, engine):
        """Co-bucketed tables join bucket-by-bucket: results equal the plain
        join, and the plan is all broadcast joins — no SortMergeJoin, i.e.
        the fact side is never shuffled on the key."""
        fact_ddl = "k bigint, v double, d string"
        dim_ddl = "k bigint, name string"
        engine.create_table("db.fact", schema_ddl=fact_ddl,
                            partition_columns=["d"],
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.dim", schema_ddl=dim_ddl,
                            bucket_columns=["k"], bucket_count=4)
        fact = spark.createDataFrame(
            [(i, float(i), f"d{i % 3}") for i in range(60)], fact_ddl)
        dim = spark.createDataFrame(
            [(i, f"n{i}") for i in range(0, 60, 2)], dim_ddl)
        engine.insert(fact, "db.fact", "u", "facts")
        engine.insert(dim, "db.dim", "u", "dims")

        got = engine.bucketed_join("db.fact", "db.dim")
        want = engine.read("db.fact").join(engine.read("db.dim"), "k")
        assert (sorted(tuple(r) for r in got.select("k", "v", "name").collect())
                == sorted(tuple(r) for r in want.select("k", "v", "name").collect()))
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan

    def test_bucket_spec_mismatch_rejected(self, spark, engine):
        engine.create_table("db.b4", schema_ddl="k bigint, v double",
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.b8", schema_ddl="k bigint, v double",
                            bucket_columns=["k"], bucket_count=8)
        engine.create_table("db.nb", schema_ddl="k bigint, v double")
        with pytest.raises(ValueError, match="bucket specs differ"):
            engine.bucketed_join("db.b4", "db.b8")
        with pytest.raises(ValueError, match="not bucketed"):
            engine.bucketed_join("db.b4", "db.nb")

    def test_bucketing_survives_partition_overwrite(self, spark, engine):
        """A reprocessed partition is re-bucketed by the insert; the join
        still pairs buckets correctly across versions."""
        fact_ddl = "k bigint, v double, d string"
        engine.create_table("db.fct2", schema_ddl=fact_ddl,
                            partition_columns=["d"],
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.dim2", schema_ddl="k bigint, name string",
                            bucket_columns=["k"], bucket_count=4)
        engine.insert(spark.createDataFrame(
            [(i, 1.0, f"d{i % 2}") for i in range(20)], fact_ddl),
            "db.fct2", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(i, f"n{i}") for i in range(20)], "k bigint, name string"),
            "db.dim2", "u", "dims")
        # overwrite d0 with doubled values
        engine.insert(spark.createDataFrame(
            [(i, 2.0, "d0") for i in range(0, 20, 2)], fact_ddl),
            "db.fct2", "u", "reprocess d0")
        got = engine.bucketed_join("db.fct2", "db.dim2")
        want = engine.read("db.fct2").join(engine.read("db.dim2"), "k")
        assert (sorted(tuple(r) for r in got.select("k", "v", "name").collect())
                == sorted(tuple(r) for r in want.select("k", "v", "name").collect()))


class TestBucketPrunedReads:
    def test_sparkhash_matches_spark(self, spark):
        """Driver-side Murmur3 must be bit-identical to Spark's hash()."""
        from pyspark.sql import functions as F

        from table_versions_spark.core.sparkhash import (
            hash_bytes, hash_int, hash_long)

        longs = [0, 1, -1, 42, 2**40, -2**40, 123456789012]
        ints = [0, 1, -1, 42, 2**30, -5]
        strs = ["", "a", "abc", "abcd", "hello world", "x:y", "日本語"]
        got = [r[0] for r in spark.createDataFrame(
            [(v,) for v in longs], "v long").select(F.hash("v")).collect()]
        assert got == [hash_long(v) for v in longs]
        got = [r[0] for r in spark.createDataFrame(
            [(v,) for v in ints], "v int").select(F.hash("v")).collect()]
        assert got == [hash_int(v) for v in ints]
        got = [r[0] for r in spark.createDataFrame(
            [(v,) for v in strs], "v string").select(F.hash("v")).collect()]
        assert got == [hash_bytes(v.encode("utf-8")) for v in strs]

    def test_point_read_touches_one_bucket(self, spark, engine):
        ddl = "k bigint, v double, d string"
        engine.create_table("db.bpr", schema_ddl=ddl,
                            partition_columns=["d"],
                            bucket_columns=["k"], bucket_count=8)
        rows_ = [(i, float(i), f"d{i % 2}") for i in range(200)]
        engine.insert(spark.createDataFrame(rows_, ddl), "db.bpr", "u", "load")
        full_files = len(engine.read("db.bpr").inputFiles())
        for key in (0, 7, 123):
            got = engine.read("db.bpr", bucket_filter={"k": key})
            # superset semantics: all rows with k==key are present
            assert [r["k"] for r in got.where(f"k = {key}").collect()] == [key]
            # and only one bucket's files were listed
            assert 0 < len(got.inputFiles()) <= full_files // 4
        with pytest.raises(ValueError, match="not bucketed"):
            engine.create_table("db.nbf", schema_ddl=ddl,
                                partition_columns=["d"])
            engine.read("db.nbf", bucket_filter={"k": 1})
        with pytest.raises(ValueError, match="cover exactly"):
            engine.read("db.bpr", bucket_filter={"v": 1.0})

    def test_string_bucket_key(self, spark, engine):
        ddl = "name string, v bigint"
        engine.create_table("db.bps", schema_ddl=ddl,
                            bucket_columns=["name"], bucket_count=4)
        engine.insert(spark.createDataFrame(
            [(f"user-{i}", i) for i in range(50)], ddl), "db.bps", "u", "load")
        got = engine.read("db.bps", bucket_filter={"name": "user-17"})
        assert [r["v"] for r in got.where("name = 'user-17'").collect()] == [17]
        assert len(got.inputFiles()) < len(engine.read("db.bps").inputFiles())


class TestIdempotentTxn:
    def test_same_txn_version_applies_once(self, spark, engine):
        """Delta txnAppId/txnVersion semantics: a retried write with the same
        (app, version) token is skipped; a higher version applies."""
        engine.create_table("db.txn", schema_ddl=USERS_SCHEMA)
        df = spark.createDataFrame(USERS_V1, USERS_SCHEMA)
        r1 = engine.insert(df, "db.txn", "job", "batch 0", mode="append",
                           txn=("ingest-job", 0))
        # replay of batch 0 (e.g. orchestrator retry) must be a no-op
        r2 = engine.insert(df, "db.txn", "job", "batch 0 retry", mode="append",
                           txn=("ingest-job", 0))
        assert r2.commit_id == r1.commit_id
        assert engine.read("db.txn").count() == len(USERS_V1)
        # next batch applies
        engine.insert(df, "db.txn", "job", "batch 1", mode="append",
                      txn=("ingest-job", 1))
        assert engine.read("db.txn").count() == 2 * len(USERS_V1)
        # an independent app id is not blocked
        engine.insert(df, "db.txn", "job", "other app", mode="append",
                      txn=("other-job", 0))
        assert engine.read("db.txn").count() == 3 * len(USERS_V1)

    def test_stale_txn_version_skipped(self, spark, engine):
        engine.create_table("db.txn2", schema_ddl=USERS_SCHEMA)
        df = spark.createDataFrame(USERS_V1, USERS_SCHEMA)
        engine.insert(df, "db.txn2", "job", "b5", txn=("app", 5))
        # lower-than-committed version is also skipped (already-applied past)
        r = engine.insert(df, "db.txn2", "job", "b4 late replay",
                          mode="append", txn=("app", 4))
        assert engine.read("db.txn2").count() == len(USERS_V1)
        assert not r.changes.operations if hasattr(r.changes, "operations") \
            else True


class TestConflictDetection:
    def test_append_detects_concurrent_partition_overwrite(self, spark,
                                                           engine):
        """mode=append links the previous version's files; a commit landing
        in between must fail the append instead of silently dropping rows."""
        from table_versions_spark.core.log import ConcurrentWriteError
        from table_versions_spark.engine import VersionedEngine

        ddl = "id string, d string"
        engine.create_table("db.cc", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([("a", "1")], ddl),
                      "db.cc", "u", "base")
        # second writer sharing the warehouse commits between this writer's
        # read and commit — emulated by monkey-patching the precondition
        # window: do the conflicting commit first, then attempt an append
        # whose read happened before it.
        eng2 = VersionedEngine(spark, engine.warehouse, engine.storage)

        orig = VersionedEngine._write_partitioned
        done = {}

        def racing(self, df, defn, version, distribute=True, **kw):
            ops = orig(self, df, defn, version, distribute=distribute)
            if not done and defn.name.name == "cc" and self is engine:
                done["x"] = True
                eng2.insert(spark.createDataFrame([("b", "1")], ddl),
                            "db.cc", "w2", "winner")
            return ops

        VersionedEngine._write_partitioned = racing
        try:
            with pytest.raises(ConcurrentWriteError, match="d=1"):
                engine.insert(spark.createDataFrame([("c", "1")], ddl),
                              "db.cc", "u", "loser", mode="append")
        finally:
            VersionedEngine._write_partitioned = orig
        # winner's overwrite of d=1 is intact; loser's append never committed
        assert rows(engine.read("db.cc"), "id") == [("b",)]

    def test_overwrite_conflict_check_optional(self, spark, engine):
        """Default overwrite is last-writer-wins (no error); with
        check_conflicts=True the same race raises."""
        from table_versions_spark.core.log import ConcurrentWriteError
        from table_versions_spark.engine import VersionedEngine

        ddl = "id string, d string"
        engine.create_table("db.cc2", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([("a", "1")], ddl),
                      "db.cc2", "u", "base")
        eng2 = VersionedEngine(spark, engine.warehouse, engine.storage)

        orig = VersionedEngine._write_partitioned

        def make_racing(flag):
            done = {}

            def racing(self, df, defn, version, distribute=True, **kw):
                ops = orig(self, df, defn, version, distribute=distribute)
                if not done and defn.name.name == "cc2" and self is engine:
                    done["x"] = True
                    eng2.insert(spark.createDataFrame([("b", "1")], ddl),
                                "db.cc2", "w2", "winner")
                return ops
            return racing

        VersionedEngine._write_partitioned = make_racing("strict")
        try:
            with pytest.raises(ConcurrentWriteError):
                engine.insert(spark.createDataFrame([("c", "1")], ddl),
                              "db.cc2", "u", "strict loser",
                              check_conflicts=True)
        finally:
            VersionedEngine._write_partitioned = orig

        VersionedEngine._write_partitioned = make_racing("lww")
        try:
            engine.insert(spark.createDataFrame([("d", "1")], ddl),
                          "db.cc2", "u", "lww wins")
        finally:
            VersionedEngine._write_partitioned = orig
        assert rows(engine.read("db.cc2"), "id") == [("d",)]

    def test_disjoint_partitions_do_not_conflict(self, spark, engine):
        """Writers touching different partitions commit concurrently —
        optimistic concurrency must not serialize disjoint work."""
        from table_versions_spark.engine import VersionedEngine

        ddl = "id string, d string"
        engine.create_table("db.cc3", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([("a", "1"), ("x", "2")], ddl),
                      "db.cc3", "u", "base")
        eng2 = VersionedEngine(spark, engine.warehouse, engine.storage)

        orig = VersionedEngine._write_partitioned
        done = {}

        def racing(self, df, defn, version, distribute=True, **kw):
            ops = orig(self, df, defn, version, distribute=distribute)
            if not done and defn.name.name == "cc3" and self is engine:
                done["x"] = True
                eng2.insert(spark.createDataFrame([("y", "2")], ddl),
                            "db.cc3", "w2", "other partition")
            return ops

        VersionedEngine._write_partitioned = racing
        try:
            engine.insert(spark.createDataFrame([("b", "1")], ddl),
                          "db.cc3", "u", "append d=1", mode="append")
        finally:
            VersionedEngine._write_partitioned = orig
        assert rows(engine.read("db.cc3"), "id") == [
            ("a",), ("b",), ("y",)]


class TestMerge:
    """General MERGE: conditional update/delete/insert in one commit."""

    DDL = "id bigint, v string, amt double, d string"

    def _seed(self, spark, engine, name="db.mg1"):
        engine.create_table(name, schema_ddl=self.DDL,
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "old", 10.0, "a"), (2, "old", 20.0, "a"),
             (3, "old", 30.0, "a"), (4, "old", 40.0, "b")],
            self.DDL), name, "u", "v1")
        return name

    def test_merge_update_delete_insert(self, spark, engine):
        t = self._seed(spark, engine)
        src = spark.createDataFrame(
            [(1, "upd", 11.0, "a"),    # matched, amt>=11 → update
             (2, "del", 0.0, "a"),     # matched, v='del' → delete
             (3, "upd", 3.0, "a"),     # matched, neither cond → keep target
             (9, "ins", 99.0, "a")],   # unmatched → insert
            self.DDL)
        before = {p.render(): v for p, v in
                  engine.current_version(t).partition_versions.items()}
        engine.merge(src, t, keys=["id"], user_id="u", message="merge",
                     when_matched_update="s.amt >= 11.0",
                     when_matched_delete="s.v = 'del'")
        got = sorted((r["id"], r["v"], r["amt"], r["d"])
                     for r in engine.read(t).collect())
        assert got == [(1, "upd", 11.0, "a"), (3, "old", 30.0, "a"),
                       (4, "old", 40.0, "b"), (9, "ins", 99.0, "a")]
        after = {p.render(): v for p, v in
                 engine.current_version(t).partition_versions.items()}
        assert after["d=b"] == before["d=b"]   # untouched partition
        assert after["d=a"] != before["d=a"]
        # one commit; time travel sees the pre-merge rows
        hist = engine.history(t).collect()
        assert len(hist) == 3
        assert engine.read(t, at_commit=hist[1]["commit_id"]).count() == 4

    def test_merge_empties_partition(self, spark, engine):
        t = self._seed(spark, engine, "db.mg2")
        # delete every row of partition a, no updates/inserts
        src = spark.createDataFrame(
            [(1, "x", 0.0, "a"), (2, "x", 0.0, "a"), (3, "x", 0.0, "a")],
            self.DDL)
        engine.merge(src, t, keys=["id"], user_id="u", message="purge a",
                     when_matched_update=False, when_matched_delete=True,
                     when_not_matched_insert=False)
        state = {p.render() for p in
                 engine.current_version(t).partition_versions}
        assert state == {"d=b"}
        assert engine.read(t).count() == 1

    def test_merge_null_condition_does_not_fire(self, spark, engine):
        t = self._seed(spark, engine, "db.mg3")
        src = spark.createDataFrame([(1, None, None, "a")], self.DDL)
        # amt IS NULL ⇒ condition NULL ⇒ no update; row kept as-is
        engine.merge(src, t, keys=["id"], user_id="u", message="m",
                     when_matched_update="s.amt > 0",
                     when_not_matched_insert=False)
        row = engine.read(t).where("id = 1").first()
        assert (row["v"], row["amt"]) == ("old", 10.0)

    def test_merge_snapshot(self, spark, engine):
        ddl = "id bigint, v string"
        engine.create_table("db.mg4", schema_ddl=ddl)
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b")], ddl), "db.mg4", "u", "v1")
        engine.merge(spark.createDataFrame(
            [(2, "B"), (5, "E")], ddl), "db.mg4", keys=["id"],
            user_id="u", message="m")
        got = sorted((r["id"], r["v"])
                     for r in engine.read("db.mg4").collect())
        assert got == [(1, "a"), (2, "B"), (5, "E")]

    def test_merge_schema_mismatch_rejected(self, spark, engine):
        t = self._seed(spark, engine, "db.mg5")
        bad = spark.createDataFrame([(1,)], "id bigint")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="schema"):
            engine.merge(bad, t, keys=["id"], user_id="u", message="m")


class TestCloneTable:
    def test_clone_partitioned_isolated(self, spark, engine):
        ddl = "id bigint, v double, day string"
        df = spark.createDataFrame(
            [(1, 1.0, "d1"), (2, 2.0, "d1"), (3, 3.0, "d2")], ddl)
        engine.create_table("db.src", schema_ddl=ddl,
                            partition_columns=["day"])
        engine.insert(df, "db.src", "u", "base")
        engine.clone_table("db.src", "db.dst")
        assert rows(engine.read("db.dst")) == rows(engine.read("db.src"))
        # overwrite partition d1 on the clone: only the clone sees it
        engine.insert(spark.createDataFrame([(9, 9.0, "d1")], ddl),
                      "db.dst", "u", "mutate clone")
        assert rows(engine.read("db.dst"), "id") == [(3,), (9,)]
        assert rows(engine.read("db.src"), "id") == [(1,), (2,), (3,)]
        # mutate the source: the clone is isolated in both directions
        engine.insert(spark.createDataFrame([(7, 7.0, "d2")], ddl),
                      "db.src", "u", "mutate src")
        assert rows(engine.read("db.dst"), "id") == [(3,), (9,)]

    def test_clone_snapshot_carries_stats(self, spark, engine):
        from table_versions_spark.core.log import FileTableVersions

        engine.create_table("db.users", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.users", "u", "v1")
        engine.clone_table("db.users", "db.users2")
        assert rows(engine.read("db.users2")) == sorted(USERS_V1)
        defn = engine.definition("db.users2")
        smap = FileTableVersions(defn.location,
                                 engine.storage).stats_map(defn.name)
        assert smap, "clone commit must carry the source's footer stats"

    def test_clone_empty_table(self, spark, engine):
        engine.create_table("db.empty", schema_ddl=USERS_SCHEMA)
        engine.clone_table("db.empty", "db.empty2")
        assert engine.read("db.empty2").count() == 0

    def test_clone_bucketed_table_joins(self, spark, engine):
        ddl_a = "k bigint, va double"
        ddl_b = "k bigint, vb double"
        df_a = spark.createDataFrame([(i, float(i)) for i in range(50)], ddl_a)
        df_b = spark.createDataFrame([(i, float(i)) for i in range(50)], ddl_b)
        engine.create_table("db.ba", schema_ddl=ddl_a,
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.bb", schema_ddl=ddl_b,
                            bucket_columns=["k"], bucket_count=4)
        engine.insert(df_a, "db.ba", "u", "a")
        engine.insert(df_b, "db.bb", "u", "b")
        engine.clone_table("db.ba", "db.ba2")
        # the clone carries the bucket spec: it is join-compatible with
        # the co-bucketed original's partner table
        joined = engine.bucketed_join("db.ba2", "db.bb")
        assert joined.count() == 50


class TestMultiWayBucketedJoin:
    def test_three_way_star_join(self, spark, engine):
        fact = spark.createDataFrame(
            [(i % 10, float(i)) for i in range(100)], "k bigint, f double")
        d1 = spark.createDataFrame(
            [(i, f"a{i}") for i in range(10)], "k bigint, attr1 string")
        d2 = spark.createDataFrame(
            [(i, f"b{i}") for i in range(10)], "k bigint, attr2 string")
        engine.create_table("db.f", schema_ddl="k bigint, f double",
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.d1", schema_ddl="k bigint, attr1 string",
                            bucket_columns=["k"], bucket_count=4)
        engine.create_table("db.d2", schema_ddl="k bigint, attr2 string",
                            bucket_columns=["k"], bucket_count=4)
        engine.insert(fact, "db.f", "u", "fact")
        engine.insert(d1, "db.d1", "u", "d1")
        engine.insert(d2, "db.d2", "u", "d2")
        out = engine.bucketed_join("db.f", "db.d1", "db.d2")
        # identical to the plain 3-way join
        expect = fact.join(d1, "k").join(d2, "k")
        assert sorted(map(tuple, out.collect())) \
            == sorted(map(tuple, expect.collect()))
        # and contains no shuffle exchange in the whole plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan

    def test_nway_outer_rejected(self, spark, engine):
        import pytest as _pytest
        with _pytest.raises(ValueError, match="two tables"):
            engine.bucketed_join("db.a", "db.b", "db.c", how="left")

    def test_fewer_than_two_rejected(self, spark, engine):
        import pytest as _pytest
        with _pytest.raises(ValueError, match="at least two"):
            engine.bucketed_join("db.a")


class TestFileLevelSkipping:
    def test_clustered_snapshot_prunes_files(self, spark, engine):
        engine.create_table("db.fs", schema_ddl="id bigint, v double")
        df = spark.createDataFrame([(i, float(i)) for i in range(1000)],
                                   "id bigint, v double")
        engine.insert(df, "db.fs", "u", "clustered", cluster_by=["id"])
        full = engine.read("db.fs")
        assert len(full.inputFiles()) > 1  # range-partitioned into many files
        # a narrow id range lives in one sorted file: the read must touch
        # strictly fewer files and still return exactly the right rows
        narrow = engine.read("db.fs", stats_filter={"id": (10, 20)})
        assert len(narrow.inputFiles()) < len(full.inputFiles())
        assert rows(narrow.where("id BETWEEN 10 AND 20"), "id") \
            == [(i,) for i in range(10, 21)]

    def test_compact_cluster_by_enables_file_skipping(self, spark, engine):
        engine.create_table("db.fc", schema_ddl="id bigint, v double")
        # unclustered multi-file insert: interleaved ranges, no skipping
        df = spark.createDataFrame([(i, float(i)) for i in range(1000)],
                                   "id bigint, v double").repartition(8)
        engine.insert(df, "db.fc", "u", "raw")
        raw = engine.read("db.fc", stats_filter={"id": (10, 20)})
        n_raw = len(raw.inputFiles())
        engine.compact("db.fc", cluster_by=["id"])
        after = engine.read("db.fc", stats_filter={"id": (10, 20)})
        assert len(after.inputFiles()) < n_raw
        assert rows(after.where("id BETWEEN 10 AND 20"), "id") \
            == [(i,) for i in range(10, 21)]
        # and the compaction is invisible in the full answer
        assert engine.read("db.fc").count() == 1000

    def test_partitioned_cluster_by(self, spark, engine):
        engine.create_table("db.fp", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        data = [(i, "a" if i % 2 else "b") for i in range(100)]
        engine.insert(spark.createDataFrame(data, "id bigint, d string"),
                      "db.fp", "u", "v1", cluster_by=["id"])
        got = engine.read("db.fp", stats_filter={"id": (3, 5)})
        assert rows(got.where("id BETWEEN 3 AND 5"), "id") \
            == [(3,), (4,), (5,)]

    def test_file_skipping_never_drops_matching_rows(self, spark, engine):
        engine.create_table("db.fn", schema_ddl="id bigint, v double")
        df = spark.createDataFrame([(i, float(i)) for i in range(200)],
                                   "id bigint, v double")
        engine.insert(df, "db.fn", "u", "v1", cluster_by=["id"])
        for lo, hi in [(0, 0), (0, 199), (199, 199), (57, 91)]:
            got = engine.read("db.fn", stats_filter={"id": (lo, hi)})
            assert got.where(f"id BETWEEN {lo} AND {hi}").count() \
                == hi - lo + 1

    def test_clone_onto_existing_table_rejected(self, spark, engine):
        engine.create_table("db.c1", schema_ddl=USERS_SCHEMA)
        engine.insert(spark.createDataFrame(USERS_V1, USERS_SCHEMA),
                      "db.c1", "u", "v1")
        engine.clone_table("db.c1", "db.c2")
        # a retried clone must refuse, not silently double every row
        with pytest.raises(ValueError, match="already exists"):
            engine.clone_table("db.c1", "db.c2")
        assert engine.read("db.c2").count() == len(USERS_V1)

    def test_clone_carries_merge_schema(self, spark, engine):
        engine.create_table("db.ev1", schema_ddl="id bigint")
        engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                      "db.ev1", "u", "v1")
        engine.insert(spark.createDataFrame([(2, "x")], "id bigint, extra string"),
                      "db.ev1", "u", "v2", mode="append", evolve_schema=True)
        engine.clone_table("db.ev1", "db.ev2")
        assert engine.definition("db.ev2").merge_schema
        got = {(r["id"], r["extra"]) for r in engine.read("db.ev2").collect()}
        assert got == {(1, None), (2, "x")}


class TestTableStats:
    def test_log_stats_equal_scan_stats_partitioned(self, spark, engine):
        df = spark.createDataFrame(
            [(1, 10, "a"), (2, 25, "a"), (3, -5, "b"), (4, 99, "b")],
            "id bigint, v bigint, d string")
        engine.create_table("db.ts1", schema_ddl="id bigint, v bigint, d string",
                            partition_columns=["d"])
        engine.insert(df, "db.ts1", "u", "v1")
        st = engine.table_stats("db.ts1")
        assert st["missing"] == []
        assert st["rows"] == 4
        assert st["columns"]["id"] == {"min": 1, "max": 4}
        assert st["columns"]["v"] == {"min": -5, "max": 99}

    def test_stats_follow_partition_overwrite_and_time_travel(self, spark, engine):
        engine.create_table("db.ts2", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (9, "b")], "id bigint, d string"), "db.ts2", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(100, "a")], "id bigint, d string"), "db.ts2", "u", "v2")
        st = engine.table_stats("db.ts2")
        assert st["rows"] == 2  # overwritten partition a replaced, b kept
        assert st["columns"]["id"] == {"min": 9, "max": 100}
        old = engine.table_stats("db.ts2", at_commit=r1.commit_id)
        assert old["rows"] == 2
        assert old["columns"]["id"] == {"min": 1, "max": 9}

    def test_snapshot_table_stats(self, spark, engine):
        engine.create_table("db.ts3", schema_ddl="id bigint")
        engine.insert(spark.createDataFrame([(5,), (7,)], "id bigint"),
                      "db.ts3", "u", "v1")
        st = engine.table_stats("db.ts3")
        assert st["rows"] == 2 and st["columns"]["id"] == {"min": 5, "max": 7}

    def test_orc_dirs_are_reported_missing(self, spark, engine):
        # stats are parquet-footer based; an ORC table must surface its dirs
        # as missing rather than silently report rows=0 as exact
        engine.create_table("db.ts4", schema_ddl="id bigint", format="orc")
        engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                      "db.ts4", "u", "v1")
        st = engine.table_stats("db.ts4")
        assert st["missing"] and st["rows"] == 0


class TestRestore:
    def test_restore_partitioned_is_forward_commit(self, spark, engine):
        engine.create_table("db.rs1", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, d string"), "db.rs1", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(99, "a"), (3, "c")], "id bigint, d string"), "db.rs1", "u", "v2")
        n_before = engine.history("db.rs1").count()
        engine.restore("db.rs1", r1.commit_id, user_id="ops")
        got = {(r["id"], r["d"]) for r in engine.read("db.rs1").collect()}
        assert got == {(1, "a"), (2, "b")}  # partition c gone, a rolled back
        hist = engine.history("db.rs1")
        assert hist.count() == n_before + 1  # forward commit, linear history
        assert hist.first()["message"].startswith("restore to")

    def test_restore_snapshot(self, spark, engine):
        engine.create_table("db.rs2", schema_ddl="id bigint")
        r1 = engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                           "db.rs2", "u", "v1")
        engine.insert(spark.createDataFrame([(2,), (3,)], "id bigint"),
                      "db.rs2", "u", "v2")
        engine.restore("db.rs2", r1.commit_id)
        assert [r["id"] for r in engine.read("db.rs2").collect()] == [1]

    def test_restore_after_vacuum_refuses(self, spark, engine):
        engine.create_table("db.rs3", schema_ddl="id bigint, d string",
                            partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a")], "id bigint, d string"), "db.rs3", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(2, "a")], "id bigint, d string"), "db.rs3", "u", "v2")
        engine.vacuum("db.rs3", keep_commits=1, grace_hours=0)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="vacuumed"):
            engine.restore("db.rs3", r1.commit_id)
        # state untouched by the refused restore
        assert [r["id"] for r in engine.read("db.rs3").collect()] == [2]

    def test_restore_then_time_travel_still_works(self, spark, engine):
        """The rolled-over commits stay in the log: time travel to the 'bad'
        commit must still read its state after the restore."""
        engine.create_table("db.rs4", schema_ddl="id bigint")
        r1 = engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                           "db.rs4", "u", "v1")
        r2 = engine.insert(spark.createDataFrame([(2,)], "id bigint"),
                           "db.rs4", "u", "v2")
        engine.restore("db.rs4", r1.commit_id)
        assert [r["id"] for r in engine.read(
            "db.rs4", at_commit=r2.commit_id).collect()] == [2]


class TestDeletionVectors:
    def test_dv_delete_matches_rewrite_semantics(self, spark, engine):
        """mode='dv' removes exactly the predicate-TRUE rows (NULL kept),
        with ZERO data-file rewrite: the new version dir hardlinks the old
        files byte-identically, deletes live only in the _dv sidecar."""
        import os

        ddl = "id bigint, v double, d string"
        engine.create_table("dv.t", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, None, "a"), (3, 3.0, "a"), (4, 4.0, "b")],
            ddl), "dv.t", "u", "v1")
        old_files = {os.path.basename(f)
                     for f in engine.read("dv.t").inputFiles()}
        r = engine.delete("dv.t", "v < 3", "u", "dv delete", mode="dv")
        got = sorted((x.id, x.d) for x in engine.read("dv.t").collect())
        # id=1 (v=1.0) deleted; id=2 (NULL) kept — SQL semantics
        assert got == [(2, "a"), (3, "a"), (4, "b")]
        new_files = {os.path.basename(f)
                     for f in engine.read("dv.t").inputFiles()
                     if "/_dv/" not in f}  # inputFiles lists the DV scan too
        assert new_files == old_files  # same physical data files
        # untouched partition b keeps its version
        parts = engine.current_version("dv.t").partition_versions
        from table_versions_spark.core.model import Partition
        labels = {p.render(): v.label for p, v in parts.items()}
        assert labels["d=a"] != labels["d=b"]
        # time travel to pre-delete shows everything
        pre = engine.history("dv.t").collect()[-2]["commit_id"]
        assert engine.read("dv.t", at_commit=pre).count() == 4
        # log-only ANALYZE stays exact (rows adjusted by the vector)
        assert engine.table_stats("dv.t")["rows"] == 3

    def test_dv_deletes_stack_and_compact_materializes(self, spark, engine):
        import os

        ddl = "id bigint, v double, d string"
        engine.create_table("dv.s", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(i, float(i), "a") for i in range(10)], ddl), "dv.s", "u", "v1")
        engine.delete("dv.s", "id < 3", "u", "dv1", mode="dv")
        engine.delete("dv.s", "id >= 8", "u", "dv2", mode="dv")
        got = sorted(x.id for x in engine.read("dv.s").collect())
        assert got == [3, 4, 5, 6, 7]
        assert engine.table_stats("dv.s")["rows"] == 5
        # compact rewrites through the DV-applied read: vectors vanish
        engine.compact("dv.s")
        assert sorted(x.id for x in engine.read("dv.s").collect()) == got
        cur_dir = os.path.dirname(engine.read("dv.s").inputFiles()[0])
        if cur_dir.startswith("file:"):
            cur_dir = cur_dir[len("file:"):]
        assert not os.path.isdir(os.path.join(cur_dir, "_dv"))

    def test_dv_snapshot_and_tvx_source_parity(self, spark, engine):
        from table_versions_spark.streaming.source import register

        engine.create_table("dv.sn", schema_ddl="id bigint, name string")
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, name string"),
            "dv.sn", "u", "v1")
        engine.delete("dv.sn", "id = 2", "u", "dv", mode="dv")
        assert sorted(r.id for r in engine.read("dv.sn").collect()) == [1, 3]
        # the tvx data source applies the vector too
        register(spark)
        loc = engine.definition("dv.sn").location
        via_tvx = sorted(r.id for r in spark.read.format("tvx")
                         .option("location", loc).load().collect())
        assert via_tvx == [1, 3]
        # CDF read of the dv commit carries only live rows
        pre = engine.history("dv.sn").collect()[1]["commit_id"]
        changed = engine.read_changes("dv.sn", since_commit=pre)
        assert sorted(r.id for r in changed.collect()) == [1, 3]

    def test_dv_rejected_on_orc(self, spark, engine):
        import pytest as _pytest

        engine.create_table("dv.orc", schema_ddl="id bigint", format="orc")
        engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                      "dv.orc", "u", "v1")
        with _pytest.raises(ValueError, match="parquet"):
            engine.delete("dv.orc", "id = 1", "u", "x", mode="dv")

    def test_dv_update_writes_only_updated_rows(self, spark, engine):
        """update(mode='dv'): unmatched rows keep their original files
        (hardlinks + vector); only updated rows land as new files."""
        import os

        ddl = "id bigint, v double, d string"
        engine.create_table("dv.u", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b"), (4, None, "a")],
            ddl), "dv.u", "u", "v1")
        old_files = {os.path.basename(f)
                     for f in engine.read("dv.u").inputFiles()}
        engine.update("dv.u", set={"v": "v * 10"}, predicate="v < 3",
                      user_id="u", message="dv update", mode="dv")
        got = sorted((r.id, r.v, r.d) for r in engine.read("dv.u").collect())
        # NULL predicate leaves id=4 unchanged (SQL semantics)
        assert got == [(1, 10.0, "a"), (2, 20.0, "a"), (3, 3.0, "b"),
                       (4, None, "a")]
        data_files = {os.path.basename(f)
                      for f in engine.read("dv.u").inputFiles()
                      if "/_dv/" not in f}
        assert old_files <= data_files          # originals all still read
        assert len(data_files) > len(old_files)  # plus the updated-row file
        # untouched partition b keeps its version; stats stay exact
        parts = {p.render(): v.label for p, v in
                 engine.current_version("dv.u").partition_versions.items()}
        assert parts["d=a"] != parts["d=b"]
        assert engine.table_stats("dv.u")["rows"] == 4
        # stacking: dv update after dv update composes
        engine.update("dv.u", set={"v": "v + 1"}, predicate="id = 1",
                      user_id="u", message="dv update 2", mode="dv")
        got = sorted((r.id, r.v) for r in engine.read("dv.u").collect())
        assert got == [(1, 11.0), (2, 20.0), (3, 3.0), (4, None)]
        # time travel to before any update
        pre = engine.history("dv.u").collect()[-2]["commit_id"]
        assert sorted(r.v for r in engine.read("dv.u", at_commit=pre)
                      .collect() if r.v is not None) == [1.0, 2.0, 3.0]

    def test_dv_update_validates_constraints(self, spark, engine):
        """update(mode='dv') runs the same violated-row probe as the
        rewrite path: a SET that breaks a CHECK constraint rejects the
        commit before any file or vector is written."""
        import pytest as _pytest

        from table_versions_spark.engine import ConstraintViolationError

        ddl = "id bigint, v double"
        engine.create_table("dv.ck", schema_ddl=ddl,
                            check_constraints=["v >= 0"])
        engine.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], ddl),
                      "dv.ck", "u", "v1")
        pre = engine.history("dv.ck").count()
        with _pytest.raises(ConstraintViolationError):
            engine.update("dv.ck", set={"v": "-v"}, predicate="id = 2",
                          user_id="u", message="bad", mode="dv")
        assert engine.history("dv.ck").count() == pre  # nothing committed
        got = sorted((r.id, r.v) for r in engine.read("dv.ck").collect())
        assert got == [(1, 1.0), (2, 2.0)]
        # a passing SET still goes through
        engine.update("dv.ck", set={"v": "v + 1"}, predicate="id = 2",
                      user_id="u", message="ok", mode="dv")
        got = sorted((r.id, r.v) for r in engine.read("dv.ck").collect())
        assert got == [(1, 1.0), (2, 3.0)]

    def test_dv_update_casts_set_to_declared_type(self, spark, engine):
        """A SET expression whose type drifts from the declared column type
        (int literal into a double column) is cast before the file write —
        the updated-row files never carry drifted schemas."""
        ddl = "id bigint, v double"
        engine.create_table("dv.cast", schema_ddl=ddl)
        engine.insert(spark.createDataFrame([(1, 1.5), (2, 2.5)], ddl),
                      "dv.cast", "u", "v1")
        engine.update("dv.cast", set={"v": "7"}, predicate="id = 1",
                      user_id="u", message="int literal", mode="dv")
        df = engine.read("dv.cast")
        assert df.schema["v"].dataType.simpleString() == "double"
        got = sorted((r.id, r.v) for r in df.collect())
        assert got == [(1, 7.0), (2, 2.5)]

    def test_dv_on_bucketed_tables(self, spark, engine):
        """DV modes on bucketed tables keep the filename/bucket contract:
        a dv delete only links files (original part indices preserved) +
        writes the sidecar; a dv update writes ONLY the updated rows,
        hash-clustered so the new files' part indices ARE their bucket
        ids. Bucket-pruned point reads and bucketed_join must agree with
        the rewrite semantics throughout."""
        import re as _re

        ddl = "id bigint, v double"
        rows = [(i, float(i)) for i in range(40)]
        engine.create_table("dv.bk", schema_ddl=ddl,
                            bucket_columns=["id"], bucket_count=4)
        engine.create_table("dv.bk2", schema_ddl="id bigint, w double",
                            bucket_columns=["id"], bucket_count=4)
        engine.insert(spark.createDataFrame(rows, ddl), "dv.bk", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(i, float(i * 10)) for i in range(40)], "id bigint, w double"),
            "dv.bk2", "u", "v1")

        engine.delete("dv.bk", "id IN (3, 17)", "u", "dvd", mode="dv")
        assert sorted(r.id for r in engine.read("dv.bk").collect()) == \
            [i for i in range(40) if i not in (3, 17)]
        # bucket-pruned read of a deleted key: vector applied after file
        # selection, so the row is gone there too
        assert engine.read("dv.bk", bucket_filter={"id": 17}) \
            .where("id = 17").count() == 0

        engine.update("dv.bk", set={"v": "v * 100"}, predicate="id = 5",
                      user_id="u", message="dvu", mode="dv")
        got = engine.read("dv.bk", bucket_filter={"id": 5}) \
            .where("id = 5").collect()
        assert [(r.id, r.v) for r in got] == [(5, 500.0)]
        # every data file in the new version dir still carries a
        # parseable bucket index (links keep theirs; the updated-row
        # file's index came from the bucket-clustered write)
        files = {os.path.basename(f)
                 for f in engine.read("dv.bk").inputFiles()}
        assert files
        assert all(_re.search(r"part-(\d+)", f) for f in files)
        # co-bucketed join sees the dv state: deleted rows absent,
        # updated row carries the new value
        j = {(r.id, r.v, r.w) for r in
             engine.bucketed_join("dv.bk", "dv.bk2").collect()}
        assert len(j) == 38
        assert (5, 500.0, 50.0) in j
        assert not any(i in (3, 17) for i, _, _ in j)
        # the updated row joins in the RIGHT bucket: prune both sides to
        # id=5's bucket and the pair is still there
        from table_versions_spark.core.sparkhash import bucket_id
        b5 = bucket_id([5], ["bigint"], 4)
        # inputFiles() also lists the anti-join side's _dv sidecars —
        # data files only here
        upd_files = [f for f in engine.read("dv.bk").inputFiles()
                     if "/_dv/" not in f
                     and int(_re.search(r"part-(\d+)",
                                        os.path.basename(f)).group(1)) == b5]
        assert any("part-" in f for f in upd_files)
        assert 5 in {r.id for r in
                     spark.read.parquet(*upd_files).collect()}

    def test_dv_on_partitioned_bucketed_table(self, spark, engine):
        """The partitioned arm of dv delete/update on a bucketed table:
        updated rows route through the bucket-clustered partitionBy
        write, so each partition dir's new files carry the writing
        task's bucket index. Parity with rewrite semantics is the
        oracle."""
        ddl = "id bigint, v double, d string"
        rows = [(i, float(i), "a" if i % 2 else "b") for i in range(40)]
        for t in ("dv.pbk", "dv.pbk_rw"):
            engine.create_table(t, schema_ddl=ddl, partition_columns=["d"],
                                bucket_columns=["id"], bucket_count=4)
            engine.insert(spark.createDataFrame(rows, ddl), t, "u", "v1")
        for mode, t in (("dv", "dv.pbk"), ("rewrite", "dv.pbk_rw")):
            engine.delete(t, "id IN (2, 7)", "u", "del", mode=mode)
            engine.update(t, set={"v": "v + 1000"}, predicate="id >= 38",
                          user_id="u", message="upd", mode=mode)
        got = sorted(tuple(r) for r in engine.read("dv.pbk").collect())
        want = sorted(tuple(r) for r in engine.read("dv.pbk_rw").collect())
        assert got == want and len(got) == 38
        # bucket-pruned read of an updated key sees the new value
        assert [(r.id, r.v) for r in
                engine.read("dv.pbk", bucket_filter={"id": 39})
                .where("id = 39").collect()] == [(39, 1039.0)]

    def test_bucketed_join_applies_existing_vectors(self, spark, engine):
        """A vector present on a bucketed table (from before the dv-mode
        guard) must not resurrect rows through bucketed_join."""
        ddl = "id bigint, v double"
        engine.create_table("dv.bj1", schema_ddl=ddl,
                            bucket_columns=["id"], bucket_count=2)
        engine.create_table("dv.bj2", schema_ddl="id bigint, w double",
                            bucket_columns=["id"], bucket_count=2)
        engine.insert(spark.createDataFrame(
            [(i, float(i)) for i in range(6)], ddl), "dv.bj1", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(i, float(i * 10)) for i in range(6)], "id bigint, w double"),
            "dv.bj2", "u", "v1")
        before = sorted(r.id for r in
                        engine.bucketed_join("dv.bj1", "dv.bj2").collect())
        assert before == [0, 1, 2, 3, 4, 5]
        # handcraft a vector masking one row of dv.bj1 (legacy state)
        files = [f for f in engine.read("dv.bj1").inputFiles()]
        target = sorted(files)[0]
        fname = os.path.basename(target)
        vdir = os.path.dirname(target)
        if vdir.startswith("file:"):
            vdir = vdir[len("file:"):]
        masked = (spark.read.parquet(target)
                  .select("id", F.col("_metadata.row_index").alias("ri"))
                  .where("ri = 0").first()["id"])
        spark.createDataFrame([(fname, 0)], "file string, idx bigint"
                              ).coalesce(1).write.parquet(
            os.path.join(vdir, "_dv"))
        after = sorted(r.id for r in
                       engine.bucketed_join("dv.bj1", "dv.bj2").collect())
        assert len(after) == 5 and masked not in after

    def test_dv_old_vector_carry_is_single_scan(self, spark, engine,
                                                monkeypatch):
        """Stacked dv deletes across MANY partitions: carrying the old
        vectors forward is ONE parquet scan attributed by path segments,
        not one plan leaf per affected partition (VERDICT r4 #3)."""
        import pyspark.sql.readwriter as rw

        ddl = "id bigint, d string"
        engine.create_table("dv.many", schema_ddl=ddl,
                            partition_columns=["d"])
        # 20 partitions incl. a special-char value (escaped dir name)
        rows = [(i, f"p:{i % 20}") for i in range(100)]
        engine.insert(spark.createDataFrame(rows, ddl), "dv.many", "u", "v1")
        engine.delete("dv.many", "id < 60", "u", "dv1", mode="dv")
        calls = []
        orig = rw.DataFrameReader.parquet

        def counting(self, *paths, **kw):
            calls.append(paths)
            return orig(self, *paths, **kw)

        monkeypatch.setattr(rw.DataFrameReader, "parquet", counting)
        # second dv delete must merge 20 partitions' old vectors
        engine.delete("dv.many", "id >= 60 and id < 80", "u", "dv2",
                      mode="dv")
        monkeypatch.undo()
        # one read for the existing-vector anti-join + ONE for the carry —
        # never one per partition
        assert len(calls) <= 3, calls
        got = sorted(r.id for r in engine.read("dv.many").collect())
        assert got == list(range(80, 100))
        assert engine.table_stats("dv.many")["rows"] == 20

    def test_append_carries_deletion_vectors(self, spark, engine):
        """insert(mode='append') links the previous files — the vector
        must ride along or dv-deleted rows resurrect (and log-only
        ANALYZE must stay dv-adjusted)."""
        ddl = "id bigint, d string"
        engine.create_table("dv.ap", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], ddl), "dv.ap", "u", "v1")
        engine.delete("dv.ap", "id = 1", "u", "dv", mode="dv")
        engine.insert(spark.createDataFrame([(9, "a")], ddl),
                      "dv.ap", "u", "v2", mode="append")
        got = sorted(r.id for r in engine.read("dv.ap").collect())
        assert got == [2, 3, 9]          # id=1 stays deleted
        assert engine.table_stats("dv.ap")["rows"] == 3
        # snapshot table append too
        engine.create_table("dv.aps", schema_ddl="id bigint")
        engine.insert(spark.createDataFrame([(1,), (2,)], "id bigint"),
                      "dv.aps", "u", "v1")
        engine.delete("dv.aps", "id = 1", "u", "dv", mode="dv")
        engine.insert(spark.createDataFrame([(3,)], "id bigint"),
                      "dv.aps", "u", "v2", mode="append")
        assert sorted(r.id for r in engine.read("dv.aps").collect()) == [2, 3]

    def test_tvx_sink_append_carries_deletion_vectors(self, spark, engine):
        from table_versions_spark.streaming.source import register

        register(spark)
        ddl = "id bigint, d string"
        engine.create_table("dv.sk", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a")], ddl), "dv.sk", "u", "v1")
        engine.delete("dv.sk", "id = 1", "u", "dv", mode="dv")
        loc = engine.definition("dv.sk").location
        spark.createDataFrame([(9, "a")], ddl).write.format("tvx").mode(
            "append").option("location", loc).save()
        got = sorted(r.id for r in engine.read("dv.sk").collect())
        assert got == [2, 9]
        assert engine.table_stats("dv.sk")["rows"] == 2

    def test_clone_carries_deletion_vectors(self, spark, engine):
        ddl = "id bigint, d string"
        engine.create_table("dv.cl", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], ddl), "dv.cl", "u", "v1")
        engine.delete("dv.cl", "id = 1", "u", "dv", mode="dv")
        engine.clone_table("dv.cl", "dv.cl2")
        got = sorted(r.id for r in engine.read("dv.cl2").collect())
        assert got == [2, 3]
        assert engine.table_stats("dv.cl2")["rows"] == 2

    def test_dv_update_snapshot_with_column_mapping(self, spark, engine):
        """DV update on a snapshot table whose column was renamed: the
        predicate and SET use logical names, files keep physical names."""
        engine.create_table("dv.um", schema_ddl="id bigint, v double")
        engine.insert(spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id bigint, v double"), "dv.um", "u", "v1")
        engine.rename_column("dv.um", "v", "amount")
        engine.update("dv.um", set={"amount": "amount * 100"},
                      predicate="id = 2", user_id="u", message="dv",
                      mode="dv")
        got = sorted((r.id, r.amount)
                     for r in engine.read("dv.um").collect())
        assert got == [(1, 1.0), (2, 200.0)]


class TestRowLevelCDF:
    def test_dv_commits_diff_exactly(self, spark, engine):
        """DV delete/update commits produce exact row-level change sets:
        deletes from the vector delta, inserts from the new files."""
        ddl = "id bigint, v double, d string"
        engine.create_table("cdf.t", schema_ddl=ddl, partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")], ddl),
            "cdf.t", "u", "v1")
        engine.delete("cdf.t", "id = 1", "u", "dv del", mode="dv")
        changes = engine.read_changes("cdf.t", since_commit=r1.commit_id,
                                      row_level=True)
        got = sorted((r.id, r._change_type) for r in changes.collect())
        assert got == [(1, "delete")]
        # dv update: delete+insert pair for the matched row only
        r2 = engine.history("cdf.t").first()["commit_id"]
        engine.update("cdf.t", set={"v": "v * 10"}, predicate="id = 2",
                      user_id="u", message="dv upd", mode="dv")
        changes = engine.read_changes("cdf.t", since_commit=r2,
                                      row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in changes.collect())
        assert got == [(2, 2.0, "delete"), (2, 20.0, "insert")]
        # spanning both commits: net = delete(1), delete(2 old), insert(2 new)
        changes = engine.read_changes("cdf.t", since_commit=r1.commit_id,
                                      row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in changes.collect())
        assert got == [(1, 1.0, "delete"), (2, 2.0, "delete"),
                       (2, 20.0, "insert")]

    def test_dv_cdf_exact_on_special_char_partitions(self, spark, engine):
        """Hadoop URI-encodes '%' in on-disk dir names inside
        _metadata.file_path (d=x%3Ay surfaces as d=x%253Ay); the refined
        slot join must decode before matching or it silently returns an
        EMPTY diff for any special-char partition."""
        ddl = "id bigint, d string"
        engine.create_table("cdf.sp", schema_ddl=ddl, partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "x:y"), (2, "x:y"), (3, "b")], ddl), "cdf.sp", "u", "v1")
        engine.delete("cdf.sp", "id = 1", "u", "dv", mode="dv")
        changes = engine.read_changes("cdf.sp", since_commit=r1.commit_id,
                                      row_level=True)
        got = sorted((r.id, r.d, r._change_type) for r in changes.collect())
        assert got == [(1, "x:y", "delete")]

    def test_cdc_sidecars_make_rewrites_exact(self, spark, engine):
        """change_data_feed=True: rewrite-mode UPDATE/DELETE/MERGE write
        _cdc sidecars, so read_changes(row_level=True) returns exactly the
        changed rows instead of delete-all+insert-all."""
        ddl = "id bigint, v double, d string"
        engine.create_table("cdc.t", schema_ddl=ddl, partition_columns=["d"],
                            change_data_feed=True)
        r1 = engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b"), (4, 4.0, "b")],
            ddl), "cdc.t", "u", "v1")
        engine.update("cdc.t", set={"v": "v * 10"}, predicate="id = 2",
                      user_id="u", message="upd")
        ch = engine.read_changes("cdc.t", since_commit=r1.commit_id,
                                 row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == [(2, 2.0, "delete"), (2, 20.0, "insert")]
        # delete: only the matched row, not the whole rewritten partition
        r2 = engine.history("cdc.t").first()["commit_id"]
        engine.delete("cdc.t", "id = 3", "u", "del")
        ch = engine.read_changes("cdc.t", since_commit=r2, row_level=True)
        assert sorted((r.id, r._change_type) for r in ch.collect()) \
            == [(3, "delete")]
        # merge: update pair + insert, nothing else
        r3 = engine.history("cdc.t").first()["commit_id"]
        src = spark.createDataFrame([(4, 44.0, "b"), (9, 9.0, "b")], ddl)
        engine.merge(src, "cdc.t", ["id"], "u", "mrg")
        ch = engine.read_changes("cdc.t", since_commit=r3, row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == [(4, 4.0, "delete"), (4, 44.0, "insert"),
                       (9, 9.0, "insert")]
        # a span covering multiple commits misses the per-commit marker
        # and falls back to the coarse union — rows still come back
        assert engine.read_changes("cdc.t", since_commit=r1.commit_id,
                                   row_level=True).count() >= 3

    def test_cdc_upsert_and_per_commit_events(self, spark, engine):
        """upsert on a CDF table writes sidecars too; per_commit=True
        returns per-commit events tagged _commit_id, each exact, where
        the net span diff would fall back coarse."""
        ddl = "id bigint, v double, d string"
        engine.create_table("cdc.pc", schema_ddl=ddl,
                            partition_columns=["d"], change_data_feed=True)
        r1 = engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")], ddl),
            "cdc.pc", "u", "v1")
        engine.upsert(spark.createDataFrame([(2, 22.0, "a")], ddl),
                      "cdc.pc", ["id"], "u", "ups")
        c2 = engine.history("cdc.pc").first()["commit_id"]
        engine.update("cdc.pc", set={"v": "v + 1"}, predicate="id = 1",
                      user_id="u", message="upd")
        c3 = engine.history("cdc.pc").first()["commit_id"]
        # upsert alone: exact replace pair
        ch = engine.read_changes("cdc.pc", since_commit=r1.commit_id,
                                 to_commit=c2, row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == [(2, 2.0, "delete"), (2, 22.0, "insert")]
        # per-commit events over BOTH commits: each commit's exact rows
        ch = engine.read_changes("cdc.pc", since_commit=r1.commit_id,
                                 row_level=True, per_commit=True)
        got = sorted((r.id, r.v, r._change_type, r._commit_id)
                     for r in ch.collect())
        assert got == sorted([(2, 2.0, "delete", c2),
                              (2, 22.0, "insert", c2),
                              (1, 1.0, "delete", c3),
                              (1, 2.0, "insert", c3)])
        # empty span: typed empty frame with _commit_id
        ch = engine.read_changes("cdc.pc", since_commit=c3,
                                 row_level=True, per_commit=True)
        assert ch.count() == 0 and "_commit_id" in ch.columns

    def test_updates_is_driver_side_history(self, spark, engine):
        """engine.updates() (r11: the reference's List-shaped ``updates``,
        added so CDF anchors stop paying a Spark job for driver-held
        metadata) returns exactly history()'s rows, most recent first."""
        ddl = "id bigint, d string"
        engine.create_table("up.t", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([(1, "a")], ddl),
                      "up.t", "u1", "first")
        engine.insert(spark.createDataFrame([(2, "b")], ddl),
                      "up.t", "u2", "second", mode="append")
        metas = engine.updates("up.t")
        hist = engine.history("up.t").orderBy("seq", ascending=False) \
                                     .collect()
        assert [(m.commit_id, m.user_id, m.message, m.timestamp)
                for m in metas] \
            == [(r.commit_id, r.user_id, r.message, r.timestamp)
                for r in hist]
        assert metas[0].message == "second"  # most recent first

    def test_cdc_staging_failure_aborts_commit_and_cleans(
            self, spark, engine, monkeypatch, tmp_path):
        """r11 overlap invariants: the CDC staging job runs concurrent
        with the main data write, so (1) a staging failure must surface
        from the commit call with the table state unchanged, and (2) the
        ``_cdc_staging-*`` scratch dir must be gone afterwards — the same
        net state the old sequential path's ``finally`` guaranteed."""
        from table_versions_spark.engine import VersionedEngine

        ddl = "id bigint, v double, d string"
        engine.create_table("cdc.fail", schema_ddl=ddl,
                            partition_columns=["d"], change_data_feed=True)
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "b")], ddl), "cdc.fail", "u", "v1")
        pre = engine.updates("cdc.fail")[0].commit_id

        def boom(self, cdc, defn, version):
            raise RuntimeError("staging blew up")

        monkeypatch.setattr(VersionedEngine, "_stage_cdc_sidecars", boom)
        with pytest.raises(RuntimeError, match="staging blew up"):
            engine.update("cdc.fail", set={"v": "v * 10"},
                          predicate="id = 2", user_id="u", message="upd")
        monkeypatch.undo()
        # commit never happened; reads serve the pre-failure state
        assert engine.updates("cdc.fail")[0].commit_id == pre
        got = sorted((r.id, r.v) for r in
                     engine.read("cdc.fail").collect())
        assert got == [(1, 1.0), (2, 2.0)]
        # no staging scratch left under the table location
        defn, _ = engine._log("cdc.fail")
        leftovers = [d for d in os.listdir(defn.location)
                     if d.startswith("_cdc_staging-")]
        assert leftovers == []
        # and the path works again once staging behaves
        engine.update("cdc.fail", set={"v": "v * 10"},
                      predicate="id = 2", user_id="u", message="upd2")
        ch = engine.read_changes("cdc.fail", since_commit=pre,
                                 row_level=True)
        assert sorted((r.id, r.v, r._change_type) for r in ch.collect()) \
            == [(2, 2.0, "delete"), (2, 20.0, "insert")]

    def test_per_commit_span_across_schema_evolution(self, spark, engine):
        """A per-commit span crossing an evolve_schema commit unions
        frames with different column sets — pre-evolution events surface
        the new column as NULL instead of crashing."""
        engine.create_table("cdc.ev", schema_ddl="id bigint",
                            change_data_feed=True)
        r1 = engine.insert(spark.createDataFrame([(1,)], "id bigint"),
                           "cdc.ev", "u", "v1")
        engine.insert(spark.createDataFrame([(2, "x")],
                                            "id bigint, name string"),
                      "cdc.ev", "u", "v2", mode="append",
                      evolve_schema=True)
        engine.update("cdc.ev", set={"name": "'y'"}, predicate="id = 2",
                      user_id="u", message="upd")
        ch = engine.read_changes("cdc.ev", since_commit=r1.commit_id,
                                 row_level=True, per_commit=True)
        rows = {(r.id, r.name, r._change_type) for r in ch.collect()}
        # evolution commit (append = linked superset): refined diff emits
        # ONLY the added file's row; update commit: exact sidecar pair.
        # Unchanged row 1 is never re-emitted. Before the fix the
        # before-scan crashed selecting the evolved column (absent from
        # every pre-evolution file).
        assert rows == {(2, "x", "insert"), (2, "x", "delete"),
                        (2, "y", "insert")}

    def test_cdc_zero_change_rewrite_stays_exact(self, spark, engine):
        """A rewritten partition whose rewrite changed no rows (merge
        condition false) must NOT fall back to a spurious coarse
        delete-all+insert-all — the marker-only sidecar pins 'exactly no
        changes'."""
        ddl = "id bigint, v double, d string"
        engine.create_table("cdc.z", schema_ddl=ddl, partition_columns=["d"],
                            change_data_feed=True)
        r1 = engine.insert(spark.createDataFrame(
            [(1, 5.0, "a"), (2, 5.0, "b")], ddl), "cdc.z", "u", "v1")
        # source touches BOTH partitions; update condition only fires in a
        src = spark.createDataFrame([(1, 9.0, "a"), (2, 1.0, "b")], ddl)
        engine.merge(src, "cdc.z", ["id"], "u", "mrg",
                     when_matched_update="s.v > t.v",
                     when_not_matched_insert=False)
        ch = engine.read_changes("cdc.z", since_commit=r1.commit_id,
                                 row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == [(1, 5.0, "delete"), (1, 9.0, "insert")]

    def test_row_level_cdf_past_retention_fails_loudly(self, spark, engine):
        """A vacuumed before-dir makes the span's row diff unreconstructible:
        clear error, not PATH_NOT_FOUND or a silent under-report. A
        CDC-sidecar commit stays exact past retention (metadata-only)."""
        import pytest as _pytest

        ddl = "id bigint, d string"
        engine.create_table("cdf.vac", schema_ddl=ddl,
                            partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b")], ddl), "cdf.vac", "u", "v1")
        engine.insert(spark.createDataFrame([(3, "a")], ddl),
                      "cdf.vac", "u", "v2")
        engine.insert(spark.createDataFrame([(4, "a")], ddl),
                      "cdf.vac", "u", "v3")
        assert engine.vacuum("cdf.vac", keep_commits=1, grace_hours=0)
        with _pytest.raises(ValueError, match="vacuum"):
            engine.read_changes("cdf.vac", since_commit=r1.commit_id,
                                row_level=True).collect()
        # CDC table: sidecar pair survives vacuum of its before-dir
        engine.create_table("cdf.vc", schema_ddl=ddl,
                            partition_columns=["d"],
                            change_data_feed=True)
        c1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a")], ddl), "cdf.vc", "u", "v1")
        engine.delete("cdf.vc", "id = 1", "u", "del")  # rewrite + sidecar
        engine.vacuum("cdf.vc", keep_commits=1, grace_hours=0)
        ch = engine.read_changes("cdf.vc", since_commit=c1.commit_id,
                                 row_level=True)
        assert sorted((r.id, r._change_type) for r in ch.collect()) \
            == [(1, "delete")]

    def test_cdc_sidecar_snapshot_table(self, spark, engine):
        engine.create_table("cdc.sn", schema_ddl="id bigint, v double",
                            change_data_feed=True)
        s1 = engine.insert(spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id bigint, v double"), "cdc.sn", "u", "v1")
        engine.update("cdc.sn", set={"v": "0.0"}, predicate="id = 1",
                      user_id="u", message="u")
        ch = engine.read_changes("cdc.sn", since_commit=s1.commit_id,
                                 row_level=True)
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == [(1, 0.0, "insert"), (1, 1.0, "delete")]

    def test_rewrites_and_partition_lifecycle_are_coarse(self, spark, engine):
        ddl = "id bigint, d string"
        engine.create_table("cdf.c", schema_ddl=ddl, partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b")], ddl), "cdf.c", "u", "v1")
        # overwrite partition a + add partition c
        engine.insert(spark.createDataFrame([(9, "a"), (5, "c")], ddl),
                      "cdf.c", "u", "v2")
        changes = engine.read_changes("cdf.c", since_commit=r1.commit_id,
                                      row_level=True)
        got = sorted((r.id, r.d, r._change_type) for r in changes.collect())
        # partition a: coarse delete(1) + insert(9); c: insert(5); b untouched
        assert got == [(1, "a", "delete"), (5, "c", "insert"),
                       (9, "a", "insert")]
        # removing a partition yields tombstones (unlike the default mode)
        from table_versions_spark.core.model import Partition
        head = engine.history("cdf.c").first()["commit_id"]
        engine.remove_partitions("cdf.c", [Partition.parse("d=b")], "u", "rm")
        changes = engine.read_changes("cdf.c", since_commit=head,
                                      row_level=True)
        got = [(r.id, r.d, r._change_type) for r in changes.collect()]
        assert got == [(2, "b", "delete")]

    def test_snapshot_replace_and_no_change(self, spark, engine):
        engine.create_table("cdf.s", schema_ddl="id bigint, name string")
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, name string"),
            "cdf.s", "u", "v1")
        engine.insert(spark.createDataFrame(
            [(2, "b2"), (3, "c")], "id bigint, name string"),
            "cdf.s", "u", "v2")
        changes = engine.read_changes("cdf.s", since_commit=r1.commit_id,
                                      row_level=True)
        got = sorted((r.id, r.name, r._change_type)
                     for r in changes.collect())
        assert got == [(1, "a", "delete"), (2, "b", "delete"),
                       (2, "b2", "insert"), (3, "c", "insert")]
        head = engine.history("cdf.s").first()["commit_id"]
        empty = engine.read_changes("cdf.s", since_commit=head,
                                    row_level=True)
        assert empty.count() == 0
        assert "_change_type" in empty.columns


def test_mixed_case_partition_column_roundtrip(spark, engine):
    """An uppercase-containing partition column survives the whole
    write/publish/read/delete cycle (the publish-time Partition.parse
    previously rejected it AFTER the data was written)."""
    ddl = "id bigint, eventDate string"
    engine.create_table("mc.t", schema_ddl=ddl,
                        partition_columns=["eventDate"])
    engine.insert(spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], ddl), "mc.t", "u", "v1")
    got = sorted((r.id, r.eventDate) for r in engine.read("mc.t").collect())
    assert got == [(1, "2024-01-01"), (2, "2024-01-02")]
    engine.delete("mc.t", "id = 1", "u", "del")
    assert [r.id for r in engine.read("mc.t").collect()] == [2]


def test_rollup_drops_stale_aggregates_of_emptied_partition(spark, engine):
    """A dv-emptied source partition (UpdatePartitionVersion with zero
    live rows) must remove its aggregate rows from the rollup target on
    refresh — not leave the pre-delete totals forever."""
    from pyspark.sql import functions as F

    from table_versions_spark.rollup import IncrementalRollup

    ddl = "id bigint, v double, d string"
    engine.create_table("ru.src", schema_ddl=ddl, partition_columns=["d"])
    engine.insert(spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")], ddl),
        "ru.src", "u", "v1")
    r = IncrementalRollup(
        engine, "ru.src", "ru.tgt",
        agg=lambda df: df.groupBy("d").agg(F.sum("v").alias("s")),
        group_cols=["d"])
    r.refresh()
    assert sorted((x.d, x.s) for x in engine.read("ru.tgt").collect()) \
        == [("a", 3.0), ("b", 3.0)]
    engine.delete("ru.src", "d = 'a'", "u", "purge", mode="dv")
    r.refresh()
    assert sorted((x.d, x.s) for x in engine.read("ru.tgt").collect()) \
        == [("b", 3.0)]


class TestCreateTableRedeclaration:
    def test_recreate_returns_stored_definition(self, spark, engine):
        """create_table on an existing table hands back the STORED defn
        (which may carry mappings/evolved schema), never the unpersisted
        redeclaration."""
        engine.create_table("db.ct1", schema_ddl="id bigint, v string")
        engine.rename_column("db.ct1", "v", "w")
        again = engine.create_table("db.ct1")
        assert dict(again.column_mapping) == {"w": "v"}
        assert "w" in again.schema_ddl

    def test_conflicting_redeclaration_rejected(self, spark, engine):
        engine.create_table("db.ct2", schema_ddl="id bigint, v string")
        with pytest.raises(ValueError, match="already exists"):
            engine.create_table("db.ct2", partition_columns=["v"])
        with pytest.raises(ValueError, match="already exists"):
            engine.create_table("db.ct2", schema_ddl="id bigint")
        # identical redeclaration stays idempotent
        d = engine.create_table("db.ct2", schema_ddl="id bigint, v string")
        assert d.schema_ddl == "id bigint, v string"

    def test_defaulted_recreate_of_nonparquet_table(self, spark, engine):
        """A bare recreate (no format argument) of an ORC table must stay
        idempotent — only an EXPLICIT format clash rejects."""
        engine.create_table("db.ct4", schema_ddl="id bigint", format="orc")
        again = engine.create_table("db.ct4")
        assert again.format == "orc"
        assert engine.create_table("db.ct4", format="orc").format == "orc"
        with pytest.raises(ValueError, match="format"):
            engine.create_table("db.ct4", format="parquet")


class TestRmwConflictDetection:
    """upsert/merge/delete/update/compact are read-modify-write: a commit
    landing after their data read must fail their commit (OCC), not be
    silently erased by the stale rewrite."""

    DDL = "id bigint, v string, d string"

    def _base(self, spark, engine, name):
        engine.create_table(name, schema_ddl=self.DDL,
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "x", "1"), (2, "y", "2")], self.DDL), name, "u", "base")

    def _with_race(self, spark, engine, name, op):
        """Run ``op`` with a concurrent insert into d=1 injected after the
        op's data read (via the partition-write / link hook)."""
        from table_versions_spark.engine import (
            VersionedEngine,
            _link_data_files,
        )
        import table_versions_spark.engine as eng_mod

        eng2 = VersionedEngine(spark, engine.warehouse, engine.storage)
        done = {}

        def race_once():
            if not done:
                done["x"] = True
                eng2.insert(spark.createDataFrame([(9, "r", "1")], self.DDL),
                            name, "w2", "winner")

        orig_wp = VersionedEngine._write_partitioned
        orig_link = _link_data_files

        def racing_wp(eng_self, df, defn, version, distribute=True, **kw):
            ops = orig_wp(eng_self, df, defn, version,
                          distribute=distribute, **kw)
            if eng_self is engine and defn.name.name == name.split(".")[1]:
                race_once()
            return ops

        def racing_link(prev_dir, new_dir, storage):
            race_once()
            return orig_link(prev_dir, new_dir, storage)

        VersionedEngine._write_partitioned = racing_wp
        eng_mod._link_data_files = racing_link
        try:
            op()
        finally:
            VersionedEngine._write_partitioned = orig_wp
            eng_mod._link_data_files = orig_link

    def _assert_conflicts(self, spark, engine, name, op):
        from table_versions_spark.core.log import ConcurrentWriteError

        self._base(spark, engine, name)
        with pytest.raises(ConcurrentWriteError):
            self._with_race(spark, engine, name, op)
        # the winner's row survived; the loser's rewrite never landed
        got = sorted(tuple(r) for r in engine.read(name).collect())
        assert (9, "r", "1") in got

    def test_upsert(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_up",
            lambda: engine.upsert(
                spark.createDataFrame([(1, "z", "1")], self.DDL),
                "db.occ_up", ["id"], "u", "m"))

    def test_merge(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_mg",
            lambda: engine.merge(
                spark.createDataFrame([(1, "z", "1")], self.DDL),
                "db.occ_mg", ["id"], "u", "m"))

    def test_delete_rewrite(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_del",
            lambda: engine.delete("db.occ_del", "id = 1", "u", "m"))

    def test_update_rewrite(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_upd",
            lambda: engine.update("db.occ_upd", {"v": "'q'"}, "id = 1",
                                  "u", "m"))

    def test_delete_dv(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_dvd",
            lambda: engine.delete("db.occ_dvd", "id = 1", "u", "m",
                                  mode="dv"))

    def test_update_dv(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_dvu",
            lambda: engine.update("db.occ_dvu", {"v": "'q'"}, "id = 1",
                                  "u", "m", mode="dv"))

    def test_compact(self, spark, engine):
        self._assert_conflicts(
            spark, engine, "db.occ_cp",
            lambda: engine.compact("db.occ_cp", "u"))


def test_vacuum_grace_window_protects_inflight_dirs(spark, engine):
    """An unreferenced version dir younger than grace_hours survives
    vacuum — it may belong to an in-flight write that published files but
    has not committed yet; grace_hours=0 removes it."""
    ddl = "id bigint, d string"
    engine.create_table("db.vg", schema_ddl=ddl, partition_columns=["d"])
    engine.insert(spark.createDataFrame([(1, "a")], ddl), "db.vg", "u", "c1")
    engine.insert(spark.createDataFrame([(2, "a")], ddl), "db.vg", "u", "c2")
    engine.insert(spark.createDataFrame([(3, "a")], ddl), "db.vg", "u", "c3")
    # default grace: the freshly-written superseded dirs are kept
    assert engine.vacuum("db.vg", keep_commits=1) == []
    # explicit zero-grace: they go
    assert engine.vacuum("db.vg", keep_commits=1, grace_hours=0)
    assert sorted(r.id for r in engine.read("db.vg").collect()) == [3]


class TestCdfRefinedScanShape:
    def test_pure_vector_delete_span_skips_after_state(self, spark,
                                                       engine):
        """Round-11 optimization pin: the refined row-level diff serves
        deletes AND resurrections from ONE before-scan (tagged position
        join), and loads only files NEW in the after dirs — decided
        driver-side from the listings. A pure dv-delete span adds no
        files, so the plan must contain exactly one DATA scan (the
        before dir); the after dir may appear only under its _dv
        sidecar. The pre-optimization shape paid three full data scans
        here (before for deletes, after for the file-name anti-join
        inserts, after again for resurrections)."""
        import re

        ddl = "id bigint, v double"
        engine.create_table("cdf.shape", schema_ddl=ddl)
        engine.insert(spark.createDataFrame(
            [(i, float(i)) for i in range(10)], ddl),
            "cdf.shape", "u", "v1")
        pre = engine.updates("cdf.shape")[0].commit_id
        engine.delete("cdf.shape", "id < 3", "u", "dv del", mode="dv")
        ch = engine.read_changes("cdf.shape", since_commit=pre,
                                 row_level=True)
        got = sorted((r.id, r._change_type) for r in ch.collect())
        assert got == [(0, "delete"), (1, "delete"), (2, "delete")]
        # plan shape on a FRESH frame: a post-execution explain renders
        # Final + Initial AQE sections, double-counting every scan
        ch = engine.read_changes("cdf.shape", since_commit=pre,
                                 row_level=True)
        plan = ch._sc._jvm.PythonSQLUtils.explainString(
            ch._jdf.queryExecution(), "formatted")
        # detail sections of every parquet scan, up to their ReadSchema:
        # data scans are the ones whose Location is not a /_dv sidecar
        # dir (suffix match — a test tmp dir may contain "_dv" itself)
        scans = re.split(r"\n\(\d+\) Scan parquet", plan)[1:]
        data_scans = [s for s in scans
                      if "/_dv]" not in s.split("ReadSchema")[0]]
        assert len(data_scans) == 1, plan


class TestDvDeleteStatsCarry:
    def test_carried_payload_matches_footer_recompute(self, spark, engine):
        """Round-11 optimization pin: a dv delete's committed stats are
        CARRIED from the previous version's payload (files are links —
        footer stats identical; rows move by the staged position count)
        instead of re-reading every data footer. The carried payload
        must equal what the footer pass would have produced."""
        import os as _os

        from table_versions_spark.engine import (_DV_DIR,
                                                 _collect_version_stats,
                                                 _dv_row_count)

        ddl = "id bigint, v double, d string"
        engine.create_table("dvs.carry", schema_ddl=ddl,
                            partition_columns=["d"])
        rows = [(i, float(i * 10), "a" if i < 6 else "b")
                for i in range(10)]
        engine.insert(spark.createDataFrame(rows, ddl), "dvs.carry",
                      "u", "v1")
        engine.delete("dvs.carry", "id in (1, 3)", "u", "purge",
                      mode="dv")
        defn, log = engine._log("dvs.carry")
        state = log.current_version(defn.name)
        smap = log.stats_map(defn.name)
        for p, v in state.partition_versions.items():
            if p.render() != "d=a":
                continue  # only the affected partition got a new dir
            rel = _os.path.join(p.render(), v.label)
            new_dir = _os.path.join(defn.location, rel)
            carried = smap[rel]
            recomputed = _collect_version_stats(new_dir, engine.storage)
            recomputed["rows"] = max(
                recomputed["rows"] - _dv_row_count(
                    _os.path.join(new_dir, _DV_DIR), engine.storage), 0)
            assert carried == recomputed, (carried, recomputed)
            assert carried["rows"] == 4  # 6 'a' rows − 2 deleted
        # live reads agree end-to-end
        assert engine.read("dvs.carry").count() == 8

    def test_delete_carry_path_actually_ran(self, spark, engine,
                                            monkeypatch):
        """ADVICE r11 #3: carried == recomputed also holds if the carry
        silently regresses to the footer fallback, so pin that the
        fallback did NOT run: with ``_collect_version_stats`` rigged to
        raise, a dv delete over a stats-bearing previous version must
        still commit a stats payload."""
        from table_versions_spark import engine as engmod

        ddl = "id bigint, v double"
        engine.create_table("dvs.ran", schema_ddl=ddl)
        engine.insert(spark.createDataFrame(
            [(i, float(i)) for i in range(8)], ddl), "dvs.ran", "u", "v1")

        def boom(*a, **k):
            raise AssertionError("footer fallback ran during dv delete")

        monkeypatch.setattr(engmod, "_collect_version_stats", boom)
        engine.delete("dvs.ran", "id < 2", "u", "purge", mode="dv")
        defn, log = engine._log("dvs.ran")
        state = log.current_version(defn.name)
        payload = log.stats_map(defn.name)[state.version.label]
        assert payload["rows"] == 6

    def test_bloom_column_gap_forces_footer_fallback(self, spark,
                                                     engine):
        """ADVICE r11 #1: when a bloom column is declared AFTER the
        previous version committed, the carry must decline (its payload
        lacks that column's bloom) so the footer pass builds it —
        otherwise the gap propagates through every later dv delete."""
        from table_versions_spark.engine import _carried_dv_stats

        prev = {"rows": 10, "columns": {"id": {"min": 0, "max": 9}},
                "bloom": {"v": {"m": 8, "k": 1, "bits": "AA=="}}}
        # every declared column covered -> carry fires
        assert _carried_dv_stats(prev, 2, ("v",))["rows"] == 8
        # a later-declared column missing from the payload -> fall back
        assert _carried_dv_stats(prev, 2, ("v", "id")) is None
        assert _carried_dv_stats({"rows": 10}, 2, ("v",)) is None


class TestDvUpdateStatsCarry:
    """Round-12 (VERDICT r11 #6): a dv UPDATE's committed stats merge
    the previous payload (covering the hardlinked files) with footer
    reads of ONLY the newly written updated-row files."""

    def _recompute(self, engine, new_dir):
        import os as _os

        from table_versions_spark.engine import (_DV_DIR,
                                                 _collect_version_stats,
                                                 _dv_row_count)

        rec = _collect_version_stats(new_dir, engine.storage)
        rec["rows"] = max(
            rec["rows"] - _dv_row_count(
                _os.path.join(new_dir, _DV_DIR), engine.storage), 0)
        return rec

    def test_update_carried_payload_matches_footer_recompute(
            self, spark, engine):
        import os as _os

        ddl = "id bigint, v double, d string"
        engine.create_table("dvu.carry", schema_ddl=ddl,
                            partition_columns=["d"])
        rows = [(i, float(i * 10), "a" if i < 6 else "b")
                for i in range(10)]
        # two files per partition (append links the first insert's file
        # next to the second's) so the previous payload records
        # per-file entries — the carry merges them, never re-reads them
        half = [r for r in rows if r[0] % 2 == 0]
        rest = [r for r in rows if r[0] % 2 == 1]
        engine.insert(spark.createDataFrame(half, ddl),
                      "dvu.carry", "u", "v1")
        engine.insert(spark.createDataFrame(rest, ddl),
                      "dvu.carry", "u", "v2", mode="append")
        engine.update("dvu.carry", {"v": "v + 1"}, "id in (1, 3)", "u",
                      "bump", mode="dv")
        defn, log = engine._log("dvu.carry")
        state = log.current_version(defn.name)
        smap = log.stats_map(defn.name)
        checked = 0
        for p, v in state.partition_versions.items():
            if p.render() != "d=a":
                continue
            rel = _os.path.join(p.render(), v.label)
            carried = smap[rel]
            recomputed = self._recompute(
                engine, _os.path.join(defn.location, rel))
            assert carried == recomputed, (carried, recomputed)
            assert carried["rows"] == 6  # update never changes liveness
            checked += 1
        assert checked == 1
        # end-to-end: values updated, row count stable
        got = {r.id: r.v for r in engine.read("dvu.carry").collect()}
        assert len(got) == 10 and got[1] == 11.0 and got[3] == 31.0

    def test_update_carry_path_actually_ran(self, spark, engine,
                                            monkeypatch):
        """The fallback (a footer pass over the WHOLE dir) must not run:
        only the staged new files may be footer-read. Rig the collector
        to reject any directory that is not the update staging dir."""
        from table_versions_spark import engine as engmod

        real = engmod._collect_version_stats
        ddl = "id bigint, v double"
        engine.create_table("dvu.ran", schema_ddl=ddl)
        engine.insert(spark.createDataFrame(
            [(i, float(i)) for i in range(8)], ddl), "dvu.ran", "u", "v1")

        def staged_only(version_dir, *a, **k):
            assert "_upd_staging-" in version_dir, (
                f"footer pass over non-staging dir: {version_dir}")
            return real(version_dir, *a, **k)

        monkeypatch.setattr(engmod, "_collect_version_stats", staged_only)
        engine.update("dvu.ran", {"v": "v * 2"}, "id = 4", "u", "x2",
                      mode="dv")
        defn, log = engine._log("dvu.ran")
        state = log.current_version(defn.name)
        payload = log.stats_map(defn.name)[state.version.label]
        assert payload["rows"] == 8
        assert {r.v for r in engine.read("dvu.ran").where("id = 4")
                .collect()} == {8.0}


class TestCdfDeclaredChangeTypeColumn:
    def test_row_level_diff_overwrites_declared_change_type(
            self, spark, engine):
        """ADVICE r11 #2: a table column literally named _change_type
        must not break the refined row-level diff — the internal tag
        overwrites it in the output, matching the kind-literal
        branches' withColumn semantics."""
        ddl = "id bigint, _change_type string"
        engine.create_table("cdf.ctcol", schema_ddl=ddl)
        engine.insert(spark.createDataFrame([(1, "x"), (2, "y")], ddl),
                      "cdf.ctcol", "u", "v1")
        pre = engine.updates("cdf.ctcol")[0].commit_id
        engine.delete("cdf.ctcol", "id = 1", "u", "dv", mode="dv")
        ch = engine.read_changes("cdf.ctcol", since_commit=pre,
                                 row_level=True)
        assert ch.columns.count("_change_type") == 1
        assert sorted((r.id, r._change_type) for r in ch.collect()) \
            == [(1, "delete")]


class TestCdfResurrection:
    def test_restore_of_dv_delete_resurrects_rows(self, spark, engine):
        """A restore of a dv-delete commit SHRINKS the deletion vector
        (same files, smaller vector): the refined row-level diff must
        emit the resurrected rows as inserts, never an empty change set."""
        ddl = "id bigint, d string"
        engine.create_table("cdf.rz", schema_ddl=ddl, partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a")], ddl), "cdf.rz", "u", "v1")
        engine.delete("cdf.rz", "id = 1", "u", "dv del", mode="dv")
        pre = engine.history("cdf.rz").first()["commit_id"]
        engine.restore("cdf.rz", r1.commit_id, "u")
        ch = engine.read_changes("cdf.rz", since_commit=pre, row_level=True)
        got = sorted((r.id, r._change_type) for r in ch.collect())
        assert got == [(1, "insert")]
        # spanning delete+restore: state is back to v1, so no pair at all
        ch = engine.read_changes("cdf.rz", since_commit=r1.commit_id,
                                 row_level=True)
        assert ch.count() == 0

    def test_streaming_change_feed_resurrection(self, spark, engine):
        """The streaming change feed's refined executor path emits the
        same resurrection inserts."""
        import pyarrow as pa

        from table_versions_spark.streaming.source import (
            VersionedTableParallelStreamReader)

        ddl = "id bigint, d string"
        engine.create_table("cdf.rs", schema_ddl=ddl, partition_columns=["d"])
        r1 = engine.insert(spark.createDataFrame(
            [(1, "a"), (2, "a")], ddl), "cdf.rs", "u", "v1")
        engine.delete("cdf.rs", "id = 1", "u", "dv del", mode="dv")
        engine.restore("cdf.rs", r1.commit_id, "u")
        loc = engine.definition("cdf.rs").location
        r = VersionedTableParallelStreamReader(loc, change_feed=True)
        head = r.latestOffset()["seq"]
        parts = r.partitions({"seq": head - 1}, {"seq": head})
        assert len(parts) == 1 and parts[0].kind == "refined"
        rows = [row for p in parts for b in r.read(p)
                for row in pa.Table.from_batches([b]).to_pylist()]
        got = sorted((x["id"], x["_change_type"]) for x in rows)
        assert got == [(1, "insert")]


def test_streaming_change_feed_vacuumed_dir_fails_loudly(spark, engine):
    """ChangeFeed planning over a vacuumed before-dir must raise the
    retention error, not degrade to refined-with-empty-before (which
    re-emits the whole after dir as inserts and drops every delete)."""
    import shutil

    import pytest as _pytest

    from table_versions_spark.streaming.source import (
        VersionedTableParallelStreamReader)

    ddl = "id bigint, d string"
    engine.create_table("cdf.vg", schema_ddl=ddl, partition_columns=["d"])
    engine.insert(spark.createDataFrame([(1, "a")], ddl), "cdf.vg", "u", "v1")
    first = engine.history("cdf.vg").first()["commit_id"]
    loc = engine.definition("cdf.vg").location
    r = VersionedTableParallelStreamReader(loc, change_feed=True)
    engine.insert(spark.createDataFrame([(2, "a")], ddl), "cdf.vg", "u", "v2")
    # simulate vacuum removing the superseded before-dir
    before_dir = r._state_dirs(1)["d=a"]
    shutil.rmtree(before_dir)
    with _pytest.raises(ValueError, match="vacuumed"):
        r.partitions({"seq": 1}, {"seq": 2})


class TestEngineReviewFixes:
    def test_upsert_missing_column_refused(self, spark, engine):
        """Survivors are projected to df.columns: a column missing from
        the upsert frame would silently NULL it for every untouched row
        in the touched partitions — refuse loudly instead."""
        ddl = "id bigint, v string, extra string"
        engine.create_table("rf.up", schema_ddl=ddl)
        engine.insert(spark.createDataFrame([(1, "a", "keep")], ddl),
                      "rf.up", "u", "base")
        with pytest.raises(ValueError, match="upsert source schema"):
            engine.upsert(spark.createDataFrame([(1, "b")],
                                                "id bigint, v string"),
                          "rf.up", ["id"], "u", "bad")

    def test_delete_drops_boolean_partition(self, spark, engine):
        """Partition drop lists render collected Python values: str(True)
        is 'True' but Spark's dir is 'flag=true' — the emptied partition
        must still be dropped (and its rows must not survive)."""
        ddl = "id bigint, flag boolean"
        engine.create_table("rf.bp", schema_ddl=ddl,
                            partition_columns=["flag"])
        engine.insert(spark.createDataFrame(
            [(1, True), (2, False)], ddl), "rf.bp", "u", "base")
        engine.delete("rf.bp", "flag = true", "u", "purge true")
        got = [(r.id, r.flag) for r in engine.read("rf.bp").collect()]
        assert got == [(2, False)]
        state = engine._log("rf.bp")[1].current_version()
        assert [p.render() for p in state.partition_versions] \
            == ["flag=false"]

    def test_delete_drops_timestamp_partition_with_micros(self, spark,
                                                          engine):
        """Spark renders ts partition dirs with trailing fractional zeros
        trimmed ('.5', not '.500000'); the drop-list render must match."""
        import datetime as dt

        ddl = "id bigint, ts timestamp"
        engine.create_table("rf.tp", schema_ddl=ddl,
                            partition_columns=["ts"])
        engine.insert(spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1, 0, 0, 0, 500000)),
             (2, dt.datetime(2021, 1, 1))], ddl), "rf.tp", "u", "base")
        engine.delete("rf.tp", "id = 1", "u", "purge")
        assert [r.id for r in engine.read("rf.tp").collect()] == [2]
        state = engine._log("rf.tp")[1].current_version()
        assert len(state.partition_versions) == 1

    def test_restore_after_checkout_restores_against_head(self, spark,
                                                          engine):
        """Restore ops land on top of the full-log fold: after a checkout
        moved the pointer back, a restore targeting that same state must
        still emit the ops that bring the HEAD there — a pointer-based
        diff would commit no-ops and the head state would win."""
        ddl = "id bigint, d string"
        engine.create_table("rf.rs", schema_ddl=ddl, partition_columns=["d"])
        c1 = engine.insert(spark.createDataFrame([(1, "a")], ddl),
                           "rf.rs", "u", "v1")
        engine.insert(spark.createDataFrame([(2, "a")], ddl),
                      "rf.rs", "u", "v2")
        engine.checkout("rf.rs", c1.commit_id)
        assert [r.id for r in engine.read("rf.rs").collect()] == [1]
        engine.restore("rf.rs", c1.commit_id, "u")
        assert [r.id for r in engine.read("rf.rs").collect()] == [1]

    def test_bucketed_join_applies_column_mapping(self, spark, engine):
        """bucketed_join surfaces logical names and hides dropped columns
        like every other read surface."""
        engine.create_table("rf.bf", schema_ddl="k bigint, amount double",
                            bucket_columns=["k"], bucket_count=2)
        engine.create_table("rf.bd", schema_ddl="k bigint, name string",
                            bucket_columns=["k"], bucket_count=2)
        engine.insert(spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                            "k bigint, amount double"),
                      "rf.bf", "u", "f")
        engine.insert(spark.createDataFrame([(1, "x")],
                                            "k bigint, name string"),
                      "rf.bd", "u", "d")
        engine.rename_column("rf.bf", "amount", "revenue")
        out = engine.bucketed_join("rf.bf", "rf.bd")
        assert "revenue" in out.columns and "amount" not in out.columns
        assert [(r.k, r.revenue, r.name) for r in out.collect()] \
            == [(1, 10.0, "x")]

    def test_txn_recheck_blocks_duplicate_append(self, spark, engine):
        """probe-then-commit alone double-applies a batch when a racing
        duplicate (same txn token) lands between the probe and the
        commit; the commit-time recheck must skip instead."""
        from table_versions_spark.engine import VersionedEngine

        ddl = "id bigint, d string"
        engine.create_table("rf.tx", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame([(0, "a")], ddl),
                      "rf.tx", "u", "base")
        eng2 = VersionedEngine(spark, engine.warehouse, engine.storage)
        done = {}
        orig = VersionedEngine._write_partitioned

        def racing(eng_self, df, defn, version, distribute=True, **kw):
            ops = orig(eng_self, df, defn, version,
                       distribute=distribute, **kw)
            if defn.name.name == "tx" and not done and eng_self is engine:
                done["x"] = True  # zombie writer lands the SAME txn first
                eng2.insert(spark.createDataFrame([(1, "a")], ddl),
                            "rf.tx", "w2", "zombie", mode="append",
                            txn=("app", 5))
            return ops

        VersionedEngine._write_partitioned = racing
        try:
            r = engine.insert(spark.createDataFrame([(1, "a")], ddl),
                              "rf.tx", "u", "retry", mode="append",
                              txn=("app", 5))
        finally:
            VersionedEngine._write_partitioned = orig
        # the retry was skipped: batch applied exactly once
        got = sorted(r.id for r in engine.read("rf.tx").collect())
        assert got == [0, 1]
        assert not r.changes.operations  # skip reported as empty change set

    def test_update_dv_single_matched_set(self, spark, engine):
        """dv-update's positions, payload and probe all read ONE
        materialized matched set — a non-deterministic predicate must not
        mask rows that were never rewritten."""
        ddl = "id bigint, v double, d string"
        engine.create_table("rf.nd", schema_ddl=ddl, partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(i, float(i), "a") for i in range(200)], ddl),
            "rf.nd", "u", "base")
        engine.update("rf.nd", set={"v": "-1.0"}, predicate="rand() < 0.5",
                      user_id="u", message="nd", mode="dv")
        rows = engine.read("rf.nd").collect()
        assert len(rows) == 200  # no row lost, no row duplicated
        assert all(r.v == -1.0 or r.v == float(r.id) for r in rows)


class TestReviewFixesR5:
    def test_float_partition_column_refused_at_create(self, spark, engine):
        """Approximate/binary partition types have no cross-engine
        directory-name parity — refused at declaration, not deep in a
        later delete/merge render."""
        with pytest.raises(ValueError, match="approximate/binary"):
            engine.create_table("rf.fp", schema_ddl="id bigint, x double",
                                partition_columns=["x"])
        with pytest.raises(ValueError, match="approximate/binary"):
            engine.create_table("rf.fp2", schema_ddl="id bigint, b binary",
                                partition_columns=["b"])

    def test_float_partition_refused_at_insert_for_ddl_less_table(
            self, spark, engine):
        """DDL-less tables can't be checked at create — the frame check
        must reject BEFORE any file is written."""
        engine.create_table("rf.fpi", partition_columns=["x"])
        df = spark.createDataFrame([(1, 2.5)], "id bigint, x double")
        with pytest.raises(ValueError, match="approximate/binary"):
            engine.insert(df, "rf.fpi", "u", "base")

    def test_upsert_accepts_case_variant_source(self, spark, engine):
        """Spark resolves columns case-insensitively; the schema guard
        must too, and the rewrite must land files with DECLARED casing."""
        ddl = "id bigint, v string, d string"
        engine.create_table("rf.uc", schema_ddl=ddl,
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, "old", "a"), (2, "keep", "a")], ddl), "rf.uc", "u", "base")
        src = spark.createDataFrame(
            [(1, "new", "a")], "ID bigint, V string, D string")
        engine.upsert(src, "rf.uc", keys=["id"], user_id="u",
                      message="case-variant upsert")
        got = engine.read("rf.uc")
        assert got.columns == ["id", "v", "d"]  # declared casing on disk
        assert sorted((r.id, r.v) for r in got.collect()) \
            == [(1, "new"), (2, "keep")]

    def test_update_dv_bad_set_expression_leaves_no_scratch(
            self, spark, engine):
        """A SET expression that fails to parse must not strand the
        materialized match set (root-level scratch is never vacuumed)."""
        ddl = "id bigint, v double, d string"
        engine.create_table("rf.badset", schema_ddl=ddl,
                            partition_columns=["d"])
        engine.insert(spark.createDataFrame(
            [(1, 1.0, "a"), (2, 2.0, "a")], ddl), "rf.badset", "u", "base")
        defn = engine.definition("rf.badset")
        with pytest.raises(Exception):
            engine.update("rf.badset", set={"v": "v +"}, predicate="id > 0",
                          user_id="u", message="bad", mode="dv")
        leftovers = [f for f in engine.storage.list_dir(defn.location)
                     if f.startswith("_match_staging")]
        assert leftovers == []


class TestStringPartitionCanonicalization:
    """Numeric-looking STRING partition values ('01') must survive every
    read and mutation surface verbatim. Spark's partition-type inference
    turns 'month=01' into int 1 at load; casting back yields '1' — a
    DIFFERENT value, which made reads corrupt values and made rewrite
    deletes duplicate survivors into a new 'month=1' dir while 'month=01'
    stayed current. The engine now loads under
    ``_raw_partition_types`` (inference off) and casts raw strings to the
    declared schema."""

    DDL = "id bigint, month string"

    def _make(self, spark, engine, name):
        engine.create_table(name, schema_ddl=self.DDL,
                            partition_columns=["month"])
        engine.insert(spark.createDataFrame(
            [(1, "01"), (2, "01"), (3, "02"), (4, "12")], self.DDL),
            name, "u", "load")

    def test_read_and_mutations_preserve_leading_zero_values(
            self, spark, engine):
        self._make(spark, engine, "sp.t")
        assert sorted(map(tuple, engine.read("sp.t").collect())) == \
            [(1, "01"), (2, "01"), (3, "02"), (4, "12")]

        # rewrite delete: survivors stay in month=01, nothing duplicates
        engine.delete("sp.t", "id = 1", "u", "del")
        assert sorted(map(tuple, engine.read("sp.t").collect())) == \
            [(2, "01"), (3, "02"), (4, "12")]

        # dv delete + dv update resolve the same partition dirs
        engine.delete("sp.t", "id = 3", "u", "del dv", mode="dv")
        engine.update("sp.t", {"id": "id + 100"}, "month = '12'", "u",
                      "upd dv", mode="dv")
        assert sorted(map(tuple, engine.read("sp.t").collect())) == \
            [(2, "01"), (104, "12")]

        # partition_filter and the physical layout agree on the raw value
        assert [tuple(r) for r in engine.read(
            "sp.t", partition_filter={"month": "01"}).collect()] == \
            [(2, "01")]
        dirs = {d for d in engine.storage.list_dir(
            engine.definition("sp.t").location) if d.startswith("month")}
        assert dirs == {"month=01", "month=02", "month=12"}

    def test_change_feed_carries_raw_values(self, spark, engine):
        self._make(spark, engine, "sp.cf")
        # newest-first: row 0 is the insert commit (the load)
        base = engine.history("sp.cf").first()["commit_id"]
        engine.delete("sp.cf", "id = 2", "u", "del", mode="dv")
        feed = engine.read_changes("sp.cf", since_commit=base,
                                   row_level=True)
        rows = {(r["id"], r["month"], r["_change_type"])
                for r in feed.collect()}
        assert (2, "01", "delete") in rows

    def test_declared_int_partition_still_casts(self, spark, engine):
        """Inference-off must not regress declared NON-string partitions:
        the raw dir string casts to the declared int."""
        ddl = "id bigint, bucket int"
        engine.create_table("sp.i", schema_ddl=ddl,
                            partition_columns=["bucket"])
        engine.insert(spark.createDataFrame([(1, 7), (2, 12)], ddl),
                      "sp.i", "u", "load")
        got = engine.read("sp.i")
        assert dict(got.dtypes)["bucket"] == "int"
        assert sorted(map(tuple, got.collect())) == [(1, 7), (2, 12)]

    def test_session_invariant_inference_off(self, spark):
        """get_spark() pins inference OFF at build time, so the common
        path never mutates session conf at all."""
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        assert spark.conf.get(key) == "false"

    def test_concurrent_reads_never_corrupt_string_partitions(
            self, spark, engine):
        """_raw_partition_types toggles SESSION-global conf; interleaved
        set/restore windows from concurrent threads could run a load with
        inference ON and resurface the '01'→'1' corruption. The window is
        now lock-serialized — hammer it from 8 threads on a session whose
        conf simulates a foreign (inference-ON) session."""
        import threading

        self._make(spark, engine, "sp.conc")
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(key)
        expected = [(1, "01"), (2, "01"), (3, "02"), (4, "12")]
        bad: list = []
        barrier = threading.Barrier(8)

        def reader():
            barrier.wait()
            for _ in range(5):
                got = sorted(map(tuple, engine.read("sp.conc").collect()))
                if got != expected:
                    bad.append(got)

        spark.conf.set(key, "true")  # foreign session: invariant absent
        try:
            threads = [threading.Thread(target=reader) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        finally:
            spark.conf.set(key, prev)
        assert bad == [], f"corrupted reads under concurrency: {bad[:3]}"
        # restore path: the toggled value came back
        assert spark.conf.get(key) == prev

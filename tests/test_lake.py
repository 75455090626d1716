"""Versioned-table round-trips modeled on the reference's
update_versioning.py flow (update → time-travel → restore) plus schema
enforcement/evolution from lakehouse_data_igestion.py, and the
three-zone pipeline end-to-end."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.lake.versioned import (
    CommitConflict,
    ConstraintViolationError,
    SchemaEnforcementError,
    VersionedTable,
    WhenMatched,
    WhenNotMatched,
    retry_on_conflict,
)
from data_pipeline_with_spark_spark.lake.zones import LakeLayout, run_reference_pipeline


@pytest.fixture()
def cars(spark):
    # Mirrors the EEA CO2 shape (FIXTURES.md group B): MS/Mh/ec_cm3/year.
    return spark.createDataFrame(
        [
            ("IT", "FERRARI", 4000.0, 2018),
            ("DE", "BMW", 2000.0, 2018),
            ("FR", "RENAULT", 1200.0, 2019),
        ],
        ["MS", "Mh", "ec_cm3", "year"],
    )


def test_update_time_travel_restore(spark, cars, tmp_path):
    # update_versioning.py:40-79 round-trip.
    t = VersionedTable(spark, str(tmp_path / "cars")).create(cars)
    t.update(where="Mh = 'FERRARI'", set_exprs={"ec_cm3": "ec_cm3 + 10"})
    after = {r.Mh: r.ec_cm3 for r in t.read().collect()}
    assert after["FERRARI"] == 4010.0 and after["BMW"] == 2000.0
    # D5 time travel to v0
    before = {r.Mh: r.ec_cm3 for r in t.read(version=0).collect()}
    assert before["FERRARI"] == 4000.0
    # D6 restore
    t.restore(0)
    assert {r.Mh: r.ec_cm3 for r in t.read().collect()}["FERRARI"] == 4000.0
    ops = [h["operation"] for h in t.history()]
    assert ops == ["RESTORE", "UPDATE", "CREATE"]


def test_schema_enforcement_and_evolution(spark, cars, tmp_path):
    # lakehouse_data_igestion.py:126-128 (reject) + 202-212 (mergeSchema).
    t = VersionedTable(spark, str(tmp_path / "evo")).create(cars)
    batch_2020 = spark.createDataFrame(
        [("ES", "SEAT", 1500.0, 2020, 95.5)],
        ["MS", "Mh", "ec_cm3", "year", "Enedc_g/km_V2"],
    )
    with pytest.raises(SchemaEnforcementError):
        t.append(batch_2020)
    t.append(batch_2020, merge_schema=True)
    df = t.read()
    assert "Enedc_g/km_V2" in df.columns and df.count() == 4
    # old rows null in the evolved column
    assert df.where(F.col("`Enedc_g/km_V2`").isNull()).count() == 3
    # type mismatch always rejected
    bad = spark.createDataFrame([("X", "Y", "not-a-number", 2021)], ["MS", "Mh", "ec_cm3", "year"])
    with pytest.raises(SchemaEnforcementError):
        t.append(bad, merge_schema=True)


def test_vacuum_retention_spares_young_orphans_and_recent_superseded(
    spark, cars, tmp_path
):
    # Two retention classes (r7 advice + r9 concurrent-reader fix;
    # Delta's deletedFileRetentionDuration, default 7 days):
    # - a never-committed dir can be a LIVE in-flight staging attempt
    #   (between its parquet write and its O_EXCL log publish) — mtime
    #   within the window spares it;
    # - a dir superseded by a RECENT commit can still be held by a
    #   concurrent reader's snapshot — supersede time within the
    #   window spares it too (collecting it immediately is the
    #   FileNotFound race test_maintenance_beside_active_folds found).
    import os
    import time

    t = VersionedTable(spark, str(tmp_path / "ret")).create(cars)
    t.optimize()  # supersedes v0's dir — JUST NOW, inside retention

    # fake in-flight staging attempts (never referenced by any commit)
    young = t.data_dir / "v99_aaaaaaaa"
    young.mkdir()
    (young / "part-0.parquet").write_bytes(b"x")
    old = t.data_dir / "v98_bbbbbbbb"
    old.mkdir()
    (old / "part-0.parquet").write_bytes(b"x")
    stale = time.time() - 8 * 24 * 3600
    os.utime(old, (stale, stale))

    removed = t.vacuum(keep_versions=1)
    assert not any("v0" in p for p in removed)  # superseded recently: spared
    assert str(old) in removed  # past retention: collected
    assert str(young) not in removed and young.exists()  # spared

    # retention 0 opts into eager collection for BOTH classes
    removed2 = t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert str(young) in removed2 and not young.exists()
    assert any("v0" in p for p in removed2)


def test_vacuum_sql_retain_hours_clause(spark, cars, tmp_path):
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL

    t = VersionedTable(spark, str(tmp_path / "sqlret")).create(cars)
    orphan = t.data_dir / "v77_cccccccc"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"x")
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("sqlret", t)
    # default retention spares the young orphan
    kept = {r.removed_path for r in router.sql("VACUUM sqlret DRY RUN").collect()}
    assert str(orphan) not in kept
    # RETAIN 0 HOURS collects it (Delta's retention-override syntax)
    got = {
        r.removed_path
        for r in router.sql("VACUUM sqlret RETAIN 0 HOURS DRY RUN").collect()
    }
    assert str(orphan) in got and orphan.exists()  # dry run never deletes


def test_type_widening_evolution(spark, tmp_path):
    # Delta-style type widening: value-preserving promotions
    # (int-chain, float->double) widen the TABLE schema under
    # merge_schema — existing narrow files upcast at read under the
    # explicit scan schema, nothing rewrites. Narrower incoming data is
    # never a schema change. Lossy/incompatible stays rejected.
    import pyspark.sql.types as T

    t = VersionedTable(spark, str(tmp_path / "widen")).create(
        spark.createDataFrame([(1, 1.5)], "id INT, v FLOAT")
    )
    # narrower incoming: accepted without merge_schema, schema unchanged
    t.append(spark.createDataFrame([(2, 2.5)], "id SMALLINT, v FLOAT"))
    assert dict(VersionedTable._schema_fields(t.read().schema)) == {
        "id": "int", "v": "float",
    }
    # wider incoming without merge_schema: rejected with the remedy
    wide = spark.createDataFrame([(3_000_000_000, 3.5)], "id BIGINT, v DOUBLE")
    with pytest.raises(SchemaEnforcementError, match="widen"):
        t.append(wide)
    # with merge_schema the table widens; ALL rows (narrow v0/v1 files
    # included) read under the new types with values intact
    t.append(wide, merge_schema=True)
    df = t.read()
    assert dict(VersionedTable._schema_fields(df.schema)) == {
        "id": "bigint", "v": "double",
    }
    got = {r.id: r.v for r in df.collect()}
    assert got[1] == 1.5 and got[2] == 2.5 and got[3_000_000_000] == 3.5
    # time travel reads v0 under its own (narrow) schema
    assert dict(VersionedTable._schema_fields(t.read(version=0).schema)) == {
        "id": "int", "v": "float",
    }
    # lossy promotion is NOT widening: bigint data for an int column
    # would truncate — stays a hard mismatch even with merge_schema...
    t2 = VersionedTable(spark, str(tmp_path / "nolossy")).create(
        spark.createDataFrame([(1,)], "n BIGINT")
    )
    with pytest.raises(SchemaEnforcementError, match="type mismatch"):
        t2.append(spark.createDataFrame([("x",)], "n STRING"), merge_schema=True)
    # ...while bigint->double (past 2^53 precision) is excluded from
    # the widening chains in BOTH directions of evolution
    with pytest.raises(SchemaEnforcementError, match="type mismatch"):
        t2.append(spark.createDataFrame([(1.0,)], "n DOUBLE"), merge_schema=True)


def test_append_references_prior_files(spark, cars, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "app")).create(cars)
    t.append(cars)
    assert t.read().count() == 6
    assert t.read(version=0).count() == 3


def test_convert_and_optimize_zorder(spark, cars, tmp_path):
    src = str(tmp_path / "plain_parquet")
    cars.repartition(3).write.parquet(src)
    t = VersionedTable.convert_from_parquet(spark, src, str(tmp_path / "conv"))
    assert t.read().count() == 3  # D1: no data copied, log points at src
    t.optimize(zorder_by=["MS"])
    assert t.read().count() == 3
    assert t.history()[0]["operation"] == "OPTIMIZE"
    # compacted output is a single partition file set
    assert t.read().rdd.getNumPartitions() == 1


def test_delete_and_vacuum(spark, cars, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "del")).create(cars)
    t.delete(where="MS = 'IT'")
    assert t.read().count() == 2
    # file-granular DELETE carries non-matching files by reference, so
    # parts of v0 stay live; OPTIMIZE rewrites the snapshot, after which
    # vacuum can drop every older directory.
    t.optimize()
    removed = t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert removed  # pre-optimize dirs no longer referenced
    assert t.read().count() == 2  # live snapshot intact


def test_reference_pipeline_zones(spark, sf_dir, tmp_path):
    counts = run_reference_pipeline(spark, sf_dir, str(tmp_path / "lake"))
    assert counts["raw"] == 3  # one row per returnflag
    assert counts["curated"] == 3
    assert 0 < counts["serving"] <= 2 * 7  # top-2 per year
    lake = LakeLayout(str(tmp_path / "lake"))
    # partitioned serving layout (X2): year=... directories exist
    from pathlib import Path

    parts = list(Path(lake.serving, "top_by_year").glob("year=*"))
    assert parts


def test_describe_and_landing(spark, cars, tmp_path):
    # D8 DESCRIBE + S8 landing-zone move
    t = VersionedTable(spark, str(tmp_path / "desc")).create(cars)
    cols = dict(t.describe())
    assert cols == {"MS": "string", "Mh": "string", "ec_cm3": "double", "year": "bigint"}

    src = tmp_path / "incoming.csv"
    src.write_text("a,b\n1,2\n")
    lake = LakeLayout(str(tmp_path / "zone")).ensure()
    landed = lake.land(str(src), "batch1/incoming.csv")
    from pathlib import Path

    assert Path(landed).read_text().startswith("a,b")
    assert landed.startswith(lake.raw)


def test_data_skipping_prunes_files(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable
    from data_pipeline_with_spark_spark.sources.readers import read_testdata

    orders = read_testdata(spark, "/root/testdata/sf0.01", "orders")
    t = VersionedTable(spark, str(tmp_path / "orders_v"))
    t.create(orders)
    # Z-order-lite on o_custkey → disjoint per-file ranges → skippable.
    t.optimize(zorder_by=["o_custkey"], target_partitions=8)

    pred = ("o_custkey", "<=", 50)
    kept, total = t.plan_files(pred)
    assert total == 8 and len(kept) < total  # pruning actually happened

    got = {tuple(r) for r in t.read_where(pred).collect()}
    expected = {tuple(r) for r in t.read().where("o_custkey <= 50").collect()}
    assert got == expected and len(got) > 0


def test_merge_upsert(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "m"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id INT, tag STRING, v DOUBLE"
    )
    t.create(base)
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id INT, tag STRING, v DOUBLE"
    )
    t.merge_upsert(source, keys=["id"])
    got = {(r.id, r.tag, r.v) for r in t.read().collect()}
    assert got == {(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)}
    assert t.history()[0]["operation"] == "MERGE"
    # pre-merge snapshot intact via time travel
    assert {r.id for r in t.read(version=0).collect()} == {1, 2, 3}


def test_merge_conditional_clauses(spark, tmp_path):
    # Delta-style MERGE with conditional UPDATE / DELETE / INSERT clauses.
    from data_pipeline_with_spark_spark.lake.versioned import (
        VersionedTable,
        WhenMatched,
        WhenNotMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "mc"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id INT, tag STRING, v DOUBLE",
    )
    t.create(base)
    source = spark.createDataFrame(
        [(2, "B", 99.0), (3, "C", -1.0), (5, "e", 50.0), (6, "f", -5.0)],
        "id INT, tag STRING, v DOUBLE",
    )
    t.merge(
        source,
        keys=["id"],
        matched=[
            # first-match-wins: negative source v deletes the target row …
            WhenMatched(delete=True, condition="s.v < 0"),
            # … otherwise update tag from source and bump v by the source's
            WhenMatched(update={"tag": "s.tag", "v": "t.v + s.v"}),
        ],
        not_matched=[
            # only non-negative source rows insert, with a computed tag
            WhenNotMatched(
                insert={"id": "s.id", "tag": "upper(s.tag)", "v": "s.v"},
                condition="s.v >= 0",
            ),
        ],
    )
    got = {(r.id, r.tag, r.v) for r in t.read().collect()}
    assert got == {
        (1, "a", 10.0),      # target-only: untouched
        (2, "B", 119.0),     # matched, 2nd clause: tag from source, v summed
        # 3 deleted (s.v < 0)
        (4, "d", 40.0),      # target-only: untouched
        (5, "E", 50.0),      # not-matched insert with computed tag
        # 6 not inserted (condition s.v >= 0 fails)
    }
    assert t.history()[0]["operation"] == "MERGE"
    # pre-merge snapshot intact
    assert {r.id for r in t.read(version=0).collect()} == {1, 2, 3, 4}


def test_merge_cardinality_check(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import (
        MergeCardinalityError,
        VersionedTable,
        WhenMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "dup"))
    t.create(spark.createDataFrame([(1, 1.0)], "id INT, v DOUBLE"))
    dup_source = spark.createDataFrame([(1, 2.0), (1, 3.0)], "id INT, v DOUBLE")
    with pytest.raises(MergeCardinalityError):
        t.merge(dup_source, keys=["id"], matched=[WhenMatched()])


def test_optimize_where_partial_compaction(spark, tmp_path):
    # OPTIMIZE … WHERE rewrites only stats-overlapping files; content is
    # unchanged and untouched files carry over by reference.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    rows = [(i, i % 7, float(i)) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "k INT, g INT, v DOUBLE")
    t = VersionedTable(spark, str(tmp_path / "ow"))
    t.create(df)
    # cluster on k so per-file ranges are disjoint → predicate selects few
    t.optimize(zorder_by=["k"], target_partitions=8)
    before = {tuple(r) for r in t.read().collect()}
    files_before, total_before = t._snapshot_files(), None
    sel, total = t.plan_files(("k", "<=", 50))
    assert 0 < len(sel) < total

    t.optimize_where(("k", "<=", 50), zorder_by=["k"], target_partitions=1)
    # content identical
    assert {tuple(r) for r in t.read().collect()} == before
    # only the selected files were rewritten; the rest carried over
    params = next(h for h in t.history() if h["operation"] == "OPTIMIZE")["params"]
    assert params.get("rewritten_files") == len(sel)
    assert params.get("carried_files") == total - len(sel)
    files_after, _ = t._snapshot_files()
    assert set(files_after) & set(files_before[0])  # untouched files shared
    # time travel still reads the pre-compaction snapshot
    assert {tuple(r) for r in t.read(version=1).collect()} == before
    # vacuum keeps directories pinned by loose-file references
    t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert {tuple(r) for r in t.read().collect()} == before


def test_optimize_where_noop_when_no_overlap(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "nop"))
    t.create(spark.createDataFrame([(1, 1.0)], "k INT, v DOUBLE"))
    n_commits = len(t.history())
    t.optimize_where(("k", ">", 100))
    assert len(t.history()) == n_commits  # no-op commits nothing


def test_partitioned_table_lifecycle(spark, tmp_path):
    # Hive-partitioned VersionedTable: layout preserved across DML,
    # partition pruning from paths, content stable through OPTIMIZE WHERE.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    df = spark.createDataFrame(
        [(i, 2018 + i % 3, float(i)) for i in range(90)], "k INT, year INT, v DOUBLE"
    )
    t = VersionedTable(spark, str(tmp_path / "pt"))
    t.create(df, partition_by=["year"])
    assert t.partition_columns() == ["year"]
    base = {tuple(r) for r in df.collect()}
    assert {tuple(r) for r in t.read().collect()} == base
    # append inherits the layout
    t.append(spark.createDataFrame([(1000, 2021, 1.0)], "k INT, year INT, v DOUBLE"))
    assert {tuple(r) for r in t.read().collect()} == base | {(1000, 2021, 1.0)}
    # partition pruning straight from k=v paths (no footer reads needed)
    kept, total = t.plan_files(("year", "=", 2018))
    assert kept and len(kept) < total and all("year=2018" in f for f in kept)
    got = {tuple(r) for r in t.read_where(("year", "=", 2018)).collect()}
    assert got == {r for r in base if r[1] == 2018}
    # UPDATE rewrites but keeps hive layout
    t.update(where="k = 0", set_exprs={"v": "v + 100"})
    from pathlib import Path as _P

    newest = _P(t._latest().data_dirs[-1])  # dir names carry a uuid suffix
    assert any(c.name.startswith("year=") for c in newest.iterdir() if c.is_dir())
    assert {r.v for r in t.read().where("k = 0").collect()} == {100.0}
    # partial compaction of one partition: content identical, others carried
    before = {tuple(r) for r in t.read().collect()}
    t.optimize_where(("year", "=", 2019))
    assert {tuple(r) for r in t.read().collect()} == before
    params = t.history()[0]["params"]
    assert params["rewritten_files"] > 0 and params["carried_files"] > 0
    # time travel reaches the pre-update partitioned snapshot
    assert {r.v for r in t.read(version=1).where("k = 0").collect()} == {0.0}
    # vacuum never breaks the live snapshot (loose refs pin ancestors)
    t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert {tuple(r) for r in t.read().collect()} == before


def test_true_zorder_prunes_on_both_columns(spark, tmp_path):
    # Morton interleave vs lexicographic: after Z-ORDER BY (x, y), a
    # range predicate on y alone must prune files — lexicographic
    # clustering can't do that (every file spans all of y).
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x INT, y INT, payload INT")

    tz = VersionedTable(spark, str(tmp_path / "z")).create(df)
    tz.optimize(zorder_by=["x", "y"], target_partitions=16)
    kept_x, total = tz.plan_files(("x", "<=", 15))
    kept_y, _ = tz.plan_files(("y", "<=", 15))
    assert total == 16
    assert len(kept_x) <= total // 2      # leading column prunes
    assert len(kept_y) <= total // 2      # trailing column prunes too
    # correctness unchanged
    got = {tuple(r) for r in tz.read_where(("y", "<=", 15)).collect()}
    assert got == {r for r in rows if r[1] <= 15}

    # single-column path stays lexicographic and still prunes
    tl = VersionedTable(spark, str(tmp_path / "lex")).create(df)
    tl.optimize(zorder_by=["x"], target_partitions=16)
    kept_lx, _ = tl.plan_files(("x", "<=", 15))
    assert len(kept_lx) <= 5


def test_change_data_feed(spark, tmp_path):
    # Delta CDF analogue: insert/delete tagging across versions,
    # updates surface as delete+insert, schema evolution null-fills.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "cdf"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, tag STRING"))
    t.append(spark.createDataFrame([(3, "c")], "id INT, tag STRING"))
    t.update(where="id = 1", set_exprs={"tag": "'A'"})

    v0_v1 = {(r.id, r.tag, r._change_type) for r in t.changes(0, 1).collect()}
    assert v0_v1 == {(3, "c", "insert")}
    v1_v2 = {(r.id, r.tag, r._change_type) for r in t.changes(1, 2).collect()}
    assert v1_v2 == {(1, "a", "delete"), (1, "A", "insert")}
    # full-range diff vs latest
    v0_now = {(r.id, r.tag, r._change_type) for r in t.changes(0).collect()}
    assert v0_now == {(3, "c", "insert"), (1, "a", "delete"), (1, "A", "insert")}
    # evolution: new column reads as NULL for pre-evolution rows
    t.append(
        spark.createDataFrame([(4, "d", 9.0)], "id INT, tag STRING, score DOUBLE"),
        merge_schema=True,
    )
    delta = {(r.id, r.tag, r.score, r._change_type) for r in t.changes(2, 3).collect()}
    assert delta == {(4, "d", 9.0, "insert")}


def test_idempotent_append_exactly_once(spark, tmp_path):
    # foreachBatch replay protection: same (app, batch) applies once.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "txn"))
    t.create(spark.createDataFrame([(0, "seed")], "id INT, tag STRING"))
    batch = spark.createDataFrame([(1, "a")], "id INT, tag STRING")
    assert t.idempotent_append(batch, app_id="job1", batch_id=0) is True
    assert t.idempotent_append(batch, app_id="job1", batch_id=0) is False  # replay
    assert t.read().count() == 2
    assert t.idempotent_append(batch, app_id="job1", batch_id=1) is True
    # a different app's transaction log is independent
    assert t.idempotent_append(batch, app_id="job2", batch_id=0) is True
    assert t.read().count() == 4


def test_stream_changes_incremental(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "cdc"))
    t.create(spark.createDataFrame([(1, "a")], "id INT, tag STRING"))
    t.append(spark.createDataFrame([(2, "b")], "id INT, tag STRING"))
    t.update(where="id = 1", set_exprs={"tag": "'A'"})
    seen = {
        v: {(r.id, r.tag, r._change_type) for r in df.collect()}
        for v, df in t.stream_changes(start_version=0)
    }
    assert seen == {
        1: {(2, "b", "insert")},
        2: {(1, "a", "delete"), (1, "A", "insert")},
    }


def test_zorder_string_column_prunes(spark, tmp_path):
    # String Z-order via rank dictionary: equality on the string column
    # must prune files after clustering on (category, x).
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    cats = ["apple", "berry", "cherry", "damson", "elder", "fig", "grape", "haw"]
    rows = [(cats[i % 8], i, float(i)) for i in range(512)]
    df = spark.createDataFrame(rows, "category STRING, x INT, v DOUBLE")
    t = VersionedTable(spark, str(tmp_path / "zs")).create(df)
    t.optimize(zorder_by=["category", "x"], target_partitions=8)
    kept, total = t.plan_files(("category", "=", "apple"))
    assert total == 8 and len(kept) < total
    got = {tuple(r) for r in t.read_where(("category", "=", "apple")).collect()}
    assert got == {r for r in rows if r[0] == "apple"}
    # numeric co-key still prunes as well
    kept_x, _ = t.plan_files(("x", "<=", 63))
    assert len(kept_x) < total


def test_optimize_fragmented_targets_worst_partition(spark, tmp_path):
    # Three appends fragment year=2020 most; the scheduler must pick it,
    # compact only it, and leave content identical.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "frag"))
    t.create(
        spark.createDataFrame([(1, 2019, "a"), (2, 2020, "b")], "k INT, year INT, tag STRING"),
        partition_by=["year"],
    )
    for i in range(3):
        t.append(spark.createDataFrame([(10 + i, 2020, "x")], "k INT, year INT, tag STRING"))
    before = {tuple(r) for r in t.read().collect()}

    def files_for(year):
        files, _ = t._snapshot_files()
        return [f for f in files if f"year={year}" in f]

    frag_before = len(files_for(2020))
    assert frag_before >= 4
    compacted = t.optimize_fragmented(max_partitions=1)
    assert compacted == [2020]
    assert {tuple(r) for r in t.read().collect()} == before
    assert len(files_for(2020)) < frag_before
    # already-compact table: nothing to do
    assert t.optimize_fragmented(max_partitions=1) == []


def test_merge_matched_only_broadcasts_and_works(spark, tmp_path):
    # A matched-only merge takes the left-outer path: small sources
    # broadcast instead of forcing a full-outer sort-merge.
    from data_pipeline_with_spark_spark.lake.versioned import (
        VersionedTable,
        WhenMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "mo"))
    t.create(
        spark.createDataFrame([(i, float(i)) for i in range(500)], "id INT, v DOUBLE")
    )
    src = spark.createDataFrame([(7, 0.0), (9, -1.0)], "id INT, v DOUBLE")
    t.merge(
        src,
        keys=["id"],
        matched=[
            WhenMatched(delete=True, condition="s.v < 0"),
            WhenMatched(update={"v": "s.v"}),
        ],
    )
    got = {r.id: r.v for r in t.read().where("id IN (7, 8, 9)").collect()}
    assert got == {7: 0.0, 8: 8.0}  # 9 deleted, 7 updated, 8 untouched
    assert t.read().count() == 499


def test_conjunctive_predicate_pruning(spark, tmp_path):
    # AND-list predicates: composite-partition pruning + stats pruning
    # compose; read_where applies the full conjunction.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    rows = [(i, 2018 + i % 2, ["eu", "us"][i % 2 == 0], float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "k INT, year INT, region STRING, v DOUBLE")
    t = VersionedTable(spark, str(tmp_path / "conj"))
    t.create(df, partition_by=["year", "region"])
    preds = [("year", "=", 2018), ("k", "<=", 50)]
    kept, total = t.plan_files(preds)
    assert 0 < len(kept) < total
    assert all("year=2018" in f for f in kept)
    got = {tuple(r) for r in t.read_where(preds).collect()}
    assert got == {r for r in rows if r[1] == 2018 and r[0] <= 50} and got
    # composite-partition fragmentation targeting
    t.append(spark.createDataFrame([(1000, 2018, "us", 0.0)] , "k INT, year INT, region STRING, v DOUBLE"))
    t.append(spark.createDataFrame([(1001, 2018, "us", 0.0)] , "k INT, year INT, region STRING, v DOUBLE"))
    before = {tuple(r) for r in t.read().collect()}
    compacted = t.optimize_fragmented(max_partitions=1)
    assert compacted == [(2018, "us")]
    assert {tuple(r) for r in t.read().collect()} == before


def test_shallow_clone_zero_copy(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    src.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, tag STRING"))
    src.append(spark.createDataFrame([(3, "c")], "id INT, tag STRING"))
    clone = VersionedTable.clone_from(src, str(tmp_path / "cl"))
    assert {r.id for r in clone.read().collect()} == {1, 2, 3}
    # divergence: writes to either side don't affect the other
    clone.append(spark.createDataFrame([(4, "d")], "id INT, tag STRING"))
    src.delete(where="id = 1")
    assert {r.id for r in clone.read().collect()} == {1, 2, 3, 4}
    assert {r.id for r in src.read().collect()} == {2, 3}
    # historical clone
    old = VersionedTable.clone_from(src, str(tmp_path / "cl0"), version=0)
    assert {r.id for r in old.read().collect()} == {1, 2}
    assert old.history()[0]["operation"] == "CLONE"


def test_check_constraints_enforced(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import (
        ConstraintViolationError,
        VersionedTable,
        WhenMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "ck"))
    t.create(spark.createDataFrame([(1, 10.0), (2, 20.0)], "id INT, v DOUBLE"))
    t.add_constraint("v_positive", "v > 0")
    # adding a constraint the snapshot violates must fail
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("v_small", "v < 15")
    # appends enforce
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(3, -1.0)], "id INT, v DOUBLE"))
    t.append(spark.createDataFrame([(3, 3.0)], "id INT, v DOUBLE"))
    # UPDATE enforces
    with pytest.raises(ConstraintViolationError):
        t.update(where="id = 1", set_exprs={"v": "-5.0"})
    # MERGE enforces
    with pytest.raises(ConstraintViolationError):
        t.merge(
            spark.createDataFrame([(2, -9.0)], "id INT, v DOUBLE"),
            keys=["id"],
            matched=[WhenMatched()],
        )
    # NULL evaluations pass (SQL CHECK semantics)
    t.append(spark.createDataFrame([(4, None)], "id INT, v DOUBLE"))
    # drop, then the bad append goes through
    t.drop_constraint("v_positive")
    t.append(spark.createDataFrame([(5, -1.0)], "id INT, v DOUBLE"))
    assert t.read().count() == 5


def test_not_null_constraint_lifecycle(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import (
        ConstraintViolationError,
        VersionedTable,
        WhenMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "nn"))
    t.create(spark.createDataFrame([(1, 10.0), (2, None)], "id INT, v DOUBLE"))
    # SET NOT NULL rejects when the snapshot already holds nulls
    with pytest.raises(ConstraintViolationError):
        t.set_not_null("v")
    t.set_not_null("id")
    with pytest.raises(ValueError):
        t.set_not_null("id")  # already constrained
    with pytest.raises(ValueError):
        t.set_not_null("nope")  # unknown column
    assert t.not_null_columns() == ["id"]
    assert t.detail()["not_null_columns"] == ["id"]
    # appends enforce: explicit null AND a missing constrained column
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None, 1.0)], "id INT, v DOUBLE"))
    with pytest.raises(ConstraintViolationError):
        t.append(
            spark.createDataFrame([(3.0,)], "v DOUBLE"), merge_schema=True
        )
    # UPDATE and MERGE enforce
    with pytest.raises(ConstraintViolationError):
        t.update(where="id = 1", set_exprs={"id": "NULL"})
    with pytest.raises(ConstraintViolationError):
        t.merge(
            spark.createDataFrame([(1, 5.0)], "id INT, v DOUBLE"),
            keys=["id"],
            matched=[WhenMatched(update={"id": "NULL"})],
        )
    t.append(spark.createDataFrame([(3, 3.0)], "id INT, v DOUBLE"))
    # rename carries the constraint; drop releases it
    t.rename_column("id", "pk")
    assert t.not_null_columns() == ["pk"]
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None, 1.0)], "pk INT, v DOUBLE"))
    t.drop_not_null("pk")
    assert t.not_null_columns() == []
    t.append(spark.createDataFrame([(None, 1.0)], "pk INT, v DOUBLE"))
    assert t.read().where("pk IS NULL").count() == 1
    with pytest.raises(ValueError):
        t.drop_not_null("pk")  # nothing to drop


def test_not_null_sql_route(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL
    from data_pipeline_with_spark_spark.lake.versioned import (
        ConstraintViolationError,
        VersionedTable,
    )

    t = VersionedTable(spark, str(tmp_path / "nnsql"))
    t.create(spark.createDataFrame([(1, "a")], "id INT, s STRING"))
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("nn_t", t)
    router.sql("ALTER TABLE nn_t ALTER COLUMN id SET NOT NULL")
    assert t.not_null_columns() == ["id"]
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(None, "b")], "id INT, s STRING"))
    router.sql("ALTER TABLE nn_t ALTER COLUMN id DROP NOT NULL")
    assert t.not_null_columns() == []


def test_incremental_agg_view_tracks_dml(spark, tmp_path):
    # Build a sum/count view, then drive the base table through every
    # DML shape; after each refresh the view must equal a full
    # recompute, while only reading the change feed (cost ∝ delta).
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView
    from data_pipeline_with_spark_spark.lake.versioned import (
        VersionedTable,
        WhenMatched,
        WhenNotMatched,
    )

    t = VersionedTable(spark, str(tmp_path / "base"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)], "id INT, k STRING, v INT"
        )
    )
    view = IncrementalAggView(
        spark, t, str(tmp_path / "view"), keys=["k"], sum_cols=["v"]
    )
    view.build()

    def recompute():
        return {
            (r.k): (r.sum_v, r.n_rows)
            for r in t.read()
            .groupBy("k")
            .agg(
                F.coalesce(F.sum(F.coalesce("v", F.lit(0))), F.lit(0)).alias("sum_v"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        }

    def view_state():
        return {(r.k): (r.sum_v, r.n_rows) for r in view.read().collect()}

    assert view_state() == recompute() == {"a": (30, 2), "b": (5, 1)}

    # append (new key + existing key)
    t.append(spark.createDataFrame([(4, "c", 7), (5, "a", 1)], "id INT, k STRING, v INT"))
    stats = view.refresh()
    assert stats["changed_keys"] == 2
    assert view_state() == recompute()

    # update
    t.update(where="id = 2", set_exprs={"v": "v + 100"})
    view.refresh()
    assert view_state() == recompute()

    # delete wiping out a whole group -> group leaves the view
    t.delete(where="k = 'b'")
    view.refresh()
    assert "b" not in view_state()
    assert view_state() == recompute()

    # merge: update + insert in one commit
    t.merge(
        spark.createDataFrame([(4, "c", 9), (6, "d", 2)], "id INT, k STRING, v INT"),
        keys=["id"],
        matched=[WhenMatched()],
        not_matched=[WhenNotMatched()],
    )
    view.refresh()
    assert view_state() == recompute()

    # exactly-once bookkeeping: watermark rode the merge commit and a
    # second refresh is a no-op
    assert view.last_synced_version() == t._latest().version
    assert view.refresh()["changed_keys"] == 0
    assert view_state() == recompute()

    # metadata-only source commit advances the watermark without a merge
    t.set_properties({"foo": "bar"})
    assert view.refresh()["changed_keys"] == 0
    assert view.last_synced_version() == t._latest().version

    # all-null sum group: folds as 0, matching the view's definition
    t.append(spark.createDataFrame([(7, "e", None)], "id INT, k STRING, v INT"))
    view.refresh()
    assert view_state()["e"] == (0, 1)
    assert view_state() == recompute()


def test_matview_sql_routes(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "mvbase"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 50), (3, "b", 7)], "id INT, k STRING, v INT"
        )
    )
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("base_t", t)
    created = router.sql(
        "CREATE MATERIALIZED VIEW mv_t AS "
        "SELECT k, sum(v) AS sum_v, min(v) AS min_v, count(*) AS n_rows "
        "FROM base_t GROUP BY k"
    ).collect()[0]
    assert created.materialized_view == "mv_t"
    # the view is SELECTable through the router under its own name
    got = {
        r.k: (r.sum_v, r.min_v, r.n_rows)
        for r in router.sql("SELECT k, sum_v, min_v, n_rows FROM mv_t").collect()
    }
    assert got == {"a": (60, 10, 2), "b": (7, 7, 1)}
    # DML on the base + REFRESH picks up the delta incrementally
    t.append(spark.createDataFrame([(4, "b", 2)], "id INT, k STRING, v INT"))
    t.delete(where="id = 1")
    stats = router.sql("REFRESH MATERIALIZED VIEW mv_t").collect()[0]
    assert stats.changed_keys == 2
    got = {
        r.k: (r.sum_v, r.min_v, r.n_rows)
        for r in router.sql("SELECT k, sum_v, min_v, n_rows FROM mv_t").collect()
    }
    assert got == {"a": (50, 50, 1), "b": (9, 2, 2)}
    # guardrails: unsupported aggregates and dangling names say why
    with pytest.raises(ValueError, match="unsupported select item"):
        router.sql(
            "CREATE MATERIALIZED VIEW mv_bad AS SELECT k, avg(v) FROM base_t GROUP BY k"
        )
    with pytest.raises(KeyError, match="no materialized view"):
        router.sql("REFRESH MATERIALIZED VIEW nope")
    # duplicate select items would make every later reference ambiguous
    with pytest.raises(ValueError, match="duplicate select item"):
        router.sql(
            "CREATE MATERIALIZED VIEW mv_dup AS "
            "SELECT k, sum(v), sum(v) FROM base_t GROUP BY k"
        )
    # the view's backing table is read-only through the router: DML on
    # it would desync the CDF watermark and corrupt every later refresh
    with pytest.raises(ValueError, match="materialized view"):
        router.sql("DELETE FROM mv_t WHERE k = 'a'")
    with pytest.raises(ValueError, match="materialized view"):
        router.sql("UPDATE mv_t SET sum_v = 0")
    # ... but read-shaped routes still work on it
    assert router.sql("DESCRIBE HISTORY mv_t").count() >= 1
    # content-preserving maintenance is allowed: OPTIMIZE rewrites
    # files, not logical rows, so a later refresh stays correct
    router.sql("OPTIMIZE mv_t")
    t.append(spark.createDataFrame([(5, "a", 4)], "id INT, k STRING, v INT"))
    router.sql("REFRESH MATERIALIZED VIEW mv_t")
    got = {
        r.k: (r.sum_v, r.n_rows)
        for r in router.sql("SELECT k, sum_v, n_rows FROM mv_t").collect()
    }
    assert got == {"a": (54, 2), "b": (9, 2)}
    # a matview may not shadow a parquet registration either
    router.register_parquet("pq_t", str(tmp_path / "nowhere"))
    with pytest.raises(ValueError, match="already registered"):
        router.sql(
            "CREATE MATERIALIZED VIEW pq_t AS SELECT k, count(*) FROM base_t GROUP BY k"
        )


def test_shallow_clone_sql_route(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "clsrc"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, tag STRING"))
    t.append(spark.createDataFrame([(3, "c")], "id INT, tag STRING"))
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("src_t", t)
    row = router.sql("CREATE TABLE cl_t SHALLOW CLONE src_t").collect()[0]
    assert (row.cloned, row.source) == ("cl_t", "src_t")
    assert router.sql("SELECT count(*) AS n FROM cl_t").collect()[0].n == 3
    # divergence: writes to either side never affect the other
    router.sql("DELETE FROM cl_t WHERE id = 1")
    assert t.read().count() == 3
    assert router.table("cl_t").read().count() == 2
    # time-travel clone of the pre-append snapshot
    router.sql("CREATE TABLE cl_v0 SHALLOW CLONE src_t VERSION AS OF 0")
    assert router.sql("SELECT count(*) AS n FROM cl_v0").collect()[0].n == 2
    with pytest.raises(ValueError, match="already registered"):
        router.sql("CREATE TABLE cl_t SHALLOW CLONE src_t")


def test_matview_refresh_folds_count_actions(spark, tmp_path, monkeypatch):
    # The refresh path must not issue per-relation DataFrame.count()
    # driver actions (r7 verdict nit): the minmax route folds key-count
    # + rescan-count into one aggregate job, and all COUNT DISTINCT
    # support guards count in one union job. Pinned by intercepting
    # count() — zero calls during a minmax+distinct refresh, while the
    # refresh still produces correct values.
    from pyspark.sql import DataFrame

    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "cbase"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10, "x"), (2, "a", 50, "y"), (3, "b", 7, "x")],
            "id INT, k STRING, v INT, tag STRING",
        )
    )
    view = IncrementalAggView(
        spark, t, str(tmp_path / "cview"), keys=["k"],
        sum_cols=["v"], minmax_cols=["v"], distinct_cols=["tag"],
    ).build()
    t.append(
        spark.createDataFrame(
            [(4, "a", 99, "z"), (5, "b", 1, "x")],
            "id INT, k STRING, v INT, tag STRING",
        )
    )
    calls = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: (calls.append(1), orig(self))[1]
    )
    view.refresh()
    monkeypatch.undo()
    assert calls == []  # counting rode aggregate jobs, not count() actions
    got = {r.k: (r.min_v, r.max_v, r.sum_v) for r in view.read().collect()}
    assert got == {"a": (10, 99, 159), "b": (1, 7, 8)}
    sup = {
        (r.k, r.value): r.cnt
        for r in view.supports["tag"].read().collect()
    }
    assert sup == {("a", "x"): 1, ("a", "y"): 1, ("a", "z"): 1, ("b", "x"): 2}


def test_incremental_agg_view_minmax_rescan(spark, tmp_path):
    # MIN/MAX IVM hybrid: inserts fold incrementally; a delete that
    # removes the stored extremum triggers a group-scoped rescan. Every
    # step compares against a full recompute.
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "mmbase"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 50), (3, "b", 7), (4, "b", 7), (5, "c", None)],
            "id INT, k STRING, v INT",
        )
    )
    view = IncrementalAggView(
        spark, t, str(tmp_path / "mmview"), keys=["k"],
        sum_cols=["v"], minmax_cols=["v"],
    ).build()

    def recompute():
        return {
            r.k: (r.mn, r.mx)
            for r in t.read()
            .groupBy("k")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
            .collect()
        }

    def view_state():
        return {r.k: (r.min_v, r.max_v) for r in view.read().collect()}

    assert view_state() == recompute() == {"a": (10, 50), "b": (7, 7), "c": (None, None)}

    # insert improves both extremes: pure incremental fold
    t.append(spark.createDataFrame([(6, "a", 3), (7, "a", 99)], "id INT, k STRING, v INT"))
    view.refresh()
    assert view_state()["a"] == (3, 99)
    # delete the stored max -> rescan resolves the runner-up
    t.delete(where="id = 7")
    view.refresh()
    assert view_state()["a"] == (3, 50)
    # delete an interior value: no extremum change
    t.delete(where="id = 1")
    view.refresh()
    assert view_state()["a"] == (3, 50)
    # duplicate extremum: removing ONE copy keeps the value (rescan
    # fires — del_min == stored min — and finds the surviving copy)
    t.delete(where="id = 3")
    view.refresh()
    assert view_state()["b"] == (7, 7)
    # update moves the minimum upward (delete+insert in the feed)
    t.update(where="id = 6", set_exprs={"v": "40"})
    view.refresh()
    assert view_state() == recompute()
    # all-null group gains a value incrementally
    t.append(spark.createDataFrame([(8, "c", 12)], "id INT, k STRING, v INT"))
    view.refresh()
    assert view_state()["c"] == (12, 12)
    assert view_state() == recompute()
    # whole group leaves
    t.delete(where="k = 'b'")
    view.refresh()
    assert "b" not in view_state()
    assert view_state() == recompute()


def test_describe_detail(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "det"))
    t.create(
        spark.createDataFrame([(1, 2020, 1.0)], "k INT, year INT, v DOUBLE"),
        partition_by=["year"],
    )
    t.add_constraint("v_pos", "v > 0")
    d = t.detail()
    assert d["version"] == 1 and d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["partition_columns"] == ["year"]
    assert d["constraints"] == {"v_pos": "v > 0"}
    assert d["num_columns"] == 3


def test_generated_columns_computed_on_append(spark, tmp_path):
    # Delta GENERATED ALWAYS AS: appends omitting the derived partition
    # key get it computed; partition pruning then works on it.
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    base = spark.createDataFrame(
        [(1, 1704067200, 2024)], "id INT, ts_epoch BIGINT, year INT"
    )
    t = VersionedTable(spark, str(tmp_path / "gen"))
    t.create(
        base,
        partition_by=["year"],
        generated={"year": "year(timestamp_seconds(ts_epoch))"},
    )
    # append WITHOUT the generated column
    t.append(spark.createDataFrame([(2, 1735689600)], "id INT, ts_epoch BIGINT"))
    got = {(r.id, r.year) for r in t.read().collect()}
    assert got == {(1, 2024), (2, 2025)}
    # pruning on the generated partition key
    kept, total = t.plan_files(("year", "=", 2025))
    assert kept and all("year=2025" in f for f in kept)
    # exactly-once path computes it too
    t.idempotent_append(
        spark.createDataFrame([(3, 1767225600)], "id INT, ts_epoch BIGINT"),
        app_id="gen", batch_id=0,
    )
    assert (3, 2026) in {(r.id, r.year) for r in t.read().collect()}


def test_concurrent_commit_conflict_raises(spark, tmp_path):
    # Two writers racing to the same version: the second commit must
    # fail loudly (single-writer log contract), not silently clobber.
    from data_pipeline_with_spark_spark.lake.versioned import Commit, VersionedTable
    import json as _json
    import time as _time

    t = VersionedTable(spark, str(tmp_path / "race"))
    df = spark.createDataFrame([(1,)], "id INT")
    t.create(df)
    stale = Commit(
        version=1,
        timestamp=_time.time(),
        operation="APPEND",
        params={},
        data_dirs=t._latest().data_dirs,
        schema_json=t._latest().schema_json,
    )
    t._write_commit(stale)  # writer A wins version 1
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t._write_commit(stale)  # writer B loses


def _file_state(paths):
    from pathlib import Path

    return {p: (Path(p).stat().st_size, Path(p).stat().st_mtime_ns) for p in paths}


def test_update_rewrites_only_matching_files(spark, tmp_path):
    # Two appends with disjoint id ranges -> two data dirs with disjoint
    # footer stats. An UPDATE hitting only the second range must carry
    # the first range's files by reference, byte-identical.
    t = VersionedTable(spark, str(tmp_path / "fg"))
    t.create(spark.range(0, 100).withColumn("v", F.lit(1.0)).coalesce(1))
    d0 = t._latest().data_dirs[0]  # the create commit's dir (uuid-named)
    t.append(spark.range(100, 200).withColumn("v", F.lit(1.0)).coalesce(1))
    files_before, _ = t._snapshot_files()
    low_files = [f for f in files_before if f.startswith(d0)]
    assert low_files  # the filter must actually select v0's files
    before = _file_state(low_files)

    t.update(where="id >= 150", set_exprs={"v": "v + 1.0"})

    files_after, _ = t._snapshot_files()
    # v0's files are still the live snapshot's files for the low range —
    # same paths, same bytes (carried by reference, not copied).
    assert set(low_files) <= set(files_after)
    assert _file_state(low_files) == before
    # history records the partial rewrite
    h = t.history()[0]
    assert h["operation"] == "UPDATE"
    assert h["params"]["carried_files"] >= 1
    assert 1 <= h["params"]["rewritten_files"] < len(files_before)
    # and the data is right
    assert t.read().where("v = 2.0").count() == 50
    assert t.read().where("v = 1.0").count() == 150


def test_update_partitioned_touches_one_partition(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "fgp"))
    df = spark.createDataFrame(
        [(2018, "a", 1.0), (2018, "b", 2.0), (2019, "c", 3.0), (2019, "d", 4.0)],
        ["year", "k", "v"],
    )
    t.create(df, partition_by=["year"])
    files_before, _ = t._snapshot_files()
    other = [f for f in files_before if "year=2019" in f]
    before = _file_state(other)

    t.update(where="year = 2018", set_exprs={"v": "v * 10"})

    files_after, _ = t._snapshot_files()
    assert set(other) <= set(files_after)  # 2019 partition untouched
    assert _file_state(other) == before
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {"a": 10.0, "b": 20.0, "c": 3.0, "d": 4.0}


def test_update_no_matching_files_is_metadata_only(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "fgn"))
    t.create(spark.range(0, 10).withColumn("v", F.lit(1.0)))
    dirs_before = set(t._latest().data_dirs)
    t.update(where="id > 10000", set_exprs={"v": "0.0"})
    assert t._latest().operation == "UPDATE"
    assert t._latest().params["rewritten_files"] == 0
    assert set(t._latest().data_dirs) == dirs_before  # no new data written
    assert t.read().where("v = 1.0").count() == 10


def test_update_type_widening_falls_back_to_full_rewrite(spark, tmp_path):
    # SET that changes a column's type can't fork the schema between
    # rewritten and carried files — it must rewrite the whole snapshot.
    t = VersionedTable(spark, str(tmp_path / "fgw"))
    t.create(spark.range(0, 10).withColumn("n", F.lit(1)))
    t.append(spark.range(10, 20).withColumn("n", F.lit(2)))
    t.update(where="id >= 15", set_exprs={"n": "CAST(n AS DOUBLE) + 0.5"})
    h = t.history()[0]
    assert h["params"]["carried_files"] == 0
    assert dict(t.read().dtypes)["n"] == "double"
    assert t.read().where("n = 2.5").count() == 5


def test_delete_file_granular_and_null_semantics(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "fgd"))
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0)], ["id", "score"]
    ).coalesce(1)
    t.create(df)
    t.append(
        spark.createDataFrame([(100, 99.0)], ["id", "score"]).coalesce(1)
    )
    append_dir = t._latest().data_dirs[-1]  # dirs carry a uuid suffix
    keep = [f for f in t._snapshot_files()[0] if f.startswith(append_dir)]
    assert keep  # the filter must actually select the appended file
    before = _file_state(keep)

    # Delta DELETE semantics: predicate TRUE deletes; NULL keeps.
    t.delete(where="id <= 50 AND score > 10")

    assert {r.id for r in t.read().collect()} == {1, 2, 100}
    assert _file_state(keep) == before  # id=100 file carried by reference
    assert t.history()[0]["params"]["carried_files"] == 1


def test_rename_column_metadata_only(spark, cars, tmp_path):
    # Delta column mapping: RENAME COLUMN is a metadata-only commit —
    # data files keep the physical name; reads alias back to logical.
    import os

    t = VersionedTable(spark, str(tmp_path / "ren")).create(cars)
    before_files = {
        str(p): os.path.getmtime(p)
        for p in (tmp_path / "ren" / "data").rglob("*.parquet")
    }
    t.rename_column("ec_cm3", "engine_cc")
    after_files = {
        str(p): os.path.getmtime(p)
        for p in (tmp_path / "ren" / "data").rglob("*.parquet")
    }
    assert before_files == after_files  # zero data files touched
    df = t.read()
    assert "engine_cc" in df.columns and "ec_cm3" not in df.columns
    assert {r.Mh: r.engine_cc for r in df.collect()}["FERRARI"] == 4000.0
    # time travel to the pre-rename version sees the old name
    v0 = t.read(version=0)
    assert "ec_cm3" in v0.columns and "engine_cc" not in v0.columns
    assert t.history()[0]["operation"] == "RENAME COLUMN"


def test_rename_column_append_and_dml_after(spark, cars, tmp_path):
    # Appends use logical names; files mix pre- and post-rename writes
    # yet read as one frame. DML and data skipping resolve the mapping.
    t = VersionedTable(spark, str(tmp_path / "renapp")).create(cars)
    t.rename_column("ec_cm3", "engine_cc")
    t.append(
        spark.createDataFrame(
            [("ES", "SEAT", 1500.0, 2020)], ["MS", "Mh", "engine_cc", "year"]
        )
    )
    assert t.read().count() == 4
    assert {r.Mh: r.engine_cc for r in t.read().collect()}["SEAT"] == 1500.0
    # UPDATE through the logical name touches both old and new files
    t.update(where="engine_cc < 1600", set_exprs={"engine_cc": "engine_cc + 1"})
    vals = {r.Mh: r.engine_cc for r in t.read().collect()}
    assert vals["RENAULT"] == 1201.0 and vals["SEAT"] == 1501.0 and vals["FERRARI"] == 4000.0
    # data skipping with the logical name (footers hold the physical)
    kept, total = t.plan_files(("engine_cc", ">", 3000.0))
    assert kept and len(kept) < total
    got = {r.Mh for r in t.read_where(("engine_cc", ">", 3000.0)).collect()}
    assert got == {"FERRARI"}


def test_rename_column_chained_and_restore(spark, cars, tmp_path):
    # a -> b -> c keeps the v0 physical name; restore resurrects the
    # old logical schema.
    t = VersionedTable(spark, str(tmp_path / "renchain")).create(cars)
    t.rename_column("ec_cm3", "cc").rename_column("cc", "displacement")
    assert t._latest().column_mapping == {"displacement": "ec_cm3"}
    assert {r.Mh: r.displacement for r in t.read().collect()}["BMW"] == 2000.0
    t.restore(0)
    assert "ec_cm3" in t.read().columns
    # CDF across a pure rename is empty: same physical column, no rows moved
    assert t.changes(0, 2).count() == 0


def test_rename_column_validation(spark, cars, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "renval")).create(cars)
    with pytest.raises(ValueError, match="not in table schema"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("ec_cm3", "year")
    t.add_constraint("cc_pos", "ec_cm3 > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        t.rename_column("ec_cm3", "engine_cc")
    t.drop_constraint("cc_pos")
    t.rename_column("ec_cm3", "engine_cc")  # constraint gone: allowed
    assert "engine_cc" in t.read().columns


def test_rename_partition_column(spark, tmp_path):
    rows = [(i, "A" if i % 2 else "B", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, ["id", "grp", "val"])
    t = VersionedTable(spark, str(tmp_path / "renpart")).create(df, partition_by=["grp"])
    t.rename_column("grp", "category")
    assert t.partition_columns() == ["category"]
    assert t.read().where("category = 'A'").count() == 10
    # hive-path pruning still works through the physical name
    kept, total = t.plan_files(("category", "=", "A"))
    assert kept and len(kept) < total
    t.append(
        spark.createDataFrame([(99, "A", 99.0)], ["id", "category", "val"])
    )
    assert t.read().where("category = 'A'").count() == 11
    t.optimize_fragmented(max_partitions=1, min_files=2)
    assert t.read().where("category = 'A'").count() == 11


def _mtimes(root):
    import os

    return {
        str(p): os.path.getmtime(p) for p in root.rglob("*.parquet") if "_dv" not in str(p)
    }


def test_deletion_vector_delete_is_metadata_plus_tombstones(spark, tmp_path):
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], ["id", "val"])
    t = VersionedTable(spark, str(tmp_path / "dv")).create(
        df.repartitionByRange(4, "id").sortWithinPartitions("id")
    )
    before = _mtimes(tmp_path / "dv" / "data")
    t.delete("id % 10 = 3", use_dv=True)
    assert _mtimes(tmp_path / "dv" / "data") == before  # zero data files rewritten
    assert t.read().count() == 90
    assert t.read().where("id % 10 = 3").count() == 0
    assert t.read(version=0).count() == 100  # time travel pre-delete
    h = t.history()[0]
    assert h["operation"] == "DELETE"
    assert h["params"]["rewritten_files"] == 0 and h["params"]["dv_rows"] == 10
    # CDF surfaces the tombstoned rows as deletes
    ch = t.changes(0, 1)
    assert ch.count() == 10
    assert {r._change_type for r in ch.collect()} == {"delete"}
    # second DV delete accumulates on top of the first
    t.delete("id = 0", use_dv=True)
    assert t.read().count() == 89
    # read_where applies DVs after file pruning
    assert t.read_where(("id", "<", 10)).count() == 8  # 0 and 3 gone


def test_deletion_vectors_survive_partial_rewrites(spark, tmp_path):
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], ["id", "val"])
    t = VersionedTable(spark, str(tmp_path / "dvu")).create(
        df.repartitionByRange(4, "id").sortWithinPartitions("id")
    )
    t.delete("id % 10 = 3", use_dv=True)
    # file-granular UPDATE reads with DVs applied: rewritten files are
    # materialized clean, untouched files keep their tombstones
    t.update("id < 50", {"val": "val + 0.5"})
    assert t.read().count() == 90
    assert t.read().where("id % 10 = 3").count() == 0
    vals = {r.id: r.val for r in t.read().where("id IN (1, 99)").collect()}
    assert vals[1] == 1.5 and vals[99] == 99.0
    # OPTIMIZE (full rewrite) materializes everything and drops the DVs
    t.optimize()
    assert t._latest().dv_paths is None
    assert t.read().count() == 90 and t.read().where("id % 10 = 3").count() == 0


def test_reorg_purge_rewrites_only_affected_files(spark, tmp_path):
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], ["id", "val"])
    t = VersionedTable(spark, str(tmp_path / "dvp")).create(
        df.repartitionByRange(4, "id").sortWithinPartitions("id")
    )
    t.delete("id = 7", use_dv=True)  # stats-prunable: tombstones hit 1 file
    t.purge_deletion_vectors()
    h = t.history()[0]
    assert h["operation"] == "REORG"
    assert h["params"]["rewritten_files"] == 1 and h["params"]["carried_files"] == 3
    assert t._latest().dv_paths is None
    assert t.read().count() == 99 and t.read().where("id = 7").count() == 0
    # idempotent when no DVs remain
    assert t.purge_deletion_vectors() is t
    # vacuum after purge reclaims the tombstone directory
    removed = t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert any("_dv" in p for p in removed)
    assert t.read().count() == 99


def test_deletion_vectors_with_vacuum_and_rename(spark, tmp_path):
    df = spark.createDataFrame([(i, float(i)) for i in range(40)], ["id", "val"])
    t = VersionedTable(spark, str(tmp_path / "dvr")).create(df.coalesce(2))
    t.rename_column("val", "score")
    t.delete("score >= 30", use_dv=True)  # logical name through the mapping
    assert t.read().count() == 30
    # vacuum keeps the live DV files: reads must still apply tombstones
    t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    assert t.read().count() == 30 and "score" in t.read().columns
    d = t.detail()
    assert d["num_deletion_vectors"] == 1


def test_log_access_is_o1_in_history_length(spark, tmp_path):
    # Hot metadata paths parse ONE log file regardless of history depth:
    # commit #N must not replay N JSON files (the long-lived-table
    # scaling property). Counted by monkey-patching Path.read_text.
    from pathlib import Path as _P

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "o1")).create(df)
    for _ in range(15):
        t.append(df)

    reads = {"n": 0}
    orig = _P.read_text

    def counting(self, *a, **k):
        if self.suffix == ".json" and "_log" in str(self):
            reads["n"] += 1
        return orig(self, *a, **k)

    _P.read_text = counting
    try:
        t._latest()
        latest_reads = reads["n"]
        reads["n"] = 0
        t.read(version=3).count()
        travel_reads = reads["n"]
    finally:
        _P.read_text = orig
    assert latest_reads == 1
    assert travel_reads == 1  # the v3 commit only, nothing proportional to 16
    assert t.read().count() == 16


def test_optimize_targets_file_size(spark, tmp_path):
    # Delta binSize analogue: output partition count derives from the
    # snapshot's byte size, not a blind coalesce(1).
    df = spark.createDataFrame(
        [(i, "x" * 200) for i in range(5000)], ["id", "pad"]
    )
    t = VersionedTable(spark, str(tmp_path / "binsz")).create(df.repartition(16))
    files, _ = t._snapshot_files()
    import os

    total = sum(os.path.getsize(f) for f in files)
    target = total // 4  # aim for ~4 output files
    t.optimize(target_file_size_bytes=target)
    out_files, _ = t._snapshot_files()
    assert 3 <= len(out_files) <= 5, out_files
    assert t.read().count() == 5000
    # explicit target_partitions still wins
    t.optimize(target_partitions=2, target_file_size_bytes=1)
    assert len(t._snapshot_files()[0]) == 2


def test_dv_delete_zero_match_registers_no_tombstones(spark, tmp_path):
    # A DV DELETE whose predicate matches nothing must not append an
    # empty tombstone dir: dv_paths would grow monotonically and every
    # read would anti-join one more (empty) input until REORG.
    df = spark.createDataFrame([(i, i % 5) for i in range(100)], ["id", "k"])
    t = VersionedTable(spark, str(tmp_path / "dv0")).create(df)
    t.delete("id = 7", use_dv=True)
    assert len(t._latest().dv_paths or []) == 1
    for _ in range(3):
        t.delete("id < 0", use_dv=True)  # matches nothing
    # still exactly the one real DV; the no-op deletes carried it
    assert len(t._latest().dv_paths or []) == 1
    assert t._latest().params["num_affected_rows"] == 0
    assert t.read().count() == 99


def test_commit_publish_without_hardlinks(spark, tmp_path, monkeypatch):
    # Filesystems without hardlink support (some FUSE/network mounts)
    # must still commit atomically via the O_EXCL fallback, and the
    # conflict check must still fire.
    import errno
    import os as _os

    real_link = _os.link

    def no_link(*a, **kw):
        raise OSError(errno.EPERM, "hardlinks unsupported")

    monkeypatch.setattr("os.link", no_link)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "nolink")).create(df)
    t.append(spark.createDataFrame([(3, "c")], ["id", "v"]))
    assert t.read().count() == 3
    assert [c.operation for c in t._commits()] == ["CREATE", "APPEND"]
    # no .tmp litter in the log dir
    assert not list(t.log_dir.glob("*.tmp"))
    # conflict: republishing an already-taken version must still raise
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t._write_commit(t._latest())
    assert not list(t.log_dir.glob("*.tmp"))
    monkeypatch.setattr("os.link", real_link)


def test_publish_fallback_only_for_no_hardlink_errnos(spark, tmp_path, monkeypatch):
    # A link(2) failure that does NOT mean "no hardlinks here" (ENOSPC,
    # EIO, EACCES) must surface as an error, not silently degrade to
    # the O_EXCL+copy path — a disk-full copy could truncate the log.
    import errno
    import os as _os

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "errno")).create(df)

    def no_space(*a, **kw):
        raise OSError(errno.ENOSPC, "no space left on device")

    monkeypatch.setattr("os.link", no_space)
    with pytest.raises(OSError, match="no space"):
        t._write_commit(t._latest().__class__(**{**t._latest().__dict__, "version": 99}))
    monkeypatch.undo()
    assert t._latest().version == 0  # nothing half-published
    t.append(spark.createDataFrame([(2, "b")], ["id", "v"]))
    assert t.read().count() == 2


def test_truncated_newest_commit_is_quarantined(spark, tmp_path):
    # The O_EXCL fallback's documented exposure: a crash between slot
    # claim and fsync leaves a truncated newest entry. The table must
    # stay readable at the prior version, the bad entry is quarantined
    # to *.corrupt, and the version slot frees for the next commit.
    import os as _os
    import time as _time

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "trunc")).create(df)
    v = t._latest().version
    bad = t.log_dir / f"{v + 1:020d}.json"
    bad.write_text('{"version": 1, "time')  # truncated mid-write
    # a FRESH unparsable newest entry may be a live in-flight publish:
    # readers skip past it but must NOT quarantine it (that would rename
    # the file out from under the publisher's open fd)
    assert t._latest().version == v
    assert bad.exists() and not bad.with_suffix(".corrupt").exists()
    # once it is older than the liveness window it is a crashed publish
    old = _time.time() - (t.QUARANTINE_AGE_S + 1)
    _os.utime(bad, (old, old))
    assert t._latest().version == v  # reads fall back to the good entry
    assert t.read().count() == 2
    assert not bad.exists() and bad.with_suffix(".corrupt").exists()
    t.append(spark.createDataFrame([(3, 3.0)], ["id", "v"]))
    assert t._latest().version == v + 1  # slot was reusable
    assert t.read().count() == 3
    # corruption that is NOT the newest entry is real damage: raise
    (t.log_dir / f"{v:020d}.json").write_text("{broken")
    with pytest.raises(RuntimeError, match="corrupt commit log entry"):
        t._commits()


def test_history_cost_flat_via_checkpoints(spark, tmp_path):
    # DESCRIBE HISTORY must not replay the whole log: with checkpoints
    # every CHECKPOINT_INTERVAL commits, a history() call parses one
    # checkpoint file + at most the commits since it, regardless of how
    # old the table is. Counted by monkey-patching Path.read_text.
    from pathlib import Path as _P

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "ckpt")).create(df)
    n_versions = 25  # create + 24 metadata-only commits -> ckpts at 10, 20
    for i in range(n_versions - 1):
        t.set_properties({"probe": str(i)})
    assert (t._checkpoint_dir() / f"{20:020d}.json").exists()

    reads = {"n": 0}
    orig = _P.read_text

    def counting(self, *a, **kw):
        reads["n"] += 1
        return orig(self, *a, **kw)

    _P.read_text = counting
    try:
        hist = t.history()
    finally:
        _P.read_text = orig
    assert [h["version"] for h in hist] == list(range(n_versions - 1, -1, -1))
    assert hist[-1]["operation"] == "CREATE"
    # 1 checkpoint + the 4 commits after v20 — flat in total versions
    assert reads["n"] <= t.CHECKPOINT_INTERVAL + 1, reads["n"]


def test_history_checkpoint_contents_match_full_replay(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "ckpt2")).create(df)
    for i in range(12):
        t.set_properties({"i": str(i)})
    via_checkpoint = t.history()
    full = [
        {
            "version": c.version,
            "timestamp": c.timestamp,
            "operation": c.operation,
            "params": c.params,
        }
        for c in reversed(t._commits())
    ]
    assert via_checkpoint == full


def test_partial_dv_purge_threshold_and_detail_counts(spark, tmp_path):
    # Delta-style DV maintenance: REORG with a max_dv_fraction rewrites
    # only the files whose tombstoned fraction exceeds the threshold;
    # lighter files keep their DVs. detail() exposes tombstone rows.
    df1 = spark.createDataFrame([(i, "a") for i in range(10)], ["id", "k"]).coalesce(1)
    df2 = spark.createDataFrame([(i, "b") for i in range(10, 20)], ["id", "k"]).coalesce(1)
    t = VersionedTable(spark, str(tmp_path / "dvp")).create(df1)
    t.append(df2)
    t.delete("id < 6", use_dv=True)   # 6/10 of file 1 tombstoned
    t.delete("id = 10", use_dv=True)  # 1/10 of file 2 tombstoned
    assert t.detail()["num_tombstone_rows"] == 7
    v_before = t._latest().version

    # below-threshold call is a no-op (no new commit)
    t.purge_deletion_vectors(max_dv_fraction=0.9)
    assert t._latest().version == v_before

    t.purge_deletion_vectors(max_dv_fraction=0.5)
    latest = t._latest()
    assert latest.operation == "REORG"
    assert latest.params["rewritten_files"] == 1  # only the 60% file
    assert latest.dv_paths  # DVs carried (file-2 tombstone still live)
    assert t.read().count() == 13
    assert sorted(r.id for r in t.read().where("k = 'a'").collect()) == [6, 7, 8, 9]

    # full REORG retires every DV; dangling tombstones disappear
    t.purge_deletion_vectors()
    assert t._latest().dv_paths is None
    assert t.read().count() == 13
    assert t.detail()["num_tombstone_rows"] == 0


def test_incremental_clustering_recluster_new_files_only(spark, tmp_path):
    # Liquid-clustering shape: after an initial cluster pass, appends
    # land unclustered; optimize_incremental rewrites ONLY the new
    # overlapping files and carries the settled, range-disjoint ones.
    df = spark.createDataFrame([(i, i % 7) for i in range(4000)], ["id", "k"])
    t = VersionedTable(spark, str(tmp_path / "liquid")).create(df.repartition(4))
    t.cluster_by(["id"])
    t.optimize_incremental(target_file_size_bytes=None)
    assert t._latest().operation == "CLUSTER"
    # re-cluster to 4 range-disjoint files so carry-by-reference shows
    t.optimize(zorder_by=["id"], target_partitions=4)
    clustered_files, _ = t._snapshot_files()
    assert len(clustered_files) == 4

    # settled table: another incremental pass is a metadata no-op
    v = t._latest().version
    t.optimize_incremental()
    assert t._latest().version == v

    # fresh append overlaps every range
    t.append(
        spark.createDataFrame([(i, i % 7) for i in range(0, 4000, 13)], ["id", "k"])
        .coalesce(1)
    )
    t.optimize_incremental(target_file_size_bytes=None)
    latest = t._latest()
    assert latest.operation == "CLUSTER"
    # the 4 settled files never rewrite; only the fresh append does
    assert latest.params["rewritten_files"] == 1
    assert latest.params["carried_files"] == 4
    assert t.read().count() == 4000 + len(range(0, 4000, 13))

    # convergence: the pass's output is settled by provenance (ZCube
    # rule), so the very next pass is a no-op regardless of how the
    # sampled range-piece boundaries landed relative to older files
    v2 = t._latest().version
    t.optimize_incremental()
    assert t._latest().version == v2


def test_settled_provenance_matches_legacy_unsuffixed_dirs(spark, tmp_path):
    # Pre-r7 tables named data dirs plainly "v{N}" (no per-attempt uuid
    # suffix). The settled-by-provenance match moved to the "v{N}_"
    # prefix with the rename; without also matching the legacy "v{N}/"
    # form, existing tables silently lose the settled optimization and
    # re-compact already-settled files every maintenance pass (r7
    # advice). Plain compaction (no zorder) makes the case real: its
    # output files carry OVERLAPPING key ranges, so only provenance —
    # not overlap health — keeps them out of the rewrite set (the ZCube
    # rule that guarantees convergence).
    import os

    df = spark.createDataFrame([(i, i % 7) for i in range(4000)], ["id", "k"])
    t = VersionedTable(spark, str(tmp_path / "legacy")).create(df.repartition(4))
    t.cluster_by(["id"])
    t.optimize(target_partitions=4)  # compact WITHOUT sorting
    opt = t._latest()
    assert opt.operation == "OPTIMIZE" and len(opt.data_dirs) == 1
    new_dir = opt.data_dirs[0]
    legacy_dir = str(t.data_dir / f"v{opt.version}")
    os.rename(new_dir, legacy_dir)
    for f in t.log_dir.glob("**/*.json"):
        f.write_text(f.read_text().replace(new_dir, legacy_dir))

    t2 = VersionedTable(spark, str(tmp_path / "legacy"))
    assert t2.read().count() == 4000
    v = t2._latest().version
    t2.optimize_incremental()
    assert t2._latest().version == v


@pytest.mark.slow
def test_incremental_clustering_multicolumn_box_health(spark, tmp_path):
    # CLUSTER BY (a, b): files that overlap on a but are range-disjoint
    # on b have disjoint bounding boxes — a correct multi-column health
    # measure must leave them alone (a leading-column-only measure
    # would rewrite them every pass).
    mk = lambda blo, bhi: spark.createDataFrame(
        [(i, b) for i in range(100) for b in (blo, bhi)], ["a", "b"]
    ).coalesce(1)
    t = VersionedTable(spark, str(tmp_path / "box")).create(mk(0, 10))
    t.append(mk(20, 30))
    t.append(mk(40, 50))
    t.cluster_by(["a", "b"])
    v = t._latest().version
    t.optimize_incremental()
    assert t._latest().version == v  # boxes disjoint in b: no-op

    # an append spanning b = [0, 50] intersects every box -> rewritten
    t.append(
        spark.createDataFrame(
            [(i, b) for i in range(100) for b in (5, 45)], ["a", "b"]
        ).coalesce(1)
    )
    t.optimize_incremental()
    latest = t._latest()
    assert latest.operation == "CLUSTER"
    assert latest.params["rewritten_files"] == 1
    assert latest.params["carried_files"] == 3
    assert t.read().count() == 800


def test_row_tracking_ids_survive_rewrites(spark, tmp_path):
    # Delta row-tracking analogue: stable _row_id through backfill,
    # append, UPDATE, OPTIMIZE and DELETE.
    df = spark.createDataFrame([(i, i % 3, float(i)) for i in range(30)], ["id", "k", "v"])
    t = VersionedTable(spark, str(tmp_path / "rt")).create(df.repartition(3))
    t.set_properties({"delta.enableRowTracking": "true"})  # triggers backfill
    assert t._row_tracking_enabled()
    base = {r.id: r._row_id for r in t.read().collect()}
    assert len(set(base.values())) == 30  # unique
    assert set(base.values()) == set(range(30))  # dense backfill 0..n-1

    # append: fresh unique ids above the watermark
    t.append(spark.createDataFrame([(100 + i, 0, 0.0) for i in range(5)], ["id", "k", "v"]))
    after_append = {r.id: r._row_id for r in t.read().collect()}
    assert len(set(after_append.values())) == 35
    assert all(after_append[i] == base[i] for i in base)  # old ids untouched
    assert all(after_append[100 + i] >= 30 for i in range(5))

    # UPDATE rewrites files but identity is preserved
    t.update(where="k = 1", set_exprs={"v": "v + 1000"})
    after_update = {r.id: r._row_id for r in t.read().collect()}
    assert after_update == after_append
    assert t.read().where("k = 1 and v < 1000").count() == 0

    # OPTIMIZE compaction preserves identity
    t.optimize()
    assert {r.id: r._row_id for r in t.read().collect()} == after_append

    # DELETE removes ids without disturbing the rest
    t.delete("id >= 100")
    after_delete = {r.id: r._row_id for r in t.read().collect()}
    assert after_delete == base


def test_row_tracking_merge_keeps_target_ids_and_mints_fresh(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import (
        WhenMatched,
        WhenNotMatched,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id INT, tag STRING, v DOUBLE"
    )
    t = VersionedTable(spark, str(tmp_path / "rtm")).create(base)
    t.enable_row_tracking()
    ids0 = {r.id: r._row_id for r in t.read().collect()}

    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id INT, tag STRING, v DOUBLE"
    )
    t.merge(
        source,
        keys=["id"],
        matched=[WhenMatched()],            # UPDATE SET *
        not_matched=[WhenNotMatched()],     # INSERT *
    )
    rows = {r.id: r for r in t.read().collect()}
    assert rows[2].tag == "B" and rows[2]._row_id == ids0[2]  # updated, same id
    assert rows[1]._row_id == ids0[1] and rows[3]._row_id == ids0[3]
    fresh = rows[4]._row_id
    assert fresh not in set(ids0.values()) and fresh >= 3  # minted above HWM

    # merge_upsert routes through the identity-preserving merge
    t.merge_upsert(
        spark.createDataFrame([(1, "A", 11.0), (5, "e", 50.0)], "id INT, tag STRING, v DOUBLE"),
        keys=["id"],
    )
    rows2 = {r.id: r for r in t.read().collect()}
    assert rows2[1].tag == "A" and rows2[1]._row_id == ids0[1]
    assert rows2[5]._row_id not in {r._row_id for r in rows.values()}
    # engine-managed column is rejected on append
    with pytest.raises(ValueError, match="engine-managed"):
        t.append(t.read())


def test_cdf_with_row_tracking_emits_update_images(spark, tmp_path):
    # With row identity, CDF upgrades delete+insert pairs to Delta's
    # update_preimage/update_postimage vocabulary.
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], ["id", "v"]
    )
    t = VersionedTable(spark, str(tmp_path / "cdfrt")).create(df)
    t.enable_row_tracking()
    v_base = t._latest().version
    t.update(where="id = 3", set_exprs={"v": "v + 100"})
    t.append(spark.createDataFrame([(50, 0.5)], ["id", "v"]))
    t.delete("id = 7")

    feed = t.changes(v_base).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r._change_type, []).append(r)
    assert [r.id for r in by_type["update_preimage"]] == [3]
    assert [r.id for r in by_type["update_postimage"]] == [3]
    assert by_type["update_preimage"][0].v == 3.0
    assert by_type["update_postimage"][0].v == 103.0
    assert (
        by_type["update_preimage"][0]._row_id
        == by_type["update_postimage"][0]._row_id
    )
    assert [r.id for r in by_type["insert"]] == [50]
    assert [r.id for r in by_type["delete"]] == [7]

    # pre-tracking span still uses the insert/delete vocabulary
    legacy = {r._change_type for r in t.changes(0, v_base).collect()}
    assert "update_postimage" not in legacy


def test_merge_hwm_never_regresses(spark, tmp_path):
    # An update-only merge's max surviving id can be below the stored
    # high-watermark; the commit must keep the watermark monotone or
    # later appends would re-mint deleted rows' ids.
    from data_pipeline_with_spark_spark.lake.versioned import (
        WhenMatched,
    )

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "hwm")).create(df)
    t.enable_row_tracking()
    t.delete("id >= 5")  # ids 5..9 gone; HWM stays 10
    src = spark.createDataFrame([(1, 100.0)], ["id", "v"])
    t.merge(src, keys=["id"], matched=[WhenMatched(update={"v": "s.v"})])
    assert int(t.table_properties()[t._HWM_PROP]) >= 10
    t.append(spark.createDataFrame([(50, 0.5)], ["id", "v"]))
    ids = [r._row_id for r in t.read().collect()]
    assert len(ids) == len(set(ids))  # no reuse of deleted ids
    assert max(ids) >= 10


def test_merge_upsert_row_tracked_rejects_short_source(spark, tmp_path):
    base = spark.createDataFrame(
        [(1, "a", 10.0)], "id INT, tag STRING, v DOUBLE"
    )
    t = VersionedTable(spark, str(tmp_path / "short")).create(base)
    t.enable_row_tracking()
    with pytest.raises(ValueError, match="missing table columns"):
        t.merge_upsert(
            spark.createDataFrame([(1, "b")], "id INT, tag STRING"), keys=["id"]
        )


def test_row_id_guarded_against_dml_and_ddl(spark, tmp_path):
    # _row_id is engine-managed like an identity column: explicit SET /
    # INSERT of it (and rename/drop) must be rejected while tracking is
    # on — clobbered ids in rewritten files would duplicate ids and
    # break CDF pre/postimage pairing.
    from data_pipeline_with_spark_spark.lake.versioned import (
        WhenMatched,
        WhenNotMatched,
    )

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "ridguard")).create(df)
    t.enable_row_tracking()
    with pytest.raises(ValueError, match="engine-managed"):
        t.update(where="id = 1", set_exprs={"_row_id": "999"})
    src = spark.createDataFrame([(1, 10.0), (3, 30.0)], ["id", "v"])
    with pytest.raises(ValueError, match="engine-managed"):
        t.merge(src, keys=["id"], matched=[WhenMatched(update={"_row_id": "0"})])
    with pytest.raises(ValueError, match="engine-managed"):
        t.merge(
            src,
            keys=["id"],
            matched=[WhenMatched()],
            not_matched=[
                WhenNotMatched(insert={"id": "s.id", "v": "s.v", "_row_id": "0"})
            ],
        )
    with pytest.raises(ValueError, match="enableRowTracking"):
        t.rename_column("_row_id", "rid")
    with pytest.raises(ValueError, match="enableRowTracking"):
        t.drop_column("_row_id")
    assert sorted(r._row_id for r in t.read().collect()) == [0, 1]  # intact


def test_row_tracking_disable_enable_roundtrip(spark, tmp_path):
    # 'delta.enableRowTracking'='false' must be a real disable (drop
    # the id column, clear the watermark), not a property-only trapdoor
    # that NULL-fills ids on later appends and blocks re-enable.
    df = spark.createDataFrame([(i, float(i)) for i in range(6)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "ridoff")).create(df)
    t.set_properties({"delta.enableRowTracking": "true"})
    v_enabled = t._latest().version
    t.set_properties({"delta.enableRowTracking": "false"})
    assert not t._row_tracking_enabled()
    assert "_row_id" not in t.read().columns
    assert t._HWM_PROP not in t.table_properties()
    # time travel still sees the old ids (metadata drop, no rewrite)
    assert "_row_id" in t.read(version=v_enabled).columns
    # appends work and carry no phantom ids
    t.append(spark.createDataFrame([(100, 1.0)], ["id", "v"]))
    assert t.read().count() == 7
    # re-enable round-trips: fresh dense backfill over all 7 rows
    t.set_properties({"delta.enableRowTracking": "true"})
    ids = [r._row_id for r in t.read().collect()]
    assert len(ids) == 7 and len(set(ids)) == 7
    assert all(i is not None for i in ids)
    assert set(ids) == set(range(7))


def test_plan_files_uses_log_stats_without_footer_io(spark, tmp_path, monkeypatch):
    # Per-file stats live in the commit log (Delta shape): after the
    # write, planning must not open a single parquet footer.
    import pyarrow.parquet as pq

    df = spark.createDataFrame([(i, i % 5) for i in range(1000)], ["id", "k"])
    t = VersionedTable(spark, str(tmp_path / "logstats")).create(df)
    t.optimize(zorder_by=["id"], target_partitions=4)
    assert t._latest().stats_refs  # refs recorded at commit time
    # write-once per dir: the stats files exist under _log/_stats
    assert all(
        (t._stats_dir() / n).exists() for n in t._latest().stats_refs.values()
    )
    # commits carry pointers, not stat blobs — log entries stay small
    assert '"rows"' not in t._log_files()[-1].read_text()

    real = pq.ParquetFile

    def boom(*a, **kw):
        raise AssertionError("footer read during planning")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    try:
        kept, total = t.plan_files(("id", "<", 100))
    finally:
        monkeypatch.setattr(pq, "ParquetFile", real)
    assert total == 4 and 1 <= len(kept) < total

    got = {tuple(r) for r in t.read_where(("id", "<", 100)).collect()}
    want = {tuple(r) for r in t.read().where("id < 100").collect()}
    assert got == want and len(got) == 100


def test_log_stats_timestamp_roundtrip_and_carry(spark, tmp_path):
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    t = VersionedTable(spark, str(tmp_path / "tstats")).create(df)
    t.optimize(zorder_by=["ts"], target_partitions=4)
    # metadata-only commits carry stats verbatim
    t.set_properties({"x": "1"})
    stats = t._log_stats(t._latest())
    assert stats and all("ts" in s["cols"] for s in stats.values())
    cutoff = datetime.datetime(2024, 1, 2)
    kept, total = t.plan_files(("ts", "<", cutoff))
    assert total == 4 and len(kept) < total
    got = t.read_where(("ts", "<", cutoff)).count()
    assert got == t.read().where(F.col("ts") < F.lit(cutoff)).count() == 24


def test_identity_columns_generated_always(spark, tmp_path):
    # GENERATED ALWAYS AS IDENTITY: engine mints unique increasing
    # values on create and append; callers must omit the column.
    df = spark.createDataFrame([(f"u{i}",) for i in range(20)], ["name"])
    t = VersionedTable(spark, str(tmp_path / "ident")).create(
        df, identity={"uid": {"start": 100, "step": 2}}
    )
    v0 = [r.uid for r in t.read().collect()]
    assert len(set(v0)) == 20
    # unique, >= start, in start's congruence class mod step — gaps
    # allowed (Delta identity contract)
    assert all(u >= 100 and (u - 100) % 2 == 0 for u in v0)

    t.append(spark.createDataFrame([("x",), ("y",)], ["name"]))
    after = [r.uid for r in t.read().collect()]
    assert len(set(after)) == 22
    new = sorted(set(after) - set(v0))
    assert all(u > max(v0) for u in new)  # watermark advanced past v0

    # rewrites carry identity values as plain data
    t.optimize()
    assert sorted(r.uid for r in t.read().collect()) == sorted(after)

    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.append(spark.createDataFrame([(1, "z")], ["uid", "name"]))
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        VersionedTable(spark, str(tmp_path / "ident2")).create(
            spark.createDataFrame([(1, "a")], ["uid", "name"]),
            identity={"uid": {"start": 1}},
        )


def test_identity_survives_ddl_and_merge(spark, tmp_path):
    from data_pipeline_with_spark_spark.lake.versioned import WhenMatched

    df = spark.createDataFrame([(f"u{i}",) for i in range(5)], ["name"])
    t = VersionedTable(spark, str(tmp_path / "idddl")).create(
        df, identity={"uid": {"start": 1, "step": 1}}
    )
    # step validation
    with pytest.raises(ValueError, match="step must be >= 1"):
        VersionedTable(spark, str(tmp_path / "idbad")).create(
            df, identity={"uid": {"start": 1, "step": 0}}
        )
    # UPDATE cannot SET an identity column
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.update("name = 'u0'", {"uid": "0"})

    # merge: matched rows keep their identity, inserts mint fresh
    ids0 = {r.name: r.uid for r in t.read().collect()}
    t.merge_upsert(
        spark.createDataFrame([("u0",), ("zz",)], ["name"]), keys=["name"]
    )
    after = {r.name: r.uid for r in t.read().collect()}
    assert after["u0"] == ids0["u0"]
    assert after["zz"] not in set(ids0.values())
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.merge(
            spark.createDataFrame([(1, "x")], ["uid", "name"]),
            keys=["name"],
            matched=[WhenMatched()],
        )

    # rename carries the identity spec; appends keep minting under the
    # new name and never into a phantom column
    t.rename_column("uid", "row_uid")
    t.append(spark.createDataFrame([("new1",)], ["name"]))
    vals = [r.row_uid for r in t.read().collect()]
    assert len(vals) == len(set(vals)) == 7
    assert t.identity_columns().keys() == {"row_uid"}

    # drop removes the spec; later appends mint nothing, and re-adding
    # the name yields a plain nullable column
    t.drop_column("row_uid")
    assert t.identity_columns() == {}
    t.append(spark.createDataFrame([("new2",)], ["name"]))
    t.add_column("row_uid", "string")
    rows = t.read().collect()
    assert all(r.row_uid is None for r in rows) and len(rows) == 8


def test_drop_clustering_column_rejected(spark, tmp_path):
    df = spark.createDataFrame([(i, i) for i in range(10)], ["a", "b"])
    t = VersionedTable(spark, str(tmp_path / "dropclu")).create(df)
    t.cluster_by(["b"])
    with pytest.raises(ValueError, match="clustering column"):
        t.drop_column("b")


def test_clone_carries_usable_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    df = spark.createDataFrame([(i, i % 3) for i in range(500)], ["id", "k"])
    src = VersionedTable(spark, str(tmp_path / "csrc")).create(df)
    src.optimize(zorder_by=["id"], target_partitions=4)
    clone = VersionedTable.clone_from(src, str(tmp_path / "cdst"))
    # planning on the clone stays metadata-only
    stats = clone._log_stats(clone._latest())
    assert stats and all("id" in s["cols"] for s in stats.values())
    kept, total = clone.plan_files(("id", "<", 50))
    assert total == 4 and len(kept) < total


def test_writer_waits_out_inflight_publish_no_lost_update(spark, tmp_path):
    # r5 ADVICE (medium): a writer starting while another writer's
    # O_EXCL publish is in flight must NOT base its snapshot on v-1 yet
    # commit to slot v+1 (which would silently exclude the in-flight
    # acknowledged commit v from all later snapshots). Deterministic
    # replay of that interleaving: the late writer's base snapshot READ
    # skips the young in-flight entry (reader semantics), the in-flight
    # publish then completes, and the late writer's slot choice must
    # ABORT with a conflict instead of committing past it.
    import json as _json
    import threading as _threading
    import time as _time

    df = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "race")).create(df)
    v = t._latest().version
    inflight = t.log_dir / f"{v + 1:020d}.json"
    inflight.write_text("")  # slot claimed, content not yet synced
    assert t._latest().version == v  # base snapshot skips the live publish
    done = _json.dumps({**t._latest().__dict__, "version": v + 1})

    # settle blocks while the tail is unparsable, resumes when it lands
    w = _threading.Thread(target=lambda: (_time.sleep(1.0), inflight.write_text(done)))
    t0 = _time.monotonic()
    w.start()
    try:
        with pytest.raises(RuntimeError, match="concurrent commit conflict"):
            t._next_version()
    finally:
        w.join()
    assert _time.monotonic() - t0 >= 0.9  # it genuinely waited, not raced
    # commit v+1 survived; nothing was committed past it
    assert t._latest().version == v + 1
    # after re-reading the settled state, writes proceed normally
    t.append(spark.createDataFrame([(3, 3.0)], ["id", "v"]))
    assert t._latest().version == v + 2
    assert t.read().count() == 2


def test_next_version_rejects_stale_snapshot(spark, tmp_path):
    # OCC token: _next_version refuses a slot that skips past a commit
    # the instance has not seen.
    df = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    t = VersionedTable(spark, str(tmp_path / "occ")).create(df)
    t._latest()  # snapshot read at v0
    other = VersionedTable(spark, str(tmp_path / "occ"))
    other.append(spark.createDataFrame([(2, 2.0)], ["id", "v"]))  # v1 lands
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t._next_version()
    t._latest()  # re-read -> token refreshes -> slot arithmetic is clean
    assert t._next_version() == 2


def test_matview_count_distinct_support_relation(spark, tmp_path):
    # COUNT(DISTINCT col) via the exact support relation: after every
    # DML shape the derived n_distinct must equal a full recompute,
    # multiplicities must be right (a value leaves only when its last
    # occurrence does), and the companion's own watermark makes the
    # fold exactly-once.
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView

    t = VersionedTable(spark, str(tmp_path / "base"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10, "x"), (2, "a", 20, "y"), (3, "a", 5, "x"), (4, "b", 7, "z")],
            "id INT, k STRING, v INT, tag STRING",
        )
    )
    view = IncrementalAggView(
        spark, t, str(tmp_path / "view"), keys=["k"], sum_cols=["v"],
        distinct_cols=["tag"],
    )
    view.build()

    def recompute():
        return {
            r.k: (r.sum_v, r.n_rows, r.nd)
            for r in t.read().groupBy("k").agg(
                F.coalesce(F.sum(F.coalesce("v", F.lit(0))), F.lit(0)).alias("sum_v"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("tag").alias("nd"),
            ).collect()
        }

    def view_state():
        return {
            r.k: (r.sum_v, r.n_rows, r.n_distinct_tag)
            for r in view.read().collect()
        }

    assert view_state() == recompute() == {"a": (35, 3, 2), "b": (7, 1, 1)}

    # delete ONE of the two 'x' rows: multiplicity 2 -> 1, distinct unchanged
    t.delete(where="id = 1")
    view.refresh()
    assert view_state() == recompute()
    assert view_state()["a"][2] == 2

    # delete the LAST 'x' row: value leaves, distinct drops
    t.delete(where="id = 3")
    view.refresh()
    assert view_state()["a"][2] == 1
    assert view_state() == recompute()

    # update flipping a tag: one value leaves, another appears
    t.update(where="id = 2", set_exprs={"tag": "'w'"})
    view.refresh()
    assert view_state() == recompute()

    # null tags don't count; new group with only-null tags reads 0
    t.append(spark.createDataFrame([(5, "c", 1, None)], "id INT, k STRING, v INT, tag STRING"))
    view.refresh()
    assert view_state()["c"] == (1, 1, 0)
    assert view_state() == recompute()

    # idempotency: double refresh is a no-op for the support too
    assert view.refresh()["changed_keys"] == 0
    assert view_state() == recompute()

    # crash-recovery interleaving: support already synced, view behind.
    # Simulate by rolling the VIEW watermark back one version and
    # re-refreshing — the support must skip (no double-fold), the view
    # must catch up, and the states must still agree.
    import json as _json

    v_now = view.last_synced_version()
    view.view.set_properties({view.SYNC_PROP: str(v_now - 1)})
    view.refresh()
    state = view_state()
    rec = recompute()
    # n_distinct stays exact (support skipped the double window)
    assert {k: s[2] for k, s in state.items()} == {k: s[2] for k, s in rec.items()}


def test_recorded_cdf_fast_path_matches_diff(spark, tmp_path):
    # File-log CDF: append/update/delete windows serve from recorded
    # feeds (last_changes_route == 'recorded') and must agree with the
    # snapshot-diff fallback row-for-row; merge and schema evolution
    # fall back; vacuum keeps kept-version feeds readable.
    t = VersionedTable(spark, str(tmp_path / "cdf2"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id INT, tag STRING"))
    t.append(spark.createDataFrame([(4, "d")], "id INT, tag STRING"))      # v1
    t.update(where="id = 2", set_exprs={"tag": "'B'"})                      # v2
    t.delete(where="id = 3")                                                # v3
    from data_pipeline_with_spark_spark.lake.versioned import (
        WhenMatched,
        WhenNotMatched,
    )

    def rows(df):
        return {(r.id, r.tag, r._change_type) for r in df.collect()}

    # single-version windows: recorded == diff exactly. The diff twin is
    # computed GENUINELY by suppressing the recorded route (monkeypatched
    # _recorded_changes -> None), not by re-reading the recorded result.
    windows = [(0, 1), (1, 2), (2, 3)]
    rec_rows = {}
    for a, b in windows:
        rec_rows[(a, b)] = rows(t.changes(a, b))
        assert t.last_changes_route == "recorded", (a, b)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(VersionedTable, "_recorded_changes", lambda self, f, tv: None)
        for a, b in windows:
            assert rows(t.changes(a, b)) == rec_rows[(a, b)], (a, b)
            assert t.last_changes_route == "diff"
    assert rows(t.changes(0, 1)) == {(4, "d", "insert")}
    assert rows(t.changes(1, 2)) == {(2, "b", "delete"), (2, "B", "insert")}
    assert rows(t.changes(2, 3)) == {(3, "c", "delete")}

    # multi-version window: event-log union of the per-version feeds
    multi = rows(t.changes(0, 3))
    assert t.last_changes_route == "recorded"
    assert multi == {
        (4, "d", "insert"),
        (2, "b", "delete"),
        (2, "B", "insert"),
        (3, "c", "delete"),
    }

    # clause-based merge records its feed too (no engine-minted ids)
    t.merge(
        spark.createDataFrame([(4, "D"), (9, "i")], "id INT, tag STRING"),
        keys=["id"],
        matched=[WhenMatched()],
        not_matched=[WhenNotMatched()],
    )                                                                       # v4
    ch = rows(t.changes(3, 4))
    assert t.last_changes_route == "recorded"
    assert ch == {(4, "d", "delete"), (4, "D", "insert"), (9, "i", "insert")}
    # whole-history window stays recorded and event-complete
    assert rows(t.changes(0, 4)) >= ch
    assert t.last_changes_route == "recorded"

    # add-only schema evolution stays recorded: earlier feeds null-fill
    # the new column under the to-version schema (same semantics as the
    # diff's alignment)
    t.append(
        spark.createDataFrame([(10, "j", 1.5)], "id INT, tag STRING, score DOUBLE"),
        merge_schema=True,
    )                                                                       # v5
    got5 = {(r.id, r.tag, r.score, r._change_type) for r in t.changes(3, 5).collect()}
    assert t.last_changes_route == "recorded"
    assert (10, "j", 1.5, "insert") in got5
    assert (4, "d", None, "delete") in got5  # v4 feed null-filled
    # a column-mapping change (rename) inside the window -> fallback
    t.rename_column("tag", "label")                                          # v6
    rows6 = {(r.id, r.label, r._change_type) for r in t.changes(4, 6).collect()}
    assert t.last_changes_route == "diff"
    # rename is metadata-only: only v5's append surfaces
    assert rows6 == {(10, "j", "insert")}


def test_recorded_cdf_dv_delete_and_vacuum(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "cdf3"))
    t.create(spark.createDataFrame([(i, float(i)) for i in range(20)], ["id", "v"]))
    t.delete("id % 5 = 1", use_dv=True)                                     # v1
    ch = {(r.id, r._change_type) for r in t.changes(0, 1).collect()}
    assert t.last_changes_route == "recorded"
    assert ch == {(1, "delete"), (6, "delete"), (11, "delete"), (16, "delete")}
    # feed survives a vacuum that keeps this version
    t.append(spark.createDataFrame([(100, 0.5)], ["id", "v"]))              # v2
    t.vacuum(keep_versions=2, orphan_retention_seconds=0)
    assert {(r.id, r._change_type) for r in t.changes(1, 2).collect()} == {
        (100, "insert")
    }
    assert t.last_changes_route == "recorded"
    # vacuum to 1 version drops v1's feed dir (named v1_<uuid8> under the
    # table's real root); the old window then falls back to the snapshot
    # diff — which still works because v2's commit carries v0's data dir
    # and v1's DV tombstone by reference — with identical rows.
    t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    import pathlib

    assert list((pathlib.Path(t.root) / "_change_data").glob("v1_*")) == []
    ch_after = {(r.id, r._change_type) for r in t.changes(0, 1).collect()}
    assert t.last_changes_route == "diff"
    assert ch_after == {(1, "delete"), (6, "delete"), (11, "delete"), (16, "delete")}


def test_recorded_cdf_rowtracked_and_identity_merge(spark, tmp_path):
    # MERGE on row-tracked / identity tables now records its feed too:
    # post-images are derived from the WRITTEN files (where the minted
    # ids live) keyed on the engine-unique id, so the recorded route
    # must agree row-for-row with the snapshot-diff fallback — minted
    # ids included.
    def diff_rows(t, a, b):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(VersionedTable, "_recorded_changes", lambda self, f, tv: None)
            out = {tuple(r) for r in t.changes(a, b).collect()}
            assert t.last_changes_route == "diff"
        return out

    # row-tracked table: update / delete / insert clauses in one merge
    t = VersionedTable(spark, str(tmp_path / "rtm"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id INT, tag STRING"))
    t.enable_row_tracking()                                                 # v1
    v_before = t._latest().version
    t.merge(
        spark.createDataFrame([(2, "B"), (3, "DEL"), (9, "i")], "id INT, tag STRING"),
        keys=["id"],
        matched=[
            WhenMatched(condition="s.tag = 'DEL'", delete=True),
            WhenMatched(),
        ],
        not_matched=[WhenNotMatched()],
    )
    rec = {tuple(r) for r in t.changes(v_before, v_before + 1).collect()}
    assert t.last_changes_route == "recorded"
    assert rec == diff_rows(t, v_before, v_before + 1)
    tags = {r[-1] for r in rec}
    assert tags == {"update_preimage", "update_postimage", "delete", "insert"}

    # identity table: minted insert ids must match between routes
    t2 = VersionedTable(spark, str(tmp_path / "idm"))
    t2.create(
        spark.createDataFrame([(1, "a"), (2, "b")], "id INT, tag STRING"),
        identity={"uid": {"start": 100, "step": 2}},
    )
    t2.merge(
        spark.createDataFrame([(2, "B"), (7, "n")], "id INT, tag STRING"),
        keys=["id"],
        matched=[WhenMatched()],
        not_matched=[WhenNotMatched()],
    )                                                                       # v1
    rec2 = {tuple(r) for r in t2.changes(0, 1).collect()}
    assert t2.last_changes_route == "recorded"
    assert rec2 == diff_rows(t2, 0, 1)
    assert any(r[-1] == "insert" for r in rec2)  # minted-uid insert present

    # unvalidated source cardinality still falls back to the diff
    t.merge(
        spark.createDataFrame([(9, "I2")], "id INT, tag STRING"),
        keys=["id"],
        matched=[WhenMatched()],
        validate_unique_source=False,
    )
    v = t._latest().version
    t.changes(v - 1, v).collect()
    assert t.last_changes_route == "diff"


def test_matview_read_warns_on_support_watermark_skew(spark, tmp_path):
    # A refresh commits support folds before the main merge; if a crash
    # lands between the two, read() serves n_distinct_* from a newer
    # source version than sum_*. read() must detect the watermark skew
    # and warn (recommending refresh), and refresh() must converge it.
    import warnings as _warnings

    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView

    t = VersionedTable(spark, str(tmp_path / "wsk"))
    t.create(
        spark.createDataFrame(
            [(1, "a", 10, "x"), (2, "b", 7, "z")], "id INT, k STRING, v INT, tag STRING"
        )
    )
    view = IncrementalAggView(
        spark, t, str(tmp_path / "wskv"), keys=["k"], sum_cols=["v"],
        distinct_cols=["tag"],
    )
    view.build()
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # clean state: no warning
        view.read().collect()
    # simulate the crash window: support ahead of the view
    sup = next(iter(view.supports.values()))
    sup.set_properties({view.SYNC_PROP: str(view.last_synced_version() + 1)})
    with pytest.warns(UserWarning, match="refresh"):
        view.read()
    sup.set_properties({view.SYNC_PROP: str(view.last_synced_version())})
    view.refresh()
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        view.read().collect()


def test_recorded_cdf_insert_dirs_vacuumed_falls_back(spark, tmp_path):
    # insert_dirs feeds mirror the parquet-mode vacuum guard: when an
    # appended dir was rewritten (OPTIMIZE) and vacuumed while its
    # commit log survives, changes() over that window must take the
    # diff fallback (which surfaces the missing-snapshot condition via
    # the established read path) instead of raising an opaque
    # AnalysisException from inside the feed read.
    t = VersionedTable(spark, str(tmp_path / "cdf4"))
    t.create(spark.createDataFrame([(1, "a")], "id INT, tag STRING"))
    t.append(spark.createDataFrame([(2, "b")], "id INT, tag STRING"))   # v1
    t.optimize()                                                        # v2
    t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    try:
        t.changes(0, 1).collect()
    except Exception:
        pass  # vacuumed snapshots may be unreadable; the ROUTE is the contract
    assert t.last_changes_route == "diff"


def test_matview_refresh_uses_recorded_feeds(spark, tmp_path):
    # The matview's O(changed rows) claim is now real end-to-end: a
    # refresh over append/update/delete commits reads recorded feeds,
    # not snapshot diffs.
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView

    t = VersionedTable(spark, str(tmp_path / "mvb"))
    t.create(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id INT, k STRING, v INT"))
    view = IncrementalAggView(spark, t, str(tmp_path / "mvv"), keys=["k"], sum_cols=["v"])
    view.build()
    t.append(spark.createDataFrame([(3, "a", 5)], "id INT, k STRING, v INT"))
    t.update(where="id = 2", set_exprs={"v": "v + 1"})
    view.refresh()
    assert t.last_changes_route == "recorded"
    got = {r.k: (r.sum_v, r.n_rows) for r in view.read().collect()}
    assert got == {"a": (15, 2), "b": (21, 1)}


def test_pinned_slot_survives_latest_rearm(spark, tmp_path):
    # r6 review: a _latest() re-read mid-operation (the commit
    # builder's base-snapshot read) must not re-arm the OCC token past
    # a concurrently-taken slot — the first _next_version() of an
    # operation PINS the slot, and losing it surfaces as a loud publish
    # conflict, never a silent commit past another writer's version.
    t = VersionedTable(spark, str(tmp_path / "pin")).create(
        spark.createDataFrame([(1, 1.0)], ["id", "v"])
    )
    other = VersionedTable(spark, str(tmp_path / "pin"))
    t._latest()
    slot = t._next_version()  # operation begins: slot pinned
    assert t._next_version() == slot  # stable while the tail is quiet
    t._latest()  # a token re-arm mid-operation must NOT move the pin
    assert t._next_version() == slot
    other.append(spark.createDataFrame([(2, 2.0)], ["id", "v"]))  # takes it
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t.set_properties({"k": "v"})  # stolen slot detected eagerly: loud
    # pin released by the conflict: the retry re-reads and lands cleanly
    t._latest()
    t.set_properties({"k": "v"})
    assert t._latest().version == slot + 1
    assert t.read().count() == 2  # other's append was never lost

    # a pin leaked by an ABORTED operation self-heals the same way: one
    # loud conflict (never a silent stale-slot commit), then clean retry
    t._latest()
    t._next_version()  # pin; simulate the op dying here
    other.append(spark.createDataFrame([(3, 3.0)], ["id", "v"]))
    t._latest()
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t.set_properties({"k2": "v2"})
    t._latest()
    t.set_properties({"k2": "v2"})
    assert t.read().count() == 3


def test_matview_no_phantom_group_on_churn_within_window(spark, tmp_path):
    # r6 review: a group key created AND fully deleted between two
    # refreshes folds to d_n_rows=0 — it must NOT enter the view as a
    # phantom (n_rows=0) row under the event-log recorded feed.
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView

    t = VersionedTable(spark, str(tmp_path / "churn"))
    t.create(spark.createDataFrame([(1, "a", 10)], "id INT, k STRING, v INT"))
    view = IncrementalAggView(
        spark, t, str(tmp_path / "churnv"), keys=["k"], sum_cols=["v"],
        minmax_cols=["v"],
    )
    view.build()
    t.append(spark.createDataFrame([(2, "z", 7), (3, "z", 9)], "id INT, k STRING, v INT"))
    t.delete(where="k = 'z'")
    view.refresh()  # ONE refresh spanning create+delete of 'z'
    state = {r.k for r in view.read().collect()}
    assert state == {"a"}
    recompute = {r.k for r in t.read().groupBy("k").count().collect()}
    assert state == recompute


def test_matview_minmax_new_key_churn_within_window(spark, tmp_path):
    # r6 second review (reproduced bug): a key NEW to the view whose
    # window contains both inserts and a delete must rescan — folding
    # ins_min/ins_max alone would keep the deleted extremum.
    from data_pipeline_with_spark_spark.lake.matview import IncrementalAggView

    t = VersionedTable(spark, str(tmp_path / "mmchurn"))
    t.create(spark.createDataFrame([(1, "a", 10)], "id INT, k STRING, v INT"))
    view = IncrementalAggView(
        spark, t, str(tmp_path / "mmchurnv"), keys=["k"], sum_cols=["v"],
        minmax_cols=["v"],
    )
    view.build()
    t.append(spark.createDataFrame([(2, "z", 7), (3, "z", 9)], "id INT, k STRING, v INT"))
    t.delete(where="k = 'z' AND v = 9")
    view.refresh()  # one refresh spanning both commits
    assert t.last_changes_route == "recorded"  # the route that exposed it
    z = {r.k: (r.n_rows, r.min_v, r.max_v) for r in view.read().collect()}["z"]
    assert z == (1, 7, 7)
    # symmetric: min side churn
    t.append(spark.createDataFrame([(4, "w", 3), (5, "w", 8)], "id INT, k STRING, v INT"))
    t.delete(where="k = 'w' AND v = 3")
    view.refresh()
    w = {r.k: (r.n_rows, r.min_v, r.max_v) for r in view.read().collect()}["w"]
    assert w == (1, 8, 8)


def test_vacuum_sql_retain_clauses_either_order(spark, cars, tmp_path):
    # r8 advice: the grammar was clause-order-sensitive — RETAIN n
    # VERSIONS had to precede RETAIN h HOURS and the reverse order fell
    # through to unsupported-statement. Both orders must now parse and
    # bind both clauses.
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL

    t = VersionedTable(spark, str(tmp_path / "sqlord")).create(cars)
    orphan = t.data_dir / "v88_dddddddd"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"x")
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("sqlord", t)
    a = {
        r.removed_path
        for r in router.sql(
            "VACUUM sqlord RETAIN 1 VERSIONS RETAIN 0 HOURS DRY RUN"
        ).collect()
    }
    b = {
        r.removed_path
        for r in router.sql(
            "VACUUM sqlord RETAIN 0 HOURS RETAIN 1 VERSIONS DRY RUN"
        ).collect()
    }
    assert a == b and str(orphan) in a and orphan.exists()  # dry run


def test_vacuum_sql_rejects_duplicate_retain_clause(spark, cars, tmp_path):
    # r9 advice: the {0,2} clause repetition also matched the SAME
    # clause twice, silently binding the last occurrence. Duplicates
    # must now be rejected loudly; the valid either-order forms stay.
    from data_pipeline_with_spark_spark.lake.sql_router import LakehouseSQL

    t = VersionedTable(spark, str(tmp_path / "sqldup")).create(cars)
    router = LakehouseSQL(spark, str(tmp_path / "ws"))
    router.register_table("sqldup", t)
    with pytest.raises(ValueError, match="VERSIONS specified more than once"):
        router.sql("VACUUM sqldup RETAIN 1 VERSIONS RETAIN 5 VERSIONS DRY RUN")
    with pytest.raises(ValueError, match="HOURS specified more than once"):
        router.sql("VACUUM sqldup RETAIN 1 HOURS RETAIN 2 HOURS DRY RUN")
    # single and mixed clauses still parse
    router.sql("VACUUM sqldup RETAIN 1 VERSIONS DRY RUN")
    router.sql("VACUUM sqldup RETAIN 0 HOURS RETAIN 1 VERSIONS DRY RUN")


def test_restore_keeps_constraints_and_generated_columns(spark, tmp_path):
    # RESTORE brings back the target version's whole snapshot, table
    # rules included: a constraint and a generated column declared at or
    # before that version keep holding after the restore.
    t = VersionedTable(spark, str(tmp_path / "rs")).create(
        spark.createDataFrame([(1, 10, 20)], "id INT, v INT, g INT"),
        generated={"g": "v * 2"},
    )
    t.add_constraint("v_pos", "v > 0")  # v1
    t.append(spark.createDataFrame([(2, 5)], "id INT, v INT"))  # v2
    t.restore(1)
    assert t.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(3, -5)], "id INT, v INT"))
    t.append(spark.createDataFrame([(4, 7)], "id INT, v INT"))
    assert {r.id: r.g for r in t.read().collect()} == {1: 20, 4: 14}


def test_clone_carries_constraints_and_generated_columns(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src")).create(
        spark.createDataFrame([(1, 10, 20)], "id INT, v INT, g INT"),
        generated={"g": "v * 2"},
    )
    src.add_constraint("v_pos", "v > 0")
    clone = VersionedTable.clone_from(src, str(tmp_path / "cl"))
    assert clone.constraints() == {"v_pos": "v > 0"}
    assert clone.generated_columns() == {"g": "v * 2"}
    with pytest.raises(ConstraintViolationError):
        clone.append(spark.createDataFrame([(2, -5)], "id INT, v INT"))
    clone.append(spark.createDataFrame([(3, 4)], "id INT, v INT"))
    assert {r.id: r.g for r in clone.read().collect()} == {1: 20, 3: 8}


def test_idempotent_append_mints_identity_like_append(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "idtxn")).create(
        spark.createDataFrame([(f"u{i}",) for i in range(5)], ["name"]),
        identity={"uid": {"start": 100, "step": 2}},
    )
    v0 = [r.uid for r in t.read().collect()]
    batch = spark.createDataFrame([("x",), ("y",)], ["name"])
    assert t.idempotent_append(batch, app_id="job", batch_id=0) is True
    new = [r.uid for r in t.read().where("name IN ('x', 'y')").collect()]
    assert len(set(new)) == 2 and all(u is not None and u > max(v0) for u in new)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        t.idempotent_append(
            spark.createDataFrame([(999, "z")], ["uid", "name"]),
            app_id="job",
            batch_id=1,
        )
    # the watermark advanced: a plain append mints above the txn batch
    t.append(spark.createDataFrame([("w",)], ["name"]))
    (w,) = [r.uid for r in t.read().where("name = 'w'").collect()]
    assert w > max(new)


def test_history_skips_inflight_newest_entry(spark, cars, tmp_path):
    # A young, unparsable newest log entry is a live O_EXCL-fallback
    # publish still copying: history() skips it the way reads do.
    t = VersionedTable(spark, str(tmp_path / "hinf")).create(cars)
    t.append(cars)
    (t.log_dir / f"{2:020d}.json").write_text("")
    assert t.read().count() == 6
    assert [h["version"] for h in t.history()] == [1, 0]


@pytest.fixture(scope="module")
def rich_table(spark, tmp_path_factory):
    """A table whose newest commit sets every carried Commit field:
    partitioning, a CHECK constraint, a generated column, column mapping
    (a rename), deletion vectors, properties (NOT NULL included) and
    stats refs."""
    root = tmp_path_factory.mktemp("carry") / "base"
    t = VersionedTable(spark, str(root)).create(
        spark.createDataFrame(
            [(i, i + 1, 2 * (i + 1), i * 10, "a" if i % 2 else "b", "x") for i in range(6)],
            "id INT, v INT, g INT, w INT, p STRING, u STRING",
        ),
        partition_by=["p"],
        generated={"g": "v * 2"},
    )
    t.add_constraint("v_pos", "v > 0")
    t.set_properties({"delta.enableDeletionVectors": "true"})
    t.delete(where="id = 2")
    t.rename_column("u", "u2")
    t.set_not_null("id")
    return root


# metadata-only op -> (how to run it, the Commit fields it owns)
_CARRY_OPS = {
    "set_properties": (lambda t: t.set_properties({"k": "v"}), {"properties"}),
    "add_constraint": (lambda t: t.add_constraint("w_nonneg", "w >= 0"), {"constraints"}),
    "drop_constraint": (lambda t: t.drop_constraint("v_pos"), {"constraints"}),
    "set_not_null": (lambda t: t.set_not_null("w"), {"schema_json", "properties"}),
    "drop_not_null": (lambda t: t.drop_not_null("id"), {"schema_json", "properties"}),
    "add_column": (lambda t: t.add_column("extra", "string"), {"schema_json", "column_mapping"}),
    "drop_column": (
        lambda t: t.drop_column("w"),
        {"schema_json", "column_mapping", "properties"},
    ),
    "rename_column": (
        lambda t: t.rename_column("w", "w2"),
        {"schema_json", "partition_by", "column_mapping", "properties"},
    ),
}


@pytest.mark.parametrize("op", sorted(_CARRY_OPS))
def test_metadata_op_carries_every_field_it_does_not_own(spark, rich_table, tmp_path, op):
    # The carry-forward policy in one place: a metadata-only commit
    # equals its base snapshot on every field the operation does not own.
    import dataclasses
    import shutil

    run, owned = _CARRY_OPS[op]
    root = tmp_path / "t"
    shutil.copytree(rich_table, root)  # log paths stay absolute: shared data
    t = VersionedTable(spark, str(root))
    base = t._latest()
    assert base.dv_paths and base.column_mapping and base.constraints
    run(t)
    new = t._latest()
    assert new.version == base.version + 1
    per_commit = {"version", "timestamp", "operation", "params", "cdf"}
    changed = {
        f.name
        for f in dataclasses.fields(new)
        if getattr(new, f.name) != getattr(base, f.name)
    }
    assert changed - per_commit <= owned


@pytest.fixture(scope="module")
def race_table(spark, tmp_path_factory):
    """Two overlapping files (ids 0..9, v = id), a deletion vector on
    id 9, clustered by id: every rewriting op has work to do."""
    root = tmp_path_factory.mktemp("race") / "base"
    t = VersionedTable(spark, str(root)).create(
        spark.createDataFrame([(i, i) for i in range(0, 10, 2)], "id INT, v INT").coalesce(1)
    )
    t.append(
        spark.createDataFrame([(i, i) for i in range(1, 10, 2)], "id INT, v INT").coalesce(1)
    )
    t.delete("id = 9", use_dv=True)
    t.cluster_by(["id"])
    return root


def _race_copy(spark, race_table, tmp_path) -> VersionedTable:
    import shutil

    root = tmp_path / "t"
    shutil.copytree(race_table, root)  # log paths stay absolute: shared data
    return VersionedTable(spark, str(root))


_RACE_BATCH = [(50 + i, 50 + i) for i in range(5)]
_RACE_OTHER = [(100 + i, 100 + i) for i in range(5)]

# op -> (run it on a handle, its effect on a list of (id, v) rows)
_RACE_OPS = {
    "update": (
        lambda t: t.update("id < 4", {"v": "v + 100"}),
        lambda rows: [(i, v + 100 if i < 4 else v) for i, v in rows],
    ),
    "delete": (
        lambda t: t.delete("id < 4", use_dv=False),
        lambda rows: [(i, v) for i, v in rows if i >= 4],
    ),
    "delete_dv": (
        lambda t: t.delete("id < 4", use_dv=True),
        lambda rows: [(i, v) for i, v in rows if i >= 4],
    ),
    "optimize_where": (lambda t: t.optimize_where(("id", ">=", 0)), list),
    "optimize_incremental": (lambda t: t.optimize_incremental(max_overlap=0), list),
    "purge_deletion_vectors": (lambda t: t.purge_deletion_vectors(), list),
    "merge": (
        lambda t: t.merge(
            t.spark.createDataFrame([(2, -1), (20, -1)], "id INT, v INT"),
            ["id"],
            matched=[WhenMatched()],
            not_matched=[WhenNotMatched()],
        ),
        lambda rows: [(i, -1 if i == 2 else v) for i, v in rows] + [(20, -1)],
    ),
    "idempotent_append": (
        lambda t: t.idempotent_append(
            t.spark.createDataFrame(_RACE_BATCH, "id INT, v INT"), "app", 0
        ),
        list,  # the injected writer replays this same batch
    ),
}


@pytest.mark.parametrize("op", sorted(_RACE_OPS))
def test_op_commits_on_the_snapshot_it_read_or_conflicts(
    spark, race_table, tmp_path, monkeypatch, op
):
    # A second handle's write lands right after the op's first commit-log
    # parse. The op must then raise CommitConflict or keep those rows —
    # never drop them, never apply a batch twice — and a retry lands both.
    from data_pipeline_with_spark_spark.lake import versioned as V

    t = _race_copy(spark, race_table, tmp_path)
    other = VersionedTable(spark, str(t.root))
    if op == "idempotent_append":
        injected = _RACE_BATCH
        batch = spark.createDataFrame(_RACE_BATCH, "id INT, v INT")
        write = lambda: other.idempotent_append(batch, "app", 0)  # noqa: E731
    else:
        injected = _RACE_OTHER
        write = lambda: other.append(  # noqa: E731
            spark.createDataFrame(_RACE_OTHER, "id INT, v INT")
        )
    armed = [True]

    class Injecting(V.Commit):
        # every log parse builds a Commit: the first one fires the write
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            if armed[0]:
                armed[0] = False
                write()

    monkeypatch.setattr(V, "Commit", Injecting)
    run, effect = _RACE_OPS[op]
    try:
        run(t)
        landed = True
    except CommitConflict:
        landed = False
    assert not armed[0]
    ids = [r.id for r in t.read().collect()]
    assert all(ids.count(i) == 1 for i, _ in injected), (landed, sorted(ids))
    if not landed:
        retry_on_conflict(lambda: run(t))
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == sorted(effect([(i, i) for i in range(9)] + injected))


def test_idempotent_append_waits_out_inflight_publish(spark, tmp_path):
    # The marker scan reads only commits up to the base version: a young,
    # unparsable newest entry (a live O_EXCL publish still copying) is
    # left to the settle barrier, which waits it out and then conflicts.
    import json as _json
    import threading as _threading
    import time as _time

    t = VersionedTable(spark, str(tmp_path / "t")).create(
        spark.createDataFrame([(1, 1)], "id INT, v INT")
    )
    base = t._latest()
    inflight = t.log_dir / f"{base.version + 1:020d}.json"
    inflight.write_text("")  # slot claimed, content not yet synced
    done = _json.dumps({**base.__dict__, "version": base.version + 1})
    w = _threading.Thread(target=lambda: (_time.sleep(1.0), inflight.write_text(done)))
    batch = spark.createDataFrame([(2, 2)], "id INT, v INT")
    w.start()
    try:
        with pytest.raises(CommitConflict):
            t.idempotent_append(batch, "app", 0)
    finally:
        w.join()
    assert t.idempotent_append(batch, "app", 0)
    assert not t.idempotent_append(batch, "app", 0)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_vacuum_waits_out_inflight_publish(spark, tmp_path):
    # vacuum parses the whole log strictly (skipping an entry could
    # collect dirs it references); a young, unparsable newest entry (a
    # live O_EXCL publish still copying) is waited out, not a
    # JSONDecodeError, and the dirs it references survive.
    import json as _json
    import threading as _threading
    import time as _time
    from pathlib import Path as _Path

    t = VersionedTable(spark, str(tmp_path / "t")).create(
        spark.createDataFrame([(1, 1)], "id INT, v INT")
    )
    t.append(spark.createDataFrame([(2, 2)], "id INT, v INT"))
    head = t._latest()
    inflight = t.log_dir / f"{head.version:020d}.json"
    done = inflight.read_text()
    inflight.write_text("")  # slot claimed, content not yet synced
    w = _threading.Thread(target=lambda: (_time.sleep(1.0), inflight.write_text(done)))
    w.start()
    try:
        t.vacuum(keep_versions=1, orphan_retention_seconds=0)
    finally:
        w.join()
    assert head.data_dirs and all(_Path(d).exists() for d in head.data_dirs)
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert _json.loads(inflight.read_text())["version"] == head.version


@pytest.mark.parametrize(
    "rewrite",
    [
        lambda t: t.optimize_where(("id", ">=", 0)),
        lambda t: t.optimize_incremental(max_overlap=0),
    ],
    ids=["optimize_where", "optimize_incremental"],
)
def test_whole_table_rewrite_drops_dangling_deletion_vectors(
    spark, race_table, tmp_path, rewrite
):
    # Rewritten files were read with their tombstones applied; with no
    # file carried over, every tombstone dangles and must not be kept.
    t = _race_copy(spark, race_table, tmp_path)
    assert t.detail()["num_deletion_vectors"] == 1
    rewrite(t)
    assert t._latest().params["carried_files"] == 0
    assert t.detail()["num_deletion_vectors"] == 0
    assert "LeftAnti" not in t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert t.read().count() == 9

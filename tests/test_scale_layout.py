"""Physical-layout tests for the 100 TB posture: partition pruning on
date-partitioned landing zones, shuffle-free joins on bucketed tables,
and the streaming incremental-dedup twin of EP2."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cs_tutorial_reporting_spark.sources.readers import load_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_landing_prunes_partitions(spark, tmp_path):
    """A date-partitioned landing write must turn a date predicate into
    partition pruning (PartitionFilters), not a full scan."""
    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "landing")
    events.withColumn("d", F.to_date("ts")).write.partitionBy("d").parquet(out)

    days = [r.d for r in spark.read.parquet(out).select("d").distinct().collect()]
    one = sorted(days)[0]
    df = spark.read.parquet(out).filter(F.col("d") == F.lit(one))
    import re

    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[[^\]]*\(d#\d+ = ", plan), plan
    # pruned row count equals the per-day batch count
    want = events.filter(F.to_date("ts") == F.lit(one)).count()
    assert df.count() == want


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables written through write_bucketed on the join key
    co-locate: the sort-merge join runs with ZERO Exchange operators,
    while the identical join over the unbucketed frames pays one
    exchange per side — the layout's shuffle saving made visible in the
    same plan audit. groupBy on the bucket key is exchange-free too."""
    from cs_tutorial_reporting_spark.sources.maintenance import write_bucketed

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/bktdb'"
    )
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    write_bucketed(
        orders, "bktdb.orders_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"]
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bktdb.lineitem_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"],
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bktdb.orders_b").join(
            spark.table("bktdb.lineitem_b"), "o_orderkey"
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-located both sides
        # the unbucketed twin pays a hash exchange on each side
        uj = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert _plan(uj).count("Exchange") >= 2
        # aggregation on the bucket key: partial+final with no exchange
        agg_plan = _plan(
            spark.table("bktdb.lineitem_b").groupBy("o_orderkey").count()
        )
        assert "Exchange" not in agg_plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE bktdb.lineitem_b")
        spark.sql("DROP TABLE bktdb.orders_b")
        spark.sql("DROP DATABASE bktdb")


def test_streaming_incremental_dedup_matches_batch_distinct(spark, tmp_path):
    """EP2 streaming twin: duplicates injected across two micro-batches
    are dropped within the watermark horizon; the surviving set equals
    the batch distinct-by-PK."""
    from cs_tutorial_reporting_spark.streaming.incremental import (
        incremental_dedup_stream,
    )

    base = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "user_id", "value")
        .filter(F.col("event_id") < 2000)
    )
    src = str(tmp_path / "src")
    # batch 1: the data; batch 2: the same rows again (pure duplicates)
    base.coalesce(1).write.parquet(src, mode="overwrite")
    base.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = incremental_dedup_stream(
        stream, ["event_id"], "ts", watermark="30 days"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM inc_dedup_out").first()
    assert got.n == got.d == base.count()


def test_constraint_checks(spark):
    from cs_tutorial_reporting_spark.operators.constraints import (
        check_constraints,
        pk_violations,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None), (3, "c"), (None, "d")],
        "k int, v string",
    )
    # duplicate key 1 AND the NULL key both violate (PK implies NOT NULL)
    got = {r.k for r in pk_violations(df, ["k"]).collect()}
    assert got == {1, None}
    rep = check_constraints(df, pk_cols=["k"], not_null_cols=["v"]).first()
    assert rep.pk_violations == 2 and rep.null_violations == 1


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """foreachBatch append with a checkpoint: stop after the first file,
    restart with more files — every input row lands exactly once (no
    replays, no loss), the production streaming-load write path."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    first = events.filter(F.col("event_id") < 1000)
    second = events.filter(
        (F.col("event_id") >= 1000) & (F.col("event_id") < 2000)
    )
    first.coalesce(1).write.parquet(src, mode="overwrite")

    def run_once():
        stream = (
            spark.readStream.schema("event_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # processes file 1, checkpoints
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()  # must process ONLY file 2
    got = spark.read.parquet(out)
    assert got.count() == first.count() + second.count()
    assert got.select("event_id").distinct().count() == got.count()


def test_compaction_reduces_file_count(spark, tmp_path):
    from cs_tutorial_reporting_spark.sources.maintenance import compact

    out = str(tmp_path / "tbl")
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    # simulate 8 incremental appends of 4 files each → 32 small files
    for i in range(8):
        events.filter(F.col("event_id") % 8 == i).repartition(4).write.mode(
            "append"
        ).parquet(out)
    import glob

    before = len(glob.glob(f"{out}/*.parquet"))
    assert before >= 32
    total_before = spark.read.parquet(out).count()
    n_after = compact(spark, out, target_file_bytes=1 << 30)
    assert n_after < before
    assert spark.read.parquet(out).count() == total_before


def test_sorted_write_gives_disjoint_file_ranges(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions ⇒ per-file min/max on
    the sort column are tight AND disjoint — the physical property that
    turns a watermark range filter into file-level pruning."""
    import glob

    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.sources.maintenance import write_sorted

    out = str(tmp_path / "sorted")
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    write_sorted(events, out, ["event_id"], n_files=4)

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        col = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats = [
            md.row_group(g).column(col["event_id"]).statistics
            for g in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) >= 3
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint → a range predicate prunes whole files


# ---------------------------------------------------------------------------
# MERGE / upsert (copy-on-write, format-free)
# ---------------------------------------------------------------------------


def test_merge_upsert_update_insert_delete(spark, tmp_path):
    from cs_tutorial_reporting_spark.sources.maintenance import merge_upsert

    out = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, name string, v double",
    ).write.parquet(out)
    changes = spark.createDataFrame(
        [
            (2, "B", 21.0, False),   # update
            (4, "d", 40.0, False),   # insert
            (3, "c", 30.0, True),    # delete
            (9, "x", 0.0, True),     # delete of absent key -> no-op
        ],
        "id bigint, name string, v double, is_deleted boolean",
    )
    stats = merge_upsert(
        spark, out, changes, ["id"], delete_col="is_deleted", return_stats=True
    )
    assert stats == {"updated": 1, "inserted": 1, "deleted": 1}
    got = {
        r.id: (r.name, r.v)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: ("a", 10.0), 2: ("B", 21.0), 4: ("d", 40.0)}
    # idempotence: re-applying the same change set converges
    merge_upsert(spark, out, changes, ["id"], delete_col="is_deleted")
    assert {
        r.id: (r.name, r.v) for r in spark.read.parquet(out).collect()
    } == got


def test_merge_upsert_crash_recovery(spark, tmp_path):
    """Simulate dying between the two renames: the aside copy must be
    restored on the next merge, then the merge applied exactly once."""
    import os

    from cs_tutorial_reporting_spark.sources.maintenance import merge_upsert

    out = str(tmp_path / "tgt")
    spark.range(10).write.parquet(out)
    os.rename(out, str(tmp_path / ".tgt__old"))  # crashed mid-swap
    changes = spark.range(10, 12)  # two inserts
    merge_upsert(spark, out, changes, ["id"])
    assert spark.read.parquet(out).count() == 12


def test_merge_partitioned_rewrites_only_touched_leaves(spark, tmp_path):
    import os

    from cs_tutorial_reporting_spark.sources.maintenance import (
        merge_upsert_partitioned,
    )

    out = str(tmp_path / "ptab")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id bigint, p bigint, v double"
    )
    df.write.partitionBy("p").parquet(out)
    untouched = os.path.join(out, "p=2")
    before = sorted(os.listdir(untouched))
    before_mtime = max(
        os.path.getmtime(os.path.join(untouched, f)) for f in before
    )

    changes = spark.createDataFrame(
        [(0, 0, 99.0, False), (100, 1, 1.0, False), (200, 5, 5.0, False)],
        "id bigint, p bigint, v double, is_deleted boolean",
    )
    res = merge_upsert_partitioned(
        spark, out, changes, ["id"], "p", delete_col="is_deleted"
    )
    assert res == {"0": "merged", "1": "merged", "5": "created"}
    # leaf p=2 untouched byte-for-byte
    assert sorted(os.listdir(untouched)) == before
    assert (
        max(os.path.getmtime(os.path.join(untouched, f)) for f in before)
        == before_mtime
    )
    after = spark.read.parquet(out)
    assert after.count() == 32
    assert after.filter((F.col("p") == 0) & (F.col("id") == 0)).collect()[0].v == 99.0
    assert after.filter(F.col("p") == 5).count() == 1


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC source parity: round-trip preserves values and the scan
    carries pushed filters + pruned columns like parquet."""
    import contextlib
    import io

    from cs_tutorial_reporting_spark.sources.readers import read_orc_table
    from cs_tutorial_reporting_spark.sources.sinks import write_orc

    src = load_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(src, out)
    back = read_orc_table(spark, out)
    assert back.count() == src.count()
    q = back.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_orderstatus")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="formatted")
    p = buf.getvalue()
    assert "PushedFilters" in p and "o_orderkey" in p.split("PushedFilters")[1].split("\n")[0]
    assert "o_totalprice" not in p  # column pruning reached the ORC scan
    # partitioned variant round-trips with partition pruning available
    write_orc(src.withColumn("yr", F.year("o_orderdate")), str(tmp_path / "orc_p"), "yr")
    part = spark.read.orc(str(tmp_path / "orc_p"))
    assert part.count() == src.count()


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering vs lexicographic sort on a 64x64 uniform grid
    split into 8 files: lex sort by (x, y) gives tight x ranges but
    every file spans all of y, so a y-only predicate scans everything;
    Z-curve files cover square-ish blocks, so BOTH single-dimension
    predicates skip most files on parquet footer min/max alone."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.sources.maintenance import (
        write_sorted,
        write_zordered,
    )

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    lex, zed = str(tmp_path / "lex"), str(tmp_path / "zed")
    write_sorted(grid, lex, ["x", "y"], n_files=8)
    write_zordered(grid, zed, ["x", "y"], n_files=8)

    def files_hit(path, col, lo, hi):
        hit = 0
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mn = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            if mx >= lo and mn <= hi:
                hit += 1
        return hit

    # x predicate: both layouts prune (lex is optimal here). Bound is 3,
    # not the ideal 2: repartitionByRange SAMPLES to pick boundaries, so
    # an 8-row-range predicate can straddle up to one extra file edge
    # run-to-run (observed 2 or 3 with identical code).
    assert files_hit(lex, "x", 8, 15) <= 3
    assert files_hit(zed, "x", 8, 15) <= 4
    # y predicate: lex spans all of y in every file - zero skipping;
    # z-order confines y to block-sized ranges
    assert files_hit(lex, "y", 0, 7) == 8
    assert files_hit(zed, "y", 0, 7) <= 4
    # correctness: the clustered copy still holds the full grid
    assert spark.read.parquet(zed).count() == 64 * 64


def test_streaming_merge_upsert_pipeline(spark, tmp_path):
    """Continuous MERGE load (streaming/incremental.py run_merge_stream):
    two micro-batches of user-state rows where batch 2 updates half the
    keys and inserts new ones; the target must equal latest-per-key, and
    re-running the drained stream against the same checkpoint must be a
    no-op (exactly-once across restarts)."""
    import time

    from cs_tutorial_reporting_spark.streaming.incremental import (
        run_merge_stream,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    def write(rows):
        spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, balance double"
        ).coalesce(1).write.mode("append").parquet(src)

    TS = lambda s: __import__("datetime").datetime.fromisoformat(s)  # noqa: E731
    write([(1, TS("2024-01-01T10:00:00"), 10.0),
           (2, TS("2024-01-01T10:00:00"), 20.0)])
    time.sleep(1.1)
    # batch 2: update user 2 (two versions - latest must win), insert 3
    write([(2, TS("2024-01-01T11:00:00"), 25.0),
           (2, TS("2024-01-01T12:00:00"), 29.0),
           (3, TS("2024-01-01T11:30:00"), 30.0)])

    def drain():
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, balance double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        run_merge_stream(stream, target, ["user_id"], ckpt, ts_col="ts")

    drain()
    got = {r.user_id: r.balance for r in spark.read.parquet(target).collect()}
    assert got == {1: 10.0, 2: 29.0, 3: 30.0}

    drain()  # same checkpoint: fully processed source -> no-op
    again = {r.user_id: r.balance for r in spark.read.parquet(target).collect()}
    assert again == got


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: a view with no click inside the
    horizon must still emit (null-padded) - but only after the
    watermark passes its join window; an on-time matched view emits
    eagerly. Forced micro-batches: batch 1 has one matchable view+click
    and one never-matched view; batch 2 carries a far-future event on
    EACH side - the global watermark is the MINIMUM across inputs, so a
    stalled click stream would hold every unmatched view in state
    forever (verified: with only the view side advancing, nothing
    flushes). With both sides advanced, the null row flushes."""
    import time

    from cs_tutorial_reporting_spark.streaming.joins import attribution_join
    from cs_tutorial_reporting_spark.streaming.sessions import run_to_memory

    src = str(tmp_path / "lo_src")

    def write(rows):
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string",
        ).coalesce(1).write.mode("append").parquet(src)

    TS = lambda s: __import__("datetime").datetime.fromisoformat(s)  # noqa: E731
    write([(1, TS("2024-01-01T10:00:00"), 1, "view"),
           (2, TS("2024-01-01T10:10:00"), 1, "click"),
           (3, TS("2024-01-01T10:00:00"), 2, "view")])  # never clicked
    time.sleep(1.1)
    # watermark drivers on BOTH sides (distinct users: no cross-match)
    write([(9, TS("2024-01-02T00:00:00"), 3, "view"),
           (10, TS("2024-01-02T00:00:00"), 4, "click")])

    def stream():
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    views = stream().filter(F.col("event_type") == "view")
    clicks = stream().filter(F.col("event_type") == "click")
    joined = attribution_join(views, clicks, how="left_outer")
    run_to_memory(joined, "lo_out", "append")
    rows = {(r.view_id, r.click_id) for r in spark.table("lo_out").collect()}
    assert (1, 2) in rows          # matched pair emitted
    assert (3, None) in rows       # unmatched view flushed null-padded


def test_merge_stream_batch_replay_idempotent(spark, tmp_path):
    """The exactly-once claim of run_merge_stream rests on checkpoint +
    idempotent MERGE: if the process dies BETWEEN a completed
    foreachBatch merge and the checkpoint commit, the restarted stream
    re-delivers the same micro-batch and merges it AGAIN. Simulate that
    worst-case window by re-applying the exact batch-N change set to an
    already-merged target and asserting the table is unchanged — not
    just latest-per-key, but the full row multiset."""
    from cs_tutorial_reporting_spark.sources.maintenance import merge_upsert

    target = str(tmp_path / "replay_target")
    TS = lambda s: __import__("datetime").datetime.fromisoformat(s)  # noqa: E731
    base = spark.createDataFrame(
        [(1, TS("2024-01-01T10:00:00"), 10.0),
         (2, TS("2024-01-01T10:00:00"), 20.0),
         (4, TS("2024-01-01T09:00:00"), 40.0)],
        "user_id bigint, ts timestamp, balance double",
    )
    base.write.parquet(target)
    # batch N: update 2, insert 3 (post latest-per-key reduction, as
    # do_merge would deliver it)
    batch_n = spark.createDataFrame(
        [(2, TS("2024-01-01T12:00:00"), 29.0),
         (3, TS("2024-01-01T11:30:00"), 30.0)],
        "user_id bigint, ts timestamp, balance double",
    )

    def snapshot():
        return sorted(
            (r.user_id, r.ts, r.balance)
            for r in spark.read.parquet(target).collect()
        )

    merge_upsert(spark, target, batch_n, ["user_id"])
    first = snapshot()
    # crash window: checkpoint never committed -> batch N replays
    merge_upsert(spark, target, batch_n, ["user_id"])
    assert snapshot() == first
    # and a second replay (multiple restart loops) is still a no-op
    stats = merge_upsert(spark, target, batch_n, ["user_id"], return_stats=True)
    assert snapshot() == first
    assert stats["inserted"] == 0  # replayed keys all match existing rows


def test_zorder_runtime_scan_skips_rows(spark, tmp_path):
    """Beyond footer-stat prunability (test above): prove Spark's
    RUNTIME reader actually skips. The parquet scan node's
    numOutputRows metric counts rows surviving row-group skipping
    (1 row group per file here, so it is file skipping): on a 64x64
    grid in 8 files, the lexicographic (x,y) sort reads the FULL table
    for a y-only range while the Z-ordered copy reads less than half,
    and a 2-dim point-range over the Z-ordered copy reads ~a quarter —
    multiplicative pruning from one physical copy."""
    from cs_tutorial_reporting_spark.sources.maintenance import (
        write_sorted,
        write_zordered,
    )

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    lex, zed = str(tmp_path / "lex_rt"), str(tmp_path / "zed_rt")
    write_sorted(grid, lex, ["x", "y"], n_files=8)
    write_zordered(grid, zed, ["x", "y"], n_files=8)

    def scan_rows(path, cond, expect_rows):
        df = spark.read.parquet(path).filter(cond)
        assert df.count() == expect_rows  # the ANSWER is layout-invariant
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return total

    y_pred = "y >= 0 and y <= 7"
    x_pred = "x >= 8 and x <= 15"
    both = f"{x_pred} and {y_pred}"
    # y-only: lex layout cannot skip anything (every file spans all y)
    assert scan_rows(lex, y_pred, 512) == 64 * 64
    # ...the Z-ordered copy reads < half for the same predicate
    assert scan_rows(zed, y_pred, 512) <= 2048
    # x-only on Z-order still skips (block ranges, not point ranges)
    assert scan_rows(zed, x_pred, 512) <= 2560
    # both dimensions together: multiplicative skipping (~quarter)
    assert scan_rows(zed, both, 64) <= 1280
    # answers identical across layouts (skipping is lossless)
    a = sorted((r.x, r.y) for r in spark.read.parquet(zed).filter(both).collect())
    b = sorted((r.x, r.y) for r in spark.read.parquet(lex).filter(both).collect())
    assert a == b and len(a) == 64


def test_incremental_matview_refresh_equals_full_recompute(spark, tmp_path):
    """Additive materialized-view maintenance (round 6): build from the
    first split, refresh with the second — the stored view must equal
    the full recompute, including brand-new groups that only the delta
    contains and groups the delta never touched; min/max merge
    semi-additively; an empty delta is a no-op; a crash between the two
    swap renames recovers on the next refresh."""
    import os

    from cs_tutorial_reporting_spark.operators.matview import (
        build_additive_mv,
        refresh_additive_mv,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 != 0)
    b = orders.filter(F.col("o_orderkey") % 3 == 0)
    keys = ["o_orderstatus"]
    measures = {
        "n": ("add", F.count("*").cast("bigint")),
        "total": ("add", F.sum("o_totalprice")),
        "max_price": ("max", F.max("o_totalprice")),
    }
    mv = str(tmp_path / "mv")
    build_additive_mv(a, mv, keys, measures)
    refresh_additive_mv(spark, mv, b, keys, measures)

    got = {r.o_orderstatus: r for r in spark.read.parquet(mv).collect()}
    want = {
        r.o_orderstatus: r
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_totalprice").alias("total"),
            F.max("o_totalprice").alias("max_price"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k].n == want[k].n
        assert abs(got[k].total - want[k].total) < 1e-6 * abs(want[k].total)
        assert got[k].max_price == want[k].max_price

    # empty delta: refresh is a no-op on values
    refresh_additive_mv(
        spark, mv, orders.filter(F.lit(False)), keys, measures
    )
    again = {r.o_orderstatus: r.n for r in spark.read.parquet(mv).collect()}
    assert again == {k: v.n for k, v in want.items()}

    # crash recovery: simulate a crash AFTER the aside rename — the
    # next refresh must restore and proceed
    parent, base = os.path.split(mv)
    os.rename(mv, os.path.join(parent, f".{base}__old"))
    refresh_additive_mv(
        spark, mv, orders.filter(F.lit(False)), keys, measures
    )
    final = {r.o_orderstatus: r.n for r in spark.read.parquet(mv).collect()}
    assert final == {k: v.n for k, v in want.items()}


def test_streaming_mv_refresh_fences_replayed_batches(spark, tmp_path):
    """Continuously-maintained MV (round 6): two micro-batches stream
    into the view and it equals the batch aggregate; then a REPLAY of
    the last batch (fresh checkpoint over the same files — additive
    merges would double-count without the fence) leaves the view
    unchanged only where the fence says so: re-running with the same
    epoch ids is skipped, proving the epoch sidecar rides the atomic
    swap."""
    from cs_tutorial_reporting_spark.streaming.incremental import (
        run_mv_refresh_stream,
    )

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = str(tmp_path / "src")
    mv = str(tmp_path / "mv")
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(src, mode="overwrite")
    b.coalesce(1).write.mode("append").parquet(src)

    measures = {
        "n": ("add", F.count("*").cast("bigint")),
        "sum_value": ("add", F.sum("value")),
    }

    def stream():
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    run_mv_refresh_stream(
        stream(), mv, ["user_id"], measures, str(tmp_path / "ckpt1")
    )
    got = {r.user_id: r for r in spark.read.parquet(mv).collect()}
    want = {
        r.user_id: r
        for r in events.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.sum("value").alias("sum_value"))
        .collect()
    }
    assert {k: v.n for k, v in got.items()} == {k: v.n for k, v in want.items()}

    # replay: a FRESH checkpoint re-delivers batches 0..1 with the same
    # epoch ids — the fence must skip both, leaving counts unchanged
    run_mv_refresh_stream(
        stream(), mv, ["user_id"], measures, str(tmp_path / "ckpt2")
    )
    again = {r.user_id: r.n for r in spark.read.parquet(mv).collect()}
    assert again == {k: v.n for k, v in want.items()}


def test_bloom_sidecar_prunes_hash_clustered_files(spark, tmp_path):
    """File-level Bloom index (sources/file_index.py): on a
    hash-clustered layout (every key in exactly one of 8 files,
    min/max useless by construction), a point lookup must read a
    STRICT SUBSET of files (typically 1; Bloom FPs allowed, never all)
    and return exactly the full-scan answer; a key that was never
    written must probe to ZERO files; and the sidecar's bitmaps must
    match sketches.bloom_build_words bit-for-bit for a single-file
    table (the portability contract)."""
    import json
    import os

    from cs_tutorial_reporting_spark.operators.sketches import (
        bloom_build_words,
    )
    from cs_tutorial_reporting_spark.sources.file_index import (
        SIDECAR,
        read_bloom_pruned,
        write_bloom_indexed,
    )

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    path = str(tmp_path / "bloomed")
    write_bloom_indexed(df, path, "k", n_files=8)

    got, total, read = read_bloom_pruned(spark, path, "k", 1234)
    assert total == 8
    assert 1 <= read < 8  # pruning happened; FPs allowed, full scan not
    rows = got.collect()
    assert [(r.k, r.v) for r in rows] == [(1234, 1234 * 7 % 1000)]

    _, _, read_missing = read_bloom_pruned(spark, path, "k", 999999)
    assert read_missing == 0

    # portability: single-file sidecar == the sketch module's builder
    one = str(tmp_path / "one")
    write_bloom_indexed(df.limit(100), one, "k", n_files=1)
    sidecar = json.load(open(os.path.join(one, SIDECAR)))
    (words_sidecar,) = sidecar.values()
    words_ref = bloom_build_words(
        spark, spark.read.parquet(one).select("k"), "k"
    )
    assert words_sidecar == words_ref


def test_versioned_snapshots_time_travel_rollback_orphans(spark, tmp_path):
    """Pins the snapshot-pointer mechanics (sources/versioned.py):
    writes flip the pointer atomically; time travel reads older
    immutable snapshots; rollback is a pointer flip; a crashed write's
    orphan directory is invisible to readers and version numbers
    advance past it; vacuum never drops the pointer's target."""
    import os

    from cs_tutorial_reporting_spark.sources.versioned import (
        current_version,
        read_version,
        rollback,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "tbl")
    v1 = write_version(spark.range(3).selectExpr("id AS k"), path)
    v2 = write_version(spark.range(5).selectExpr("id AS k"), path)
    assert (v1, v2) == (1, 2)
    assert current_version(path) == 2
    assert read_version(spark, path).count() == 5
    assert read_version(spark, path, version=1).count() == 3  # time travel

    rollback(path, 1)
    assert current_version(path) == 1
    assert read_version(spark, path).count() == 3

    # crash sim: orphan v00003 exists but the pointer never moved
    os.makedirs(os.path.join(path, "v00003"))
    assert current_version(path) == 1
    v4 = write_version(spark.range(7).selectExpr("id AS k"), path)
    assert v4 == 4  # advanced PAST the orphan
    assert read_version(spark, path).count() == 7

    # vacuum keeps the pointer's target even when it is old
    rollback(path, 1)
    removed = vacuum(path, keep_last=1)
    assert 1 not in removed and current_version(path) == 1
    assert read_version(spark, path).count() == 3


def test_deletion_vectors_positional_delete_lifecycle(spark, tmp_path):
    """Pins the r11 deletion-vector layer (sources/versioned.py):
    delete_where writes POSITIONS, not data (a delete version holds no
    parquet data files — the base is shared); reads resolve the chain
    with one broadcast anti-join; chained deletes compose; time travel
    still sees pre-delete versions; a no-match delete mints no
    version; rollback undoes a delete as a pointer flip;
    apply_deletes compacts to a fresh base; vacuum never drops a base
    reachable from a retained delete version."""
    import os

    from cs_tutorial_reporting_spark.sources.versioned import (
        apply_deletes,
        current_version,
        delete_where,
        dv_chain_stats,
        read_version,
        rollback,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(100).selectExpr("id AS k", "id % 10 AS grp")
    assert write_version(df.repartition(4, "k"), path) == 1

    # positional delete: 10 rows gone, base files untouched
    v2, n = delete_where(spark, path, "grp = 3")
    assert (v2, n) == (2, 10)
    assert read_version(spark, path).count() == 90
    assert read_version(spark, path).filter("grp = 3").count() == 0
    # time travel to the pre-delete base still sees all rows
    assert read_version(spark, path, version=1).count() == 100
    # the delete version directory holds NO data files, only _dv+_base
    v2dir = os.path.join(path, "v00002")
    assert sorted(
        e for e in os.listdir(v2dir) if not e.startswith(".")
    ) == ["_base", "_dv"]

    # chained delete composes on the LIVE view
    v3, n3 = delete_where(spark, path, "k < 25")
    assert n3 == 22  # 25 minus the three grp=3 rows already deleted
    live = read_version(spark, path)
    assert live.count() == 68
    assert live.filter("k < 25 OR grp = 3").count() == 0
    st = dv_chain_stats(path)
    assert st["base_version"] == 1 and st["n_delete_versions"] == 2
    assert 0 < st["dv_bytes"] < 50_000  # megabyte-free delete of a table

    # no-match delete: no version minted, table unchanged
    v_same, n0 = delete_where(spark, path, "k > 1000000")
    assert (v_same, n0) == (v3, 0) and current_version(path) == v3

    # rollback past a delete is a pointer flip
    rollback(path, 2)
    assert read_version(spark, path).count() == 90
    rollback(path, v3)

    # values (not just counts) survive the chain: k=50..99 minus grp 3
    got = sorted(r.k for r in read_version(spark, path).collect())
    want = [k for k in range(100) if k >= 25 and k % 10 != 3]
    assert got == want

    # compaction: fresh base, chain retired, same values
    v4 = apply_deletes(spark, path)
    assert dv_chain_stats(path)["n_delete_versions"] == 0
    assert sorted(r.k for r in read_version(spark, path).collect()) == want

    # vacuum chain-safety: roll back to the delete version (chain
    # v3 -> v2 -> base v1) and vacuum keep_last=0 — the whole chain
    # MUST survive because the retained pointer target reaches it; the
    # unreferenced compacted base v4 is the droppable one
    rollback(path, v3)
    removed = vacuum(path, keep_last=0)
    assert removed == [v4]
    assert read_version(spark, path).count() == 68


def test_deletion_vector_orphan_and_reserved_column_guards(spark, tmp_path):
    """ADVICE r11 hardening, two classes:

    1. A crash in delete_where between the _dv write and the _base
       pointer write leaves a version dir holding only _dv — it must
       read/rollback as a CLEAR orphan error (not an opaque
       schema-inference failure), never occupy a vacuum keep_last slot
       in place of a real snapshot, and be reclaimed by vacuum.
    2. A user column literally named _metadata shadows the parquet
       reader's virtual file-metadata column (Spark resolves data
       columns first), so the DV path must reject it loudly instead of
       silently joining positions against user data."""
    import os
    import shutil

    import pytest

    from cs_tutorial_reporting_spark.sources.versioned import (
        current_version,
        delete_where,
        read_version,
        rollback,
        vacuum,
        write_version,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(100).selectExpr("id AS k", "id % 10 AS grp")
    assert write_version(df.repartition(2, "k"), path) == 1  # old real base
    assert write_version(df.repartition(2, "k"), path) == 2  # current base
    v3, _ = delete_where(spark, path, "grp = 3")
    # crash sim: v4 holds _dv (copied from v3) but no _base pointer
    orphan = os.path.join(path, "v00004")
    os.makedirs(orphan)
    shutil.copytree(
        os.path.join(path, "v00003", "_dv"), os.path.join(orphan, "_dv")
    )

    # the pointer never moved; normal reads are unaffected
    assert current_version(path) == v3
    assert read_version(spark, path).count() == 90

    # explicit read of / rollback to the orphan: clear error, not an
    # AnalysisException from scanning an underscore-hidden dir
    with pytest.raises(ValueError, match="ORPHAN delete version"):
        read_version(spark, path, version=4)
    with pytest.raises(ValueError, match="ORPHAN version"):
        rollback(path, 4)

    # vacuum: the NEWEST dir is indistinguishable from a delete_where
    # still in flight (its _dv lands before its _base), so a newest
    # orphan is NEVER reclaimed — and it must not occupy a keep_last
    # slot either (old behavior let it evict a real older snapshot)
    removed = vacuum(path, keep_last=3)
    assert removed == []
    assert sorted(
        int(d[1:]) for d in os.listdir(path) if d.startswith("v")
    ) == [1, 2, 3, 4]

    # once a NEWER real version exists the orphan cannot be in-flight:
    # reclaimed alongside normal retention (keep_last=3 keeps v2/v3/v5;
    # v1 ages out; v3's chain still resolves through base v2)
    write_version(df.repartition(2, "k"), path)  # v5, pointer flips
    removed = vacuum(path, keep_last=3)
    assert sorted(removed) == [1, 4]
    assert read_version(spark, path).count() == 100
    assert read_version(spark, path, version=3).count() == 90

    # legacy pointer parked on an orphan (pre-fix rollback allowed it):
    # vacuum must not reclaim the pointer's target even though it is an
    # orphan — a dangling _current is worse than a leaked dir
    path3 = str(tmp_path / "tbl_legacy")
    write_version(df, path3)  # v1
    v2, _ = delete_where(spark, path3, "grp = 3")
    orphan2 = os.path.join(path3, "v00003")
    os.makedirs(orphan2)
    shutil.copytree(
        os.path.join(path3, "v00002", "_dv"), os.path.join(orphan2, "_dv")
    )
    write_version(df, path3)  # v4 — orphan no longer newest
    with open(os.path.join(path3, "_current"), "w") as f:
        f.write("3")  # simulate the legacy pointer state
    removed = vacuum(path3, keep_last=1)
    assert 3 not in removed
    assert os.path.isdir(orphan2)

    # the SIBLING crash class (review r12): write_version dying
    # mid-parquet leaves a dir with no _SUCCESS marker — same
    # treatment: clear read error, rollback rejected, no keep_last
    # slot, reclaimed once a newer version exists. An orphan-base
    # holding parquet data files could equally be a COMPLETE snapshot
    # whose _SUCCESS a copy tool stripped (S3 sync/distcp underscore
    # filters), so reclamation QUARANTINES it (rename, bytes kept)
    # instead of deleting it (ADVICE r12).
    path4 = str(tmp_path / "tbl_partial")
    write_version(df, path4)  # v1 real
    partial = os.path.join(path4, "v00002")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 garbage")  # files landed, no _SUCCESS commit
    with pytest.raises(ValueError, match="ORPHAN base snapshot"):
        read_version(spark, path4, version=2)
    with pytest.raises(ValueError, match="ORPHAN version"):
        rollback(path4, 2)
    assert vacuum(path4, keep_last=1) == []  # newest: maybe in-flight
    write_version(df, path4)  # v3 — the partial can't be in-flight now
    assert vacuum(path4, keep_last=2) == [2]
    assert read_version(spark, path4).count() == 100
    # the data-bearing orphan left the version namespace but its bytes
    # survive for manual recovery; a later vacuum ignores it
    assert not os.path.isdir(partial)
    q = partial + ".quarantined"
    assert os.path.isfile(os.path.join(q, "part-00000.snappy.parquet"))
    assert vacuum(path4, keep_last=2) == []
    assert os.path.isdir(q)

    # an orphan-base with NO data files (pure mid-write debris) is
    # still deleted outright — nothing to recover
    path5 = str(tmp_path / "tbl_debris")
    write_version(df, path5)  # v1 real
    os.makedirs(os.path.join(path5, "v00002"))  # empty partial dir
    write_version(df, path5)  # v3 — debris can't be in-flight now
    assert vacuum(path5, keep_last=2) == [2]
    assert not os.path.exists(os.path.join(path5, "v00002"))
    assert not os.path.exists(os.path.join(path5, "v00002.quarantined"))

    # an orphan-CLASSIFIED base that a RETAINED delete version's chain
    # reaches must be left ENTIRELY untouched (neither deleted nor
    # quarantined): stripping v2's _SUCCESS after v3 = delete(base=2)
    # simulates a copy tool dropping the marker on a live chain —
    # reclaiming v2 would strand v3's readers; recovery is restoring
    # the marker in place (review r13)
    path6 = str(tmp_path / "tbl_kept_chain")
    write_version(df, path6)  # v1 (ages out)
    write_version(df.repartition(2, "k"), path6)  # v2 — chain base
    delete_where(spark, path6, "grp = 3")  # v3, _base=2, _current=3
    marker = os.path.join(path6, "v00002", "_SUCCESS")
    os.remove(marker)  # v2 is now orphan-classified but load-bearing
    assert vacuum(path6, keep_last=1) == [1]
    assert os.path.isdir(os.path.join(path6, "v00002"))
    assert not os.path.exists(os.path.join(path6, "v00002.quarantined"))
    with open(marker, "w"):  # restore the marker: chain reads again
        pass
    assert read_version(spark, path6).count() == 90

    # glob metacharacters in the TABLE PATH must not defeat the
    # data-bearing quarantine probe (listdir/walk, not glob — review
    # r13); and a second quarantine of a REUSED version number must
    # land on a fresh .quarantined.K suffix instead of aborting vacuum
    # with ENOTEMPTY (review r13 second batch)
    path7 = str(tmp_path / "tbl[a]")
    write_version(df, path7)  # v1 real
    partial7 = os.path.join(path7, "v00002")
    os.makedirs(os.path.join(partial7 + ".quarantined", "old"))  # prior epoch
    os.makedirs(partial7)
    with open(os.path.join(partial7, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 garbage")
    write_version(df, path7)  # v3 — the partial can't be in-flight now
    assert vacuum(path7, keep_last=2) == [2]
    assert not os.path.isdir(partial7)
    assert os.path.isfile(
        os.path.join(partial7 + ".quarantined.1", "part-00000.snappy.parquet")
    )

    # a data-bearing orphan-DELETE quarantines too: stripping v2's
    # _base (the copy-tool scenario — only the marker file is lost,
    # the _dv parquet survives) must not destroy committed delete
    # positions; recovery = restoring the marker (review r13 second
    # batch). The recovery unit stays WHOLE (ADVICE r13): v2's
    # positions index v1's data files, so the same sweep must
    # quarantine v1 as well — rmtree-ing it would leave the preserved
    # _dv pointing at reclaimed bytes. detail=True separates reclaimed
    # space from preserved bytes.
    path8 = str(tmp_path / "tbl_dv_orphan")
    write_version(df, path8)  # v1
    delete_where(spark, path8, "grp = 3")  # v2, _base=1
    write_version(df, path8)  # v3 — pointer moves on, v2 reclaimable
    base_marker = os.path.join(path8, "v00002", "_base")
    os.remove(base_marker)  # v2 now classifies as orphan-delete
    swept = vacuum(path8, keep_last=1, detail=True)
    assert swept == {"deleted": [], "quarantined": [1, 2]}
    q8 = os.path.join(path8, "v00002.quarantined")
    assert os.path.isdir(os.path.join(q8, "_dv"))
    assert any(
        f.endswith(".parquet") for f in os.listdir(os.path.join(q8, "_dv"))
    )
    q8_base = os.path.join(path8, "v00001.quarantined")
    assert os.path.isdir(q8_base)  # the base the positions index
    assert any(
        f.endswith(".parquet") for f in os.listdir(q8_base)
    )
    assert not os.path.isdir(os.path.join(path8, "v00001"))

    # ...but a base the orphan-delete does NOT index is reclaimed
    # normally in the same sweep (quarantine must not become "keep
    # everything"): v1 here is superseded data the orphan never
    # touched. The plain (detail-free) return stays the sorted union —
    # the namespace view callers key on.
    path8b = str(tmp_path / "tbl_dv_orphan_unrelated")
    write_version(df, path8b)  # v1 — superseded, unreferenced
    write_version(df, path8b)  # v2 — the base the delete indexes
    delete_where(spark, path8b, "grp = 3")  # v3, _base=2
    write_version(df, path8b)  # v4 — pointer moves on
    os.remove(os.path.join(path8b, "v00003", "_base"))
    assert sorted(vacuum(path8b, keep_last=1)) == [1, 2, 3]
    assert not os.path.isdir(os.path.join(path8b, "v00001"))
    assert not os.path.exists(os.path.join(path8b, "v00001.quarantined"))
    assert os.path.isdir(os.path.join(path8b, "v00002.quarantined"))
    assert os.path.isdir(os.path.join(path8b, "v00003.quarantined"))

    # _dv ref harvesting is PER FILE (review r14): a multi-part _dv
    # whose copy also truncated one part must still preserve the base
    # named by the READABLE parts — one corrupt file discarding all
    # refs would rmtree the base and recreate the unrecoverable state.
    path8c = str(tmp_path / "tbl_dv_orphan_corrupt_part")
    write_version(df, path8c)  # v1 — the indexed base
    delete_where(spark, path8c, "grp = 3")  # v2, _base=1
    write_version(df, path8c)  # v3 — pointer moves on
    os.remove(os.path.join(path8c, "v00002", "_base"))
    dv_dir = os.path.join(path8c, "v00002", "_dv")
    with open(os.path.join(dv_dir, "part-corrupt.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 not really parquet")  # unreadable extra part
    swept_c = vacuum(path8c, keep_last=1, detail=True)
    assert swept_c == {"deleted": [], "quarantined": [1, 2]}
    assert os.path.isdir(os.path.join(path8c, "v00001.quarantined"))
    assert not os.path.isdir(os.path.join(path8c, "v00001"))

    # LONG-CHAIN recovery unit (verdict r13 caveat, solved r14): a
    # mid-chain delete version BETWEEN a quarantined orphan-delete and
    # the base its positions index must quarantine too — DV payloads
    # are INCREMENTAL (each _dv records only that version's new
    # deletes), so the orphan's view builds on the mid-chain version's
    # positions; rmtree'ing it would make a restored chain silently
    # resurrect those rows. The whole unit {base, mid-chain DV,
    # orphan} survives one sweep, and manual recovery (rename back +
    # restore the stripped marker) reproduces the pre-vacuum view.
    path8d = str(tmp_path / "tbl_dv_orphan_chain")
    write_version(df, path8d)  # v1 — the indexed base
    delete_where(spark, path8d, "grp = 3")  # v2, _base=1 (mid-chain)
    delete_where(spark, path8d, "grp = 5")  # v3, _base=2
    expect = read_version(spark, path8d, version=3).count()
    write_version(df, path8d)  # v4 — pointer moves on
    os.remove(os.path.join(path8d, "v00003", "_base"))  # v3 → orphan
    swept_d = vacuum(path8d, keep_last=1, detail=True)
    assert swept_d == {"deleted": [], "quarantined": [1, 2, 3]}
    for v in (1, 2, 3):  # operator recovery: rename the unit back
        os.rename(
            os.path.join(path8d, f"v{v:05d}.quarantined"),
            os.path.join(path8d, f"v{v:05d}"),
        )
    with open(os.path.join(path8d, "v00003", "_base"), "w") as f:
        f.write("2")  # restore the stripped marker
    assert read_version(spark, path8d, version=3).count() == expect

    # The KEPT-orphan twin (review r14, reproduced data loss): when
    # the stripped orphan-delete is itself RETAINED (a kept version's
    # marker chain reaches it), the keep-chain walk stops at its
    # missing _base, and the base below was previously neither kept
    # nor quarantined — rmtree'd, breaking the documented in-place
    # recovery (restore the marker) with retained data. Now the
    # versions the kept orphan's _dv indexes stay IN PLACE (no
    # rename: restoration must have a base to land on).
    path8e = str(tmp_path / "tbl_dv_orphan_kept")
    write_version(df, path8e)  # v1 — the indexed base
    delete_where(spark, path8e, "grp = 3")  # v2, _base=1
    delete_where(spark, path8e, "grp = 5")  # v3, _base=2
    expect_e = read_version(spark, path8e, version=3).count()
    write_version(df, path8e)  # v4 — pointer moves on
    os.remove(os.path.join(path8e, "v00002", "_base"))  # strip MID
    # keep_last=2 retains v3/v4; v3's chain reaches v2 (kept in
    # place); v1 must survive in place for v3's recovery
    assert vacuum(path8e, keep_last=2, detail=True) == {
        "deleted": [],
        "quarantined": [],
    }
    assert os.path.isdir(os.path.join(path8e, "v00001"))
    with open(os.path.join(path8e, "v00002", "_base"), "w") as f:
        f.write("1")  # in-place recovery: restore the marker
    assert read_version(spark, path8e, version=3).count() == expect_e

    # ... and the kept LONG-CHAIN variant: v5 (current) chains to a
    # stripped v4; the mid-chain v2/v3 and base v1 below the strip
    # point all stay in place, and marker restoration recovers the
    # whole chain's view.
    path8f = str(tmp_path / "tbl_dv_orphan_kept_chain")
    write_version(df, path8f)  # v1
    delete_where(spark, path8f, "grp = 3")  # v2
    delete_where(spark, path8f, "grp = 5")  # v3
    delete_where(spark, path8f, "grp = 7")  # v4 — will be stripped
    delete_where(spark, path8f, "grp = 9")  # v5, _base=4
    expect_f = read_version(spark, path8f, version=5).count()
    os.remove(os.path.join(path8f, "v00004", "_base"))
    assert vacuum(path8f, keep_last=1, detail=True) == {
        "deleted": [],
        "quarantined": [],
    }
    for v in (1, 2, 3):
        assert os.path.isdir(os.path.join(path8f, f"v{v:05d}"))
    with open(os.path.join(path8f, "v00004", "_base"), "w") as f:
        f.write("3")
    assert read_version(spark, path8f, version=5).count() == expect_f

    # the NEWEST-dir route into the harvest (review r14 second
    # batch): an un-kept orphan-delete that survives only as the
    # maybe-in-flight newest dir still protects the versions its
    # positions index — they stay in place even when retention alone
    # would reclaim them.
    path8g = str(tmp_path / "tbl_dv_orphan_newest")
    write_version(df, path8g)  # v1 — the indexed base
    delete_where(spark, path8g, "grp = 3")  # v2, _base=1
    write_version(df, path8g)  # v3 — new base, pointer here
    orphan_g = os.path.join(path8g, "v00004")
    os.makedirs(orphan_g)  # crash sim: _dv landed, _base did not
    shutil.copytree(
        os.path.join(path8g, "v00002", "_dv"),
        os.path.join(orphan_g, "_dv"),
    )
    assert vacuum(path8g, keep_last=1, detail=True) == {
        "deleted": [],
        "quarantined": [],
    }
    assert os.path.isdir(os.path.join(path8g, "v00001"))
    assert os.path.isdir(os.path.join(path8g, "v00002"))

    # DOUBLE-STRIP kept chain (review r14 second batch): two stripped
    # markers in one retained chain — the membership walk stops at
    # the second strip point, so the orphan BELOW it is claimed by
    # its own positions naming the kept unit's base, and everything
    # stays in place for a two-marker in-place recovery.
    path8h = str(tmp_path / "tbl_dv_double_strip")
    write_version(df, path8h)  # v1
    delete_where(spark, path8h, "grp = 3")  # v2 — will be stripped
    delete_where(spark, path8h, "grp = 5")  # v3
    delete_where(spark, path8h, "grp = 7")  # v4 — will be stripped
    delete_where(spark, path8h, "grp = 9")  # v5 (current)
    expect_h = read_version(spark, path8h, version=5).count()
    os.remove(os.path.join(path8h, "v00004", "_base"))
    os.remove(os.path.join(path8h, "v00002", "_base"))
    assert vacuum(path8h, keep_last=1, detail=True) == {
        "deleted": [],
        "quarantined": [],
    }
    for v in (1, 2, 3):
        assert os.path.isdir(os.path.join(path8h, f"v{v:05d}"))
    with open(os.path.join(path8h, "v00004", "_base"), "w") as f:
        f.write("3")
    with open(os.path.join(path8h, "v00002", "_base"), "w") as f:
        f.write("1")
    assert read_version(spark, path8h, version=5).count() == expect_h

    # reserved-column guard: a user _metadata column is rejected before
    # any positional join can mis-resolve against it
    path2 = str(tmp_path / "tbl_meta")
    bad = spark.range(10).selectExpr("id AS k", "string(id) AS _metadata")
    write_version(bad, path2)
    with pytest.raises(ValueError, match="reserved column"):
        delete_where(spark, path2, "k < 5")


def test_deletion_vector_read_keeps_base_scan_pushdown(spark, tmp_path):
    """Scale contract of the DV read path: user predicates still reach
    the BASE parquet scan (PushedFilters) and the anti-join build side
    is a broadcast — the DV merge must not turn a pruned scan into a
    full one."""
    from cs_tutorial_reporting_spark.sources.versioned import (
        delete_where,
        read_version,
        write_version,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(1000).selectExpr("id AS k", "id % 10 AS grp")
    write_version(df.repartition(4, "k"), path)
    delete_where(spark, path, "grp = 7")
    plan = (
        read_version(spark, path)
        .filter("k > 900")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,900)]" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    out = read_version(spark, path).filter("k > 900").count()
    assert out == 99 - 10  # k in 901..999 minus 907,917,...,997


def test_deletion_vector_large_dv_drops_broadcast(spark, tmp_path, monkeypatch):
    """Scale contract, the OTHER side (review r13): a DV chain whose
    parquet payload exceeds DV_BROADCAST_MAX_BYTES must NOT be
    broadcast — a single 1%-delete on a 100 TB table mints ~1e9
    positions in one delete_where, and an unconditional broadcast hint
    would OOM exactly where no apply_deletes could have run yet. The
    shuffled anti-join must return the identical live view, and user
    predicates must still reach the base scan."""
    from cs_tutorial_reporting_spark.sources import versioned

    path = str(tmp_path / "tbl")
    df = spark.range(1000).selectExpr("id AS k", "id % 10 AS grp")
    versioned.write_version(df.repartition(4, "k"), path)
    versioned.delete_where(spark, path, "grp = 7")

    broadcast_rows = sorted(
        r["k"] for r in versioned.read_version(spark, path).collect()
    )
    monkeypatch.setattr(versioned, "DV_BROADCAST_MAX_BYTES", 0)
    # With the explicit hint dropped, the STRATEGY belongs to the
    # optimizer: at toy scale auto-broadcast would still (correctly)
    # pick a broadcast, so disable it to prove no hint forces one —
    # this is the plan a tens-of-GB DV side would get from real stats.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        live = versioned.read_version(spark, path)
        plan = (
            live.filter("k > 900")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan
        assert "LeftAnti" in plan
        assert "PushedFilters: [IsNotNull(k), GreaterThan(k,900)]" in plan
        shuffled_rows = sorted(r["k"] for r in live.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert shuffled_rows == broadcast_rows


def test_sorted_layout_compresses_smaller_on_disk(spark, tmp_path):
    """Storage-cost lever: writing the SAME rows sorted by a
    low-cardinality key must produce a smaller parquet footprint than
    a hash-shuffled layout (RLE/dictionary runs compress sorted
    columns) — the reason the sorted/Z-order write paths pay their
    shuffle at ingest. Asserts a real ≥10% saving, not just ≤."""
    import os

    df = spark.range(200_000).select(
        (F.col("id") % 13).alias("status"),
        (F.col("id") % 7).alias("priority"),
        F.col("id").alias("payload"),
    )

    def disk_bytes(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    shuffled, sorted_ = str(tmp_path / "shuf"), str(tmp_path / "sort")
    df.repartition(4, "payload").write.parquet(shuffled)
    from cs_tutorial_reporting_spark.sources.maintenance import write_sorted

    write_sorted(df, sorted_, ["status", "priority"], n_files=4)
    a, b = disk_bytes(shuffled), disk_bytes(sorted_)
    assert b < a * 0.9, f"sorted {b} not ≥10% smaller than shuffled {a}"

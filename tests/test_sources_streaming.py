"""Dump/restore round-trip with manifest; streaming masking + windows."""

import os
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_dump_roundtrip_with_manifest(spark, tables):
    from greenmask_spark.sources.io import read_dump, write_dump
    from greenmask_spark.sources.manifest import read_manifest
    from greenmask_spark.subset import FKGraph, Reference

    g = FKGraph(
        tables=["customer", "orders"],
        references=[Reference("orders", "customer", ("o_custkey",),
                              ("c_custkey",))],
    )
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "dump1")
        manifest = write_dump(
            {"customer": tables["customer"], "orders": tables["orders"]},
            out,
            graph=g,
            primary_keys={"customer": ["c_custkey"], "orders": ["o_orderkey"]},
            sequences={"orders": "o_orderkey"},
            transformations=[{"table": "customer", "transformer": "Hash",
                              "column": "c_name"}],
            salt="s42",
        )
        # parents-first restore order
        assert manifest.restore_order.index("customer") \
            < manifest.restore_order.index("orders")
        m2 = read_manifest(out)
        assert m2.salt == "s42"
        assert m2.fk_graph().references[0].child == "orders"
        seq = {t.name: t.sequence_next for t in m2.tables}
        assert seq["orders"] == tables["orders"].agg(
            F.max("o_orderkey")).collect()[0][0] + 1
        back = read_dump(spark, out)
        assert back["customer"].count() == tables["customer"].count()
        assert back["orders"].schema == tables["orders"].schema


def test_dump_roundtrip_file_scheme_uri(spark, tables, tmp_path):
    """write_dump → read_dump through a SCHEME'D file:// URI, not a
    bare path — proving the Hadoop-URI plumbing the s3a://abfss://
    claim rests on (r8 verdict item): the parquet writers resolve the
    scheme natively, and the manifest reader/writer follows the same
    resolver (file:// strips to local IO; any other scheme routes
    through the Hadoop FileSystem API, exercised directly below)."""
    from greenmask_spark.sources.io import read_dump, write_dump
    from greenmask_spark.sources.manifest import (
        _hadoop_read_text,
        _hadoop_write_text,
        _local_path,
        read_manifest,
    )

    assert _local_path("/a/b") == "/a/b"
    assert _local_path("file:///a/b") == "/a/b"
    assert _local_path("s3a://bucket/a") is None

    uri = "file://" + str(tmp_path / "dump_uri")
    manifest = write_dump(
        {"customer": tables["customer"]}, uri,
        primary_keys={"customer": ["c_custkey"]}, salt="uri42",
    )
    assert manifest.restore_order == ["customer"]
    # the manifest landed INSIDE the URI's local directory
    assert os.path.exists(str(tmp_path / "dump_uri" / "_manifest.json"))
    # read side accepts the same scheme'd URI end to end
    m2 = read_manifest(uri)
    assert m2.salt == "uri42"
    back = read_dump(spark, uri)
    assert back["customer"].count() == tables["customer"].count()
    assert back["customer"].schema == tables["customer"].schema

    # the Hadoop FS fallback (what s3a:// and abfss:// would take)
    # round-trips text through the SAME FileSystem resolver
    p = "file://" + str(tmp_path / "hfs" / "probe.json")
    _hadoop_write_text(p, '{"ok": true}')
    assert _hadoop_read_text(p) == '{"ok": true}'


def test_dump_roundtrip_hive_partitioned(spark, tables):
    """partition_by dumps have NO top-level .parquet file (only hive
    key=value subdirs); read_dump must dispatch on the manifest's
    data_format, not directory sniffing."""
    from pyspark.sql import functions as F

    from greenmask_spark.sources.io import read_dump, write_dump

    orders = tables["orders"]
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "dump_part")
        write_dump(
            {"orders": orders}, out,
            partition_by={"orders": ["o_orderpriority"]},
        )
        assert not any(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(out, "orders"))
        ), "precondition: partitioned layout has no top-level part files"
        back = read_dump(spark, out)
        assert back["orders"].count() == orders.count()
        assert set(back["orders"].columns) == set(orders.columns)
        # partition pruning works on the restored read
        pri = orders.select("o_orderpriority").first()[0]
        assert back["orders"].filter(
            F.col("o_orderpriority") == pri
        ).count() == orders.filter(F.col("o_orderpriority") == pri).count()


def test_read_dump_skips_absent_tables(spark, tables):
    """A table listed in the manifest but missing on disk (partial
    restore source) is skipped, not raised."""
    import shutil

    from greenmask_spark.sources.io import read_dump, write_dump

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "dump_partial")
        write_dump(
            {"customer": tables["customer"], "orders": tables["orders"]}, out
        )
        shutil.rmtree(os.path.join(out, "orders"))
        back = read_dump(spark, out)
        assert set(back) == {"customer"}


_DUMP_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders")


def test_write_dump_concurrent_equals_sources_and_sequential(
        spark, tables, tmp_path, monkeypatch):
    """Six tables written two at a time: every table reads back equal to
    its source frame, and the manifest is the one a one-at-a-time write
    produces (created_at aside)."""
    import json

    from greenmask_spark.sources import io
    from greenmask_spark.subset import FKGraph, Reference

    src = {t: tables[t] for t in _DUMP_TABLES}
    kw = dict(
        graph=FKGraph(tables=list(_DUMP_TABLES), references=[
            Reference("nation", "region", ("n_regionkey",), ("r_regionkey",)),
            Reference("customer", "nation", ("c_nationkey",),
                      ("n_nationkey",)),
            Reference("orders", "customer", ("o_custkey",), ("c_custkey",)),
        ]),
        primary_keys={"orders": ["o_orderkey"]},
        sequences={"orders": "o_orderkey"}, salt="s7", seed=7,
    )
    concurrent = io.write_dump(src, str(tmp_path / "pool"), **kw)
    for t, df in src.items():
        back = spark.read.parquet(str(tmp_path / "pool" / t))
        assert back.exceptAll(df).count() == 0, t
        assert df.exceptAll(back).count() == 0, t

    monkeypatch.setattr(io, "DUMP_WRITERS", 1)
    sequential = io.write_dump(src, str(tmp_path / "seq"), **kw)

    def without_created_at(m):
        d = json.loads(m.to_json())
        d.pop("created_at")
        return d

    assert without_created_at(concurrent) == without_created_at(sequential)
    assert [t.name for t in concurrent.tables] == list(_DUMP_TABLES)


def test_write_dump_caps_writes_in_flight(spark, tables, tmp_path,
                                          monkeypatch):
    """At most DUMP_WRITERS (2) saves run at once, two do overlap, and
    each save runs with its own copy of the caller's Spark local
    properties: it starts outside any SQL execution, and what one save
    sets is not seen by the save running beside it."""
    import threading
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    from greenmask_spark.sources import io

    sc = spark.sparkContext
    lock = threading.Lock()
    state = {"now": 0, "peak": 0, "seen": []}
    orig_save = DataFrameWriter.save

    def counting_save(self, path, *a, **kw):
        me = os.path.basename(path)
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        on_entry = (sc.getLocalProperty("greenmask.dump.test"),
                    sc.getLocalProperty("spark.sql.execution.id"))
        sc.setLocalProperty("greenmask.dump.test.owner", me)
        try:
            time.sleep(0.3)  # long enough that a second write starts
            owner = sc.getLocalProperty("greenmask.dump.test.owner")
            with lock:
                state["seen"].append((me, *on_entry, owner))
            return orig_save(self, path, *a, **kw)
        finally:
            with lock:
                state["now"] -= 1

    monkeypatch.setattr(DataFrameWriter, "save", counting_save)
    sc.setLocalProperty("greenmask.dump.test", "caller")
    try:
        io.write_dump({t: tables[t] for t in _DUMP_TABLES},
                      str(tmp_path / "d"))
    finally:
        sc.setLocalProperty("greenmask.dump.test", None)
    assert io.DUMP_WRITERS == 2
    assert state["peak"] == 2
    assert sorted(state["seen"]) == sorted(
        (t, "caller", None, t) for t in _DUMP_TABLES)
    assert sc.getLocalProperty("greenmask.dump.test.owner") is None


def test_write_dump_failure_raises_and_writes_no_manifest(spark, tables,
                                                          tmp_path):
    """A table whose write fails makes write_dump raise that error, and
    the dump gets no _manifest.json."""
    from greenmask_spark.sources.io import write_dump

    src = {t: tables[t] for t in _DUMP_TABLES}
    src["nation"] = src["nation"].withColumn(
        "boom", F.raise_error(F.lit("write_dump test failure")))
    out = tmp_path / "failed"
    with pytest.raises(Exception, match="write_dump test failure"):
        write_dump(src, str(out))
    assert not (out / "_manifest.json").exists()


def test_masked_streaming_pipeline(spark, sf_dir, tmp_path):
    """The same masking plan applied to a stream: file-source → memory sink."""
    from greenmask_spark.plan import build_plan
    from greenmask_spark.streaming import masked_stream

    batch = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    src = str(tmp_path / "cust_stream_src")
    batch.write.parquet(src)  # file stream source must be a directory
    batch = spark.read.parquet(src)
    plan = build_plan({"tables": [{
        "name": "customer",
        "transformers": [
            {"name": "Hash", "salt": "",
             "params": {"column": "c_name", "function": "sha256"}},
            {"name": "RandomInt", "salt": "",
             "params": {"column": "c_nationkey", "min": 0, "max": 24}},
        ],
    }]})[0]

    stream = spark.readStream.schema(batch.schema).parquet(src)
    masked = masked_stream(stream, plan)
    assert masked.isStreaming
    q = (
        masked.writeStream.format("memory")
        .queryName("masked_customers")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM masked_customers").collect()
    assert len(got) == batch.count()
    import re

    assert all(re.fullmatch(r"[0-9a-f]{64}", r.c_name) for r in got[:20])
    assert all(0 <= r.c_nationkey <= 24 for r in got)
    # stream output equals batch output (same deterministic plan)
    from greenmask_spark.plan import apply_plan

    batch_out = {r.c_custkey: r.c_name
                 for r in apply_plan(batch, plan).collect()}
    assert all(batch_out[r.c_custkey] == r.c_name for r in got[:50])


def test_windowed_event_counts_batch_parity(spark, tables):
    """Windowed agg runs identically on batch input (oracle-checkable)."""
    from greenmask_spark.streaming import windowed_event_counts

    out = windowed_event_counts(tables["events"], window="1 day")
    rows = out.collect()
    assert rows and all(r.window_end > r.window_start for r in rows)
    total = sum(r.n_events for r in rows)
    assert total == tables["events"].count()


def test_sessionize_stream_matches_batch(spark, tables, tmp_path):
    """applyInPandasWithState sessionization: every session the stream
    emits (gap-closed or watermark-timed-out) must be byte-identical to a
    session of the batch twin on the same data."""
    from greenmask_spark.streaming import sessionize_batch, sessionize_stream

    ev = tables["events"].filter(F.col("user_id") < 40).select(
        "user_id", "ts", "value"
    )
    # four time-ordered file drops → four micro-batches → advancing watermark
    # (quartile split via collected timestamps + string-literal comparison:
    # works on both TIMESTAMP and TIMESTAMP_NTZ columns, unlike unix_micros)
    ts_sorted = [r.ts for r in ev.select("ts").orderBy("ts").collect()]
    bounds = [str(ts_sorted[int(len(ts_sorted) * f)]) for f in (0.25, 0.5, 0.75)]
    src = str(tmp_path / "sess_src")
    lo = None
    for hi in bounds + [None]:
        sl = ev
        if lo is not None:
            sl = sl.filter(F.col("ts") > F.lit(lo))
        if hi is not None:
            sl = sl.filter(F.col("ts") <= F.lit(hi))
        sl.coalesce(1).write.mode("append").parquet(src)
        lo = hi

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stream(stream, gap_minutes=30, watermark="1 minute")
    q = (
        sessions.writeStream.format("memory").queryName("sessions_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM sessions_out").collect()
    assert len(got) > 50, f"too few sessions emitted: {len(got)}"

    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events): r.sum_value
        for r in sessionize_batch(ev, gap_minutes=30).collect()
    }
    for r in got:
        key = (r.user_id, r.session_start, r.session_end, r.n_events)
        assert key in want, f"stream emitted a session batch never saw: {key}"
        assert abs(r.sum_value - want[key]) < 0.011, (r, want[key])


def test_stateful_stream_windows(spark, tables, tmp_path):
    """Streaming windowed counts with watermark over a file stream."""
    from greenmask_spark.streaming import stream_events_from_dir, windowed_event_counts

    src = str(tmp_path / "stream_src")
    tables["events"].limit(1000).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = stream_events_from_dir(spark, src, schema)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n_events) s FROM win_counts").collect()[0].s
    assert got == 1000


def test_dedup_stream_drops_replayed_batch(spark, tables, tmp_path):
    """Streaming dedup: a replayed (duplicate) file drop must not re-emit
    rows already seen inside the watermark horizon."""
    from greenmask_spark.streaming import dedup_stream

    ev = tables["events"].limit(500).select("event_id", "ts", "value")
    src = str(tmp_path / "dedup_src")
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # exact replay

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    deduped = dedup_stream(stream, ["event_id"], watermark="10 days")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) c, count(DISTINCT event_id) d "
                    "FROM dedup_out").collect()[0]
    assert got.c == 500 and got.d == 500

    # batch path: plain dropDuplicates
    both = ev.unionAll(ev)
    assert dedup_stream(both, ["event_id"]).count() == 500


def test_bucketed_join_has_no_shuffle(spark, tables, tmp_path):
    """Tables bucketed on the join key must SortMergeJoin without any
    Exchange — the co-located join that matters at 100 TB."""
    from greenmask_spark.sources.io import write_bucketed

    orders = tables["orders"].select("o_orderkey", "o_orderdate")
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(li, "b_lineitem", ["l_orderkey"], num_buckets=8)
    try:
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        # disable broadcast so the join strategy is the bucketed SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sessionize_batch_fractional_gap(spark):
    """gap_minutes honors fractions (0.5 = 30 s); an int-truncating
    interval would collapse every event into one session."""
    import datetime as dt

    from greenmask_spark.streaming import sessionize_batch

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [(1, base, 1.0),
         (1, base + dt.timedelta(seconds=20), 1.0),   # 20s gap: same session
         (1, base + dt.timedelta(seconds=80), 1.0)],  # 60s gap: break at 0.5min
        "user_id long, ts timestamp, value double")
    assert sessionize_batch(ev, gap_minutes=0.5).count() == 2
    assert sessionize_batch(ev, gap_minutes=2).count() == 1


def test_near_dedup_stream(spark, tables, tmp_path):
    """Signature-identical docs arriving in later batches are dropped;
    distinct docs pass."""
    import shutil

    from pyspark.sql import functions as F

    from greenmask_spark.streaming.pipeline import near_dedup_stream

    src = str(tmp_path / "nd_src")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, "a completely different document body here")],
        ["doc_id", "text"],
    ).withColumn("ts", F.timestamp_seconds(F.lit(1000) + F.col("doc_id")))
    docs.write.parquet(src)
    # batch 2: one replay (same text, new id) + one new doc
    spark.createDataFrame(
        [(3, "the quick brown fox jumps over the dog"),
         (4, "yet another novel piece of text content")],
        ["doc_id", "text"],
    ).withColumn(
        "ts", F.timestamp_seconds(F.lit(1010) + F.col("doc_id"))
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)
    out = near_dedup_stream(stream)
    q = (out.writeStream.format("memory").queryName("nd_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM nd_out").collect()
    finally:
        q.stop()
    texts = sorted(r.text for r in rows)
    assert len(rows) == 3
    assert texts.count("the quick brown fox jumps over the dog") == 1

    # batch twin: same semantics without the watermark
    batch = near_dedup_stream(spark.read.parquet(src))
    assert batch.count() == 3


def test_jdbc_partition_predicates_spark_semantics():
    """Partition-bound math must match Spark's JDBCRelation.columnPartition:
    stride from two floor divisions, first partition unbounded below +
    NULL-absorbing, last unbounded above, clamp when range < partitions."""
    import pytest

    from greenmask_spark.sources.io import jdbc_partition_predicates

    preds = jdbc_partition_predicates("id", 0, 100, 4)
    assert preds == [
        "id < 25 OR id IS NULL",
        "id >= 25 AND id < 50",
        "id >= 50 AND id < 75",
        "id >= 75",
    ]
    # bounds are a stride HINT, not a filter: rows outside [lb, ub)
    # still land in the first/last partitions
    assert preds[0].startswith("id < ") and preds[-1].startswith("id >= ")
    # clamp: a 2-wide range can't support 8 partitions
    assert len(jdbc_partition_predicates("id", 10, 12, 8)) == 2
    # degenerate range -> single full-scan partition
    assert jdbc_partition_predicates("id", 5, 5, 4) == ["1=1"]
    # negative bounds: JVM integer division truncates toward zero
    # (Python // floors) — stride = trunc(3/4) - trunc(-10/4) = 0-(-2)=2,
    # boundaries -8, -6, -4; a floor-division stride (3) would put them
    # at -7, -4, -1 and break parity with spark.read.jdbc
    assert jdbc_partition_predicates("id", -10, 3, 4) == [
        "id < -8 OR id IS NULL",
        "id >= -8 AND id < -6",
        "id >= -6 AND id < -4",
        "id >= -4",
    ]
    with pytest.raises(ValueError):
        jdbc_partition_predicates("id", 10, 0, 4)
    with pytest.raises(ValueError):
        jdbc_partition_predicates("id", 0, 10, 0)


def test_read_dbapi_table_partitioned(spark, tmp_path):
    """The DB-API shim issues one bounded query per partition from
    executors; the union must be exactly the table (no loss at the
    unbounded edges, no overlap at stride boundaries, NULLs land in
    partition 0), including rows OUTSIDE the declared bounds."""
    import sqlite3

    from greenmask_spark.sources.io import read_dbapi_table

    db = str(tmp_path / "t.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE src (id INTEGER, v TEXT)")
    rows = [(i, f"v{i}") for i in range(-5, 105)] + [(None, "null-row")]
    con.executemany("INSERT INTO src VALUES (?, ?)", rows)
    con.commit()
    con.close()

    def connect():
        import sqlite3 as s

        return s.connect(db)

    df = read_dbapi_table(
        spark, connect, "src", "id long, v string",
        partition_column="id", num_partitions=4,
        lower_bound=0, upper_bound=100,
    )
    got = sorted(
        ((r.id, r.v) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == sorted(rows, key=lambda t: (t[0] is None, t[0]))
    assert df.rdd.getNumPartitions() == 4
    # explicit predicate list (the predicates-overload jdbc shape)
    df2 = read_dbapi_table(
        spark, connect, "src", "id long, v string",
        predicates=["id < 0", "id >= 0 OR id IS NULL"],
    )
    assert df2.count() == len(rows)


def test_dedup_stream_against_reference(spark, tmp_path):
    """Streaming incremental dedup vs a STATIC prepared reference (the
    rolling-crawl ingestion tier): exact replays of reference docs are
    dropped from every micro-batch, novel docs pass, fuzzy drops
    signature-identical docs via the stateless stream-static anti-join,
    and the prepared num_perm/k contract is enforced on streams too."""
    from pyspark.sql import functions as F

    from greenmask_spark.functions.dedup import prepare_reference
    from greenmask_spark.streaming.pipeline import dedup_stream_against

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    other = ("completely different reference text about ships sailing "
             "across the wide open ocean waters")
    ref = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string")
    prep_exact = str(tmp_path / "sref_exact.parquet")
    prep_fuzzy = str(tmp_path / "sref_fuzzy.parquet")
    prepare_reference(ref, "exact").write.parquet(prep_exact)
    prepare_reference(ref, "fuzzy", num_perm=8, k=3,
                      with_shingles=False).write.parquet(prep_fuzzy)

    src = str(tmp_path / "sda_src")
    spark.createDataFrame(
        [(10, base), (11, "a totally novel document about cooking")],
        "doc_id long, text string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1000))).write.parquet(src)
    spark.createDataFrame(
        [(12, other), (13, "another new doc on gardening and soil")],
        "doc_id long, text string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1010))).write.mode(
        "append").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(src)

    def run(out, name):
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            return {r.doc_id for r in
                    spark.sql(f"SELECT doc_id FROM {name}").collect()}
        finally:
            q.stop()

    exact_ref = spark.read.parquet(prep_exact)
    assert run(dedup_stream_against(stream, exact_ref), "sda_e") == {11, 13}
    fuzzy_ref = spark.read.parquet(prep_fuzzy)
    assert run(dedup_stream_against(
        stream, fuzzy_ref, level="fuzzy", num_perm=8, k=3,
    ), "sda_f") == {11, 13}
    # raw (unprepared) reference agrees with the prepared frame
    assert run(dedup_stream_against(
        stream, ref, level="fuzzy", num_perm=8, k=3), "sda_r") == {11, 13}

    # batch twin: the same call works on a batch frame
    batch = spark.read.parquet(src)
    got = dedup_stream_against(batch, exact_ref)
    assert {r.doc_id for r in got.collect()} == {11, 13}

    # the prepared num_perm/k contract holds on the streaming path too
    import pytest

    with pytest.raises(ValueError, match="num_perm"):
        dedup_stream_against(stream, fuzzy_ref, level="fuzzy",
                             num_perm=16, k=3)
    with pytest.raises(ValueError, match="exact|fuzzy"):
        dedup_stream_against(stream, exact_ref, level="bogus")


def test_live_jdbc_end_to_end(spark, tmp_path):
    """REAL spark.read/write.jdbc round trip against embedded Derby
    (the JDBC driver Spark ships for its Hive metastore) — closes the
    'partition math tested, live endpoint blocked' gap: write a masked
    frame through the JDBC sink, read it back with a PARTITIONED scan,
    and cross-validate jdbc_partition_predicates against the rows each
    real JDBC partition actually produced."""
    from pyspark.sql import functions as F

    from greenmask_spark.sources.io import (
        jdbc_partition_predicates,
        read_jdbc_table,
        write_jdbc_table,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(0, 500).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "CONCAT('name-', id) AS name")
    write_jdbc_table(src, url, "t_live", mode="overwrite",
                     properties=props)

    # partitioned read: row/value parity + real partition fan-out
    back = read_jdbc_table(
        spark, url, "t_live", partition_column="id",
        num_partitions=4, lower_bound=100, upper_bound=400,
        properties=props,
    )
    assert back.rdd.getNumPartitions() == 4
    got = {(r["id"], r["grp"], r["name"]) for r in back.collect()}
    want = {(r.id, r.grp, r.name) for r in src.collect()}
    assert got == want  # bounds are a stride hint, not a filter

    # the DB-API twin's predicate math matches what the REAL JDBC scan
    # put in each partition (first/last absorb out-of-bounds rows)
    preds = jdbc_partition_predicates("id", 100, 400, 4)
    per_part = {
        pid: ids for pid, ids in back.select(
            F.spark_partition_id().alias("p"), F.col("id")
        ).groupBy("p").agg(F.collect_list("id").alias("ids"))
        .rdd.map(lambda r: (r.p, set(r.ids))).collect()
    }
    bounds = [100 + 75 * i for i in range(1, 4)]  # stride 75
    spec = [
        set(range(0, bounds[0])),
        set(range(bounds[0], bounds[1])),
        set(range(bounds[1], bounds[2])),
        set(range(bounds[2], 500)),
    ]
    assert len(preds) == 4
    for i in range(4):
        assert per_part.get(i, set()) == spec[i], (i, preds[i])

    # query override path
    # Spark's JDBC sink CREATEs quoted-lowercase columns, so the raw
    # pushdown query must quote them too (Derby folds unquoted to upper)
    q = read_jdbc_table(
        spark, url, "ignored",
        query='SELECT "grp", COUNT(*) AS "n" FROM t_live GROUP BY "grp"',
        properties=props,
    )
    assert {(r["grp"], r["n"]) for r in q.collect()} == {
        (g, 72 if g < 3 else 71) for g in range(7)}

    # append mode: the restore sink accumulates
    write_jdbc_table(src.limit(10), url, "t_live", mode="append",
                     properties=props)
    assert read_jdbc_table(spark, url, "t_live",
                           properties=props).count() == 510


def test_quota_stream_first_arrivals(spark, tmp_path):
    """Streaming per-group quota: at most N rows admitted per group
    over the stream lifetime, admission is first-arrival across
    micro-batches (state = one counter per group), and the batch
    fallback degrades to cap_per_domain's hash-rank selection."""
    import pandas as pd  # noqa: F401

    from greenmask_spark.streaming import quota_stream

    # 3 ordered file drops; event_id increases with drop index so
    # "first arrival" == smallest event_id per group
    src = str(tmp_path / "quota_src")
    for b in range(3):
        rows = [(b * 100 + i, ["a", "b", "c"][i % 3])
                for i in range(12)]
        spark.createDataFrame(
            rows, "event_id long, domain string"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream
        .schema("event_id long, domain string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = quota_stream(stream, "domain", 6)
    q = (out.writeStream.format("memory").queryName("quota_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM quota_out").collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.domain, []).append(r.event_id)
    # exactly 6 per group — all from the FIRST drop (each drop has 4
    # rows per group, so 6 = the 4 from drop 0 + 2 from drop 1)
    for d in ("a", "b", "c"):
        ids = sorted(by_dom[d])
        assert len(ids) == 6, (d, ids)
        assert all(i < 200 for i in ids), (d, ids)  # drops 0 and 1 only
        assert sum(1 for i in ids if i < 100) == 4, (d, ids)

    # batch fallback = the offline hash-rank cap, bit-identical
    from greenmask_spark.functions.web import cap_per_domain

    bdf = spark.read.parquet(src)
    a = {(r.event_id, r.domain)
         for r in quota_stream(bdf, "domain", 6,
                               key_col="event_id").collect()}
    b = {(r.event_id, r.domain)
         for r in cap_per_domain(bdf, 6, domain_col="domain",
                                 key_col="event_id").collect()}
    assert a == b and len(a) == 18

    import pytest

    with pytest.raises(ValueError, match="max_per_group"):
        quota_stream(bdf, "domain", 0)


def test_zorder_value_and_write(spark, tmp_path):
    """Morton keys: hand-checked interleaving, NULL/out-of-range
    clamping, and the locality property that is the point — a z-
    ordered write packs each output file into a small hyper-rectangle
    of the key space (both columns prune), where a lexicographic sort
    leaves the trailing column unpruned."""
    import pytest
    from pyspark.sql import functions as F

    from greenmask_spark.sources.io import write_zordered, zorder_value

    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x long, y long")

    # hand-checked 2-bit interleave
    small = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (2, 1), (None, 2)], "x long, y long")
    z = {(r.x, r.y): r.z for r in small.select(
        "x", "y",
        zorder_value(["x", "y"], [0, 0], [3, 3], bits=2).alias("z"),
    ).collect()}
    assert z[(1, 0)] == 1 and z[(0, 1)] == 2
    assert z[(3, 3)] == 15 and z[(2, 1)] == 6
    assert z[(None, 2)] == z.get((None, 2))  # NULL clamps to min: bits of y only
    assert z[(None, 2)] == 8  # y=2 -> bit1 at pos 3

    with pytest.raises(ValueError, match="63-bit"):
        zorder_value(["x", "y"], [0, 0], [3, 3], bits=32)
    with pytest.raises(ValueError, match="align"):
        zorder_value(["x", "y"], [0], [3, 3])

    # locality: 1024-cell grid into 16 files — every file's x AND y
    # spans stay small; a lexicographic sort leaves y spanning ~31
    zp = str(tmp_path / "zordered")
    write_zordered(grid, zp, ["x", "y"], bits=5, num_files=16)
    spans = (
        spark.read.parquet(zp)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("x") - F.min("x")).alias("sx"),
             (F.max("y") - F.min("y")).alias("sy"))
        .collect()
    )
    assert len(spans) >= 8
    assert max(r.sx for r in spans) <= 16
    assert max(r.sy for r in spans) <= 16

    lex = str(tmp_path / "lexsorted")
    (grid.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y")
     .write.parquet(lex))
    lex_spans = (
        spark.read.parquet(lex)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("y") - F.min("y")).alias("sy"))
        .collect()
    )
    assert max(r.sy for r in lex_spans) >= 30  # trailing col unpruned

    # row conservation
    assert spark.read.parquet(zp).count() == 1024

    with pytest.raises(ValueError, match="all-NULL"):
        write_zordered(
            spark.createDataFrame([(None, 1)], "x long, y long"),
            str(tmp_path / "nul"), ["x", "y"])


def test_pq_encode_streams(spark, tmp_path):
    """PQ encoding is a stateless Arrow projection, so it composes
    onto a STREAMING DataFrame unchanged — embedding codes computed at
    ingestion (the index builds as data lands), byte-identical to the
    batch encode of the same rows."""
    import numpy as np

    from greenmask_spark.functions.similarity import (
        hash_pq_codebooks,
        pq_encode,
    )

    rng = np.random.RandomState(17)
    vecs = rng.randn(24, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(24)],
        "vec_id long, embedding array<double>")
    src = str(tmp_path / "emb_src")
    df.write.parquet(src)
    books = hash_pq_codebooks(8, m=4, k_sub=4, seed=3)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = pq_encode(stream, books)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("pq_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.vec_id: r.pq_code for r in
           spark.sql("SELECT * FROM pq_stream").collect()}
    want = {r.vec_id: r.pq_code for r in pq_encode(df, books).collect()}
    assert got == want and len(got) == 24


def test_media_fingerprints_stream(spark, tmp_path):
    """image_dhash and audio_fingerprint are stateless Arrow
    projections, so they compose onto a STREAMING DataFrame unchanged
    — fingerprints computed at crawl-ingestion time, bit-identical to
    the batch hash of the same payloads (the dedup index builds as
    media lands; pair search stays a batch/stream-static job)."""
    import io
    import random
    import wave

    from greenmask_spark.functions.multimodal import (
        audio_fingerprint,
        image_dhash,
    )

    rng = random.Random(23)
    rows = []
    for i in range(8):
        px = bytes(rng.randrange(256) for _ in range(18 * 16 * 3))
        rows.append((i, b"P6\n18 16\n255\n" + px))
    for i in range(8, 12):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(1)
            wf.setframerate(8000)
            wf.writeframes(bytes(rng.randrange(256) for _ in range(200)))
        rows.append((i, buf.getvalue()))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    src = str(tmp_path / "media_src")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    for fn, col, name in ((image_dhash, "dhash", "dh_stream"),
                          (audio_fingerprint, "afp", "af_stream")):
        out = fn(stream)
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r.media_id: r[col] for r in
               spark.sql(f"SELECT * FROM {name}").collect()}
        want = {r.media_id: r[col] for r in fn(df).collect()}
        assert got == want and len(got) == 12

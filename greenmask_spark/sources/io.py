"""Readers/writers: the dump/restore data path.

Reference mapping (SURVEY §2.1):
- dump worker pool over tables (cmd/dump.go:253-268, --jobs) → write_dump
  overlaps DUMP_WRITERS table writes; Spark parallelizes within each
- COPY-to-gzip per table (dumpers/table.go)      → df.write.parquet (codec
  built in; partitioned output replaces the single gzip stream — at 100 TB
  the writer parallelism IS the partition count)
- storage backends dir/s3/azure (internal/storages/) → Hadoop FS URIs:
  file://, s3a://, abfss:// — same API, no code difference here
- restore via COPY/INSERT (restorers/)            → df.write.jdbc append,
  parents-first via manifest restore_order
- JDBC source with numPartitions/partitionColumn  → intra-table parallel
  scan (the reference has NO intra-table parallelism; this is the Spark
  win at scale)
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from greenmask_spark.sources.manifest import Manifest, build_manifest, write_manifest

#: the most table writes write_dump keeps in flight. Each write is one or
#: more Spark jobs. The overlap pays when a write runs fewer tasks than
#: there are executor cores, so that its fixed per-job cost (~0.1 s
#: locally) leaves cores idle: both perfbench dump workloads have that
#: property on local[4] (subset_dump 21 jobs of 1 task each, mask_dump 9
#: jobs with 12 tasks), and over 10 alternating pairs each their wall
#: time fell 22 % and 20 %, peak RSS rose 9 % and 3 % in the median.
#: Tables whose write alone fills every core were not measured. A
#: 10-iteration loop of the perfbench subset_dump write phase (7 tables,
#: 21 jobs) on local[4] with a 1 GB heap, 4-vCPU x86-64 VM:
#:
#:   in flight  write phase (s)  G1 heap committed (MB)
#:   1          2.2-2.5          302
#:   2          1.5-1.9          434
#:   3          1.45-1.65        460-580
#:   4          1.3-1.4          615-720
#:   7          1.3-1.6          750-820
#:
#: With 4 or 7 in flight the benchmark's peak RSS was 1133-1426 MB
#: against 955-1102 MB one at a time, past its 25 % bound; 2 keeps most
#: of the gain. A constant, not an option.
DUMP_WRITERS = 2


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    query: str | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """Partitioned JDBC scan. With a numeric partition_column Spark issues
    num_partitions range-bounded queries in parallel — intra-table
    parallelism the reference lacks (its COPY is single-streamed per
    table, dumpers/table.go:121-182)."""
    reader = spark.read.format("jdbc").option("url", url)
    if query:
        reader = reader.option("query", query)
    else:
        reader = reader.option("dbtable", table)
    if partition_column:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_partition_predicates(
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
) -> list[str]:
    """The WHERE clauses Spark's JDBC source generates for a partitioned
    read — same math as Spark's ``JDBCRelation.columnPartition`` (public
    Spark source, sql/core datasources/jdbc): bounds are a STRIDE hint,
    not a filter; the first partition is unbounded below (and absorbs
    NULLs), the last unbounded above, so every row lands in exactly one
    partition regardless of the bounds' accuracy.

    Exposed so the DB-API shim (``read_dbapi_table``) — and tests, with
    no JDBC endpoint in the sandbox — exercise bit-identical
    partitioning semantics to a real ``spark.read.jdbc`` against PG."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    if lower_bound > upper_bound:
        raise ValueError(
            f"lower_bound {lower_bound} > upper_bound {upper_bound}"
        )
    # Spark clamps: never more partitions than distinct stride steps
    n = num_partitions
    if (upper_bound - lower_bound) < n:
        n = max(1, upper_bound - lower_bound)
    if n == 1:
        return ["1=1"]
    # computed as two divisions, exactly like Spark, to avoid overflow.
    # JVM integer division truncates toward zero while Python's //
    # floors toward -inf — they differ for negative bounds, so use
    # truncating division (exact integer math, no float round-trip)
    # to keep the boundaries bit-identical to JDBCRelation.columnPartition
    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // b  # b = n >= 2 here, always positive
        return q if a >= 0 else -q

    stride = _tdiv(upper_bound, n) - _tdiv(lower_bound, n)
    preds: list[str] = []
    current = lower_bound + stride
    col = partition_column
    preds.append(f"{col} < {current} OR {col} IS NULL")
    for _ in range(1, n - 1):
        nxt = current + stride
        preds.append(f"{col} >= {current} AND {col} < {nxt}")
        current = nxt
    preds.append(f"{col} >= {current}")
    return preds


def read_dbapi_table(
    spark: SparkSession,
    connect,
    table: str,
    schema,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    predicates: list[str] | None = None,
) -> DataFrame:
    """Parallel table read over any picklable DB-API 2.0 connector —
    the JDBC-source shape (one bounded query per partition, issued from
    EXECUTORS) for databases reachable from Python but lacking a JDBC
    driver in-process (sqlite, duckdb, psycopg2 without a JVM driver).

    ``connect`` is a zero-arg picklable callable returning a fresh
    DB-API connection — each task opens its own (connections never
    serialize). Partitioning mirrors ``spark.read.jdbc`` exactly:
    either pass explicit ``predicates`` (one partition each, like the
    predicate-list jdbc() overload) or a numeric ``partition_column``
    with bounds, which derive ``jdbc_partition_predicates``. The plan
    is one mapInPandas over a tiny predicate frame repartitioned so
    each task streams exactly one bounded query — no driver-side
    materialization.
    """
    if predicates is None:
        if partition_column is None:
            predicates = ["1=1"]
        else:
            if lower_bound is None or upper_bound is None:
                raise ValueError(
                    "partitioned DB-API read needs lower/upper bounds"
                )
            predicates = jdbc_partition_predicates(
                partition_column, lower_bound, upper_bound, num_partitions
            )
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = [f.name for f in schema.fields]
    sqls = [
        f"SELECT {', '.join(cols)} FROM {table} WHERE {p}" for p in predicates
    ]
    # one query per TASK, guaranteed: parallelize slices the list evenly
    # (a hash repartition could collide two predicates into one task and
    # leave another idle)
    pred_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(s,) for s in sqls], len(sqls)),
        "sql string",
    )

    def fetch(batches):
        for pdf in batches:
            for sql in pdf["sql"]:
                con = connect()
                try:
                    cur = con.cursor() if hasattr(con, "cursor") else con
                    res = cur.execute(sql) or cur
                    while True:
                        rows = res.fetchmany(10_000)
                        if not rows:
                            break
                        yield pd.DataFrame(rows, columns=cols)
                finally:
                    if hasattr(con, "close"):
                        con.close()

    return pred_df.mapInPandas(fetch, schema=schema)


def write_jdbc_table(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10000,
    properties: dict | None = None,
) -> None:
    """Restore sink (reference restorers/table.go COPY / INSERT path).
    Conflict-skip (ON CONFLICT DO NOTHING) is not expressible through the
    stock JDBC sink — documented gap (SURVEY §2.1); use a foreachPartition
    writer with a dialect-specific upsert when needed."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def write_dump(
    tables: dict[str, DataFrame],
    out_dir: str,
    graph=None,
    primary_keys: dict[str, list[str]] | None = None,
    sequences: dict[str, str] | None = None,
    transformations: list[dict] | None = None,
    salt: str = "",
    seed: int | None = None,
    fmt: str = "parquet",
    compression: str = "zstd",
    partition_by: dict[str, list[str]] | None = None,
    blobs: DataFrame | None = None,
) -> Manifest:
    """Write a full dump directory: one sub-directory per table +
    _manifest.json.

    ``fmt`` is a Spark data source (``parquet`` by default, written with
    ``compression``) or ``copy``: the reference's gzip COPY text
    (``copy_format.write_copy``), read back against the manifest's
    schema snapshot.

    Tables are written up to ``DUMP_WRITERS`` (2) at a time, from a
    thread pool; each write runs with its own copy of the caller's Spark
    local properties (job group, description). Writes start in the dict's
    order and their results are awaited in that order. When a write
    fails, the writes not yet started are cancelled, the ones in flight
    finish, and the first error awaited is re-raised; no _manifest.json
    is written, so a failed dump never reads as a complete one.

    ``partition_by`` maps table → partition columns for hive-style layout
    (enables partition pruning on restore-side reads; parquet only).

    ``blobs`` (loid, data) writes the reference's large-object layout
    under ``<out_dir>/blobs/`` (blob_{oid}.dat.gz + blobs.toc); read it
    back with ``sources.large_objects.read_large_object_dump``.

    ``out_dir`` may be a bare path or a Hadoop FS URI (file://, s3a://,
    abfss://): the table writers resolve the scheme natively, and the
    manifest writer follows the same resolver (manifest._local_path /
    _hadoop_write_text) — only local paths get an os.makedirs."""
    from greenmask_spark.sources.manifest import _local_path

    if fmt == "copy" and partition_by:
        raise ValueError("partition_by is not supported for COPY dumps")
    local = _local_path(out_dir)
    if local is not None:
        os.makedirs(local, exist_ok=True)
    if blobs is not None:
        from greenmask_spark.sources.large_objects import dump_large_objects

        if local is None:
            raise NotImplementedError(
                "large-object dump writes driver-side gzip files and "
                "supports local/file:// dump dirs only")
        dump_large_objects(blobs, os.path.join(local, "blobs"))

    def write_table(name: str, df: DataFrame) -> None:
        path = os.path.join(out_dir, name)
        if fmt == "copy":
            from greenmask_spark.sources.copy_format import write_copy

            write_copy(df, path)
            return
        writer = df.write.mode("overwrite").format(fmt).option(
            "compression", compression
        )
        pb = (partition_by or {}).get(name)
        if pb:
            writer = writer.partitionBy(*pb)
        writer.save(path)

    if tables:
        spark = next(iter(tables.values())).sparkSession
        with ThreadPoolExecutor(max_workers=DUMP_WRITERS,
                                thread_name_prefix="write_dump") as pool:
            # wrapped once per table: each wrap clones the caller's local
            # properties, and a write sets its SQL execution id on the
            # object it runs with, so two writes must never share one
            futures = [pool.submit(inheritable_thread_target(spark)(write_table),
                                   name, df)
                       for name, df in tables.items()]
            try:
                for f in futures:
                    f.result()
            except BaseException:
                # cancels the queued writes; waits for the running ones
                pool.shutdown(cancel_futures=True)
                raise
    manifest = build_manifest(
        tables,
        graph=graph,
        primary_keys=primary_keys,
        sequences=sequences,
        transformations=transformations,
        salt=salt,
        seed=seed,
        data_format=fmt,
    )
    write_manifest(manifest, out_dir)
    return manifest


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table: the co-located-join primitive.

    Two tables bucketed by the same key with the same bucket count join
    WITHOUT a shuffle (SortMergeJoin reads bucket i against bucket i) —
    at 100 TB this turns the recurring fact⋈fact join from the dominant
    shuffle into a local merge. Spark-native bucketing (no Hive
    required); pair with ``spark.sql.sources.bucketing.enabled`` (on by
    default) and read back via ``spark.table``."""
    writer = (
        df.write.mode("overwrite").format(fmt)
        .bucketBy(num_buckets, *bucket_cols)
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table)


def zorder_value(
    cols: list, mins: list[int], maxs: list[int], bits: int = 16
):
    """Morton/Z-order key of k numeric columns as ONE pure Column
    expression: each column rebases to its min and right-shifts down
    to ``bits`` bits (shift = bit_length(span) − bits — pure integer
    bit ops, so the key is bit-for-bit replayable in any SQL engine;
    no float scaling), then the bit planes interleave (bit b of
    column i lands at position b*k + i). k*bits shift/or terms, fully
    inside whole-stage codegen. NULL or out-of-range values clamp
    into [min, max] so every row gets a finite key (NULLs land at the
    low edge via coalesce(min))."""
    from pyspark.sql import functions as F

    k = len(cols)
    if not (k and len(mins) == k and len(maxs) == k):
        raise ValueError("zorder_value: cols/mins/maxs must align")
    if k * bits > 63:
        raise ValueError(f"k*bits = {k * bits} exceeds the 63-bit "
                         "signed z-key budget")
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        lo, hi = int(mins[i]), int(maxs[i])
        span = max(hi - lo, 1)
        shift = max(span.bit_length() - bits, 0)
        rebased = (
            F.least(F.greatest(F.coalesce(c.cast("bigint"), F.lit(lo)),
                               F.lit(lo)), F.lit(hi)) - F.lit(lo)
        )
        scaled = F.shiftright(rebased, shift)
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                            b * k + i)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Z-order-clustered write: the multi-dimensional data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER, re-expressed with stock
    Spark). Rows sort by the interleaved key, so every output file
    covers a small hyper-rectangle of the key space and parquet
    row-group min/max stats prune scans filtered on ANY prefix-free
    subset of the columns — unlike a lexicographic sort, which prunes
    only the leading column. Column ranges come from one min/max agg
    (2k scalars to the driver — railed); the sort is one
    repartitionByRange exchange, same cost class as
    ``deterministic_shuffle``."""
    from pyspark.sql import functions as F

    stats = df.agg(*[
        f for c in zorder_cols
        for f in (F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"))
    ]).first()
    mins = [stats[f"__lo_{c}"] for c in zorder_cols]
    maxs = [stats[f"__hi_{c}"] for c in zorder_cols]
    if any(v is None for v in mins + maxs):
        raise ValueError("write_zordered: all-NULL z-order column")
    z = zorder_value(zorder_cols, mins, maxs, bits)
    out = df.withColumn("__z", z)
    out = (
        out.repartitionByRange(num_files, "__z") if num_files
        else out.repartitionByRange("__z")
    )
    (out.sortWithinPartitions("__z").drop("__z")
        .write.mode("overwrite").format(fmt).save(path))


def read_dump(
    spark: SparkSession, dump_dir: str, manifest=None
) -> dict[str, DataFrame]:
    """Read a dump directory in either storage format: parquet part dirs
    (flat or hive-partitioned), or COPY text (.gz) decoded against the
    manifest's schema snapshot. The format comes from the manifest's
    ``data_format`` field — no directory sniffing, so remote FS URIs
    (s3a://, abfss://) and partitioned layouts work the same as local
    flat dirs. Tables listed in the manifest but absent on disk (e.g. a
    partial restore source) are skipped rather than raised."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from greenmask_spark.sources.manifest import read_manifest

    if manifest is None:
        manifest = read_manifest(dump_dir)
    out: dict[str, DataFrame] = {}
    for t in manifest.tables:
        tdir = os.path.join(dump_dir, t.name)
        try:
            fmt = manifest.data_format or "parquet"
            if fmt == "copy":
                from greenmask_spark.sources.copy_format import read_copy

                ddl = ", ".join(f"{c['name']} {c['type']}" for c in t.columns)
                df = read_copy(spark, tdir, T.StructType.fromDDL(ddl))
            elif fmt == "parquet":
                df = spark.read.parquet(tdir)
            else:
                # text formats (json/jsonl, csv): schema comes from the
                # manifest snapshot — NEVER inference, which is a full
                # extra scan of the table at 100 TB
                ddl = ", ".join(f"{c['name']} {c['type']}" for c in t.columns)
                df = (
                    spark.read.format("json" if fmt == "jsonl" else fmt)
                    .schema(T.StructType.fromDDL(ddl))
                    .load(tdir)
                )
            # force path resolution now so a missing table surfaces here,
            # not at first downstream action
            df.schema
        except AnalysisException:
            continue
        out[t.name] = df
    return out


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema,
    compression: str | None = None,
) -> DataFrame:
    """JSON-lines reader for training-data corpora (the interchange format
    of most public text datasets). ``schema`` (DDL string or StructType)
    is REQUIRED: schema inference is a full extra scan of the corpus at
    100 TB, and silently widens types between shards. Compressed shards
    (.gz/.zst) decode transparently by extension; note gzip shards are
    not splittable — one task per shard, so shard size IS the
    parallelism knob."""
    reader = spark.read.format("json").schema(schema)
    if compression:
        reader = reader.option("compression", compression)
    return reader.load(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str = "gzip",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """JSON-lines writer (one object per line, one shard per task)."""
    writer = df.write.format("json").mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)

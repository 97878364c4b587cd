"""Physical data layout for scale: partitioned writes (partition
pruning) and bucketed tables (shuffle-free co-located joins).

These are the two storage-side levers the 100 TB design depends on
(SURVEY.md §2.12 design rules: "partition by stable keys on write";
co-located joins via bucketing):

- Partitioning by a low-cardinality column turns equality/range
  predicates into directory pruning — the scan never opens non-matching
  files (`PartitionFilters` in the plan).
- Bucketing both sides of a recurring join on the join key removes the
  shuffle entirely: bucket i joins bucket i, a map-side zip. At 100 TB
  the lineitem⟕orders shuffle IS the flagship query's cost — bucketing
  amortizes it into the write once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet: one subdir per partition value.
    Keep partition columns low-cardinality (lang, date, source) — at
    high cardinality the small-files problem inverts the win."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table; optional in-bucket sort enables
    merge-join without even a local sort."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str
) -> DataFrame:
    """Join two tables bucketed on their join keys — Catalyst sees the
    compatible hash distributions and plans SortMergeJoin with ZERO
    Exchange operators (asserted in tests)."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key], "inner")


@query(
    "layout_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)                          AS n_items,
           CAST(SUM(l_quantity) AS BIGINT)   AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free co-located join, hash-verified end to end:
    bucket lineitem and orders on the join key at write time, join the
    bucketed tables (zero Exchange before the join — pinned in
    tests/test_layout_graph.py), and aggregate. The result must equal
    the plain join — bucketing is pure physical layout, invisible to
    semantics. Table names are uniqued per invocation (the returned
    plan reads the bucketed tables lazily, so they can't be dropped
    here; like the roundtrip tempdirs, uniqueness beats a
    concurrent-sweep race on a shared name)."""
    import uuid

    from pyspark.sql import functions as F

    from ..catalog import load_table

    tag = uuid.uuid4().hex[:12]
    li_t, ord_t = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        li_t, "l_orderkey", n_buckets=8, sort_col="l_orderkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ord_t, "o_orderkey", n_buckets=8, sort_col="o_orderkey",
    )
    return (
        bucketed_join(spark, li_t, ord_t, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
    )


# ---- Z-order (Morton) clustering ------------------------------------------

# 16-bit Morton spread masks (decimal — identical literals in Spark and
# the DuckDB oracle: 0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555)
_SPREAD_STEPS = [(8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)]


def _spread16(col):
    """Interleave-ready spread of the low 16 bits: bit i moves to
    bit 2i via the classic magic-mask shift cascade."""
    x = col.bitwiseAND(65535)
    from pyspark.sql import functions as F

    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(mask)
    return x


def zorder_value(col_a, col_b):
    """64-bit Morton code of two 16-bit dimensions: a in even bits, b
    in odd. Rows close in z-value are close in BOTH dimensions."""
    from pyspark.sql import functions as F

    return _spread16(col_a).bitwiseOR(F.shiftleft(_spread16(col_b), 1))


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 32
) -> None:
    """Z-order-clustered parquet: range-partition + sort by the Morton
    code of two filter dimensions before writing. Every output file
    then covers a NARROW range of both columns, so parquet min/max
    stats (and any format-level file index) prune scans filtered on
    EITHER dimension — single-column sort only prunes its own column.
    This is the layout move for a 100 TB fact table with two hot
    filter axes (e.g. customer × order-date): clustering is paid once
    at write; every later scan skips non-matching files for free."""
    from pyspark.sql import functions as F

    z = zorder_value(F.col(col_a), F.col(col_b)).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "layout_zorder",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
             o_custkey & 65535 AS a,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535 AS b
      FROM orders
    ), s1 AS (
      SELECT o_custkey, day,
             (a | (a << 8)) & 16711935 AS a, (b | (b << 8)) & 16711935 AS b FROM base
    ), s2 AS (
      SELECT o_custkey, day,
             (a | (a << 4)) & 252645135 AS a, (b | (b << 4)) & 252645135 AS b FROM s1
    ), s3 AS (
      SELECT o_custkey, day,
             (a | (a << 2)) & 858993459 AS a, (b | (b << 2)) & 858993459 AS b FROM s2
    ), s4 AS (
      SELECT o_custkey, day,
             (a | (a << 1)) & 1431655765 AS a, (b | (b << 1)) & 1431655765 AS b FROM s3
    )
    SELECT (a | (b << 1)) >> 16          AS z_bucket,
           CAST(COUNT(*) AS BIGINT)      AS n_orders,
           MIN(o_custkey)                AS min_cust,
           MAX(o_custkey)                AS max_cust,
           CAST(MIN(day) AS BIGINT)      AS min_day,
           CAST(MAX(day) AS BIGINT)      AS max_day
    FROM s4 GROUP BY 1
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code clustering demo, hash-verified: compute the z-value
    of (o_custkey, order epoch-day), bucket by its high bits, and emit
    each bucket's row count plus min/max of BOTH dimensions — the
    statistics a scan planner prunes files with. The point the output
    makes: every z-bucket is narrow in customer AND date
    simultaneously (tests assert the span shrinks vs the global
    range), which no single-column sort achieves. The bit cascade is
    identical integer arithmetic in both engines."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    base = orders.select("o_custkey", day.alias("day"))
    z = zorder_value(F.col("o_custkey"), F.col("day"))
    return (
        base.select("o_custkey", "day", F.shiftright(z, 16).alias("z_bucket"))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").cast("bigint").alias("min_day"),
            F.max("day").cast("bigint").alias("max_day"),
        )
    )


def write_version(df: DataFrame, path: str, version: int) -> None:
    """Append one immutable snapshot increment under ``v=<version>``.
    Versions are never rewritten — time travel is a READ-side choice."""
    df.write.mode("errorifexists").parquet(f"{path}/v={version}")


def read_as_of(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Read the table as of ``version``: the union of all increments
    with v <= version. This is poor-man's snapshot isolation on plain
    parquet — the same mechanics a table format's metadata layer
    performs (its manifests select files; here the directory-partition
    filter does). The filter is a PartitionFilter: non-selected
    versions are pruned at planning, never opened."""
    from pyspark.sql import functions as F

    return (
        spark.read.option("basePath", path)
        .parquet(path)
        .filter(F.col("v") <= version)
        .drop("v")
    )


@query(
    "time_travel_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over append-only version increments: v=1 holds
    pre-1998 orders, v=2 appends the rest; reading "as of v1" returns
    exactly the first snapshot (the oracle), while "latest" sees both
    (asserted in test_layout_graph). At 100 TB this is how reproducible
    training runs pin their input: data keeps arriving as new version
    directories, every run records the version it read, and re-reading
    that version is byte-stable because increments are immutable —
    compaction/GC happens by writing NEW versions, never editing old
    ones."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = tempfile.mkdtemp(prefix="etl_knlp_tt_") + "/orders"
    cut = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    write_version(o.filter(cut).drop("o_orderdate"), path, 1)
    write_version(o.filter(~cut).drop("o_orderdate"), path, 2)
    return read_as_of(spark, path, 1)


@query(
    "compact_small_files",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented table (64 tiny part-files —
    the classic streaming-ingest residue) rewritten into few
    right-sized files, contents bit-identical (the identity oracle).
    At 100 TB small files are a *planning* tax — every query pays
    per-file open/footer costs and the driver holds per-file metadata —
    so compaction runs as maintenance after ingest. repartition (a
    round-robin shuffle) rather than coalesce: coalesce would chain
    upstream parallelism to the target file count; the file-count
    drop (64 → ≤4) is asserted in test_layout_graph."""
    import tempfile

    from ..catalog import load_table

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    base = tempfile.mkdtemp(prefix="etl_knlp_compact_")
    frag = f"{base}/fragmented"
    compacted = f"{base}/compacted"
    c.repartition(64).write.parquet(frag)
    spark.read.parquet(frag).repartition(4).write.parquet(compacted)
    return spark.read.parquet(compacted)


@query(
    "layout_partition_prune",
    oracle="""
    SELECT CAST(ts AS DATE)         AS event_date,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    GROUP BY 1, 2
    """,
)
def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned write + pruned read, hash-verified end to end:
    events land partitioned by event_date (the canonical fact-table
    layout), and a 3-day range query reads back ONLY those partition
    directories — the scan's PartitionFilters prune at the directory
    listing, before any file opens (pinned in tests). At 100 TB this
    is the difference between scanning 30 files and 10,000: time-range
    queries cost proportional to the range, not the table. The result
    must equal the plain filtered aggregate over the unpartitioned
    table — partitioning is pure physical layout."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    path = tempfile.mkdtemp(prefix="etl_knlp_part_")
    write_partitioned(
        e.select("event_id", "event_type", "event_date"), path, ["event_date"]
    )
    return (
        spark.read.parquet(path)
        .filter(
            F.col("event_date").between(F.lit("2024-01-10"), F.lit("2024-01-12"))
        )
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "scan_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)     AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
           MIN(l_shipdate)              AS first_ship,
           MAX(l_shipdate)              AS last_ship
    FROM lineitem
    """,
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/COUNT answered from parquet footer statistics: with
    `spark.sql.parquet.aggregatePushdown` on and the v2 parquet
    reader, the whole-table aggregate compiles to a metadata read per
    row group — zero data pages decompress (the plan shows
    PushedAggregation on the BatchScan; pinned in tests). At 100 TB
    this is the difference between a full scan and reading a few KB
    of footers per file.

    Conf mechanics: the v1-vs-v2 choice binds when ``spark.read``
    resolves the source, but ``aggregatePushdown`` is consulted later,
    when the optimizer pushes operators into the ScanBuilder — so BOTH
    confs are scoped to this function and the pushed-down physical
    plan is compiled (``executedPlan`` is cached on the Dataset)
    before they're restored. Every other read in the session stays on
    the default v1 path with the session's own pushdown setting —
    no conf leak (round-4 advisor finding). Results are identical
    either way (the oracle is the plain aggregate)."""
    from pyspark.sql import functions as F

    from ..catalog import table_path

    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,parquet,text"
    )
    v2_list = ",".join(s for s in prev_v1.split(",") if s != "parquet")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", v2_list)
    try:
        li = spark.read.parquet(table_path(sf_dir, "lineitem"))
        out = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        # Force physical planning NOW, while the scoped confs are live:
        # the pushdown fires during optimization, and executedPlan is a
        # cached lazy val, so the later materialization reuses it.
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)


@query(
    "layout_dpp_join",
    oracle="""
    WITH dates AS (
      SELECT DISTINCT CAST(ts AS DATE) AS event_date
      FROM events
      WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (SELECT CAST(ts AS DATE) AS event_date, event_type FROM events) e
    JOIN dates d USING (event_date)
    GROUP BY e.event_type
    """,
)
def layout_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is the date-partitioned
    events layout, the dim side is a small filtered date set, and the
    join key is the PARTITION column — Catalyst injects the dim's key
    set as a runtime partition filter (dynamicpruning expression in
    the plan, pinned in tests), so the fact scan reads only the
    partitions the dim actually selects, decided at run time. This is
    the star-schema scan pattern at 100 TB: the static planner can't
    know which dates survive the dim filter; DPP prunes anyway."""
    import tempfile

    from pyspark.sql import functions as F

    from ..catalog import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    path = tempfile.mkdtemp(prefix="etl_knlp_dpp_")
    write_partitioned(
        e.select("event_id", "event_type", "event_date"), path, ["event_date"]
    )
    fact = spark.read.parquet(path)
    dim = (
        e.select("event_date")
        .distinct()
        .filter(F.col("event_date").between(F.lit("2024-01-05"), F.lit("2024-01-07")))
    )
    return (
        fact.join(dim, "event_date")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "runtime_bloom_join",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
)
def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (InjectRuntimeFilter): the
    selective dim-side predicate builds a bloom_filter_agg over its
    join keys, which is pushed into the FACT side's scan as a
    might_contain pre-filter — fact rows that cannot match die before
    the shuffle. This is the shuffle-join analog of DPP: at 100 TB a
    1% -selective dim filter cuts the fact shuffle ~100× with no
    layout requirement. The plan (bloom_filter_agg + might_contain)
    is pinned in tests.

    Conf mechanics: broadcast must be off for this demo (a broadcast
    join needs no bloom filter and suppresses the rule), but leaking
    autoBroadcastJoinThreshold=-1 to the session would wreck every
    later query's plan — so the physical plan is FORCED here while
    the confs are set (QueryExecution caches it) and the threshold is
    restored before returning. Only the benign size-bar knob
    (applicationSideScanSizeThreshold) stays lowered — testdata is
    far below the 10 GB production default."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"))
        )
        # force physical planning NOW so the cached plan carries the
        # injected bloom filter even after the conf restore below
        out._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
    return out


def hilbert_value(col_a, col_b, bits: int = 16):
    """Hilbert-curve index of two ``bits``-bit dimensions as ONE
    codegen'd fold (no UDF): the classic xy2d bit-level walk — at each
    scale s the quadrant digit (3·rx)^ry joins the index and the
    frame rotates (reflect at rx=1, then swap) so the child quadrant
    is re-oriented. The Hilbert curve is the space-filling curve with
    unit steps (every consecutive pair of index values is an adjacent
    cell), so file ranges cover tighter rectangles than the Morton
    curve's quadrant jumps — same write-side machinery as
    `write_zordered`, strictly better worst-case locality."""
    from pyspark.sql import functions as F

    n = 1 << bits
    s_values = F.array(
        *[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)]
    )
    init = F.struct(
        col_a.bitwiseAND(n - 1).cast("long").alias("x"),
        col_b.bitwiseAND(n - 1).cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc, s):
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        rx = F.when(acc["x"].bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(acc["y"].bitwiseAND(s) > 0, one).otherwise(zero)
        d2 = acc["d"] + s * s * ((F.lit(3).cast("long") * rx).bitwiseXOR(ry))
        xf = F.when(rx == 1, F.lit(n - 1).cast("long") - acc["x"]).otherwise(
            acc["x"]
        )
        yf = F.when(rx == 1, F.lit(n - 1).cast("long") - acc["y"]).otherwise(
            acc["y"]
        )
        nx = F.when(ry == 0, yf).otherwise(acc["x"])
        ny = F.when(ry == 0, xf).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d2.alias("d"))

    return F.aggregate(s_values, init, step)["d"]


@query(
    "layout_hilbert",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
      FROM orders
    ), walk AS (
      SELECT o_custkey, day,
             CAST(o_custkey & 65535 AS BIGINT) AS x,
             CAST(day & 65535 AS BIGINT)       AS y,
             CAST(0 AS BIGINT) AS d,
             CAST(32768 AS BIGINT) AS s
      FROM base
      UNION ALL
      SELECT o_custkey, day,
             CASE WHEN (y & s) = 0
                  THEN (CASE WHEN (x & s) > 0 THEN 65535 - y ELSE y END)
                  ELSE x END AS x,
             CASE WHEN (y & s) = 0
                  THEN (CASE WHEN (x & s) > 0 THEN 65535 - x ELSE x END)
                  ELSE y END AS y,
             d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                             (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)) AS d,
             s // 2 AS s
      FROM walk WHERE s > 0
    )
    SELECT d >> 16                        AS h_bucket,
           CAST(COUNT(*) AS BIGINT)       AS n_orders,
           MIN(o_custkey)                 AS min_cust,
           MAX(o_custkey)                 AS max_cust,
           CAST(MIN(day) AS BIGINT)       AS min_day,
           CAST(MAX(day) AS BIGINT)       AS max_day
    FROM walk WHERE s = 0 GROUP BY 1
    """,
)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering demo, hash-verified — the `layout_zorder`
    contract on the Hilbert index: bucket (o_custkey, epoch-day) by
    the index's high bits and emit per-bucket counts + min/max of
    both dimensions. The oracle replays the SAME bit walk as a
    recursive CTE (16 halvings of s, reflect-then-swap rotation as
    simultaneous CASEs over the pre-update x/y), so every index value
    is pinned by exact integer arithmetic. test_layout_graph measures
    the payoff: Hilbert buckets' dimension rectangles are no wider
    than z-order's on the same data (unit-step locality vs quadrant
    jumps)."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = orders.select("o_custkey", day.alias("day"))
    h = hilbert_value(F.col("o_custkey"), F.col("day"))
    return (
        base.select("o_custkey", "day", F.shiftright(h, 16).alias("h_bucket"))
        .groupBy("h_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").cast("bigint").alias("min_day"),
            F.max("day").cast("bigint").alias("max_day"),
        )
    )

"""Sinks, bulk loads, and DDL — the staging/warehouse half of the
reference (SURVEY.md §2.1 S4-S8).

Reference behaviors re-expressed:
- JSON-lines staging to object storage (dag-knlp.py:109-111) →
  `df.write.json` (JSON-lines is Spark's native JSON framing; the s3a
  committer replaces boto3 PUTs on a real cluster).
- 10k-row chunked part-files (dag-knlp.py:126, 139-145) →
  `maxRecordsPerFile` — Spark's normal multi-part output.
- `COPY ... JSON 'auto'` name binding against the table's DDL
  (dag-knlp.py:202-205) → `spark.read.schema(ddl).json`, the DDL an
  all-string struct in column order.
- `CREATE TABLE IF NOT EXISTS` + `INSERT INTO ... SELECT`
  (dag-knlp.py:24-63, 66-71) → saveAsTable / insertInto.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def write_json_lines(df: DataFrame, path: str, max_records_per_file: int = 10_000, mode: str = "overwrite") -> None:
    """S4+S5: JSON-lines sink with bounded part-file size. The
    reference hand-rolls this chunking for memory relief
    (dag-knlp.py:139-145); here it's a writer option and partitioned
    execution does the rest."""
    df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file).json(path)


def read_json_auto(
    spark: SparkSession,
    path: str,
    columns: list[str],
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S6: bulk JSON load the way `COPY ... JSON 'auto'` does
    (dag-knlp.py:202-205): JSON keys bind by name to the table's DDL —
    `columns`, in DDL order, every one VARCHAR (dag-knlp.py:24-63) — and
    nothing is inferred, so the load starts no Spark job and a column
    absent from every record (the JSON writer drops null fields) loads
    as NULL. A directory path loads every part-file (the reference's
    prefix COPY, dag-knlp.py:231-239).

    Malformed-record policy (the part Redshift's COPY error table
    handles in the reference): PERMISSIVE (default) nulls bad rows —
    pass `corrupt_col` to quarantine the raw bad line into a column
    appended after the DDL's instead of dropping it silently;
    DROPMALFORMED discards; FAILFAST raises on the first bad record.
    """
    fields = [StructField(c, StringType()) for c in columns]
    reader = spark.read.option("mode", mode)
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        fields.append(StructField(corrupt_col, StringType()))
    return reader.schema(StructType(fields)).json(path)


def create_table_if_not_exists(spark: SparkSession, name: str, ddl_schema: str, location: str | None = None) -> None:
    """S7: `CREATE TABLE IF NOT EXISTS ... USING parquet` — the
    reference's DDL strings (dag-knlp.py:24-63) minus the identity
    column, which is engine-side (`plans.dimension.with_identity`)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({ddl_schema}) USING parquet{loc}")


def insert_into(df: DataFrame, table: str, overwrite: bool = False) -> None:
    """S8: `INSERT INTO ... SELECT` append (dag-knlp.py:66-71)."""
    df.write.insertInto(table, overwrite=overwrite)


def hadoop_fs_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for any URI scheme Spark itself can write —
    marker/existence checks must resolve paths the same way the
    parquet writers do, or local-vs-remote drift creeps in (the bm25
    marker bug fixed in r7, the binary-source empty-drop bug in r8)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def hadoop_glob_nonempty(spark: SparkSession, pattern: str) -> bool:
    """True iff ``pattern`` matches at least one path, resolved through
    the Hadoop FileSystem API — the same resolution Spark's own readers
    use, so it works on any scheme (s3a://, hdfs://, file:). A
    driver-local ``glob.glob`` always misses on remote schemes, which
    turned the binary-source readers' empty-drop special case into
    silent data loss there (ADVICE r7 #1). ``globStatus`` returns null
    for a nonexistent parent and an empty array for an existing-but-
    unmatched one; both mean "no shards"."""
    fs, hpath = hadoop_fs_path(spark, pattern)
    matches = fs.globStatus(hpath)
    return matches is not None and len(matches) > 0


def write_completion_marker(spark: SparkSession, path: str, payload: str) -> None:
    """Write `{path}/_INDEX_COMPLETE` — call strictly AFTER every
    artifact under ``path`` has committed, so a crash mid-build reads
    as 'not built' rather than a half-index (ADVICE r6 #1 pattern,
    shared by the bm25 and pq persisted indexes)."""
    fs, marker = hadoop_fs_path(spark, f"{path}/_INDEX_COMPLETE")
    out = fs.create(marker, True)
    out.writeBytes(payload)
    out.close()


def completion_marker_exists(spark: SparkSession, path: str) -> bool:
    fs, marker = hadoop_fs_path(spark, f"{path}/_INDEX_COMPLETE")
    return fs.exists(marker)

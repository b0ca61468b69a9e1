package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table read/write/commit seam (SURVEY.md §7.4).
  *
  * The north rule targets Iceberg tables; this sandbox ships no Iceberg
  * runtime jar, so the seam has one production-shaped implementation,
  * [[ParquetTableIO]], whose commit semantics mirror what the Iceberg
  * implementation would guarantee: a table is visible iff its write
  * COMMITTED (Spark's atomic `_SUCCESS` marker ≈ an Iceberg snapshot
  * commit), and `append` is the audit-ledger primitive (≈ Iceberg
  * `writeTo(t).append()`). Everything above this interface — ingest, stage
  * checkpoints, resume anti-joins, the audit ledger — is storage-agnostic;
  * an `IcebergTableIO` (`spark.table(name)` / `df.writeTo(name).append()` /
  * snapshot-exists) drops in without touching the pipeline.
  */
trait TableIO {
  /** Read a committed table. Callers must check [[isCommitted]] first when
    * absence is an expected state (resume probes).
    */
  def read(table: String): DataFrame

  /** Read a committed table whose schema the caller already knows (it just
    * wrote it): no schema inference, so no job.
    */
  def read(table: String, schema: StructType): DataFrame

  /** Overwrite-commit: replaces the table; visible only once committed. */
  def overwrite(df: DataFrame, table: String): Unit

  /** Append-commit: adds rows (the audit/event-ledger primitive). */
  def append(df: DataFrame, table: String): Unit

  /** True iff the table has a committed snapshot (never true for a write
    * that died mid-flight).
    */
  def isCommitted(table: String): Boolean
}

/** Parquet-directory implementation: table name → `<root>/<name>`; commit
  * marker is the `_SUCCESS` file Spark's file-output committer renames into
  * place atomically after all task outputs land — a torn job leaves no
  * marker, so resume logic re-runs it (north_rule "resumes from its last
  * committed checkpoint").
  */
final class ParquetTableIO(spark: SparkSession, root: String) extends TableIO {
  private def path(table: String) = s"$root/$table"

  override def read(table: String): DataFrame = spark.read.parquet(path(table))

  override def read(table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(table))

  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(table))

  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path(table))

  override def isCommitted(table: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path(table), "_SUCCESS"))
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.{ParquetTableIO, TableIO}

/** Audit table + stage checkpointing (SURVEY.md §2.1 S6, §2.9).
  *
  * Replaces the reference's TCP progress/event side-channel
  * (/root/reference/EventClient.h:10-33, InfoStruct.h:16-236) with rows in
  * an audit table behind the [[graft.sources.TableIO]] seam (Iceberg-shaped;
  * the sandbox implementation is parquet dirs with `_SUCCESS` commit
  * markers — SURVEY.md §7.4).
  *
  * Resume semantics (north_rule "resumes from its last committed
  * checkpoint"): each stage writes its output table through the seam; a
  * completed write leaves a commit marker. On rerun, a stage whose output is
  * committed is read back instead of recomputed — the analogue of the
  * reference's file-mask skip of already-fingerprinted headers
  * (/root/reference/Main.cpp:199-204,322-327).
  */
final class Audit(spark: SparkSession, val io: TableIO, runId: String) {
  import spark.implicits._

  def this(spark: SparkSession, workDir: String, runId: String) =
    this(spark, new ParquetTableIO(spark, workDir), runId)

  private val auditTable = "audit"

  def log(stage: String, rowsOut: Long, wallMs: Long, committed: Boolean,
          detail: String = ""): Unit =
    io.append(
      Seq(graft.model.AuditRow(runId, stage, rowsOut, wallMs, committed, detail))
        .toDF().coalesce(1),
      auditTable)

  def auditRows(): DataFrame = io.read(auditTable)

  /** Run-or-resume one stage. The compute closure is only invoked when the
    * stage has no committed output yet. A computed stage costs the write
    * alone: its row count is observed on the written frame, and the table
    * is read back with the written schema, so without inference.
    */
  def stage(name: String)(compute: => DataFrame): DataFrame = {
    if (io.isCommitted(name)) {
      log(name, -1L, 0L, committed = true, detail = "resumed: skipped committed stage")
      io.read(name)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val rows = Observation()
      io.overwrite(df.observe(rows, count(lit(1)).as("n")), name)
      val n = rows.get("n").asInstanceOf[Long]
      log(name, n, (System.nanoTime() - t0) / 1000000L, committed = true)
      io.read(name, df.schema)
    }
  }
}

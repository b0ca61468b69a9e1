package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** An eagerly materialized frame and the blocks it owns.
  *
  * `df`'s plan is a scan of its own checkpoint. `rddIds` are read from that
  * plan's `LogicalRDD` leaves, so they name exactly the RDDs this checkpoint
  * persisted — never a block another thread persisted meanwhile, which a
  * before/after diff of `getPersistentRDDs` would pick up. `release()`
  * unpersists them and is idempotent. A reliable checkpoint writes files,
  * not blocks: its ids are then not persisted and `release()` is a no-op
  * (file cleanup is the context cleaner's job).
  */
final class Materialized private[pipeline] (val df: DataFrame) {
  private val rdds = df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }

  val rddIds: Set[Int] = rdds.map(_.id).toSet

  def release(): Unit = {
    val sc = df.sparkSession.sparkContext
    if (!sc.isStopped) {
      val persisted = sc.getPersistentRDDs
      rddIds.foreach(id => persisted.get(id).foreach(_.unpersist(false)))
    }
  }

  /** Computes every partition of the checkpoint; on failure the partly
    * persisted blocks are released before the error propagates.
    */
  private[pipeline] def force(): Materialized = {
    try rdds.foreach(_.count()) catch { case e: Throwable => release(); throw e }
    this
  }
}

/** The one way a frame is materialized in `pipeline/` and `queries/`.
  *
  * Materializing replaces the frame's logical plan with a scan of the
  * stored result. Frames that are re-read several times (an unaudited
  * pipeline stage, the query suite's shared fingerprint frame and simhash
  * pass, each CC round) would otherwise nest the whole upstream DAG into
  * every reader, and Catalyst analysis time explodes. With `sparkContext.setCheckpointDir` configured the
  * result goes to the RELIABLE checkpoint store and survives executor
  * loss; bare local mode falls back to `localCheckpoint` (executor-resident
  * blocks — fine in a single JVM, not the cluster default).
  *
  * Ownership rule: whoever eagerly materializes a consumer releases the
  * producers' handles right after, in `finally`.
  */
object Materialize {

  def apply(df: DataFrame): Materialized =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      new Materialized(df.checkpoint(eager = true))
    else
      // the same single job as an eager localCheckpoint, but run on a
      // handle, so a failed job cannot leave unowned blocks behind
      new Materialized(df.localCheckpoint(eager = false)).force()

  /** An empty frame with the given columns, backed by an empty RDD: it
    * holds no blocks and needs no release.
    */
  def empty(spark: SparkSession, cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(cols.map { case (name, t) => StructField(name, t) }))
}

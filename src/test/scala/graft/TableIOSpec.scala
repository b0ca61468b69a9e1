package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetTableIO

/** Commit-marker semantics of the TableIO seam (SURVEY.md §7.4): a table is
  * visible iff its write committed; torn output directories (no marker) are
  * treated as absent by resume logic.
  */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("overwrite commits atomically; isCommitted gates visibility") {
    val root = java.nio.file.Files.createTempDirectory("graft-tio").toString
    val io = new ParquetTableIO(spark, root)
    assert(!io.isCommitted("t1"))
    io.overwrite(Seq(("a", 1), ("b", 2)).toDF("k", "v"), "t1")
    assert(io.isCommitted("t1"))
    assert(io.read("t1").count() === 2)

    // torn write simulation: output dir exists but no _SUCCESS marker
    val torn = java.nio.file.Paths.get(root, "t2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-00000.parquet"), "garbage")
    assert(!io.isCommitted("t2"), "uncommitted dir must read as absent")
  }

  test("a read with the written schema equals the inferred read") {
    val root = java.nio.file.Files.createTempDirectory("graft-tio4").toString
    val io = new ParquetTableIO(spark, root)
    // non-nullable top-level and nested fields: the file source reads every
    // field back as nullable, whichever schema it is given
    val df = Seq(("a", 1, Seq(1L, 2L)), ("b", 2, Seq.empty[Long])).toDF("k", "v", "xs")
      .withColumn("s", org.apache.spark.sql.functions.struct($"v", $"xs"))
    io.overwrite(df, "t")
    val known = io.read("t", df.schema)
    val inferred = io.read("t")
    assert(known.schema === inferred.schema)
    assert(known.orderBy("k").collect() === inferred.orderBy("k").collect())
  }

  test("append accumulates rows (the audit-ledger primitive)") {
    val root = java.nio.file.Files.createTempDirectory("graft-tio2").toString
    val io = new ParquetTableIO(spark, root)
    io.append(Seq(("x", 1)).toDF("k", "v"), "ledger")
    io.append(Seq(("y", 2)).toDF("k", "v"), "ledger")
    assert(io.read("ledger").count() === 2)
  }

  test("seam-routed ingest applies the validity filter") {
    val root = java.nio.file.Files.createTempDirectory("graft-tio3").toString
    val io = new ParquetTableIO(spark, root)
    io.overwrite(Seq(
      ("a", "cap", 1L), (null, "cap", 2L), ("c", null, 3L)
    ).toDF("image_id", "caption", "phash"), "images")
    val got = graft.pipeline.DedupPipeline.ingest(io, "images")
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(got === Set("a"))
  }
}

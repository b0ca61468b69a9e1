package graft

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.fixtures.SyntheticImages
import graft.pipeline.Fingerprints
import graft.streaming.StreamingDedup

/** Streaming stateful exact-dedup (flatMapGroupsWithState): arriving rows
  * are deduped against ALL previously-seen fingerprints, and the per-key
  * state survives a query restart through the checkpoint (the streaming
  * analogue of the batch resume contract).
  */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = GraftConfig()

  private def imageRows(rows: Seq[(String, String)]) =
    rows.toDF("image_id", "caption")
      .selectExpr("image_id", "CAST(null AS BINARY) AS bytes", "0 AS w", "0 AS h",
        "'png' AS fmt", "caption", "CAST(0 AS BIGINT) AS phash")

  test("cross-batch duplicate suppression with state recovery across restarts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val capA = "a bright red vintage car parked beside the harbor wall"
    val capB = "two small dogs chasing a yellow ball across wet grass"
    val capC = "an old stone bridge crossing a quiet forest stream"

    def runPass(): Unit = {
      val rows = StreamingDedup.contentRows(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src))
      val q = StreamingDedup.dedupAgainstState(rows).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", StreamingDedup.guardCheckpoint(spark, ckpt))
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }

    // batch 1: capA twice, capB once
    imageRows(Seq("a1" -> capA, "a2" -> capA, "b1" -> capB))
      .write.mode("append").parquet(src)
    runPass()
    val pass1 = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("image_id") ->
        ((r.getAs[Boolean]("first_seen"), r.getAs[Long]("n_seen_before")))).toMap
    assert(pass1("a1") === ((true, 0L)))
    assert(pass1("a2") === ((false, 1L))) // within-batch duplicate
    assert(pass1("b1") === ((true, 0L)))

    // batch 2 (NEW query, same checkpoint): capA again + a fresh capC —
    // the a3 duplicate is only caught if the state store recovered
    imageRows(Seq("a3" -> capA, "c1" -> capC))
      .write.mode("append").parquet(src)
    runPass()
    val pass2 = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("image_id") ->
        ((r.getAs[Boolean]("first_seen"), r.getAs[Long]("n_seen_before")))).toMap
    assert(pass2.size === 5, "exactly the five rows, no reprocessing of batch 1")
    assert(pass2("a3") === ((false, 2L)), "cross-restart duplicate must be flagged")
    assert(pass2("c1") === ((true, 0L)))
  }

  test("checkpoint guard: fresh dir stamped, pre-upgrade and mismatched dirs refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup-guard")
    // fresh dir: stamped with the current version, idempotent re-entry OK
    val fresh = root.resolve("fresh").toString
    assert(StreamingDedup.guardCheckpoint(spark, fresh) === fresh)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(fresh, "_graft_dedup_state_version")))
    StreamingDedup.guardCheckpoint(spark, fresh) // same version: no error
    // pre-upgrade checkpoint: streaming metadata present, no marker → refuse
    val old = root.resolve("old")
    java.nio.file.Files.createDirectories(old.resolve("offsets"))
    val e1 = intercept[IllegalStateException] {
      StreamingDedup.guardCheckpoint(spark, old.toString)
    }
    assert(e1.getMessage.contains("fresh"), "error must tell the operator what to do")
    // mismatched version marker → refuse
    val other = root.resolve("other")
    java.nio.file.Files.createDirectories(other)
    java.nio.file.Files.writeString(
      other.resolve("_graft_dedup_state_version"), "simhash-v1\n")
    val e2 = intercept[IllegalStateException] {
      StreamingDedup.guardCheckpoint(spark, other.toString)
    }
    assert(e2.getMessage.contains("simhash-v1"))
  }

  test("batch-mode parity: same operator runs on a static Dataset") {
    val rows = StreamingDedup.contentRows(
      imageRows(Seq("x1" -> "a bright red vintage car parked beside the harbor wall",
        "x2" -> "a bright red vintage car parked beside the harbor wall",
        "y1" -> "two small dogs chasing a yellow ball across wet grass")))
    val got = StreamingDedup.dedupAgainstState(rows).collect()
      .map(e => e.image_id -> ((e.first_seen, e.n_seen_before))).toMap
    assert(got === Map("x1" -> ((true, 0L)), "x2" -> ((false, 1L)), "y1" -> ((true, 0L))))
  }

  test("incremental emission (deterministicOrder=false): mega-group, counts exact") {
    // round-4 VERDICT #5: a 100k-identity group in one micro-batch must not
    // require buffering the group — the incremental path emits with the
    // running counter in arrival order, O(1) group state, same semantics:
    // exactly ONE first_seen=true per identity and an exact duplicate count.
    val mega = (0 until 100000).map(i => StreamingDedup.ContentRow(f"m$i%06d", 7L, 8L, 30))
    val other = Seq(StreamingDedup.ContentRow("solo", 1L, 2L, 30))
    val rows = (mega ++ other).toDS()
    val got = StreamingDedup.dedupAgainstState(rows, deterministicOrder = false).collect()
    val megaEmits = got.filter(_.content_hi == 7L)
    assert(megaEmits.length === 100000)
    assert(megaEmits.count(_.first_seen) === 1, "exactly one first_seen per identity")
    assert(megaEmits.map(_.n_seen_before).sorted === (0L until 100000L).toArray,
      "running duplicate counter is exact")
    assert(got.filter(_.image_id == "solo").head.first_seen)
  }

  test("128-bit state key separates a forced 64-bit collision") {
    // Two DISTINCT contents whose hi word and span collide exactly — the
    // round-3 (simhash, span) state key would fuse them, silently flagging
    // the second as a duplicate (dropped training data). The full
    // (content_hi, content_lo, span) key must keep them apart.
    val rows = Seq(
      StreamingDedup.ContentRow("p1", 0x12345678L, 111L, 40),
      StreamingDedup.ContentRow("p2", 0x12345678L, 222L, 40)).toDS()
    val got = StreamingDedup.dedupAgainstState(rows).collect()
      .map(e => e.image_id -> ((e.first_seen, e.n_seen_before))).toMap
    assert(got === Map("p1" -> ((true, 0L)), "p2" -> ((true, 0L))),
      "distinct lo words must be distinct state keys")
  }

  test("contentRows identity: phash participates; raw caption, no normalization") {
    val a = StreamingDedup.contentRows(imageRows(Seq("i1" -> "same caption text here today"))
      .withColumn("phash", org.apache.spark.sql.functions.lit(1L))).head()
    val b = StreamingDedup.contentRows(imageRows(Seq("i2" -> "same caption text here today"))
      .withColumn("phash", org.apache.spark.sql.functions.lit(2L))).head()
    assert((a.content_hi, a.content_lo) !== ((b.content_hi, b.content_lo)),
      "same caption + different phash is different content")
    val c = StreamingDedup.contentRows(imageRows(Seq("i3" -> "Same  Caption text here today"))).head()
    val d = StreamingDedup.contentRows(imageRows(Seq("i4" -> "same caption text here today"))).head()
    assert((c.content_hi, c.content_lo) !== ((d.content_hi, d.content_lo)),
      "exact dedup is byte-equality of the raw caption (oracle PARTITION BY text)")
  }
}

/** The fingerprint stage is a narrow, stateless projection, so it runs
  * unchanged on a `readStream` of the image table's directory.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming fingerprint ingest matches the batch stage exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val (img, _) = SyntheticImages.materialize(spark, tmp, nFamilies = 40)
    val cfg = GraftConfig()

    val stream = Fingerprints.compute(
      spark.readStream.schema(img.schema).parquet(s"$tmp/images"), cfg).toDF()
    val q = stream.writeStream.format("memory").queryName("fps_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("fps_stream")
      .select("image_id", "simhash", "span").orderBy("image_id").collect()
    val batch = Fingerprints.compute(img, cfg).toDF()
      .select("image_id", "simhash", "span").orderBy("image_id").collect()
    assert(streamed.toSeq === batch.toSeq)
    spark.sql("DROP TABLE IF EXISTS fps_stream")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftConfig
import graft.fixtures.SyntheticImages
import graft.multimodal.ImageOps
import graft.streaming.StreamingIngest

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val tmp = java.nio.file.Files.createTempDirectory("graft-mm").toString
  lazy val corpus = SyntheticImages.materialize(spark, tmp, nFamilies = 50)

  test("decodeMeta decodes every synthetic image and reproduces stored phash") {
    val meta = ImageOps.decodeMeta(corpus._1).collect()
    assert(meta.nonEmpty && meta.forall(_.decode_ok))
    // stored phash was computed from the same decoded bytes at gen time
    val stored = corpus._1.select("image_id", "phash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    meta.foreach(m => assert(m.ahash === stored(m.image_id), s"phash mismatch ${m.image_id}"))
  }

  test("decodeMeta flags undecodable payloads instead of failing the stage") {
    import spark.implicits._
    val bad = Seq(("junk1", Array[Byte](1, 2, 3)), ("junk2", Array.empty[Byte]))
      .toDF("image_id", "bytes")
    val meta = ImageOps.decodeMeta(bad).collect()
    assert(meta.length === 2 && meta.forall(!_.decode_ok))
  }

  test("resize produces in-bounds decodable thumbnails preserving aspect ratio") {
    val sample = corpus._1.limit(10)
    val resized = ImageOps.resize(sample, maxSide = 16).collect()
    assert(resized.nonEmpty && resized.forall(_.ok))
    val origDims = sample.select("image_id", "w", "h").collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    resized.foreach { r =>
      assert(math.max(r.w, r.h) <= 16)
      val (ow, oh) = origDims(r.image_id)
      // aspect preserved within integer rounding
      assert(math.abs(r.w.toDouble / r.h - ow.toDouble / oh) < 0.35, r.image_id)
      // output is itself decodable — the stage composes with decodeMeta
      val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      assert(back != null && back.getWidth === r.w && back.getHeight === r.h)
    }
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming fingerprint ingest matches the batch stage exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val (img, _) = SyntheticImages.materialize(spark, tmp, nFamilies = 40)
    val cfg = GraftConfig()

    val stream = StreamingIngest.fingerprintStream(spark, s"$tmp/images", cfg)
    val q = stream.writeStream.format("memory").queryName("fps_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("fps_stream")
      .select("image_id", "simhash", "span").orderBy("image_id").collect()
    val batch = graft.pipeline.Fingerprints.compute(img, cfg).toDF()
      .select("image_id", "simhash", "span").orderBy("image_id").collect()
    assert(streamed.toSeq === batch.toSeq)
    spark.sql("DROP TABLE IF EXISTS fps_stream")
  }

  test("watermarked windowed event aggregation over the events table") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // batch execution of the same streaming aggregation shape
    val agg = StreamingIngest.eventWindowAgg(events).collect()
    assert(agg.nonEmpty)
    val total = agg.map(_.getLong(2)).sum
    assert(total === events.count())
  }
}

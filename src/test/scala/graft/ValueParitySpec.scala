package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftConfig, MinHashCore, Shingling, SimHashCore}
import graft.pipeline.Fingerprints
import graft.queries.Queries

/** Value-level oracles for the queries DuckDB cannot express (murmur/LSH
  * math): each Spark output at sf0.001 is compared EXACTLY against a
  * sequential brute-force recomputation from the pure cores — the all-pairs
  * semantics of the reference's loop (/root/reference/SimHasher.cpp:149-192)
  * that the distributed bucket joins must reproduce. Round-1 gap closed:
  * these queries previously had only rows>0 checks.
  */
class ValueParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val cfg: GraftConfig = Queries.docCfg

  lazy val docs: Array[(Long, String, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  lazy val perms: Array[Long] = MinHashCore.permutations(cfg.minhashK, MinHashCore.Seed)

  case class Fp(id: Long, sim: Long, span: Int, grams: Array[Long],
                sig: Array[Long], group: String)

  // same pure per-row function the Spark stage maps — group = "" (the
  // group only narrows the collapse; the diffgroup test recomputes with
  // group = source)
  def fpOf(id: Long, text: String, group: String): Fp = {
    val row = Fingerprints.fingerprintOf(id.toString, text, 0L, group, cfg)
    Fp(id, row.simhash, row.span, row.grams, MinHashCore.signature(row.grams, perms), group)
  }
  lazy val fps: Array[Fp] =
    docs.map { case (id, t, _) => fpOf(id, t, "") }.filter(_.span > cfg.minSpan)

  private def unordered(a: Long, b: Long): (Long, Long) = (math.min(a, b), math.max(a, b))

  private def collectPairs(name: String): Set[(Long, Long)] =
    Queries.queries(name)(spark, dir).collect()
      .map(r => unordered(r.getLong(0), r.getLong(1))).toSet

  // ---- brute-force pair sets (reference all-pairs semantics) ----

  lazy val bruteSimPairs: Set[(Long, Long)] = (for {
    i <- fps.indices.iterator
    j <- (i + 1) until fps.length
    if SimHashCore.spanCompatible(fps(i).span, fps(j).span)
    if SimHashCore.hamming(fps(i).sim, fps(j).sim) <= cfg.sigmaHigh
  } yield unordered(fps(i).id, fps(j).id)).toSet

  private def shareBand(a: Array[Long], b: Array[Long]): Boolean =
    (0 until cfg.nBands).exists { band =>
      (0 until cfg.rowsPerBand).forall { r =>
        a(band * cfg.rowsPerBand + r) == b(band * cfg.rowsPerBand + r)
      }
    }

  lazy val bruteBandPairs: Set[(Long, Long)] = (for {
    i <- fps.indices.iterator
    j <- (i + 1) until fps.length
    if shareBand(fps(i).sig, fps(j).sig)
    inter = fps(i).grams.toSet.intersect(fps(j).grams.toSet).size
    uni = fps(i).grams.length + fps(j).grams.length - inter
    if uni > 0 && inter >= uni * cfg.jaccardTau
  } yield unordered(fps(i).id, fps(j).id)).toSet

  lazy val bruteSubstringPairs: Set[(Long, Long)] = {
    val norm = docs.map { case (id, t, _) => (id, Shingling.normalize(t)) }
    (for {
      (ia, ta) <- norm.iterator
      (ib, tb) <- norm
      if ia != ib && ta.length > cfg.minSpan && ta.length < tb.length
      if tb.startsWith(ta + " ") || tb.contains(" " + ta + " ") || tb.endsWith(" " + ta)
    } yield unordered(ia, ib)).toSet
  }

  // ---- specs ----

  test("dedup_simhash matches the pure per-row fingerprint fold") {
    val got = Queries.queries("dedup_simhash")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = fps.map(f => (f.id, f.sim, f.span)).toSet
    assert(got === want)
  }

  test("dedup_simhash_pairs equals brute-force all-pairs Hamming<=sigma (with span prefilter)") {
    assert(collectPairs("dedup_simhash_pairs") === bruteSimPairs)
    assert(bruteSimPairs.nonEmpty, "fixture should contain simhash dup pairs")
  }

  test("dedup_simhash_pairs_diffgroup equals brute-force cross-group pairs") {
    val byGroup = docs.map { case (id, t, src) => fpOf(id, t, src) }
      .filter(_.span > cfg.minSpan)
    val want = (for {
      i <- byGroup.indices.iterator
      j <- (i + 1) until byGroup.length
      if byGroup(i).group != byGroup(j).group
      if SimHashCore.spanCompatible(byGroup(i).span, byGroup(j).span)
      if SimHashCore.hamming(byGroup(i).sim, byGroup(j).sim) <= cfg.sigmaHigh
    } yield unordered(byGroup(i).id, byGroup(j).id)).toSet
    assert(collectPairs("dedup_simhash_pairs_diffgroup") === want)
  }

  test("dedup_minhash_lsh equals brute-force band-collision + exact-Jaccard pairs") {
    assert(collectPairs("dedup_minhash_lsh") === bruteBandPairs)
    assert(bruteBandPairs.nonEmpty, "fixture should contain LSH dup pairs")
  }

  test("dedup_clusters equals sequential connected components over all brute edges") {
    // union-find over the union of the three generators' brute pair sets
    val ids = fps.map(_.id)
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    (bruteSimPairs ++ bruteBandPairs ++ bruteSubstringPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) parent(ra) = rb
    }
    // cluster label = lexicographic min member id STRING (the pipeline's
    // canonical label), singleton = self
    val label = ids.indices.groupBy(find).flatMap { case (_, members) =>
      val lbl = members.map(m => ids(m).toString).min
      members.map(m => ids(m) -> lbl)
    }
    val got = Queries.queries("dedup_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === label)
  }

  test("grouped_simhash matches a sequential per-group shingle fold") {
    val want = docs.groupBy(_._3).map { case (src, rows) =>
      val sums = new Array[Int](64)
      rows.foreach { case (_, text, _) =>
        Shingling.shingles(Shingling.normalize(text), 0L, cfg)
          .foreach(s => SimHashCore.addShingle64(sums, s.word, s.weight))
      }
      src -> SimHashCore.finish64(sums)
    }
    val got = Queries.queries("grouped_simhash")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("dedup_clusters_tiered equals brute-force CC per Hamming tier") {
    val got = Queries.queries("dedup_clusters_tiered")(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getString(2)).toMap
    Seq("high" -> Queries.sigmaTierHigh, "normal" -> Queries.sigmaTierNormal)
      .foreach { case (tier, sigma) =>
        val ids = fps.map(_.id)
        val idx = ids.zipWithIndex.toMap
        val parent = Array.tabulate(ids.length)(identity)
        def find(x: Int): Int = {
          var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r
        }
        for {
          i <- fps.indices
          j <- (i + 1) until fps.length
          if SimHashCore.spanCompatible(fps(i).span, fps(j).span)
          if SimHashCore.hamming(fps(i).sim, fps(j).sim) <= sigma
        } {
          val (ra, rb) = (find(idx(fps(i).id)), find(idx(fps(j).id)))
          if (ra != rb) parent(ra) = rb
        }
        val want = ids.indices.groupBy(find).flatMap { case (_, members) =>
          val lbl = members.map(m => ids(m).toString).min
          members.map(m => (tier, ids(m)) -> lbl)
        }
        val gotTier = got.filter(_._1._1 == tier)
        assert(gotTier === want, s"tier $tier mismatch")
      }
    // tiers are nested: normal (wider sigma) components refine-or-equal high
    assert(got.keys.count(_._1 == "high") === got.keys.count(_._1 == "normal"))
  }

  test("sim_ann_lsh recall >= 0.9 vs brute-force cosine top-k") {
    def pairsOf(name: String): Set[(Long, Long)] =
      Queries.queries(name)(spark, dir).select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairsOf("sim_cosine_topk")
    val ann = pairsOf("sim_ann_lsh")
    assert(brute.nonEmpty)
    val recall = brute.intersect(ann).size.toDouble / brute.size
    info(f"ANN recall vs brute force: $recall%.3f (${ann.size} ann pairs, ${brute.size} brute)")
    assert(recall >= 0.9, f"ANN recall $recall%.3f < 0.9")
  }
}

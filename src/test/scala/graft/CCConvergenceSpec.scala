package graft

import org.apache.spark.sql.{DataFrame, Encoder}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Clustering

/** Convergence semantics of the large-star / small-star rounds
  * (Clustering.scala): a round's observed count declares convergence iff
  * its input is already a set of stars centred on component minima (see the
  * proof in the scaladoc). These tests pin the endpoint label = MIN member
  * id on shapes that stress the count:
  *  - a deep path graph (diameter >> one round's reach, so several rounds
  *    must run and the count must NOT reach zero early);
  *  - a star + disjoint pairs (already stars: one round confirms);
  *  - empty edges (one round over nothing);
  *  - random graphs, against a driver-side union-find.
  */
class CCConvergenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ids(n: Int): Seq[String] = (0 until n).map(i => f"v$i%04d")

  private def runCC[T: Encoder](vertexIds: Seq[T], edgePairs: Seq[(T, T)], maxIter: Int = 30)(
      implicit pair: Encoder[(T, T)]) = {
    val verts = spark.createDataset(vertexIds).toDF("image_id")
    val edges = spark.createDataset(edgePairs).toDF("a", "b")
    Clustering.connectedComponents(verts, edges, maxIter)
  }

  private def labelMap[T](labels: DataFrame): Map[T, T] =
    labels.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap

  /** Driver-side union-find: every vertex → its component's least id. */
  private def unionFind[T](vertices: Seq[T], edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap[T, T]()
    def find(x: T): T = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    vertices.map(v => v -> find(v)).toMap
  }

  private def globalViews() = spark.catalog.listTables("global_temp").collect().map(_.name).toSet

  test("deep 300-vertex path: several rounds, labels = global min") {
    import spark.implicits._
    val vs = ids(300)
    val path = vs.sliding(2).map(s => (s(0), s(1))).toSeq
    val viewsBefore = globalViews()
    val cc = runCC(vs, path)
    assert(globalViews() === viewsBefore, "the bridge view must be dropped")
    assert(cc.converged, "path graph must converge before maxIter")
    val labels = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(labels.length === 300)
    assert(labels.forall(_._2 == "v0000"),
      s"non-min labels: ${labels.filter(_._2 != "v0000").take(5).toSeq}")
    // a path needs about log2(n) rounds to collapse, plus the confirming one
    assert(cc.iterations > 1, "a 300-path cannot converge in a single round")
    assert(cc.iterations <= 2 * 9, s"${cc.iterations} rounds for a 300-path")
    cc.release()
  }

  test("star + disjoint pairs: already stars, one round confirms") {
    import spark.implicits._
    val vs = ids(40)
    val star = (1 until 20).map(i => (vs(0), vs(i)))
    val pairs = (20 until 40 by 2).map(i => (vs(i), vs(i + 1)))
    val cc = runCC(vs, star ++ pairs)
    assert(cc.converged)
    assert(cc.iterations === 1,
      s"star/pair graph should converge in one round, took ${cc.iterations} rounds")
    val byLabel = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLabel(vs(0)) === (0 until 20).map(vs).toSet)
    (20 until 40 by 2).foreach { i =>
      assert(byLabel(vs(i)) === Set(vs(i), vs(i + 1)))
    }
  }

  test("no edges: one round over nothing, every vertex labels itself") {
    import spark.implicits._
    val vs = ids(10)
    val cc = runCC(vs, Seq.empty[(String, String)])
    assert(cc.converged)
    assert(cc.iterations === 1)
    val labels = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(labels.forall { case (v, l) => v == l })
  }

  test("two components sharing no vertices keep distinct min labels") {
    import spark.implicits._
    val vs = ids(8)
    val cc = runCC(vs, Seq((vs(0), vs(3)), (vs(3), vs(1)), (vs(5), vs(7)), (vs(6), vs(7))))
    assert(cc.converged)
    val m = cc.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq(0, 1, 3).forall(i => m(vs(i)) == vs(0)))
    assert(Seq(5, 6, 7).forall(i => m(vs(i)) == vs(5)))
    assert(m(vs(2)) == vs(2) && m(vs(4)) == vs(4))
  }

  test("leaves sharing centres: no vertex mid-chain, yet not converged") {
    import spark.implicits._
    // v0004 and v0005 only have smaller neighbours, v0001..v0003 only larger
    // ones, but v0004 and v0005 have two each: the input is not a set of
    // stars, and one round only links v0005 to v0002 and v0003 to v0001 and
    // v0002
    val vs = ids(6)
    val cc = runCC(vs, Seq((vs(4), vs(1)), (vs(4), vs(3)), (vs(5), vs(3)), (vs(5), vs(2))))
    assert(cc.converged)
    val m = cc.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((1 to 5).forall(i => m(vs(i)) == vs(1)), m)
    assert(m(vs(0)) === vs(0))
    assert(cc.iterations === 4)
  }

  test("seeded random graph, 20k vertices and 14k edges: labels = union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(20)
    val vs = (0 until 20000).map(i => f"r$i%05d")
    val edges = Seq.fill(14000)((vs(rnd.nextInt(vs.size)), vs(rnd.nextInt(vs.size))))
    val cc = runCC(vs, edges)
    assert(cc.converged)
    val got = labelMap[String](cc.labels)
    assert(got.size === vs.size)
    val want = unionFind(vs, edges)
    val wrong = vs.filter(v => got(v) != want(v))
    assert(wrong.isEmpty, s"${wrong.size} labels differ, e.g. ${wrong.take(3).map(v => (v, got(v), want(v)))}")
    cc.release()
  }

  /** Random small graphs with self-loops, duplicate and reversed pairs;
    * sparse ones often hold a vertex whose only neighbours are two smaller
    * ones, which the convergence count must not take for a star's leaf.
    */
  private def graphs[T](id: Int => T): Gen[(Seq[T], Seq[(T, T)])] = for {
    n <- Gen.chooseNum(1, 12)
    m <- Gen.oneOf(Gen.chooseNum(0, 4), Gen.chooseNum(0, 30))
    raw <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
    dups <- Gen.someOf(raw)
  } yield {
    val pairs = raw ++ dups.map(_.swap)
    ((0 until n).map(id), pairs.map { case (a, b) => (id(a), id(b)) })
  }

  private def agreesWithUnionFind[T: Encoder: Ordering](id: Int => T)(
      implicit pair: Encoder[(T, T)]): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(graphs(id)) { case (vs, edges) =>
        val cc = runCC(vs, edges)
        val got = labelMap[T](cc.labels)
        cc.release()
        (cc.converged && got == unionFind(vs, edges)) :| s"vertices $vs edges $edges labels $got"
      })
    assert(res.passed, res.status.toString)
  }

  test("property: String ids, labels = union-find") {
    import spark.implicits._
    // not zero-padded: the string order differs from the index order
    agreesWithUnionFind[String](i => s"s${(i * 7) % 24}-$i")
  }

  test("property: Long ids keep their type, labels = union-find") {
    import spark.implicits._
    agreesWithUnionFind[Long](i => 1000L - 37L * i)
  }

  test("maxIter = 1 on two 300-paths: not converged, labels partial but sound") {
    import spark.implicits._
    val as = (0 until 300).map(i => f"a$i%04d")
    val bs = (0 until 300).map(i => f"b$i%04d")
    val path = (as.sliding(2) ++ bs.sliding(2)).map(s => (s(0), s(1))).toSeq
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cc = runCC(as ++ bs, path, maxIter = 1)
    assert(!cc.converged)
    assert(cc.iterations === 1)
    val labels = cc.labels.collect().map(r => r.getString(0) -> r.getString(1))
    assert(labels.length === 600 && labels.map(_._1).distinct.length === 600,
      "every vertex is labelled exactly once")
    assert(labels.forall { case (v, l) => l <= v }, "a label never exceeds its vertex id")
    assert(labels.forall { case (v, l) => v.head == l.head }, "two components merged")
    // tieredClusters stacks its tiers through stackTiers, which must refuse
    // an unconverged tier (and still release its blocks)
    val e = intercept[IllegalStateException](Clustering.stackTiers(Seq("high" -> cc)))
    assert(e.getMessage.contains("did NOT converge"))
    assert(spark.sparkContext.getPersistentRDDs.keySet === blocksBefore, "blocks left behind")
  }
}

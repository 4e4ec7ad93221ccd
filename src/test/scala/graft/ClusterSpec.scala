package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.linalg.Sparse
import graft.cluster.{KMeans2D, KMeansSparse, KMeansParallel}

class SparseKernelSpec extends AnyFunSuite {
  test("cosine: identical vectors -> 1, disjoint -> 0, 3-decimal round") {
    val a = Map("x" -> 1.0, "y" -> 2.0)
    assert(Sparse.cosine(a, a) == 1.0)
    assert(Sparse.cosine(a, Map("z" -> 5.0)) == 0.0)
    assert(Sparse.cosine(Map.empty, a) == 0.0)
    // round3: 1/sqrt(2) = 0.7071... -> 0.707
    val c = Sparse.cosine(Map("x" -> 1.0), Map("x" -> 1.0, "y" -> 1.0))
    assert(c == 0.707)
  }

  test("cosine symmetric and in [0,1] for non-negative vectors") {
    val a = Map("a" -> 0.3, "b" -> 1.7)
    val b = Map("b" -> 2.0, "c" -> 0.1)
    assert(Sparse.cosine(a, b) == Sparse.cosine(b, a))
    assert(Sparse.cosine(a, b) >= 0.0 && Sparse.cosine(a, b) <= 1.0)
  }

  test("sqDist over key union; symmetry") {
    val a = Map("x" -> 3.0)
    val b = Map("y" -> 4.0)
    assert(Sparse.sqDist(a, b) == 25.0)
    assert(Sparse.sqDist(a, a) == 0.0)
    assert(Sparse.sqDist(a, b) == Sparse.sqDist(b, a))
  }

  test("nearestByCosine: lowest index wins ties") {
    val v = Map("x" -> 1.0)
    val cs = IndexedSeq(Map("y" -> 1.0), Map("z" -> 1.0)) // both sim 0
    assert(Sparse.nearestByCosine(v, cs) == 0)
  }
}

class KMeans2DSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("recovers three well-separated clusters") {
    import spark.implicits._
    val pts = (Seq.tabulate(50)(i => (10.0 + i % 5, 10.0 + i % 3)) ++
      Seq.tabulate(50)(i => (80.0 + i % 5, 15.0 + i % 3)) ++
      Seq.tabulate(50)(i => (50.0 + i % 5, 90.0 + i % 3))).toDF("x", "y")
    val init = IndexedSeq((0.0, 0.0), (100.0, 0.0), (50.0, 100.0))
    val (cs, iters) = KMeans2D.fit(pts, "x", "y", init, maxIter = 20)
    assert(iters <= 20)
    assert(math.abs(cs(0)._1 - 12) < 1 && math.abs(cs(0)._2 - 11) < 1)
    assert(math.abs(cs(1)._1 - 82) < 1)
    assert(math.abs(cs(2)._2 - 91) < 1)
  }

  test("assignment is argmin with lowest-index tie-break") {
    import spark.implicits._
    val pts = Seq((5.0, 0.0)).toDF("x", "y") // equidistant from 0 and 10
    val cl = KMeans2D.assign(pts, "x", "y", IndexedSeq((0.0, 0.0), (10.0, 0.0)))
      .select("cluster").as[Int].collect()
    assert(cl.head == 0)
  }
}

class KMeansSparseSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("every doc assigned to its argmax-cosine centroid; wssse finite") {
    val dv = graft.queries.Clustering.docVectors(spark, TestSession.sf).cache()
    val init = KMeansSparse.seedByMinId(dv, "doc_id", "vec", 3)
    assert(init.size == 3)
    val assigned = KMeansSparse.assign(dv, "vec", init)
    val rows = assigned.select("vec", "cluster").collect()
    rows.take(50).foreach { r =>
      val v = r.getMap[String, Double](0).toMap
      assert(r.getInt(1) == Sparse.nearestByCosine(v, init))
    }
    val loss = KMeansSparse.wssse(assigned, "vec", init)
    assert(loss > 0 && java.lang.Double.isFinite(loss))
  }

  test("fit converges and centroid count is stable") {
    val dv = graft.queries.Clustering.docVectors(spark, TestSession.sf).cache()
    val init = KMeansSparse.seedByMinId(dv, "doc_id", "vec", 4)
    val (cs, iters) = KMeansSparse.fit(dv, "vec", init, maxIter = 5)
    assert(cs.size == 4 && iters >= 1 && iters <= 5)
    assert(cs.forall(_.nonEmpty))
  }
}

class KMeansParallelSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("init produces k centroids and non-increasing psi after round 1") {
    val dv = graft.queries.Clustering.docVectors(spark, TestSession.sf).cache()
    val ir = KMeansParallel.init(dv, "doc_id", "vec", k = 3, l = 6.0, maxRounds = 2)
    assert(ir.centroids.size == 3)
    assert(ir.candidates.size > 3)
    assert(ir.weights.sum > 0)
    // psi should drop (or stay equal) as candidates are added
    assert(ir.psiTrace.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 })
  }
}

class KMeansParallelFitSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("full KMeans|| fit: k centroids, assignments cover all docs") {
    val dv = graft.queries.Clustering.docVectors(spark, TestSession.sf)
    val (cs, iters) = KMeansParallel.fit(dv, "doc_id", "vec", k = 3, l = 6.0,
      maxRounds = 2, finalMaxIter = 4)
    assert(cs.size == 3 && iters >= 1 && iters <= 4)
    val sizes = KMeansSparse.assign(dv, "vec", cs)
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum == dv.count())
    // final centroids from KMeans|| should give no worse WSSSE than the
    // naive min-id seeding after the same number of iterations
    val naive = KMeansSparse.seedByMinId(dv, "doc_id", "vec", 3)
    val (csNaive, _) = KMeansSparse.fit(dv, "vec", naive, maxIter = 4)
    val lossPar = KMeansSparse.wssse(
      KMeansSparse.assign(dv, "vec", cs), "vec", cs)
    val lossNaive = KMeansSparse.wssse(
      KMeansSparse.assign(dv, "vec", csNaive), "vec", csNaive)
    // not a strict theorem, but a strong sanity bound: the engineered
    // init should be within 2x of the naive one
    assert(lossPar <= lossNaive * 2.0,
      s"KMeans|| loss $lossPar vs naive $lossNaive")
  }
}

/** Verdict-r6 stretch #7: the rows-only q21 fit is the SAME fitExact
  * recurrence as the oracle-green q119 — assert the cross-query
  * equality directly so q21's values are anchored, not just its
  * code path. (q24's recluster arithmetic is already anchored to
  * q120 via ReclusterSpec.) */
class FitAnchorSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("q21 centroids and iteration count equal the q119 oracle fit (4-dec rounding aside)") {
    import org.apache.spark.sql.functions._
    val q21 = graft.queries.Clustering.queries("q21_kmeans_2d")(spark, TestSession.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // expected = q119's doubles through the SAME scaled-long rounding
    val q119 = graft.queries.Clustering.queries("q119_kmeans_full_fit")(spark, TestSession.sf)
      .select(col("cluster"), round(col("cx") * 10000).cast("long"),
        round(col("cy") * 10000).cast("long"), col("iters"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(q21.toSeq == q119.toSeq,
      "q21 must be the q119 fit output modulo its 4-decimal display rounding")
  }

  test("gridDensity: two separated blobs cluster apart; sparse cells are noise") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // blob A: an L-shape of dense cells (0,0),(0,1),(1,1) — connected
    // through 8-adjacency; blob B: dense cell (5,5); cell (3,3) sparse
    val pts = (Seq.fill(10)((0L, 0L)) ++ Seq.fill(10)((0L, 1L)) ++
      Seq.fill(10)((1L, 1L)) ++ Seq.fill(10)((5L, 5L)) ++ Seq.fill(2)((3L, 3L)))
      .toDF("cx", "cy")
    val got = graft.cluster.GridDensity.clusters(pts, col("cx"), col("cy"),
        minPts = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getBoolean(3),
          if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // L-shape shares one cluster label = min packed id = 0
    assert(got((0L, 0L))._3 == 0L && got((0L, 1L))._3 == 0L
      && got((1L, 1L))._3 == 0L)
    // isolated dense cell forms its own singleton cluster
    assert(got((5L, 5L))._3 == 5L * 65536L + 5L)
    // sparse cell: present, not core, no cluster
    assert(got((3L, 3L)) == ((2L, false, -1L)))
  }

  test("gridDensity: driver union-find path ≡ star-CC path (plan switch)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a ring of touching dense cells + two singletons — enough shape
    // to catch a labeling divergence between the two closures
    val dense = Seq((0L, 0L), (0L, 1L), (1L, 2L), (2L, 2L), (3L, 1L),
      (3L, 0L), (2L, -1L), (1L, -1L), (7L, 7L), (9L, 9L))
    def id(c: (Long, Long)): Long = c._1 * 65536L + c._2
    val cellEdges = for (a <- dense; b <- dense if id(a) < id(b) &&
      (a._1 - b._1).abs <= 1 && (a._2 - b._2).abs <= 1) yield (id(a), id(b))
    // the stars regime over the ring's 8-adjacency graph: one component
    val stars = graft.ops.Graph.connectedComponentsStars(cellEdges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars.values.toSet == Set(id((0L, 0L))) && stars.size == 8)
    // these few cells take the driver union-find inside
    // Graph.connectedComponents; the closure switch must be invisible
    val pts = dense.flatMap(c => Seq.fill(5)(c)).toDF("cx", "cy")
    val got = graft.cluster.GridDensity.clusters(pts, col("cx"), col("cy"), minPts = 5L)
      .collect().map(r => id((r.getLong(0), r.getLong(1))) -> r.getLong(4)).toMap
    assert(got == dense.map(c => id(c) -> stars.getOrElse(id(c), id(c))).toMap,
      "the adaptive closure switch must be output-invisible")
  }

  // ---- KMeans2D.silhouette (q345) ----

  test("silhouette: hand-computed (b-a)/b per point, boundary tie -> 0, " +
    "coincident-centroid guard") {
    import spark.implicits._
    import graft.cluster.KMeans2D
    val cs = Seq((0.0, 0.0), (10.0, 0.0))
    // (1,0): a=1, b=9 -> s=8/9; (9,0): cluster 1, a=1, b=9 -> 8/9;
    // (5,0): tie, a=b=5 -> s=0
    val pts = Seq((1.0, 0.0), (9.0, 0.0), (5.0, 0.0)).toDF("x", "y")
    val got = KMeans2D.silhouette(pts, "x", "y", cs)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val s89 = BigDecimal(8.0 / 9.0).setScale(9,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) == ((2L, s89 / 2.0))) // mean of {8/9, 0}
    assert(got(1) == ((1L, s89)))
    // coincident centroids: every distance pair ties at b2 = a2; the
    // b2 = 0 guard covers the on-centroid point
    val gotC = KMeans2D.silhouette(Seq((0.0, 0.0)).toDF("x", "y"), "x",
        "y", Seq((0.0, 0.0), (0.0, 0.0)))
      .collect().head
    assert(gotC.getDouble(2) == 0.0)
  }

  test("silhouette: separated blobs score near 1, interleaved points " +
    "near 0; repartition-invariant") {
    import spark.implicits._
    import graft.cluster.KMeans2D
    val cs = Seq((0.0, 0.0), (100.0, 0.0))
    val rnd = new scala.util.Random(5)
    val blobs = (1 to 200).map(_ => (rnd.nextDouble * 4 - 2, rnd.nextDouble * 4 - 2)) ++
      (1 to 200).map(_ => (100 + rnd.nextDouble * 4 - 2, rnd.nextDouble * 4 - 2))
    val g = KMeans2D.silhouette(blobs.toList.toDF("x", "y"), "x", "y", cs)
      .collect().map(r => r.getDouble(2))
    assert(g.forall(_ > 0.9), g.mkString(","))
    val a = KMeans2D.silhouette(blobs.toList.toDF("x", "y").repartition(7),
      "x", "y", cs).collect().map(_.toSeq)
    val b = KMeans2D.silhouette(blobs.toList.toDF("x", "y"), "x", "y", cs)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}

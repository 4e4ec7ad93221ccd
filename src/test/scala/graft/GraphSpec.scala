package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.ops.Graph.pageRankExact]] — the integer-PageRank recurrence
  * against an in-memory reference fold, partitioning invariance (the
  * property the scaled-long design buys), mass conservation, the
  * scale shape of the per-iteration plan, and the agreement of the
  * driver-state and shuffle regimes of the rank kernels. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import graft.ops.Graph

  /** Same recurrence, plain Scala — non-negative longs, truncating /. */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  scale: Long = 1000000000000L, damp: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val n = nodes.size.toLong
    val base = ((100 - damp).toLong * scale / 100) / n
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dangShare = nodes.filterNot(out.contains).map(r).sum / n
      val contrib = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / out(u) }.sum
      }
      r = nodes.map(v =>
        v -> (base + damp * (contrib.getOrElse(v, 0L) + dangShare) / 100)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRankExact(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("matches the reference recurrence on a dangling-sink graph") {
    // 1,2 -> 3 (sink); 1 -> 2: node 3 is dangling, its mass recycles
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 2L))
    for (iters <- Seq(1, 3)) assert(run(edges, iters) == ref(edges, iters))
  }

  test("matches the reference recurrence on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    assert(run(edges, 3) == ref(edges, 3))
  }

  test("result is invariant to input partitioning (order-independent math)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val a = Graph.pageRankExact(edges.toDF("src", "dst").repartition(1), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRankExact(
        edges.toDF("src", "dst").repartition(7, col("dst")), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("rank mass is conserved up to integer-division remainders") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    val scale = 1000000000000L
    val got = run(edges, 3)
    val mass = got.values.sum
    val n = got.size.toLong
    // each round each node can lose <100 (div 100) + its contrib/dangling
    // remainders (<outdeg each, ≤n) — a generous linear bound, nowhere
    // near the O(scale) drift float math would allow
    assert(mass <= scale && mass >= scale - 3 * n * (n + 200))
  }

  /** Brute-force per-node triangle counts: ordered triples. */
  private def triRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.map(p => (p._1 min p._2, p._1 max p._2))
      .filter(p => p._1 != p._2).distinct.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2)).toSeq.distinct.sorted
    val tris = for {
      a <- nodes; b <- nodes if b > a && e((a, b))
      c <- nodes if c > b && e((b, c)) && e((a, c))
    } yield (a, b, c)
    tris.flatMap(t => Seq(t._1, t._2, t._3)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  private def runTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangles: K4, star (none), star + rim edge") {
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if j > i) yield (i, j)
    assert(runTri(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    val star = (1L to 6L).map(i => (0L, i))
    assert(runTri(star) == Map.empty)
    assert(runTri(star :+ (1L, 2L)) == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("triangles: matches brute force on seeded random graphs, any edge encoding") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(250)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    // throw in reversed duplicates and self-loops — must all collapse
    val noisy = edges ++ edges.take(50).map(_.swap) ++ Seq((3L, 3L), (7L, 7L))
    assert(runTri(noisy) == triRef(edges))
  }

  /** (src, dst) oriented from the (degree, id)-smaller endpoint, each
    * undirected edge once — the contract of triangleCountsOriented. */
  private def oriented(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val und = edges.map(p => (p._1 min p._2, p._1 max p._2)).filter(p => p._1 != p._2).distinct
    val deg = und.flatMap(p => Seq(p._1, p._2)).groupBy(identity).map { case (v, vs) => v -> vs.size }
    und.map { case (a, b) => if (Ordering[(Int, Long)].lt((deg(a), a), (deg(b), b))) (a, b) else (b, a) }
  }

  test("triangles: driver-state and shuffle regimes return identical rows") {
    import spark.implicits._
    for (seed <- Seq(5, 17, 29)) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(250)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      // reversed duplicates and self-loops collapse in both regimes
      val noisy = (raw ++ raw.take(50).map(_.swap) ++ Seq((3L, 3L), (7L, 7L))).toDF("a", "b")
      val driver = sortedRows(Graph.triangleCounts(noisy))
      assert(driver.map(r => r(0) -> r(1)).toMap == triRef(raw), s"seed $seed")
      assert(driver == sortedRows(Graph.triangleCountsShuffle(noisy)), s"seed $seed")
      val o = oriented(raw).toDF("src", "dst")
      assert(sortedRows(Graph.triangleCountsOriented(o)) == driver, s"oriented seed $seed")
      assert(sortedRows(Graph.orientedKernelShuffle(o)) == driver, s"oriented seed $seed")
    }
    // no node at all: the driver regime runs no intersection job
    for (edges <- Seq(Seq.empty[(Long, Long)], Seq((4L, 4L), (9L, 9L)))) {
      val df = edges.toDF("a", "b")
      assert(Graph.triangleCounts(df).collect().isEmpty, s"$edges")
      assert(Graph.triangleCountsShuffle(df).collect().isEmpty, s"$edges")
      assert(Graph.triangleCountsOriented(
        df.select(col("a").as("src"), col("b").as("dst")).where(col("src") < col("dst")))
        .collect().isEmpty, s"$edges")
    }
  }

  test("driver-state triangles: five Spark jobs, storage released") {
    import spark.implicits._
    val sc = spark.sparkContext
    // K4 on 0..3 plus the pendant triangle 3-4-5
    val edges = ((for (i <- 0L to 3L; j <- 0L to 3L if j > i) yield (i, j)) ++
      Seq((3L, 4L), (4L, 5L), (5L, 3L))).toDF("a", "b")
    val persisted = sc.getPersistentRDDs.keySet
    var tri: DataFrame = null
    // dedup, node and edge counts, node ids, packed edges, intersection
    assert(jobsOf("graphspec-triangles") { tri = Graph.triangleCounts(edges) } == 5)
    assert(tri.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 5L -> 1L))
    assert(sc.getPersistentRDDs.keySet == persisted, "no block outlives the call")
  }

  test("plan shape: shuffle joins + partial aggregation, no quadratic operator") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // the shuffle kernel: the public entry takes the driver-state path
    // on a graph this small
    val plan = Graph.randomWalkShuffle(edges, None, 2, 1000000000000L, 85)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_sum"), plan) // map-side combine of contribs
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq

  test("rank kernels: driver-state and shuffle regimes return identical rows") {
    import spark.implicits._
    val big = 1000000000000L
    for (seed <- Seq(5, 17, 29)) {
      val rnd = new scala.util.Random(seed)
      // sources among 0..39, targets among 0..59: 40..59 are dangling
      // sinks; the repeated prefix adds duplicate edges, and self-loops
      // stay in
      val raw = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(60).toLong))
      val edges = (raw ++ raw.take(40)).toDF("src", "dst")
      for (damp <- Seq(85, 100)) assert(
        sortedRows(Graph.pageRankExact(edges, 3, big, damp)) ==
          sortedRows(Graph.randomWalkShuffle(edges, None, 3, big, damp)),
        s"PageRank seed $seed damp $damp")
      // 999 is no node of the graph, and a repeated seed counts twice
      for (seeds <- Seq(Seq(1L, 5L), Seq(2L, 999L, 999L, 45L))) assert(
        sortedRows(Graph.personalizedPageRankExact(edges, seeds, 3)) ==
          sortedRows(Graph.randomWalkShuffle(edges, Some(seeds), 3, big, 85)),
        s"PPR seed $seed seeds $seeds")
      assert(sortedRows(Graph.hitsExact(edges, 3)) ==
        sortedRows(Graph.hitsShuffle(edges, 3, 1000000L)), s"HITS seed $seed")
      // scale 1: every authority truncates to 0, so the hub half-step
      // sums to 0 and normalizes by max(0, 1)
      val zero = sortedRows(Graph.hitsExact(edges, 2, scale = 1L))
      assert(zero.forall(r => r(1) == 0L && r(2) == 0L), "hub half-step sum is 0")
      assert(zero == sortedRows(Graph.hitsShuffle(edges, 2, 1L)), s"HITS scale 1 seed $seed")
    }
  }

  /** The Spark jobs `body` starts, counted by a job-group listener
    * once the listener bus has drained. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.get
  }

  test("driver-state PageRank: one Spark job per extra round, storage released") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    def jobs(iters: Int): Int = {
      val persisted = sc.getPersistentRDDs.keySet
      val n = jobsOf(s"graphspec-pagerank-$iters")(Graph.pageRankExact(edges, iters).collect())
      assert(sc.getPersistentRDDs.keySet == persisted, "slot RDD unpersisted")
      n
    }
    assert(jobs(3) - jobs(1) == 2)
  }

  test("driver-state kernels fail loudly on long overflow") {
    import spark.implicits._
    // three sources into one sink: after round 1 the sink holds ~0.81
    // of the mass, and 85 × that overflows at this scale
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    intercept[ArithmeticException] {
      Graph.pageRankExact(edges, 1, scale = Long.MaxValue / 50)
    }
    // the sink's raw authority is 3; 3 × scale overflows
    intercept[ArithmeticException] {
      Graph.hitsExact(edges, 1, scale = Long.MaxValue / 2)
    }
  }

  test("labelPropagation: two cliques joined by a bridge separate into two communities") {
    import spark.implicits._
    // clique {1,2,3}, clique {10,11,12}, bridge 3–10
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 6)
    assert(got(1L) == got(2L) && got(2L) == got(3L), "left clique agrees")
    assert(got(10L) == got(11L) && got(11L) == got(12L), "right clique agrees")
    assert(got(1L) != got(10L), "the bridge does not merge the cliques")
  }

  test("labelPropagation: deterministic under repartitioning (min-label ties)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val a = Graph.labelPropagation(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Graph.labelPropagation(edges.repartition(7), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("labelPropagationSym / modularitySym over a pre-symmetrized " +
    "adjacency equal the edge-list entries (the bucketed-artifact path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val raw = (1 to 120).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }
    val edges = raw.toDF("src", "dst")
    // the artifact contract: both directions, simple, degs on the row
    val one = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val sym = (one ++ one.map(_.swap)).toDF("u", "v")
    val degs = sym.groupBy(col("u").as("n")).agg(count(lit(1)).as("dg"))
    val adj = sym.join(degs.select(col("n").as("u"), col("dg").as("deg_u")), "u")
      .join(degs.select(col("n").as("v"), col("dg").as("deg_v")), "v")
    val viaEdges = Graph.labelPropagation(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaSym = Graph.labelPropagationSym(
        adj.select(col("u").as("src"), col("v").as("dst")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaEdges == viaSym)
    val comm = Graph.labelPropagation(edges, 3)
    val mA = Graph.modularity(edges, comm)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val mB = Graph.modularitySym(adj, comm)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(mA.toSeq == mB.toSeq)
  }

  test("bfsDistances: min-hop distances on a graph with a shortcut") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-4; node 9-8 is a disconnected pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 8L)).toDF("src", "dst")
    val got = Graph.bfsDistances(edges, source = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L),
      s"shortcut wins over the long path, disconnected pair absent: $got")
  }

  test("bfsDistances: maxHops bounds the reach; undirected traversal") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val one = Graph.bfsDistances(chain, 3L, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // edges point 2→3, but BFS walks both ways from 3
    assert(one == Map(3L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("sssp: a longer-but-lighter path beats the direct heavy edge") {
    import spark.implicits._
    // 1→3 direct costs 10; 1→2→3 costs 2+3=5; parallel 1-2 edges
    // collapse to the min weight
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 7L), (1L, 2L, 2L), (2L, 3L, 3L))
      .toDF("src", "dst", "w")
    val got = Graph.sssp(edges, source = 1L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
    // with a single relaxation round only the direct edge is visible
    val one = Graph.sssp(edges, source = 1L, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 0L, 2L -> 2L, 3L -> 10L))
  }

  test("kCore: pendant peels off, the triangle survives as the 2-core") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: a star has no 2-core; cascade needs multiple rounds") {
    import spark.implicits._
    val star = (2L to 6L).map(l => (1L, l)).toDF("src", "dst")
    assert(Graph.kCore(star, k = 2, rounds = 2).count() == 0L)
    // path 1-2-3-4-5: endpoints peel first, the rest cascade round by
    // round — after 1 round nodes 2..4 remain, after 3 nothing does
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r1 = Graph.kCore(path, k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(2L, 3L, 4L))
    assert(Graph.kCore(path, k = 2, rounds = 3).count() == 0L)
  }

  test("kCore: snapshot sizes ride the checkpoint jobs") {
    import spark.implicits._
    // path 1..12: every round peels both ends, so no round converges
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    def jobs(rounds: Int): Int =
      jobsOf(s"graphspec-kcore-$rounds")(Graph.kCore(path, k = 2, rounds = rounds))
    assert(Graph.kCore(path, k = 2, rounds = 3).collect().map(_.getLong(0)).toSet ==
      (4L to 9L).toSet)
    // per round: the degree snapshot (shuffle-map and checkpoint jobs)
    // and the survivor snapshot (two broadcast builds and its
    // checkpoint). A count() of a snapshot would add two jobs: 7 per
    // round and 11 for one round.
    assert(jobs(3) - jobs(2) == 5)
    assert(jobs(1) == 7)
  }

  test("kCore: duplicate/self/reversed edges collapse to the simple graph") {
    import spark.implicits._
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L), (2L, 3L),
      (3L, 1L)).toDF("src", "dst")
    val got = Graph.kCore(messy, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  private def starsCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponentsStars(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** in-memory union-find ground truth */
  private def ufCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e._1, e._2)).distinct
    // path-compress to the true min root
    nodes.map(n => n -> find(n)).toMap
  }

  /** HITS recurrence, plain Scala — mirrors hitsExact. */
  private def hitsRef(edges: Seq[(Long, Long)], iters: Int,
                      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var h = nodes.map(_ -> 1L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val aRaw = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map(x => h(x._1)).sum }
      val aSum = math.max(aRaw.values.sum, 1L)
      a = nodes.map(v => v -> aRaw.getOrElse(v, 0L) * scale / aSum).toMap
      val hRaw = e.groupBy(_._1).map { case (u, es) =>
        u -> es.map(x => a(x._2)).sum }
      val hSum = math.max(hRaw.values.sum, 1L)
      h = nodes.map(v => v -> hRaw.getOrElse(v, 0L) * scale / hSum).toMap
    }
    nodes.map(v => v -> ((h(v), a(v)))).toMap
  }

  test("HITS matches the reference recurrence; bipartite roles separate") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(250)((rnd.nextInt(30).toLong, 100L + rnd.nextInt(40)))
      .filter(e => e._1 != e._2)
    val got = Graph.hitsExact(edges.toDF("src", "dst"), 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == hitsRef(edges, 2))
    // bipartite: sources get hub mass and zero authority; sinks the reverse
    val (srcs, dsts) = (edges.map(_._1).distinct, edges.map(_._2).distinct)
    assert(srcs.forall(v => got(v)._2 == 0L) && dsts.forall(v => got(v)._1 == 0L))
    assert(srcs.map(got(_)._1).sum > 0L && dsts.map(got(_)._2).sum > 0L)
  }

  /** PPR recurrence, plain Scala — mirrors personalizedPageRankExact. */
  private def pprRef(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
                     scale: Long = 1000000000000L, damp: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = e.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val s = seeds.size.toLong
    val seedSet = seeds.toSet
    val base = ((100 - damp).toLong * scale / 100) / s
    var r = nodes.map(v => v -> (if (seedSet(v)) scale / s else 0L)).toMap
    for (_ <- 1 to iters) {
      val dangShare = nodes.filterNot(out.contains).map(r).sum / s
      val contrib = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / out(u) }.sum
      }
      r = nodes.map(v => v -> ((if (seedSet(v)) base else 0L) +
        damp * (contrib.getOrElse(v, 0L) +
          (if (seedSet(v)) dangShare else 0L)) / 100)).toMap
    }
    r
  }

  test("personalized PageRank matches the reference recurrence") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    for (seeds <- Seq(Seq(1L), Seq(1L, 5L, 9L))) {
      val got = Graph.personalizedPageRankExact(edges.toDF("src", "dst"), seeds, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == pprRef(edges, seeds, 3))
    }
  }

  test("personalized PageRank concentrates mass at the seed side") {
    import spark.implicits._
    // two disjoint stars; restarting at 1 leaves the 10-star unranked
    val edges = ((2L to 5L).map(v => (1L, v)) ++ (11L to 14L).map(v => (10L, v)))
    val got = Graph.personalizedPageRankExact(edges.toDF("src", "dst"),
        Seq(1L), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) > 0L && got(2L) > 0L)
    assert((10L to 14L).forall(v => got(v) == 0L))
  }

  test("stars CC: long path converges well under the diameter bound") {
    // a 40-node path has diameter 39; star contraction needs O(log²)
    val path = (1L until 40L).map(i => (i, i + 1))
    assert(starsCC(path) == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("stars CC: two components + messy edges match union-find") {
    val edges = Seq((5L, 9L), (9L, 2L), (2L, 5L), (5L, 5L), (9L, 5L),
      (20L, 30L), (30L, 40L))
    assert(starsCC(edges) == ufCC(edges))
    assert(starsCC(edges)(40L) == 20L)
  }

  test("stars CC: a graph still changing at maxRounds fails loudly") {
    import spark.implicits._
    // a 3-node path is no star forest: round 1 rewires it, so the
    // fixpoint needs at least a second round
    val e = intercept[IllegalStateException](Graph.connectedComponentsStars(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), maxRounds = 1))
    assert(e.getMessage.contains("maxRounds = 1"), e.getMessage)
  }

  private def driverCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("stars CC: seeded random graphs equal union-find AND dedupGroups") {
    // Graph.connectedComponents is dedup-group formation's entry (it
    // replaces Dedup.dedupGroups); these small graphs take its driver
    // regime, so the stars regime is checked against both
    for (seed <- Seq(13, 31, 47)) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      // duplicates, reversed duplicates, self-loops (500 sits only on
      // one, so it is no node), a 40-node path and disjoint pairs
      val edges = raw ++ raw.take(60) ++ raw.take(60).map(_.swap) ++
        Seq((3L, 3L), (500L, 500L)) ++ (1000L until 1039L).map(i => (i, i + 1)) ++
        Seq((2001L, 2000L), (2003L, 2002L))
      val want = ufCC(edges)
      assert(driverCC(edges) == want, s"driver seed $seed")
      assert(starsCC(edges) == want, s"stars seed $seed")
      assert(!want.contains(500L) && want(1039L) == 1000L && want(2001L) == 2000L)
    }
  }

  test("driver-state connected components: four Spark jobs, storage released") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (7L, 5L), (5L, 5L)).toDF("src", "dst")
    val persisted = sc.getPersistentRDDs.keySet
    var cc: DataFrame = null
    // dedup, node and edge counts, node ids, packed edges
    assert(jobsOf("graphspec-cc") { cc = Graph.connectedComponents(edges) } == 4)
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 5L))
    assert(sc.getPersistentRDDs.keySet == persisted, "no block outlives the call")
  }

  // ---- linkPrediction (Adamic–Adar / Jaccard common-neighbor) ----

  /** Build the (u, v, deg_u, deg_v) symmetric-adjacency contract from
    * an undirected edge list. */
  private def adjDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.filter(e => e._1 != e._2)
    val sym = und ++ und.map(_.swap)
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    sym.map { case (u, v) => (u, v, deg(u), deg(v)) }
      .toDF("u", "v", "deg_u", "deg_v")
  }

  /** Per-neighbor Adamic–Adar weight, the engine's exact formulation:
    * 10^18 div (ln deg rounded to 9 decimals, scaled to a long). */
  private def aaW9(deg: Long): Long =
    1000000000000000000L / math.round(
      BigDecimal(math.log(deg.toDouble)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)

  /** Brute-force reference over neighbor sets. */
  private def refLinkPred(edges: Seq[(Long, Long)], hubCap: Long)
      : Map[(Long, Long), (Long, Long, Double)] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.filter(e => e._1 != e._2)
    val nbr = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2).toSet }
    val undSet = und.toSet
    val out = for {
      a <- nbr.keys.toSeq; b <- nbr.keys.toSeq
      if a < b && !undSet.contains((a, b))
      common = (nbr(a) & nbr(b)).filter(w => nbr(w).size <= hubCap
        && nbr(w).size >= 2)
      if common.nonEmpty
    } yield {
      val cn = common.size.toLong
      val aa = common.toSeq.map(w => aaW9(nbr(w).size.toLong)).sum
      val jac = BigDecimal(cn.toDouble /
        (nbr(a).size + nbr(b).size - cn).toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b) -> (cn, aa, jac)
    }
    out.toMap
  }

  private def runLinkPred(edges: Seq[(Long, Long)], hubCap: Long, k: Int)
      : Seq[(Long, Long, Long, Long, Double)] =
    Graph.linkPrediction(adjDf(edges), hubCap, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq

  test("linkPrediction: hand graph — scores, exclusions, determinism") {
    // triangle 1-2-3 plus pendant 3-4: predictable pairs are (1,4) and
    // (2,4), both through the single center 3 (deg 3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = runLinkPred(edges, hubCap = 100L, k = 10)
    val w3 = aaW9(3L)
    assert(w3 == 1000000000000000000L / 1098612289L)
    assert(got == Seq((1L, 4L, 1L, w3, 0.5), (2L, 4L, 1L, w3, 0.5)))
    // hub cap below deg(3): the only center is excluded → no pairs
    assert(runLinkPred(edges, hubCap = 2L, k = 10).isEmpty)
  }

  test("linkPrediction: seeded random graph equals the brute-force ref") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(250)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val ref = refLinkPred(edges, hubCap = 12L)
    val got = runLinkPred(edges, hubCap = 12L, k = 10000)
    assert(got.size == ref.size)
    got.foreach { case (a, b, cn, aa, jac) =>
      assert(ref((a, b)) == ((cn, aa, jac)), s"pair ($a,$b)")
    }
    // top-k ordering: aa9 descending, ties by (a, b)
    val keys = got.map(t => (-t._4, t._1, t._2))
    assert(keys == keys.sorted)
  }

  // ---- sccCondensation (q361) ----

  private def runScc(edges: Seq[(Long, Long)], maxEdges: Long = 50000000L) = {
    import spark.implicits._
    graft.ops.Graph.sccCondensation(edges.toDF("src", "dst"), maxEdges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  /** Brute-force mutual reachability via Floyd–Warshall. */
  private def refScc(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val es = edges.filter(e => e._1 != e._2).distinct
    val ns = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val pos = ns.zipWithIndex.toMap
    val n = ns.length
    val reach = Array.fill(n, n)(false)
    es.foreach { case (a, b) => reach(pos(a))(pos(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    ns.map { v =>
      val mem = ns.filter(w => w == v ||
        (reach(pos(v))(pos(w)) && reach(pos(w))(pos(v))))
      v -> ((mem.min, mem.size.toLong))
    }.toMap
  }

  test("sccCondensation: hand graph — cycle core, tail, 2-cycle island") {
    // 1→2→3→1 (SCC {1,2,3}), tail 3→4→5 (singletons), island 8⇄9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (8L, 9L), (9L, 8L))
    val got = runScc(edges)
    assert(got(1L) == ((1L, 3L)) && got(2L) == ((1L, 3L))
      && got(3L) == ((1L, 3L)))
    assert(got(4L) == ((4L, 1L)) && got(5L) == ((5L, 1L)))
    assert(got(8L) == ((8L, 2L)) && got(9L) == ((8L, 2L)))
    // self-loops and duplicate edges change nothing
    assert(runScc(edges ++ Seq((1L, 1L), (2L, 3L))) == got)
  }

  test("sccCondensation: one-way pair stays two singletons (direction matters)") {
    val got = runScc(Seq((1L, 2L)))
    assert(got == Map(1L -> ((1L, 1L)), 2L -> ((2L, 1L))))
  }

  test("sccCondensation: seeded random digraphs equal Floyd–Warshall") {
    for (seed <- Seq(7, 23, 41)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      assert(runScc(edges) == refScc(edges), s"seed $seed")
    }
    // deep chain into a closing cycle: exercises the explicit DFS
    // work stack (a recursive Tarjan would be fine at 400 but the
    // shape is the one that overflows recursion at scale)
    val chain = (0L until 400L).map(i => (i, i + 1)) :+ (400L, 0L)
    val got = runScc(chain)
    assert(got(0L) == ((0L, 401L)) && got(399L) == ((0L, 401L)))
  }

  test("sccCondensation: the maxEdges staging gate raises loudly") {
    intercept[IllegalArgumentException] {
      runScc(Seq((1L, 2L), (2L, 3L), (3L, 1L)), maxEdges = 2L)
    }
  }
}

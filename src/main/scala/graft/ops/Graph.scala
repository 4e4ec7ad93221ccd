package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Distributed graph analytics over an edge DataFrame: connected
  * components (dedup-group formation, [[connectedComponents]]) and the
  * other canonical iterative graph kernels a data-curation cluster
  * runs, such as PageRank over a link/citation graph (host ranking for
  * crawl prioritization, document authority for quality weighting).
  *
  * The twist that makes it cross-engine checkable: all arithmetic is
  * scaled-long INTEGER math (ranks in parts-per-`scale`), so every
  * partial sum is exact and order-independent — the result is
  * invariant to partitioning, AQE re-planning, and skew splitting,
  * and a SQL engine computing the same unrolled recurrence matches
  * bit-for-bit. Float PageRank cannot promise any of that.
  *
  * Scale design — two regimes for the rank kernels ([[pageRankExact]],
  * [[personalizedPageRankExact]], [[hitsExact]]), picked by the node
  * count against [[BroadcastNodeEntries]] (4M nodes, the same gate
  * that switches the other iterative kernels between broadcast and
  * shuffle joins):
  *  - at or below the gate the per-node state lives on the DRIVER:
  *    node ids sorted into a primitive array, the deduplicated edges
  *    persisted once as packed (src slot, dst slot) longs, and each
  *    round (HITS: each half-step) is ONE Spark job — the rank vector
  *    is broadcast, one narrow pass emits a dense partial-sum array
  *    per edge partition, and `treeReduce` combines them. The driver
  *    applies the recurrence with `Math.addExact`/`multiplyExact`, so
  *    an overflow fails loudly as on the ANSI SQL path. A BSP round
  *    of joins pays a snapshot job, broadcast jobs, a shuffle-map job
  *    and a scalar job instead — framework overhead that dominates
  *    every graph this side of the gate;
  *  - above the gate each iteration is ONE shuffle join (ranks ⋈
  *    edges on src) plus one key shuffle for the per-dst sum — the
  *    textbook distributed PageRank plan (what GraphX/Pregel compile
  *    to) — and no per-node state touches the driver. The scalars an
  *    iteration needs (node count, dangling mass, HITS normalizers)
  *    are O(1)-row aggregates injected as literals, the per-round
  *    ones observed on the round's own `localCheckpoint(true)` job
  *    (no extra scalar job). Each round's snapshot truncates lineage
  *    and the previous one is freed once superseded
  *    ([[unpersistSnapshot]]);
  *  - dangling-node mass is redistributed uniformly (PPR: to the
  *    seeds), so total rank mass is conserved up to integer-division
  *    remainders. The arithmetic is identical in both regimes, so the
  *    gate changes cost, never a result.
  *
  * The triangle kernels ([[triangleCounts]], [[triangleCountsOriented]])
  * take the same two regimes, gated on the node count as above AND on
  * the edge count against [[BroadcastAdjEntries]]: inside both gates
  * the oriented adjacency is built on the driver from the same slot
  * graph and one narrow job intersects it; outside either,
  * [[orientedKernelShuffle]]. Counts are exact integer sums, so again
  * the gate changes cost, never a result.
  *
  * [[connectedComponents]] takes the triangle kernels' gates: inside
  * both, a union-find over the slot graph's packed edges on the driver;
  * outside either, [[connectedComponentsStars]]. Both label a component
  * by its minimum id, so the gate changes cost, never a result.
  */
object Graph {

  /** Free a round snapshot's storage (round-11, ADVICE r10): the
    * iterative kernels below snapshot each round with
    * `localCheckpoint(true)`, and those disk/memory-backed blocks were
    * RETAINED until ContextCleaner happened to GC them — up to `iters`
    * dead rounds per call. `Dataset.unpersist` alone does NOT free a
    * checkpoint (it only touches the SQL cache), so this digs the
    * materialized RDD out of the snapshot's `LogicalRDD` and drops its
    * blocks directly.
    *
    * Contract: call ONLY on a snapshot that will never be read again —
    * lineage is truncated, so a freed snapshot is unrecoverable (the
    * same trade localCheckpoint itself makes vs executor loss: these
    * kernels prefer a loud retry-the-job failure over silently
    * recomputing a whole BSP history; a multi-node deployment would
    * use reliable `checkpoint()` to the cluster FS). Safe timing: each
    * round's snapshot is EAGER, so once round t is materialized the
    * round t−1 snapshot is dead. */
  private[graft] def unpersistSnapshot(df: DataFrame): Unit = {
    df.unpersist(blocking = false) // covers plain .cache() inputs
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Broadcast-vs-shuffle gate for the per-round node-state joins of
    * the iterative kernels (round-11, guide §3.1): a per-node table
    * (ranks, labels, hub/auth scores — ≤ ~24 B/row) below
    * [[BroadcastNodeEntries]] rows is shipped to the cached/bucketed
    * edge table, so no per-round exchange touches |E| rows; above the
    * gate the unchanged shuffle-join plan runs. Join STRATEGY only —
    * the scaled-long arithmetic is partition-invariant, so results
    * are bit-identical either way. */
  private def bcGate(entries: Long): DataFrame => DataFrame =
    if (entries <= BroadcastNodeEntries) broadcast else identity

  /** Row-broadcast gate for node-STATE tables (round-12, r11 ADVICE):
    * distinct from [[BroadcastAdjEntries]], which sizes the compact
    * int-array adjacency (~4 B/entry ≈ 80 MB at 16M). A broadcast
    * HASH RELATION of rows costs ~40-60 B/row (UnsafeRow + table
    * overhead), so reusing the 16M gate shipped multi-hundred-MB
    * relations per round, a driver/executor OOM risk at scales the
    * shuffle plan handles fine. 4M rows ≈ 160-240 MB relation: inside
    * a production executor budget with headroom for two live rounds.
    * The same bound admits the driver-resident rank vectors of
    * [[pageRankExact]]/[[personalizedPageRankExact]]/[[hitsExact]]
    * and [[triangleCounts]] (8 B per node per array, 32 MB at the
    * gate). */
  private[graft] val BroadcastNodeEntries = 4L * 1000 * 1000

  /** Exact integer PageRank.
    *
    * Recurrence (all ops on non-negative longs, `div` = truncating
    * division; every node starts at `scale div n`):
    * {{{
    *   base       = ((100 - damp) * scale div 100) div n
    *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
    *   dangling   = Σ_{outdeg(u) = 0} rank(u)
    *   rank'(v)   = base + damp * (contrib(v) + dangling div n) div 100
    * }}}
    *
    * @param edges directed edges; must have non-null `src` and `dst`
    *              columns (any integral type). Duplicates are collapsed.
    * @param iters number of iterations.
    * @param scale rank mass unit — results are parts-per-`scale`.
    * @param damp  damping factor in percent (classic 85 = 0.85).
    * @return (node LONG, rank LONG) — one row per distinct node.
    */
  def pageRankExact(edges: DataFrame, iters: Int,
                    scale: Long = 1000000000000L, damp: Int = 85): DataFrame = {
    require(iters >= 1 && damp >= 0 && damp <= 100)
    slotKernel(edges)(randomWalkDriver(_, None, iters, scale, damp))(
      randomWalkShuffle(edges, None, iters, scale, damp))
  }

  /** Exact integer PERSONALIZED PageRank — random walk with restart
    * to a seed set (Haveliwala's topic-sensitive PageRank, WWW 2002;
    * the similar-node / related-document primitive a curation
    * pipeline uses to expand a trusted seed corpus, and the scoring
    * core of pixie-style recommenders). Same two regimes as
    * [[pageRankExact]], but the teleport and the dangling mass return
    * to the SEEDS instead of spreading uniformly, so rank concentrates
    * in the seeds' neighborhood.
    *
    * Recurrence (non-negative longs, truncating `div`, s = |seeds|):
    * {{{
    *   r0(v)      = 1[v ∈ S] · (scale div s)
    *   base(v)    = 1[v ∈ S] · (((100-damp) · scale div 100) div s)
    *   contrib(v) = Σ_{(u,v) ∈ E} rank(u) div outdeg(u)
    *   dangling   = Σ_{outdeg(u) = 0} rank(u)
    *   rank'(v)   = base(v) + damp · (contrib(v)
    *                + 1[v ∈ S] · (dangling div s)) div 100
    * }}}
    * All-integer ⇒ order/partitioning-invariant ⇒ the unrolled
    * recurrence is oracle-checkable (the q105 discipline). Seeds not
    * present in the edge set simply contribute no mass — the same on
    * both engines.
    *
    * @param seeds restart set; above the gate injected as an
    *              IN-literal (O(|S|) plan size — seeds are a handful of
    *              trusted nodes, never a table; for table-sized seed
    *              sets join a frame instead). */
  def personalizedPageRankExact(edges: DataFrame, seeds: Seq[Long], iters: Int,
                                scale: Long = 1000000000000L,
                                damp: Int = 85): DataFrame = {
    require(seeds.nonEmpty && iters >= 1 && damp >= 0 && damp <= 100)
    slotKernel(edges)(randomWalkDriver(_, Some(seeds), iters, scale, damp))(
      randomWalkShuffle(edges, Some(seeds), iters, scale, damp))
  }

  /** Shuffle kernel of [[pageRankExact]] (`seeds` = None: restart at
    * every node, s = n) and [[personalizedPageRankExact]] — the plan
    * above [[BroadcastNodeEntries]] nodes, where no per-node state may
    * sit on the driver. Per iteration: one rank⋈edge shuffle join +
    * one per-dst key shuffle; the dangling mass is observed on the
    * round snapshot's own job. */
  private[graft] def randomWalkShuffle(edges: DataFrame, seeds: Option[Seq[Long]],
                                       iters: Int, scale: Long, damp: Int): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct().cache()
    val deg = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct()
      .join(e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg")),
        Seq("node"), "left")
      .na.fill(0L, Seq("outdeg"))
      .cache()
    val n = deg.count()
    val (restart, s) = seeds match {
      case None => ("true", n)
      case Some(ss) => (s"node IN (${ss.mkString(", ")})", ss.size.toLong)
    }
    val base = ((100 - damp).toLong * scale / 100) / s

    var ranks = deg.withColumn("rank",
      expr(s"CASE WHEN $restart THEN ${scale / s}L ELSE 0L END"))
    var prevSnap: DataFrame = null
    for (_ <- 1 to iters) {
      // localCheckpoint round snapshot, NOT a cache chain (the q204
      // lesson): an evictable per-round cache leaves lineage chaining
      // through every previous round, so one eviction mid-sweep
      // recomputes the whole history; the eager disk-backed snapshot
      // can spill under storage pressure but never recompute. Once
      // this round materializes, the PREVIOUS round's snapshot is
      // dead — free it ([[unpersistSnapshot]]). The dangling mass is
      // observed on the snapshot's own job, not a second scalar job.
      val dangling = Observation()
      val cur = ranks
        .observe(dangling,
          coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0L)).as("d"))
        .localCheckpoint(true)
      if (prevSnap != null) unpersistSnapshot(prevSnap)
      prevSnap = cur
      val dangShare = dangling.get("d").asInstanceOf[Long] / s
      val contrib = e.join(cur, e("src") === cur("node"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(expr("rank div outdeg")).as("contrib"))
      ranks = deg.join(contrib, deg("node") === contrib("cnode"), "left")
        .select(col("node"), col("outdeg"),
          expr(s"""CASE WHEN $restart THEN ${base}L ELSE 0L END
                  | + ($damp * (coalesce(contrib, 0L)
                  |    + CASE WHEN $restart THEN ${dangShare}L ELSE 0L END)) div 100"""
            .stripMargin.replace("\n", " ")).as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** [[randomWalkShuffle]]'s recurrence over driver-resident state: one
    * job per round, the arithmetic overflow-checked on the driver. */
  private def randomWalkDriver(g: SlotGraph, seeds: Option[Seq[Long]],
                               iters: Int, scale: Long, damp: Int): DataFrame = {
    val n = g.nodes.length
    val restart = seeds match {
      case None => Array.fill(n)(true)
      case Some(ss) =>
        val r = new Array[Boolean](n)
        ss.foreach { v =>
          val i = java.util.Arrays.binarySearch(g.nodes, v)
          if (i >= 0) r(i) = true
        }
        r
    }
    val s = seeds.fold(n.toLong)(_.size.toLong)
    val base = Math.multiplyExact((100 - damp).toLong, scale) / 100 / s
    val rank = Array.tabulate(n)(i => if (restart(i)) scale / s else 0L)
    val share = new Array[Long](n) // rank(u) div outdeg(u), sent along u's edges
    for (_ <- 1 to iters) {
      var dangling = 0L
      var i = 0
      while (i < n) {
        if (g.outdeg(i) == 0) dangling = Math.addExact(dangling, rank(i))
        else share(i) = rank(i) / g.outdeg(i)
        i += 1
      }
      val dangShare = dangling / s
      val contrib = g.sums(share, toDst = true)
      i = 0
      while (i < n) {
        rank(i) =
          if (restart(i)) Math.addExact(base,
            Math.multiplyExact(damp.toLong, Math.addExact(contrib(i), dangShare)) / 100)
          else Math.multiplyExact(damp.toLong, contrib(i)) / 100
        i += 1
      }
    }
    g.frame("rank" -> rank)
  }

  /** HITS hubs & authorities (Kleinberg JACM 1999) — the OTHER
    * classic link-analysis fixpoint next to PageRank: authorities are
    * pointed at by good hubs, hubs point at good authorities. On a
    * buyer→product or crawler→host bipartite graph the two scores
    * separate the "curators" from the "canon" — a signal pair corpus
    * triage uses where PageRank conflates them.
    *
    * Exact-integer variant (the q105/q209 discipline): each half-step
    * is a transpose-join accumulation followed by SUM-normalization
    * to parts-per-`scale` using truncating division —
    * {{{
    *   a_t(v) = Σ_{(u,v)∈E} h_{t-1}(u);   a_t ← a_t·scale div max(Σa_t, 1)
    *   h_t(u) = Σ_{(u,v)∈E} a_t(v);       h_t ← h_t·scale div max(Σh_t, 1)
    * }}}
    * — all long ops, order/partition-invariant, so the unrolled
    * recurrence replays in SQL. (Classic HITS L2-normalizes; any
    * positive rescale preserves the ranking fixpoint, and L1 keeps
    * the integers exact.)
    *
    * Same two regimes as [[pageRankExact]]: at or below the gate each
    * half-step is one job over driver-resident scores; above it,
    * [[hitsShuffle]].
    *
    * @return (node, hub, auth) in parts-per-`scale`. */
  def hitsExact(edges: DataFrame, iters: Int,
                scale: Long = 1000000L): DataFrame = {
    require(iters >= 1)
    slotKernel(edges)(hitsDriver(_, iters, scale))(hitsShuffle(edges, iters, scale))
  }

  /** Shuffle kernel of [[hitsExact]], above the gate. Per iteration:
    * two shuffle joins (edges ⋈ scores) + two key shuffles for the
    * per-node sums; each normalizer Σ is observed on its half-step
    * snapshot's own job and injected as a literal. */
  private[graft] def hitsShuffle(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct().cache()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cache()
    var hubs = nodes.withColumn("h", lit(1L)).localCheckpoint(true)
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      // eager localCheckpoint half-step snapshots + previous-round
      // release — see randomWalkShuffle. The previous auths die once
      // the new ones materialize; the previous hubs only after the new
      // hubs do (aN's build still reads them).
      // aRaw/hRaw are snapshotted ONCE each: before round 11 the raw
      // accumulation (the expensive e⋈score join) was evaluated twice
      // per half-step — once under the Σ scalar, once under the
      // normalize join — doubling every edge join in the query
      // (guide §1.2 "don't compute things you throw away").
      val aObs = Observation()
      val aRaw = e.join(hubs, e("src") === hubs("node"))
        .groupBy(e("dst").as("anode")).agg(sum(col("h")).as("a"))
        .observe(aObs, coalesce(sum(col("a")), lit(0L)).as("s"))
        .localCheckpoint(true)
      val aSum = aObs.get("s").asInstanceOf[Long]
      val aN = nodes.join(aRaw, nodes("node") === aRaw("anode"), "left")
        .select(col("node"),
          expr(s"coalesce(a, 0L) * ${scale}L div ${math.max(aSum, 1L)}L").as("a"))
        .localCheckpoint(true)
      unpersistSnapshot(aRaw)
      if (auths != null) unpersistSnapshot(auths)
      val hObs = Observation()
      val hRaw = e.join(aN, e("dst") === aN("node"))
        .groupBy(e("src").as("hnode")).agg(sum(col("a")).as("hs"))
        .observe(hObs, coalesce(sum(col("hs")), lit(0L)).as("s"))
        .localCheckpoint(true)
      val hSum = hObs.get("s").asInstanceOf[Long]
      val hN = nodes.join(hRaw, nodes("node") === hRaw("hnode"), "left")
        .select(col("node"),
          expr(s"coalesce(hs, 0L) * ${scale}L div ${math.max(hSum, 1L)}L").as("h"))
        .localCheckpoint(true)
      unpersistSnapshot(hRaw)
      unpersistSnapshot(hubs)
      auths = aN
      hubs = hN
    }
    hubs.join(auths.withColumnRenamed("a", "auth"), Seq("node"))
      .select(col("node"), col("h").as("hub"), col("auth"))
  }

  /** [[hitsShuffle]]'s recurrence over driver-resident state: one job
    * per half-step. */
  private def hitsDriver(g: SlotGraph, iters: Int, scale: Long): DataFrame = {
    def normalize(raw: Array[Long]): Array[Long] = {
      val d = math.max(raw.foldLeft(0L)((a, b) => Math.addExact(a, b)), 1L)
      raw.map(x => Math.multiplyExact(x, scale) / d)
    }
    var hub = Array.fill(g.nodes.length)(1L)
    var auth: Array[Long] = null
    for (_ <- 1 to iters) {
      auth = normalize(g.sums(hub, toDst = true))
      hub = normalize(g.sums(auth, toDst = false))
    }
    g.frame("hub" -> hub, "auth" -> auth)
  }

  /** The one entry of the rank and triangle kernels: builds the
    * driver-resident [[SlotGraph]] when the node count is within
    * [[BroadcastNodeEntries]] and the edge count within `maxEdges`, and
    * runs `driver` on it (releasing its storage before returning), else
    * runs `shuffle`. */
  private def slotKernel(edges: DataFrame, maxEdges: Long = Long.MaxValue)(
      driver: SlotGraph => DataFrame)(shuffle: => DataFrame): DataFrame =
    slotGraph(edges, maxEdges).fold(shuffle) { g => try driver(g) finally g.release() }

  /** Deduplicates the `src`/`dst` edges (one job: the SQL aggregate's
    * shuffle-map stage, run when its RDD is taken), counts nodes and
    * edges (one job) and, at or below [[BroadcastNodeEntries]] nodes and
    * `maxEdges` edges, collects node ids and out-degrees (one job) and
    * declares the slot-encoded edge RDD, persisted by the first job
    * that reads it. Later jobs re-read the dedup's shuffle output, so
    * the input is scanned once. The dedup stays in SQL: an RDD
    * `distinct` of tuples measured 2× slower (Java-serialized shuffle,
    * re-aggregated by every reader). `None` above either gate, where
    * the shuffle kernel re-derives its own edge and degree tables: the
    * count costs one extra edge pass there, next to the kernel's own
    * shuffle joins. */
  private def slotGraph(edges: DataFrame, maxEdges: Long): Option[SlotGraph] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges
      .select(col("src").cast("long"), col("dst").cast("long")).distinct()
      .as[(Long, Long)].rdd
    // (node, outdeg): every endpoint once, sinks at 0
    val degs = pairs.flatMap { case (u, v) => Iterator((u, 1L), (v, 0L)) }
      .reduceByKey(_ + _)
    val (n, m) = degs.aggregate((0L, 0L))(
      (acc, kv) => (acc._1 + 1L, acc._2 + kv._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n > BroadcastNodeEntries || m > maxEdges) None
    else {
      // one primitive (ids, degrees) pair per partition, never a row per node
      val parts = degs.mapPartitions { it =>
        val ids = new mutable.ArrayBuilder.ofLong
        val ds = new mutable.ArrayBuilder.ofLong
        it.foreach { case (u, d) => ids += u; ds += d }
        Iterator((ids.result(), ds.result()))
      }.collect()
      val nodes = parts.flatMap(_._1)
      java.util.Arrays.sort(nodes)
      val outdeg = new Array[Long](nodes.length)
      for ((ids, ds) <- parts; i <- ids.indices)
        outdeg(java.util.Arrays.binarySearch(nodes, ids(i))) = ds(i)
      val bcNodes = spark.sparkContext.broadcast(nodes)
      // a round costs O(n) per edge partition (its dense partial), so
      // keep partitions ≤ |E| / n: the per-round traffic stays O(|E|)
      val p = math.max(1L, math.min(pairs.getNumPartitions.toLong, m / math.max(n, 1L)))
      val slots = pairs.coalesce(p.toInt).mapPartitions { it =>
        val nd = bcNodes.value
        val b = new mutable.ArrayBuilder.ofLong
        it.foreach { case (u, v) =>
          b += (java.util.Arrays.binarySearch(nd, u).toLong << 32) |
            java.util.Arrays.binarySearch(nd, v)
        }
        Iterator(b.result())
      }.persist(StorageLevel.MEMORY_AND_DISK)
      Some(new SlotGraph(spark, nodes, outdeg, bcNodes, slots))
    }
  }

  /** A graph of at most [[BroadcastNodeEntries]] nodes in driver form:
    * node ids sorted into a primitive array (slot = index), per-slot
    * out-degrees, and the deduplicated edges persisted as packed
    * `src slot << 32 | dst slot` longs, one array per partition. */
  private final class SlotGraph(spark: SparkSession, val nodes: Array[Long],
                                val outdeg: Array[Long],
                                bcNodes: Broadcast[Array[Long]],
                                slots: RDD[Array[Long]]) {

    /** ONE job: for every edge (u, v), adds `vec(u)` at v (`toDst`)
      * or `vec(v)` at u. `vec` ships as one broadcast, destroyed once
      * the sums are back. */
    def sums(vec: Array[Long], toDst: Boolean): Array[Long] = {
      val bc = spark.sparkContext.broadcast(vec)
      val len = nodes.length
      try perSlot { packed =>
        val v = bc.value
        val acc = new Array[Long](len)
        var i = 0
        while (i < packed.length) {
          val u = (packed(i) >>> 32).toInt
          val w = packed(i).toInt
          if (toDst) acc(w) = Math.addExact(acc(w), v(u))
          else acc(u) = Math.addExact(acc(u), v(w))
          i += 1
        }
        acc
      } finally bc.destroy()
    }

    /** ONE job: `partial` maps each non-empty partition's packed edges
      * to a dense per-slot array, and `treeReduce` adds them up. */
    private def perSlot(partial: Array[Long] => Array[Long]): Array[Long] =
      if (nodes.isEmpty) new Array[Long](0)
      else slots.flatMap(p => if (p.isEmpty) None else Some(partial(p))).treeReduce(addInto)

    /** TWO jobs: (node, n_triangles) for the nodes in a triangle. One
      * job collects the packed edges (persisting them); the driver
      * orients each edge by (undirected degree, slot) — slot order is
      * node-id order, so this is the shuffle regime's (deg, id) order —
      * or keeps its direction (`orient` = false), and builds the sorted
      * oriented adjacency as two primitive arrays: `off`, per-slot
      * offsets into `flat`, the out-neighbor slots. One narrow job over
      * the persisted edge partitions then two-pointer-intersects both
      * endpoints' lists per edge. */
    def triangles(orient: Boolean): DataFrame = {
      val n = nodes.length
      val parts = slots.collect()
      def eachEdge(f: Long => Unit): Unit = parts.foreach { p =>
        var i = 0
        while (i < p.length) { f(p(i)); i += 1 }
      }
      val deg = new Array[Int](n) // undirected degrees, read only to orient
      if (orient) eachEdge { e => deg((e >>> 32).toInt) += 1; deg(e.toInt) += 1 }
      def tail(e: Long): Int = {
        val u = (e >>> 32).toInt
        val v = e.toInt
        if (!orient || deg(u) < deg(v) || (deg(u) == deg(v) && u < v)) u else v
      }
      // counts per tail, prefix-summed to segment ENDS; the fill walks
      // each segment backwards, leaving off(s) at its start
      val m = parts.iterator.map(_.length).sum
      val off = new Array[Int](n + 1)
      eachEdge(e => off(tail(e)) += 1)
      var s = 1
      while (s < n) { off(s) += off(s - 1); s += 1 }
      off(n) = m
      val flat = new Array[Int](m)
      eachEdge { e =>
        val t = tail(e)
        off(t) -= 1
        flat(off(t)) = if (t == (e >>> 32).toInt) e.toInt else (e >>> 32).toInt
      }
      s = 0
      while (s < n) { java.util.Arrays.sort(flat, off(s), off(s + 1)); s += 1 }
      val sc = spark.sparkContext
      val bcOff = sc.broadcast(off)
      val bcFlat = sc.broadcast(flat)
      val counts =
        try perSlot { packed =>
          val of = bcOff.value
          val fl = bcFlat.value
          val acc = new Array[Long](of.length - 1)
          var k = 0
          while (k < packed.length) {
            // every common out-neighbor w closes {u, v, w}; the
            // intersection is the same whichever end is the tail
            val u = (packed(k) >>> 32).toInt
            val v = packed(k).toInt
            var i = of(u); val iEnd = of(u + 1)
            var j = of(v); val jEnd = of(v + 1)
            var hits = 0L
            while (i < iEnd && j < jEnd) {
              val a = fl(i); val b = fl(j)
              if (a == b) { acc(a) += 1L; hits += 1L; i += 1; j += 1 }
              else if (a < b) i += 1
              else j += 1
            }
            if (hits > 0L) { acc(u) += hits; acc(v) += hits }
            k += 1
          }
          acc
        } finally { bcOff.destroy(); bcFlat.destroy() }
      frame("n_triangles" -> counts).where(col("n_triangles") > 0L)
    }

    /** ONE job: (node, rep) with rep the minimum node id of the node's
      * connected component. Collects the packed edges and unions their
      * endpoints in an `Int` parent array whose roots are each set's
      * minimum slot — slot order is node-id order, so the root slot
      * holds the minimum id. Linking the larger root under the smaller
      * and path halving keep `parent(s) <= s`, so one ascending pass
      * resolves every slot to its root. */
    def components(): DataFrame = {
      val n = nodes.length
      val parent = Array.tabulate(n)(identity)
      def root(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      slots.collect().foreach { p =>
        var i = 0
        while (i < p.length) {
          val a = root((p(i) >>> 32).toInt)
          val b = root(p(i).toInt)
          if (a < b) parent(b) = a else if (b < a) parent(a) = b
          i += 1
        }
      }
      val rep = new Array[Long](n)
      var s = 0
      while (s < n) { parent(s) = parent(parent(s)); rep(s) = nodes(parent(s)); s += 1 }
      frame("rep" -> rep)
    }

    /** The driver arrays as (node, cols…) rows: `parallelize` over
      * primitive chunks, so the plan is one RDD scan whatever n is (a
      * LocalRelation would inline every row into the plan). */
    def frame(cols: (String, Array[Long])*): DataFrame = {
      val chunk = 1 << 20
      val chunks = (0 until nodes.length by chunk).map { lo =>
        val hi = math.min(lo + chunk, nodes.length)
        (nodes.slice(lo, hi), cols.map(_._2.slice(lo, hi)).toArray)
      }
      val rows = spark.sparkContext.parallelize(chunks, math.max(chunks.size, 1))
        .flatMap { case (ids, vs) =>
          ids.indices.iterator.map(i => Row.fromSeq(ids(i) +: vs.toSeq.map(_(i))))
        }
      spark.createDataFrame(rows, StructType(("node" +: cols.map(_._1))
        .map(StructField(_, LongType, nullable = false))))
    }

    def release(): Unit = {
      slots.unpersist(blocking = false)
      bcNodes.destroy()
    }
  }

  /** Element-wise overflow-checked `a += b`. */
  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  /** Per-node triangle counts over an UNDIRECTED graph — the local
    * clustering / spam-farm signal next to PageRank's authority.
    *
    * Plan is degree-ordered orientation (Suri & Vassilvitskii WWW'11)
    * combined with EDGE-LOCAL adjacency intersection (Cohen's
    * MapReduce triangle join): orient each edge from its (degree,
    * id)-smaller endpoint — capping every out-degree at O(√m) even on
    * hub-heavy distributions — then for the oriented edge u→v count
    * the sorted intersection N⁺(u)∩N⁺(v): every common w closes the
    * triangle {u,v,w} exactly once (u→v is its unique base edge), so
    * per-edge work is O(|N⁺(u)|+|N⁺(v)|) and the O(m^{3/2}) wedge set
    * is never materialized (the pre-round-8 wedge join measured 16 s
    * on the 1.2 M-edge co-purchase graph; the intersection, 4 s).
    *
    * Two regimes (see the object doc). At or below
    * [[BroadcastNodeEntries]] nodes and [[BroadcastAdjEntries]] edges,
    * `SlotGraph.triangles`: five Spark jobs, no array ever crossing an
    * exchange (the round-8 all-shuffle kernel moved ~0.6 GB of neighbor
    * arrays through its second join at sf0.1, which thrashed under the
    * driver's 310-query storage pressure: 8 s quiet-local became 51 s
    * in the driver bench). At both gates the driver holds about 290 MB:
    * node ids and out-degrees 64 MB, packed edges 128 MB, neighbor
    * slots 64 MB, offsets and degrees 32 MB. Above either gate,
    * [[triangleCountsShuffle]] — the same intersection as distributed
    * equi joins, unbounded scale-out, higher constant.
    *
    * @param edges undirected; `a`/`b` columns, any integral type.
    *              Self-loops dropped, duplicates (either direction)
    *              collapsed.
    * @return (node LONG, n_triangles LONG) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    slotKernel(canonical(edges), BroadcastAdjEntries)(_.triangles(orient = true))(
      triangleCountsShuffle(edges))

  /** Undirected `a`/`b` edges as (least, greatest) `src`/`dst` LONGs,
    * self-loops dropped; duplicates stay for the caller's dedup. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("a"), col("b")).cast("long").as("src"),
        greatest(col("a"), col("b")).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))

  /** Shuffle regime of [[triangleCounts]]: degrees and orientation as
    * joins, then [[orientedKernelShuffle]]. */
  private[graft] def triangleCountsShuffle(edges: DataFrame): DataFrame = {
    // localCheckpoint, not cache: truncates the caller's (often
    // join-expensive) edge-derivation lineage AND is disk-backed, so
    // storage pressure from a long query sweep can spill it but never
    // force a recompute through the derivation — the round-8 driver
    // regression was exactly that recompute. No CacheManager entry
    // also means a second measured pass re-pays materialization
    // honestly instead of silently reusing pass-1 blocks. The edge
    // count is observed on the checkpoint's own job (a count() of the
    // snapshot would run two more jobs).
    val counted = Observation()
    val und = canonical(edges).distinct()
      .observe(counted, count(lit(1)).as("m"))
      .localCheckpoint(true)
    val m = counted.get("m").asInstanceOf[Long]
    val deg = und.select(col("src").as("node")).union(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total orientation order: (deg, node). Degrees are one row per
    // node — broadcast them below the node-state gate (nodes ≤ 2m, so
    // m ≤ 4M bounds the relation at ~8M rows) so orientation is two
    // map-side hash joins instead of two edge shuffles.
    val degK = if (m <= BroadcastNodeEntries) broadcast(deg) else deg
    val keyed = und
      .join(degK.select(col("node").as("src"), col("deg").as("deg_a")), "src")
      .join(degK.select(col("node").as("dst"), col("deg").as("deg_b")), "dst")
    val o = keyed.select(
        when(struct(col("deg_a"), col("src")) < struct(col("deg_b"), col("dst")),
          struct(col("src"), col("dst")))
          .otherwise(struct(col("dst").as("src"), col("src").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    orientedKernelShuffle(o)
  }

  /** Size gate for the driver-state triangle kernel: oriented
    * adjacency entries = |E|. At 16M edges the driver holds the packed
    * edges (8 B each) and the neighbor slots (4 B each), and the
    * intersection job broadcasts the slots and offsets (~80 MB) —
    * inside a production driver's and executor's budget. Above the
    * gate the all-shuffle intersection plan runs instead (unbounded
    * scale-out, higher constant). */
  private[graft] val BroadcastAdjEntries = 16L * 1000 * 1000

  /** Per-node triangle counts over an already degree-ORIENTED edge
    * list (`src`/`dst` LONG, each undirected edge exactly once,
    * oriented smaller-(deg,id) → larger). Exposed so callers holding a
    * pre-oriented artifact (the bucketed co-purchase layout: degrees
    * stored per row, orientation = one narrow filter) can skip the
    * degree aggregation and orientation entirely. Same gates and driver
    * bytes as [[triangleCounts]]; inside them `SlotGraph.triangles` keeps
    * each edge's given direction, above them [[orientedKernelShuffle]]
    * runs. */
  def triangleCountsOriented(o: DataFrame): DataFrame =
    slotKernel(o, BroadcastAdjEntries)(_.triangles(orient = false))(
      orientedKernelShuffle(o))

  /** All-shuffle intersection kernel (the unbounded-scale path): edge
    * rows carry both endpoints' neighbor lists through equi joins and
    * count the sorted intersection — per-edge work O(|N⁺(u)|+|N⁺(v)|),
    * wedge volume never materialized. */
  private[graft] def orientedKernelShuffle(o0: DataFrame): DataFrame = {
    val o = o0.localCheckpoint(true) // three consumers below
    // oriented adjacency (sorted for run-to-run determinism of the
    // intermediate; counts are order-free)
    val adj = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // inner joins are lossless here: an edge whose dst has no
    // out-neighbors can close no triangle (its intersection is empty)
    val perEdge = o
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .select(col("src"), col("dst"),
        array_intersect(col("na"), col("nb")).as("cw"))
      .where(size(col("cw")) > 0)
    // triangle {u,v,w} adds 1 at each corner: u and v once per element
    // of their base edge's intersection, each w once per base edge
    val u = perEdge.select(col("src").as("node"),
      size(col("cw")).cast("long").as("c"))
    val v = perEdge.select(col("dst").as("node"),
      size(col("cw")).cast("long").as("c"))
    val w = perEdge.select(explode(col("cw")).as("node"), lit(1L).as("c"))
    u.unionAll(v).unionAll(w)
      .groupBy(col("node")).agg(sum(col("c")).as("n_triangles"))
  }

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) with a
    * deterministic tie-break: every node starts labeled with its own
    * id; each round, every node simultaneously adopts the label held
    * by the MOST neighbors, ties to the SMALLEST label. Synchronous +
    * deterministic-tie makes the fixed-round result a pure function
    * of the edge set — replayable by any engine computing the same
    * unrolled recurrence (the asynchronous/random-tie variant in the
    * original paper is not oracle-checkable; community QUALITY is
    * equivalent, cf. the paper's own synchronous discussion).
    *
    * Shape per round: one labels ⋈ edges shuffle join, one
    * (node, label) count agg, one per-node argmax via a max-struct
    * partial agg (count, then negated label — no row_number window
    * over the big frame). Same BSP cache hygiene as [[randomWalkShuffle]]:
    * each round's labels are cached and the previous unpersisted, so
    * round i+1 never recomputes round i.
    *
    * @param edges undirected input; `src`/`dst` columns, any integral
    *              type. Symmetrized + deduped internally.
    * @return (node LONG, community LONG) for every node with ≥1 edge.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    labelPropagationSym(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().cache(), iters)
  }

  /** [[labelPropagation]] over an already-SYMMETRIZED simple adjacency
    * (`src`/`dst` LONG, both directions present, no self-loops or
    * duplicates) — the entry for callers holding the bucketed
    * co-purchase artifact ([[kCoreSym]]'s contract): the symmetrize
    * union + distinct disappear, the label-init distinct and every
    * per-round neighbor count group on the bucket key, and the
    * adjacency is re-read from the bucketed scan each round instead of
    * holding a session cache. */
  def labelPropagationSym(sym: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val e = sym.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // node-label broadcast gate (see [[bcGate]]): below the gate
    // each round ships the label table to the adjacency, so the
    // bucketed scan's hash partitioning on src survives the join and
    // BOTH per-round aggregations (groupBy(src,lbl), then groupBy(src))
    // run exchange-free — zero |E|-row shuffles per round. Above the
    // gate the original shuffle-join plan runs unchanged.
    val nodes0 = e.select(col("src").as("node")).distinct()
    val bc = bcGate(nodes0.count())
    var labels = nodes0.withColumn("lbl", col("node"))
    var prevSnap: DataFrame = null
    for (_ <- 1 to iters) {
      // eager localCheckpoint round snapshot + previous-round release
      // — see randomWalkShuffle
      val cur = labels.localCheckpoint(true)
      if (prevSnap != null) unpersistSnapshot(prevSnap)
      prevSnap = cur
      val best = e
        .join(bc(cur.select(col("node").as("dst"), col("lbl"))), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
      labels = cur.select(col("node"), col("lbl").as("prev"))
        .join(bc(best), Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("prev")).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Exact minimum-hop BFS distances from `source` over the
    * undirected view of the edge list, bounded to `maxHops` rounds —
    * the landmark-distance kernel (graph feature engineering,
    * crawl-depth analysis, friend-of-friend reach).
    *
    * Frontier formulation, not whole-set relaxation: round k joins
    * ONLY the nodes first discovered at k−1 against the edge list and
    * anti-joins the already-seen set, so per-round work is
    * O(edges touched by the frontier) — the Pregel/BSP shape — instead
    * of re-relaxing every settled node each round the way a naive
    * `min(dist)` fixpoint does. Same cache hygiene as the other
    * iterative kernels here: materialize each round, unpersist the
    * superseded one, so round k never recomputes round k−1's lineage.
    *
    * @return (node LONG, dist LONG) for every node within `maxHops`
    *         of `source` (the source itself at dist 0). */
  /** Bounded Bellman–Ford: exact shortest-path WEIGHT from `source`
    * within `rounds` relaxation rounds over the undirected weighted
    * edge list — the min-plus sibling of [[bfsDistances]] (hop counts
    * are the w ≡ 1 special case; real weights need whole-set
    * relaxation because a settled node can still improve through a
    * longer-but-lighter path, which is why this does NOT use the BFS
    * frontier optimization).
    *
    * Per round: one dist⋈edges shuffle join + one min-by-node key
    * shuffle — the standard distributed Bellman–Ford plan; same cache
    * hygiene as the other iterative kernels. Parallel edges collapse
    * to their min weight up front.
    *
    * @param edges columns `src`, `dst`, `w` (integral weights).
    * @return (node LONG, dist LONG) for nodes reachable within
    *         `rounds` edges of `source`. */
  def sssp(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 0)
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .cache()
    // node-state broadcast gate (round-12, r11 ADVICE): the per-round
    // `dist` table is one row per reached node, bounded by |V|. In the
    // SYMMETRIZED edge table every node appears as src at least once,
    // so |E| ≥ |V| and gating the edge count against the NODE-state
    // threshold is a conservative-safe node bound — broadcast fires
    // only when even |E| fits the row-relation budget, and no extra
    // count job runs (the count also materializes the cache; an exact
    // distinct-node count was measured at +0.3-0.5 s/query at sf0.1).
    val bc = bcGate(e.count())
    // attribute-derived seed — see bfsDistances
    var dist = e.sparkSession.range(1)
      .select((col("id") + lit(source)).as("node"), col("id").as("dist"))
    var prevSnap: DataFrame = null
    for (_ <- 1 to rounds) {
      // eager localCheckpoint round snapshot + previous-round release
      // — see randomWalkShuffle
      val cur = dist.localCheckpoint(true)
      if (prevSnap != null) unpersistSnapshot(prevSnap)
      prevSnap = cur
      val relaxed = e.join(bc(cur.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = cur.select(col("node"), col("dist")).union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    dist
  }

  def bfsDistances(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    // the seed's node column derives from range's id ATTRIBUTE (id +
    // source, id = 0), not a literal: an all-literal seed would
    // constant-fold the first frontier join's key and degenerate it to
    // a BroadcastNestedLoopJoin (the q92 constant-fold effect)
    var seen = e.sparkSession.range(1)
      .select((col("id") + lit(source)).as("node"), col("id").as("dist"))
    var frontier = seen
    // frontier/seen broadcast gate (round-12, r11 ADVICE): the
    // cumulative `seen` set grows to |V| rows. |E| ≥ |V| in the
    // symmetrized table (every node occurs as src), so the edge count
    // against the NODE-state threshold is a conservative-safe bound on
    // everything broadcast in the loop — no extra count job (see sssp).
    val bc = bcGate(e.count())
    var prevS: DataFrame = null
    var prevF: DataFrame = null
    for (k <- 1 to maxHops) {
      // eager localCheckpoint round snapshots + previous-round release
      // — see randomWalkShuffle (both of this round's snapshots read both
      // of the previous round's, so the release waits for the pair)
      val s = seen.localCheckpoint(true)
      val f = frontier.localCheckpoint(true)
      if (prevS != null) { unpersistSnapshot(prevS); unpersistSnapshot(prevF) }
      prevS = s; prevF = f
      val fresh = e.join(bc(f.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
        .join(bc(s), Seq("node"), "left_anti")
        .withColumn("dist", lit(k.toLong))
      seen = s.union(fresh)
      frontier = fresh
    }
    seen
  }

  /** Bounded k-CORE peel (Seidman 1983's coreness; the Matula–Beck /
    * distributed "peeling" formulation): repeatedly delete every node
    * with degree < k, `rounds` times, over the undirected simple view
    * of the edge list. The survivors of the converged peel are the
    * k-core — the standard density filter for graph-shaped corpora
    * (link-farm detection, community seeding, co-occurrence noise
    * trimming). Bounding the rounds keeps the recurrence unrollable
    * and oracle-checkable (the q105/q168/q176 discipline); once a
    * round deletes nothing the remaining rounds are no-ops, so with
    * enough rounds the output IS the exact k-core.
    *
    * Each round is ONE (node) key shuffle for degrees + two semi
    * joins restricting the adjacency — the BSP shape, O(E) per round,
    * with the same cache hygiene as the other iterative kernels here
    * (materialize the new adjacency, then unpersist the superseded
    * one).
    *
    * @return (node, deg) for surviving nodes — deg is the degree
    *         WITHIN the surviving subgraph. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    kCoreSym(e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct(), k, rounds)
  }

  /** [[kCore]] over an already-SYMMETRIZED simple adjacency (`u`/`v`
    * LONG, both directions present, no self-loops/duplicates) — the
    * entry for callers holding the bucketed co-purchase artifact,
    * whose first-round degree agg and semi join are then exchange-free
    * on the bucket key. */
  def kCoreSym(sym: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // eager localCheckpoint round snapshots, NOT a cache chain (the
    // q204 lesson applied to the peel): each cached round kept lineage
    // chaining back through every previous round, so one eviction
    // mid-sweep forced a recompute through the whole peel history —
    // exactly the storage-pressure sensitivity the round-9 driver bench
    // showed on q197 (9.9 s driver vs 4.9 s quiet local). The snapshot
    // is disk-backed: pressure can spill it, never recompute it. Each
    // snapshot's row count is observed on its own checkpoint job (a
    // count() of it would be one more job per snapshot).
    val counted = Observation()
    var adj = sym.observe(counted, count(lit(1)).as("n")).localCheckpoint(true)
    var size = counted.get("n").asInstanceOf[Long]
    // the per-round survivor set is one row per node — below the gate
    // both restriction semi joins become map-side hash joins and no
    // |E|-row exchange remains in the round (see [[bcGate]]).
    // Round-12: survivors ≤ |V| ≤ |sym rows| (every node appears as
    // u), so the adjacency count against the NODE-state threshold is
    // a conservative-safe node bound with no extra count job
    val bc = bcGate(size)
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val keep = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
        .localCheckpoint(true) // consumed by BOTH semi joins below
      val nextCounted = Observation()
      val next = adj.join(bc(keep), Seq("u"), "left_semi")
        .join(bc(keep.select(col("u").as("v"))), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .observe(nextCounted, count(lit(1)).as("n")).localCheckpoint(true)
      val nextSize = nextCounted.get("n").asInstanceOf[Long]
      unpersistSnapshot(keep) // dead once `next` is materialized
      if (nextSize == size) {
        // fixpoint: every remaining round is a no-op — skip them (the
        // result is IDENTICAL to running all `rounds`, just cheaper);
        // the identical-content `next` snapshot is dead — free it
        unpersistSnapshot(next)
        converged = true
      } else {
        // previous round's peel snapshot is dead once `next` counted
        unpersistSnapshot(adj)
        adj = next
        size = nextSize
      }
    }
    val out = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy(col("node"))
    out
  }

  /** LINK PREDICTION by common-neighbor scoring (Liben-Nowell &
    * Kleinberg, CIKM 2003): for every NON-adjacent pair (a < b) that
    * shares at least one common neighbor w with deg(w) ≤ `hubCap`,
    * reports
    *   - cn       — # common neighbors over the capped neighbor set,
    *   - aa9      — Adamic–Adar Σ_w 1/ln deg(w), kept EXACT: ln deg(w)
    *                is rounded to 9 decimals and scaled to a long (the
    *                standing cross-engine libm guard — the ONLY float
    *                step), the reciprocal is the exact integer
    *                division 10¹⁸ div ln9 (truncation ≡ DuckDB `//`
    *                on non-negatives), and the pair score is an exact
    *                long sum of those per-neighbor weights,
    *   - jaccard9 — round(cn / (deg_a + deg_b − cn), 9) over FULL
    *                (uncapped) degrees.
    * Returns the global top-`k` by (aa9 DESC, a, b) — a fully
    * deterministic TakeOrdered boundary.
    *
    * The hub cap is the standard scale lever for this operator (a hub
    * contributes ~1/ln(huge) ≈ 0 signal but deg² candidate pairs): the
    * per-neighbor fan-out is bounded by hubCap², so the candidate join
    * is O(Σ_w min(deg w, hubCap)²) regardless of skew. With `adj` read
    * from the bucketed co-purchase artifact both sides of the
    * wedge self-join arrive hash-partitioned on w — no Exchange before
    * the join — and the only shuffles are the pair agg and the
    * existing-edge anti join.
    *
    * @param adj symmetric simple adjacency (u, v, deg_u, deg_v) — both
    *            directions present, no self-loops/duplicates, degrees
    *            riding on the row (the co-purchase artifact contract).
    * @return (a, b, cn, aa9, jaccard9) — top-k predicted links. */
  def linkPrediction(adj: DataFrame, hubCap: Long, k: Int): DataFrame = {
    // per-row Adamic–Adar weight of the CENTER node w = u: exact
    // integer 10^18 div ln9(deg_w); pairs only exist for deg_w >= 2,
    // so ln9 > 0 wherever the division runs (guarded anyway).
    val thru = adj.filter(col("deg_u") <= hubCap && col("deg_u") >= 2L)
      .withColumn("_ln9", graft.util.Exact.scaled(
        round(log(col("deg_u").cast("double")), 9), 9))
      .withColumn("_w9", expr("1000000000000000000 div _ln9"))
    val t1 = thru.select(col("u").as("w"), col("v").as("a"),
      col("deg_v").as("deg_a"), col("_w9"))
    val t2 = thru.select(col("u").as("w"), col("v").as("b"),
      col("deg_v").as("deg_b"))
    val pairs = t1.join(t2, t1("w") === t2("w") && col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"), sum(col("_w9")).as("aa9"),
        first(col("deg_a")).as("deg_a"), first(col("deg_b")).as("deg_b"))
    pairs
      .join(adj.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("cn"), col("aa9"),
        round(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"), 9)
          .as("jaccard9"))
      .orderBy(col("aa9").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Newman–Girvan MODULARITY decomposition of a community assignment
    * ("Finding and evaluating community structure in networks", Phys.
    * Rev. E 69, 2004): per community c, Q_c = e_c/m − (d_c/2m)² where
    * e_c = intra-community edges, d_c = Σ member degrees, m = |E| —
    * the standard "was this clustering better than chance" score for
    * [[labelPropagation]]'s output. Everything is kept EXACT: the
    * per-community numerator 4·m·e_c − d_c² is integer (Q_c times the
    * constant 4m², so community ranking and the global sum replay
    * cross-engine bit-for-bit); Q itself is one double division at
    * the end. Overflow headroom: d_c ≤ 2m, so the numerator is
    * bounded by 4m² — safe in a long up to m ≈ 1.5·10⁹ edges, far
    * past any per-partition community scale (shard the graph first,
    * as every modularity pipeline at 100 TB does).
    *
    * Shape: one distinct on the edge list, one degree agg, two
    * broadcast-size joins of (node → community), one per-community
    * agg, and the 1-row m scalar attached by cross join (the
    * scalar-subquery class). Never a pair join.
    *
    * @param edges undirected; `src`/`dst`, any integral type.
    *              Symmetrized + deduped internally.
    * @param communities (node, community) as produced by
    *                    [[labelPropagation]].
    * @return one row per community: (community, n_nodes, intra_edges,
    *         total_deg, contrib_num = 4·m·e_c − d_c², m). */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().cache()
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    modularityCore(und, deg, m, communities)
  }

  /** [[modularity]] over an already-SYMMETRIZED simple adjacency
    * (`u`/`v` LONG, both directions, no self-loops/duplicates — the
    * bucketed co-purchase artifact contract): the single-direction
    * edge list is a narrow `u < v` filter (no least/greatest distinct
    * shuffle) and degrees group directly on the bucket key — zero
    * Exchange before the first aggregation when `sym` is the bucketed
    * scan. */
  def modularitySym(sym: DataFrame, communities: DataFrame): DataFrame = {
    val s = sym.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val und = s.filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
    val m = und.agg(count(lit(1)).as("m"))
    val deg = s.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    modularityCore(und, deg, m, communities)
  }

  private def modularityCore(und: DataFrame, deg: DataFrame, m: DataFrame,
                             communities: DataFrame): DataFrame = {
    // The community table is consumed THREE times below (deg join +
    // both endpoints of the intra join); before round 11 each
    // consumer re-evaluated the whole upstream plan — for q307 that
    // re-ran the final label-propagation round twice more. One eager
    // node-sized snapshot + the broadcast gate (see [[bcGate]])
    // turns the endpoint joins map-side, so the edge list never
    // crosses an exchange before the community-keyed aggregation.
    val comm = communities.select(col("node"), col("community"))
      .localCheckpoint(true)
    val bc = bcGate(comm.count())
    val dc = deg.join(bc(comm), Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("total_deg"))
    val intra = und
      .join(bc(comm.select(col("node").as("a"), col("community").as("ca"))), "a")
      .join(bc(comm.select(col("node").as("b"), col("community").as("cb"))), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    dc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("total_deg"),
        (lit(4L) * col("m") * coalesce(col("intra_edges"), lit(0L))
          - col("total_deg") * col("total_deg")).as("contrib_num"),
        col("m"))
  }

  /** Connected components of an undirected pair list — the dedup-group
    * step (near-dup pairs → keep-one groups) and the grid-density
    * cell closure.
    *
    * Two regimes (see the object doc). At or below
    * [[BroadcastNodeEntries]] nodes and [[BroadcastAdjEntries]] edges,
    * `SlotGraph.components`: four Spark jobs (dedup, node and edge
    * counts, node ids, packed edges), then a driver union-find; the
    * driver holds about 240 MB at both gates (node ids and out-degrees
    * 64 MB, packed edges 128 MB, parents and labels 48 MB). Above
    * either gate, [[connectedComponentsStars]].
    *
    * @param pairs undirected pairs with `src`/`dst` columns (any
    *              integral type); duplicates (either direction) and
    *              self-loops tolerated.
    * @return (doc_id LONG, rep_id LONG) for every node in ≥1 pair that
    *         is not a self-loop, rep = component minimum.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    slotKernel(pairs.where(col("src") =!= col("dst")), BroadcastAdjEntries)(
      _.components().select(col("node").as("doc_id"), col("rep").as("rep_id")))(
      connectedComponentsStars(pairs))

  /** Shuffle regime of [[connectedComponents]]: alternating LARGE-STAR
    * / SMALL-STAR rounds — the Kiveris–Lattanzi–Mirrokni–Rastogi–
    * Vassilvitskii algorithm ("Connected Components in MapReduce and
    * Beyond", SoCC 2014), the published web-scale CC method. Where a
    * min-label BSP needs O(diameter) rounds (pointer doubling helps
    * but labels still walk the graph), star contraction converges in
    * O(log² n) rounds on ANY topology — the difference between 20 and
    * 60 shuffles on a 100 TB path-shaped crawl graph.
    *
    * Per round, on the current edge multiset E (self-loops dropped):
    *  - large-star: for each node u with neighborhood Γ(u) over the
    *    symmetrized E, m = min(Γ(u) ∪ {u}); emit (v, m) for every
    *    v ∈ Γ(u) with v > u — strictly-larger neighbors re-attach to
    *    the local minimum;
    *  - small-star: orient every edge (larger → smaller), m = min
    *    neighbor of each larger endpoint u; emit (u, m) and (v, m)
    *    for the other small neighbors v ≠ m.
    * Both phases preserve connectivity exactly (each emitted edge
    * stays within u's component; each dropped edge is implied by two
    * emitted ones) and never emit self-loops. The fixpoint is a star
    * forest: every node points at its component minimum.
    *
    * Plan shape per round: one groupBy key shuffle for the mins + one
    * shuffle join to re-attach + distinct — all equi ops, O(E) each,
    * no node ever sees more than its own neighborhood. ONE action per
    * round: the convergence probe is a (count, xxhash64-sum) edge-set
    * fingerprint folded into the same aggregate that materializes the
    * round's cache ([[kCore]]'s hygiene: new set cached, superseded
    * set unpersisted).
    *
    * @param pairs undirected pair list with `src`/`dst` columns (any
    *              integral type); duplicates/self-loops tolerated.
    * @param maxRounds round bound; a graph still changing after it
    *              fails loudly rather than emit a non-star labeling.
    * @return [[connectedComponents]]' output (equality of the regimes
    *         pinned in GraphSpec).
    */
  private[graft] def connectedComponentsStars(pairs: DataFrame,
                                              maxRounds: Int = 50): DataFrame = {
    val e0 = pairs.select(col("src").cast("long").as("u"),
        col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    var e = e0.distinct().cache()
    var fp = fingerprint(e)
    // per-node min tables (lMin/sMin) ride the broadcast gate (see
    // [[bcGate]]); edge count only shrinks across rounds, so gating
    // once on the initial count is conservative
    val bc = bcGate(fp._1)
    var converged = false
    for (_ <- 1 to maxRounds if !converged) {
      // large-star: strictly-larger neighbors hop to the local min
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lMin = sym.groupBy(col("u").as("c"))
        .agg(min(col("v")).as("nmin"))
        .select(col("c"), least(col("c"), col("nmin")).as("m"))
      val large = sym.join(bc(lMin), sym("u") === lMin("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: orient larger→smaller, small neighbors join min.
      // Snapshot the orientation ONCE: it feeds both sMin and the
      // re-attach join below — unmaterialized, the whole large-star
      // phase (join + distinct) re-evaluated under each consumer
      // (guide §1.2), doubling every round's heavy work.
      val oriented = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).localCheckpoint(true)
      val sMin = oriented.groupBy(col("u").as("c")).agg(min(col("v")).as("m"))
      // eager localCheckpoint = materialize AND truncate lineage: the
      // loop body references `e` three times, so without truncation
      // the analyzed plan grows 3× per round — exponential in rounds.
      // (On a multi-node cluster this would be a reliable checkpoint
      // to the cluster FS every few rounds — see [[unpersistSnapshot]].)
      val small = oriented.join(bc(sMin), oriented("u") === sMin("c"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(sMin.select(col("c").as("u"), col("m").as("v")))
        .distinct().localCheckpoint(true)
      val nextFp = fingerprint(small) // O(1) rows back off the checkpoint
      unpersistSnapshot(oriented) // dead once `small` is materialized
      // unpersistSnapshot, not Dataset.unpersist (round-11): the
      // latter only touches the SQL cache, so every round's checkpoint
      // blocks were silently retained despite the unpersist call here
      if (nextFp == fp) {
        unpersistSnapshot(small)
        converged = true
      } else {
        unpersistSnapshot(e)
        e = small
        fp = nextFp
      }
    }
    if (!converged) {
      unpersistSnapshot(e)
      throw new IllegalStateException(
        s"connectedComponentsStars: no fixpoint within maxRounds = $maxRounds")
    }
    // fixpoint is a star forest oriented child→root: children appear
    // exactly once as u; roots only as v (label = themselves)
    val out = e.select(col("u").as("doc_id"), col("v").as("rep_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("rep_id")))
      .distinct()
    e.unpersist(blocking = false)
    out
  }

  /** O(1)-row edge-set fingerprint: (n, XOR of xxhash64(u,v)) — XOR is
    * order-independent and overflow-free under ANSI mode, and the
    * edges are distinct, so equal sets always match; a collision
    * between DIFFERENT consecutive rounds would need the hash fold AND
    * count to coincide (≪ 2⁻⁶⁴ per round), and the worst case is one
    * early stop, never a wrong label. */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** STRONGLY CONNECTED COMPONENTS of a directed graph — the directed
    * sibling of the stars-CC closure (Tarjan, SIAM J. Comput. 1972):
    * per node, the component labeled by its MINIMUM member id plus the
    * component size. Mutual reachability is what undirected CC cannot
    * express — the cycling core of a behavioral transition graph vs
    * its one-way periphery.
    *
    * Scale shape (the q204 triangle-staging discipline): the 100 TB
    * work is the CALLER's edge distillation — e.g. condensing an
    * event log to the top-k-successor graph bounds edges at k·|V| by
    * construction, two key shuffles, see q361 — and the closure here
    * runs on that CONDENSED graph: edges stream to the driver via
    * toLocalIterator into flat primitive CSR arrays (8 B/node ids +
    * 4 B/node offsets + 4 B/edge slots; one boxed shuffle partition
    * live at a time), then ONE iterative O(V+E) Tarjan pass labels
    * every component. Tarjan is inherently sequential DFS — a BSP
    * formulation (forward-backward / coloring) pays its rounds in
    * full shuffles of the SAME edge set, a bad trade below hundreds
    * of millions of condensed edges; the loud `maxEdges` gate keeps
    * the driver transient explicit (~1 GB at the 5·10⁷ default).
    *
    * @param edges directed (src, dst) rows; self-loops and duplicates
    *              tolerated (deduped; a self-loop never changes SCCs).
    * @return one row per node of the edge set: (node, scc_id,
    *         scc_size), scc_id = min member id. */
  def sccCondensation(edges: DataFrame,
                      maxEdges: Long = 50000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct().localCheckpoint(true) // consumed thrice below
    // self-loops drop from the CSR (they never change SCCs) but their
    // endpoints STAY in the node universe — a self-loop-only node is
    // a 1-node component, not an absent row
    val e = e0.filter(col("src") =!= col("dst"))
    val m = e.count()
    require(m <= maxEdges,
      s"sccCondensation: $m condensed edges exceed the driver-staging " +
        s"gate $maxEdges — distill the graph further (top-k successors " +
        "or a min-count threshold) before the closure")
    val nodes = e0.select(col("src").as("n"))
      .union(e0.select(col("dst").as("n")))
      .distinct().orderBy(col("n")).as[Long].collect()
    val n = nodes.length
    // CSR build: two streamed passes over the checkpointed edge set
    val off = new Array[Int](n + 1)
    locally {
      val deg = new Array[Int](n)
      val it = e.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        deg(java.util.Arrays.binarySearch(nodes, r.getLong(0))) += 1
      }
      var i = 0; while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    }
    val adj = new Array[Int](off(n))
    locally {
      val fill = java.util.Arrays.copyOf(off, n)
      val it = e.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val s = java.util.Arrays.binarySearch(nodes, r.getLong(0))
        adj(fill(s)) = java.util.Arrays.binarySearch(nodes, r.getLong(1))
        fill(s) += 1
      }
    }
    // iterative Tarjan over slot indices (explicit DFS work stack —
    // no recursion, so chain-shaped graphs cannot overflow the JVM
    // stack); compOf(slot) = component ordinal
    val idx = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val compOf = Array.fill(n)(-1)
    val tarjanStk = new Array[Int](n)
    var stkTop = 0
    val workNode = new Array[Int](n + 1)
    val workPtr = new Array[Int](n + 1)
    var counter = 0
    var nComp = 0
    var v = 0
    while (v < n) {
      if (idx(v) < 0) {
        var wTop = 0
        workNode(0) = v; workPtr(0) = off(v)
        idx(v) = counter; low(v) = counter; counter += 1
        tarjanStk(stkTop) = v; stkTop += 1; onStk(v) = true
        while (wTop >= 0) {
          val u = workNode(wTop)
          if (workPtr(wTop) < off(u + 1)) {
            val w = adj(workPtr(wTop))
            workPtr(wTop) += 1
            if (idx(w) < 0) {
              idx(w) = counter; low(w) = counter; counter += 1
              tarjanStk(stkTop) = w; stkTop += 1; onStk(w) = true
              wTop += 1
              workNode(wTop) = w; workPtr(wTop) = off(w)
            } else if (onStk(w) && idx(w) < low(u)) low(u) = idx(w)
          } else {
            if (low(u) == idx(u)) {
              var done = false
              while (!done) {
                stkTop -= 1
                val w = tarjanStk(stkTop)
                onStk(w) = false
                compOf(w) = nComp
                done = w == u
              }
              nComp += 1
            }
            wTop -= 1
            if (wTop >= 0) {
              val p = workNode(wTop)
              if (low(u) < low(p)) low(p) = low(u)
            }
          }
        }
      }
      v += 1
    }
    // component labels: min member id + size (one pass each; nodes is
    // sorted ascending, so the first slot seen per component IS min)
    val compMin = Array.fill(nComp)(Long.MaxValue)
    val compSize = new Array[Long](nComp)
    var i = 0
    while (i < n) {
      val c = compOf(i)
      if (nodes(i) < compMin(c)) compMin(c) = nodes(i)
      compSize(c) += 1
      i += 1
    }
    val rows = new Array[(Long, Long, Long)](n)
    i = 0
    while (i < n) {
      rows(i) = (nodes(i), compMin(compOf(i)), compSize(compOf(i)))
      i += 1
    }
    spark.createDataset(rows.toSeq).toDF("node", "scc_id", "scc_size")
  }
}

package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GRID-DENSITY clustering — the distributed DBSCAN-family shape
  * (Ester et al. 1996's density clusters, discretized onto a grid the
  * way scalable implementations do it: CLIQUE/STING lineage, and the
  * standard "cell-based DBSCAN" MapReduce formulation): bucket points
  * into fixed cells, call a cell CORE when it holds ≥ minPts points,
  * and union 8-adjacent core cells into clusters. Clusters of
  * arbitrary shape emerge without pairwise distance joins — the
  * O(n²) ε-neighborhood query that kills naive DBSCAN at scale
  * collapses to ONE (cell) key shuffle + a bounded cell-graph
  * problem, because the cell grid is data-sized-bounded (≤ occupied
  * cells), not point-sized.
  *
  * The cell connectivity is [[graft.ops.Graph.connectedComponents]]
  * (a driver union-find on a cell graph within its gates, the star
  * contraction above them) — clusters are labeled by their minimum
  * member cell's packed id, so the result is fully deterministic and
  * the whole trace (counts → core rule → adjacency → closure) replays
  * as SQL with a recursive CTE.
  *
  * @param xCell  x-axis integer coordinate already divided into cells
  *               (caller brings `floor(x/cellWidth)`; both
  *               coordinates must land in [0, 65535] — they pack into
  *               one long node id as cx·65536 + cy).
  * @return per OCCUPIED cell: (cx, cy, n_pts, is_core, cluster) —
  *         cluster = packed min cell id of the connected core
  *         component, or NULL for non-core cells (noise). */
object GridDensity {
  def clusters(df: DataFrame, xCell: Column, yCell: Column,
               minPts: Long): DataFrame = {
    val cells = df.select(xCell.cast("long").as("cx"), yCell.cast("long").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n_pts"))
      .cache()
    val core = cells.filter(col("n_pts") >= minPts)
      .withColumn("node", col("cx") * 65536L + col("cy"))
      .cache()
    // 8-neighborhood adjacency: each core cell probes its 8 offsets
    // against the core set — an equi join on the probed coordinates
    val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
      (0, 1), (1, -1), (1, 0), (1, 1))
    val probes = core.select(col("node"),
        explode(typedlit(offsets)).as("o"),
        col("cx"), col("cy"))
      .select(col("node"), (col("cx") + col("o._1")).as("px"),
        (col("cy") + col("o._2")).as("py"))
    val edges = probes.join(
        core.select(col("cx").as("px"), col("cy").as("py"),
          col("node").as("nbr")),
        Seq("px", "py"))
      .filter(col("node") < col("nbr"))
      .select(col("node").as("src"), col("nbr").as("dst"))
    val comps = graft.ops.Graph.connectedComponents(edges)
      .withColumnsRenamed(Map("doc_id" -> "node", "rep_id" -> "rep"))
    // isolated core cells never reach the edge list → their own node
    val out = cells
      .withColumn("node", col("cx") * 65536L + col("cy"))
      .withColumn("is_core", col("n_pts") >= minPts)
      .join(comps, Seq("node"), "left")
      .select(col("cx"), col("cy"), col("n_pts"), col("is_core"),
        when(col("is_core"), coalesce(col("rep"), col("node"))).as("cluster"))
    core.unpersist(blocking = false)
    cells.unpersist(blocking = false)
    out
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumns

/**
 * Exact-integer PageRank (Page et al. 1999) over a document graph —
 * the graph-centrality curation signal: on a kNN similarity graph
 * (e4), high-rank documents sit in dense semantic neighborhoods
 * (representative; keep), leaves are outliers (candidates to
 * down-weight). The companion to SemDeDup's drop verdicts: one scores
 * redundancy, this scores centrality.
 *
 * Determinism is the design constraint, as everywhere in graft:
 * ranks live in MICRO-UNITS (node mass 1e6) and every step is integer
 * arithmetic — contributions are `r div outdeg` (integral divide),
 * damping 0.85 is the ratio 17/20 applied as `(17·Σ) div 20`, and the
 * per-node base is floor(0.15·1e6) = 150000. Integer sums are
 * partition-order exact, so the fixed-iteration result is
 * bit-reproducible and the DuckDB oracle replays the SAME iterations
 * as unrolled chained CTEs (e11's generated oracle).
 *
 * Scale shape: each iteration is ONE equi-join of the rank vector
 * with the edge list plus one aggregation shuffled on dst — the
 * standard distributed power iteration; the frontier is
 * localCheckpointed per round so the iterative plan cannot grow
 * (the [[Dedup.connectedComponentsStar]] discipline). State is O(nodes);
 * edges stream through the join. Dangling mass: every node gets the
 * same base term, and nodes without out-edges simply contribute
 * nothing (mass is not redistributed) — the common simplification,
 * identical on both engines.
 */
object GraphRank {

  val NodeMassMicro = 1000000L
  val BaseMicro = 150000L // floor(0.15 * 1e6)
  val DampNum = 17L // 0.85 as an exact ratio
  val DampDen = 20L

  private def idiv(a: Column, b: Column): Column =
    GraftColumns.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      GraftColumns.expression(a), GraftColumns.expression(b)))

  /**
   * `iterations` rounds of damped power iteration over the directed
   * edge list `(srcCol, dstCol)`. Output: (node, rank_micro).
   */
  def pageRankMicro(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    // out-degree is LOOP-INVARIANT: join it onto the edge list ONCE
    // before the rounds (it used to ride inside every round as a
    // second rank⋈deg join — iterations× redundant joins of a
    // node-sized table, guide §1.2 "don't compute things twice").
    // The checkpointed (src, dst, deg) list is what each round's
    // single rank⋈edges join streams against; `r div deg` per edge is
    // unchanged arithmetic, so ranks are bit-identical.
    val eDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .join(e, Seq("src"))
      .select(col("src").as("_esrc"), col("dst").as("_edst"), col("deg"))
      .localCheckpoint(true)
    var r = nodes.withColumn("r", lit(NodeMassMicro))
    var i = 0
    while (i < iterations) {
      val contrib = r.join(eDeg, col("node") === col("_esrc"))
        .select(col("_edst"), idiv(col("r"), col("deg")).as("_c"))
        .groupBy(col("_edst")).agg(sum(col("_c")).as("_s"))
      r = nodes
        .join(contrib, col("node") === col("_edst"), "left")
        .select(col("node"),
          (lit(BaseMicro) + idiv(lit(DampNum) * coalesce(col("_s"), lit(0L)),
            lit(DampDen))).as("r"))
        .localCheckpoint(true)
      i += 1
    }
    r.select(col("node"), col("r").as("rank_micro"))
  }
}

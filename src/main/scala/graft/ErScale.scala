package graft

import graft.functions.{Dedup, FuzzyJoin}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Entity-resolution scale experiment: the ER family's bench evidence
 * at sf1 is trivially flat because [[MakeScale]] copies dimensions 1×
 * — customer (the ER input) is IDENTICAL at sf0.1 and sf1. This main
 * grows the actual ER workload: replicate customers F× with shifted
 * keys and REGENERATED serial names (`Customer#%09d` of the shifted
 * key — the same format, so the edit-distance structure stays
 * realistic: new one-digit-variant links appear between copies and
 * chains lengthen, the adversarial topology SCALE.md documents), then
 * time the three ER stages on the materialized table:
 *
 *  - pairs: FastSS deletion-neighborhood join + thresholded verify
 *    (the d19 candidate/verify core);
 *  - closure, measured under BOTH agreement gates: the round-14
 *    nation-only gate (whose max cluster grew linearly — ~2% of
 *    names — on this serial-dense keyspace, the round's one honest
 *    negative) and the round-15 2-attribute default (nation AND
 *    mktsegment, the current d20 composition). The replicated copies
 *    carry the BASE customer's segment, so the second attribute is
 *    independent of the name digits — no correlation shortcut.
 *    Since round 16 the gate attributes are CARRIED IN the pair memo
 *    (editDistancePairsWithPayload), so the closure stage is gate
 *    filter + CC only — the former pairs×names×2 attribute join,
 *    which round 15 measured dominating the 100× closure, is paid
 *    once at memo build inside pairs_sec;
 *  - snm: 3-pass sorted-neighborhood union (the d22 cheap generator).
 *
 * Prints one JSON line per factor:
 * {"metric":"er_scale","factor":F,"names":N,"pairs":P,"pairs_sec":…,
 *  "cc1_sec":…,"entities_1attr":…,"max_cluster_1attr":…,
 *  "cc2_sec":…,"entities_2attr":…,"max_cluster_2attr":…,
 *  "snm_sec":…,"snm_pairs":…}
 *
 * Usage: runMain graft.ErScale <sfDir> [factors… default 1 10 100]
 */
object ErScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = sources.Tables.customer(spark, src)
      .select(col("c_custkey").cast("long").as("k"), col("c_nationkey"),
        col("c_mktsegment"))
    val n0 = base.count()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    factors.foreach { f =>
      val path = s"${sys.props("java.io.tmpdir")}/graft-erscale-$f"
      // materialize so the timed stages read a real table, not an
      // in-memory union; the F-way replication is an explode over one
      // base scan, not an F-leaf union re-reading the source F times
      base.select(col("k"), col("c_nationkey"), col("c_mktsegment"),
          explode(sequence(lit(0L), lit((f - 1).toLong))).as("_i"))
        .select(format_string("Customer#%09d", col("k") + col("_i") * n0)
            .as("c_name"),
          col("c_nationkey"), col("c_mktsegment"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      val cust = spark.read.parquet(path)
      val names = n0 * f

      // stage 1 — FastSS candidate join + verify, timed alone; the
      // verified pairs are WRITTEN so stage 2 times the gate+closure
      // only (not a second pair build — the stages must be disjoint
      // for the published table to add up). The memo CARRIES both
      // sides' gate attributes (the d20/ed1Pairs composition): they
      // ride the deletion-key shuffle here, one-time, so the closure
      // stage gates by FILTER instead of re-joining the pair table
      // against the name table twice per run — the join that dominated
      // the 100× closure in the round-15 measurement (SCALE.md).
      val pairsPath = s"$path-pairs"
      val (pairCount, pairsSec) = timed {
        FuzzyJoin.editDistancePairsWithPayload(cust, "c_name",
            Seq("c_nationkey", "c_mktsegment"), maxDist = 1)
          .write.mode(SaveMode.Overwrite).parquet(pairsPath)
        spark.read.parquet(pairsPath).count()
      }

      // stage 2 — agreement gate (a filter on the memoized attributes)
      // + CC closure, run under BOTH gates; entities use the d20
      // semantics (every name labeled, singletons their own entity)
      def closure(twoAttr: Boolean): (Long, Long) = {
        val pairs = spark.read.parquet(pairsPath)
        val gate =
          if (twoAttr) col("l_c_nationkey") === col("r_c_nationkey") &&
            col("l_c_mktsegment") === col("r_c_mktsegment")
          else col("l_c_nationkey") === col("r_c_nationkey")
        val edges = pairs.filter(gate)
          .select(col("left_str"), col("right_str"))
        val lab = Dedup.connectedComponents(edges, "left_str", "right_str")
        val agg = lab.groupBy(col("component")).agg(count(lit(1)).as("m"))
          .agg(count(lit(1)).as("c"), max(col("m")).as("mx"),
            sum(col("m")).as("linked")).head()
        // zero verified pairs ⇒ lab is empty and max/sum aggregate to
        // NULL — every name is its own singleton entity
        val (linkedComponents, mx, linkedNames) =
          if (agg.isNullAt(1)) (0L, 1L, 0L)
          else (agg.getLong(0), agg.getLong(1), agg.getLong(2))
        (linkedComponents + (names - linkedNames), mx)
      }
      val ((entities1, maxCluster1), cc1Sec) = timed(closure(twoAttr = false))
      val ((entities2, maxCluster2), cc2Sec) = timed(closure(twoAttr = true))

      val (snmCount, snmSec) = timed {
        val c = FuzzyJoin.multiPassSnmPairs(cust.select(col("c_name")), "c_name")
          .count()
        // GlobalRank's caller contract: release the staged sorted
        // lineages (3 passes persist 3) before the next factor runs
        graft.functions.GlobalRank.releaseStaged()
        c
      }
      println(
        s"""{"metric":"er_scale","factor":$f,"names":$names,""" +
        s""""pairs":$pairCount,"pairs_sec":${"%.2f".format(pairsSec)},""" +
        s""""cc1_sec":${"%.2f".format(cc1Sec)},"entities_1attr":$entities1,""" +
        s""""max_cluster_1attr":$maxCluster1,""" +
        s""""cc2_sec":${"%.2f".format(cc2Sec)},"entities_2attr":$entities2,""" +
        s""""max_cluster_2attr":$maxCluster2,""" +
        s""""snm_sec":${"%.2f".format(snmSec)},"snm_pairs":$snmCount}""")
    }
    spark.stop()
  }
}

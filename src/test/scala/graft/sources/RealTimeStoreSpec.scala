package graft.sources

import graft.SparkTestBase
import graft.query.MachineDetail
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class RealTimeStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val Machine = "site1/area1/line1/m1"
  private val From = 1704067200L
  private val To = 1704070800L

  private def cleanup(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(s"spark-warehouse/$t")
    if (loc.exists()) { def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }; rm(loc) }
  }

  private def realTime: DataFrame = Tables.realTime(spark, "/root/testdata/sf0.001")
    .select(col("id"), col("messageTimestamp"), col("value"),
      (col("messageTimestamp") + 86400L).as("expirationTimestamp"))

  private def createEmpty(table: String): Unit =
    RealTimeStore.write(Seq.empty[(String, Long, String, Long)]
      .toDF("id", "messageTimestamp", "value", "expirationTimestamp"), table)

  /** The table's parquet data files (no .crc, no _SUCCESS). */
  private def dataFiles(table: String): Seq[Path] = {
    val loc = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).location
    new java.io.File(loc).listFiles.toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => new Path(f.toURI)).sortBy(_.toString)
  }

  /** Each file's rows, in file order, are sorted by (id, messageTimestamp). */
  private def assertSorted(files: Seq[Path]): Unit = files.foreach { f =>
    val keys = spark.read.parquet(f.toString).select("id", "messageTimestamp")
      .as[(String, Long)].collect().toSeq
    assert(keys == keys.sorted, s"$f is not sorted by (id, messageTimestamp)")
  }

  /** (min id, max id) of a file, from its parquet footer statistics. */
  private def footerIdRange(file: Path): (String, String) = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val stats = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val s = b.getColumns.asScala.find(_.getPath.toDotString == "id").get.getStatistics
        assert(s.hasNonNullValue, s"$file: no id statistics")
        (s.minAsString, s.maxAsString)
      }
      (stats.map(_._1).min, stats.map(_._2).max)
    } finally reader.close()
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def detail(rt: DataFrame): Seq[org.apache.spark.sql.Row] =
    MachineDetail.realTimeMachineData(rt, Machine, From, To).collect().toSeq

  test("append adds at most one sorted file per write task") {
    cleanup("graft_rt_append")
    createEmpty("graft_rt_append")
    val before = dataFiles("graft_rt_append").toSet
    // round-robin repartition: every task holds unsorted rows
    RealTimeStore.append(realTime.repartition(3), "graft_rt_append")
    val added = dataFiles("graft_rt_append").filterNot(before)
    assert(added.nonEmpty && added.size <= 3, added)
    assertSorted(added)
    assert(RealTimeStore.read(spark, "graft_rt_append").count() == realTime.count())
    spark.sql("DROP TABLE graft_rt_append")
  }

  test("compaction folds 5 or 50 appends to equal file sets") {
    // coalescing off, so compaction writes one file per shuffle partition
    // and the id ranges of several files can be compared
    val counts = withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      Seq(5, 50).map { n =>
        val t = s"graft_rt_fold$n"
        cleanup(t, t + "_compacting", t + "_precompact")
        createEmpty(t)
        (0 until n).foreach { i =>
          RealTimeStore.append((0 until 40).map(j =>
            (f"STATUS_m${j % 20}%02d", i * 1000L + j, "UP", Long.MaxValue))
            .toDF("id", "messageTimestamp", "value", "expirationTimestamp").repartition(4), t)
        }
        assert(dataFiles(t).size > 4)
        RealTimeStore.compact(spark, t, nowEpochS = 0)
        val files = dataFiles(t)
        assert(RealTimeStore.read(spark, t).count() == 40L * n)
        assertSorted(files)
        val ranges = files.map(footerIdRange).sorted
        ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
          assert(hi < lo, s"overlapping id ranges in $t: $ranges")
        }
        spark.sql(s"DROP TABLE $t")
        files.size
      }
    }
    assert(counts.head == counts.last, counts)
    assert(counts.head > 1 && counts.head <= spark.conf.get("spark.sql.shuffle.partitions").toInt, counts)
  }

  test("detail read = Tables.realTime's, pre/post compact") {
    cleanup("graft_rt_detail", "graft_rt_detail_compacting", "graft_rt_detail_precompact")
    createEmpty("graft_rt_detail")
    (0 until 5).foreach { i =>
      RealTimeStore.append(realTime.filter(pmod(hash(col("id"), col("messageTimestamp")), lit(5)) === i)
        .repartition(4), "graft_rt_detail")
    }
    val expected = detail(realTime)
    assert(expected.nonEmpty)
    assert(detail(RealTimeStore.read(spark, "graft_rt_detail")) == expected)
    RealTimeStore.compact(spark, "graft_rt_detail", nowEpochS = 0)
    assert(detail(RealTimeStore.read(spark, "graft_rt_detail")) == expected)
    spark.sql("DROP TABLE graft_rt_detail")
  }

  test("detail read pushes id IN + ts range to the scan") {
    cleanup("graft_rt_pushdown")
    RealTimeStore.write(realTime, "graft_rt_pushdown")
    val df = MachineDetail.realTimeMachineData(
      RealTimeStore.read(spark, "graft_rt_pushdown"), Machine, From, To)
    // the rendered plan truncates PushedFilters — read the scan's metadata
    val pushed = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    Seq(s"In(id, [PRODUCTION_COUNT_$Machine,STATUS_$Machine])",
      "GreaterThanOrEqual(messageTimestamp,", "LessThanOrEqual(messageTimestamp,").foreach { f =>
      assert(pushed.contains(f), s"missing $f in: ${pushed.take(600)}")
    }
    spark.sql("DROP TABLE graft_rt_pushdown")
  }

  test("compaction drops expired rows and preserves layout") {
    cleanup("graft_rt_compact", "graft_rt_compact_compacting", "graft_rt_compact_precompact")
    val rows = Seq(
      ("STATUS_m1", 100L, "UP", 1000L),
      ("STATUS_m1", 200L, "DOWN", 99999L),
      ("STATUS_m2", 150L, "UP", 99999L),
      ("STATUS_m0", 300L, "UP", 99999L))
      .toDF("id", "messageTimestamp", "value", "expirationTimestamp")
    RealTimeStore.write(rows.repartition(2), "graft_rt_compact")
    RealTimeStore.compact(spark, "graft_rt_compact", nowEpochS = 5000)
    val after = RealTimeStore.read(spark, "graft_rt_compact")
    assert(after.count() == 3)
    assert(after.filter(col("messageTimestamp") === 100L).isEmpty)
    // still (id, messageTimestamp)-sorted files after compaction
    assertSorted(dataFiles("graft_rt_compact"))
    // staging/backup tables are gone after a clean compact
    assert(!spark.catalog.tableExists("graft_rt_compact_compacting"))
    assert(!spark.catalog.tableExists("graft_rt_compact_precompact"))
    spark.sql("DROP TABLE graft_rt_compact")
  }

  test("crash window: staged table present, original still intact and queryable") {
    cleanup("graft_rt_crash", "graft_rt_crash_compacting", "graft_rt_crash_precompact")
    val rows = Seq(
      ("STATUS_m1", 100L, "UP", 1000L),
      ("STATUS_m1", 200L, "DOWN", 99999L))
      .toDF("id", "messageTimestamp", "value", "expirationTimestamp")
    RealTimeStore.write(rows, "graft_rt_crash")
    // simulate a crash after staging, before the swap
    RealTimeStore.stageCompacted(spark, "graft_rt_crash", nowEpochS = 5000)
    assert(spark.catalog.tableExists("graft_rt_crash_compacting"))
    // original is untouched — full data, still readable
    assert(RealTimeStore.read(spark, "graft_rt_crash").count() == 2)
    // re-running compact from scratch recovers (stale staging replaced)
    RealTimeStore.compact(spark, "graft_rt_crash", nowEpochS = 5000)
    assert(RealTimeStore.read(spark, "graft_rt_crash").count() == 1)
    assert(!spark.catalog.tableExists("graft_rt_crash_compacting"))
    spark.sql("DROP TABLE graft_rt_crash")
  }
}

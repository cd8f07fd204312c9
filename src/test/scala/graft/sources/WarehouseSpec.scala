package graft.sources

import graft.SparkTestBase
import graft.model.MessageFormatConfig
import org.apache.spark.sql.functions._
import java.nio.file.Files

class WarehouseSpec extends SparkTestBase {
  import spark.implicits._

  private val goodTs = "2021-03-05 18:16:10.517000+00:00" // epoch 1614968170 → 2021/03/05
  private def payload(tag: String, value: String): String = {
    val json = s"""{"messages":[{"name":"site/area/line/m1/$tag","quality":"GOOD","timestamp":"$goodTs","value":"$value"}]}"""
    java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
  }

  test("archive → day-partition read → normalize → warehouse roundtrip") {
    val tmp = Files.createTempDirectory("graft-wh").toString
    val raw = Seq((payload("status", "u"), 1614968170L), (payload("pc", "42"), 1614968170L))
      .toDF("payload", "epoch_s")
    Warehouse.archiveRaw(raw, "payload", "epoch_s", s"$tmp/raw")

    val day = Warehouse.readRawDay(spark, s"$tmp/raw", 2021, 3, 5)
    assert(day.count() == 2)
    assert(Warehouse.readRawDay(spark, s"$tmp/raw", 2021, 3, 6).isEmpty)

    val n = Warehouse.runDailyEtl(spark, s"$tmp/raw", s"$tmp/wh",
      Seq(MessageFormatConfig(id = "DEFAULT")), 2021, 3, 5)
    assert(n == 2)

    val wh = spark.read.parquet(s"$tmp/wh")
    val row = wh.filter(col("tag") === "status")
      .select("quality", "value", "timestamp", "tag", "id").head()
    assert(row.toSeq == Seq("GOOD", "u", "2021/03/05 18:16:10.517000", "status", "site/area/line/m1"))

    // day-partition predicate prunes at the scan (the DynamoDB-prefix analogue)
    val plan = wh.filter(col("year") === 2021 && col("month") === 3 && col("day") === 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("year"), plan.take(500))

    // empty day = no-new-data early exit
    assert(Warehouse.runDailyEtl(spark, s"$tmp/raw", s"$tmp/wh",
      Seq(MessageFormatConfig(id = "DEFAULT")), 2021, 3, 6) == 0)
  }

  test("catalog registration discovers partitions (S6)") {
    val tmp = Files.createTempDirectory("graft-cat").toString
    Seq(("GOOD", "u", "2021/03/05 00:00:00.000000", "status", "m1", 2021, 3, 5))
      .toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    Warehouse.registerWarehouse(spark, s"$tmp/wh", "graft_wh_test")
    assert(spark.table("graft_wh_test").count() == 1)
    assert(spark.sql("SHOW PARTITIONS graft_wh_test").count() == 1)
    spark.sql("DROP TABLE graft_wh_test")
  }

  test("dimension CSV sink writes single-quoted single file + manifest") {
    val tmp = Files.createTempDirectory("graft-csv").toString
    val dim = Seq(("m1", "Machine One", "site/area", "line1"))
      .toDF("id", "machine_name", "location", "line")
    DimensionSink.writeCsv(dim, s"$tmp/machine_information")
    val files = new java.io.File(s"$tmp/machine_information").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // coalesced to one object
    val content = new String(Files.readAllBytes(files.head.toPath), "UTF-8")
    assert(content.startsWith("'id','machine_name','location','line'"))
    assert(content.contains("'m1','Machine One','site/area','line1'"))
    assert(DimensionSink.manifestJson("file:///x.csv").contains("\"textqualifier\":\"'\""))
  }

  test("yesterday partition math (F15)") {
    // 2021-03-06 12:00:00 UTC → yesterday = 2021-03-05
    assert(Warehouse.yesterdayPartition(1615032000L) == ((2021, 3, 5)))
  }

  test("compaction collapses micro-batch files, preserves rows, clusters by series") {
    val tmp = Files.createTempDirectory("graft-compact").toString
    // 8 appends ≈ 8 micro-batches → ≥8 files in the day partition
    (1 to 8).foreach { i =>
      Seq(("GOOD", s"$i", "2021/03/05 00:00:0$i.000000", "status", s"m${i % 3}", 2021, 3, 5))
        .toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    }
    def dataFiles() = new java.io.File(s"$tmp/wh/year=2021/month=3/day=5")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    val before = dataFiles().length
    assert(before >= 8)
    val rowsBefore = spark.read.parquet(s"$tmp/wh").orderBy("id", "timestamp")
      .collect().map(_.toString).toSeq

    val nFiles = Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5)
    assert(nFiles == 1) // tiny partition → single file
    assert(dataFiles().length == 1, s"expected 1 data file, got ${dataFiles().length}")
    val rowsAfter = spark.read.parquet(s"$tmp/wh").orderBy("id", "timestamp")
      .collect().map(_.toString).toSeq
    assert(rowsAfter == rowsBefore) // lossless rewrite

    // idempotent: compacting again is a no-op rewrite
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5) == 1)
    assert(spark.read.parquet(s"$tmp/wh").count() == 8)

    // crash recovery: simulate dying between delete(partDir) and
    // rename(tmp, partDir) — the partition's data survives ONLY in the
    // hidden temp sibling. A re-run must complete the swap instead of
    // declaring the partition empty.
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/wh")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$tmp/wh/year=2021/month=3/day=5")
    val orphan = new org.apache.hadoop.fs.Path(StoreSwap.stage(s"$tmp/wh/year=2021/month=3/day=5"))
    assert(fs.rename(live, orphan)) // the mid-swap crash state
    assert(!fs.exists(live)) // scans can't see the hidden orphan
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5) == 1)
    assert(!fs.exists(orphan))
    assert(spark.read.parquet(s"$tmp/wh").orderBy("id", "timestamp")
      .collect().map(_.toString).toSeq == rowsAfter) // recovered losslessly
  }

  test("z-order compaction layout preserves rows and tightens BOTH id and time per file") {
    val tmp = Files.createTempDirectory("graft-compact-z").toString
    // 40 machines x 50 timestamps, appended time-sliced so raw files
    // are time-clustered but id-scattered
    val rows = for (t <- 0 until 50; m <- 0 until 40) yield
      ("GOOD", s"$t", f"2021/03/05 ${t / 3600}%02d:${(t / 60) % 60}%02d:${t % 60}%02d.000000",
        "status", f"m$m%03d", 2021, 3, 5)
    rows.grouped(400).foreach { g =>
      g.toSeq.toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    }
    val rowsBefore = spark.read.parquet(s"$tmp/wh").count()
    // force a multi-file layout so per-file locality is observable
    val n = Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5,
      targetFileBytes = 4L << 10, layout = Warehouse.zorderCompactLayout(bits = 6))
    assert(n >= 4, s"want a multi-file layout, got $n")
    val after = spark.read.parquet(s"$tmp/wh")
    assert(after.count() == rowsBefore) // lossless
    // every file covers a narrow slice of BOTH dimensions
    val spans = after
      .groupBy(input_file_name().as("f"))
      .agg((countDistinct(col("id"))).as("ids"),
        (countDistinct(col("timestamp"))).as("tss"))
      .select("ids", "tss").as[(Long, Long)].collect()
    val avgIds = spans.map(_._1).sum.toDouble / spans.length / 40.0
    val avgTss = spans.map(_._2).sum.toDouble / spans.length / 50.0
    assert(avgIds < 0.8, s"id locality $avgIds")
    assert(avgTss < 0.8, s"time locality $avgTss")
  }

  test("z-order layout fails fast on unparseable timestamps instead of degrading silently") {
    val tmp = Files.createTempDirectory("graft-compact-zbad").toString
    // ISO timestamps do NOT match the layout's 'yyyy/MM/dd' format —
    // before the guard every Z-key went null and the whole partition
    // collapsed into one unsorted file; now the format mismatch throws
    Seq(("GOOD", "1", "2021-03-05T00:00:01", "status", "m1", 2021, 3, 5))
      .toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    val e = intercept[Exception] {
      Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5,
        layout = Warehouse.zorderCompactLayout(bits = 6))
    }
    assert(e.getMessage != null)
  }

  test("compacting an absent day never touches other partitions") {
    val tmp = Files.createTempDirectory("graft-compact-miss").toString
    Seq(("GOOD", "1", "2021/03/06 00:00:01.000000", "status", "m1", 2021, 3, 6))
      .toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    val before = spark.read.parquet(s"$tmp/wh").collect().map(_.toString).toSeq

    // day=7 has no data: must be a no-op — in particular it must NOT
    // resolve the partition dir from the (un-pruned) scan input files,
    // which would point at day=6 and destroy it.
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 7) == 0)
    assert(new java.io.File(s"$tmp/wh/year=2021/month=3/day=6").exists())
    assert(spark.read.parquet(s"$tmp/wh").collect().map(_.toString).toSeq == before)

    // absent month / absent year are equally inert
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 4, 6) == 0)
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2022, 3, 6) == 0)
    assert(spark.read.parquet(s"$tmp/wh").collect().map(_.toString).toSeq == before)
  }

  test("recovery never promotes a partial temp (no _SUCCESS)") {
    val tmp = Files.createTempDirectory("graft-compact-partial").toString
    Seq(("GOOD", "1", "2021/03/05 00:00:01.000000", "status", "m1", 2021, 3, 5))
      .toDF("quality", "value", "timestamp", "tag", "id", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$tmp/wh")
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/wh")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(StoreSwap.stage(s"$tmp/wh/year=2021/month=3/day=5"))

    // Mid-write temp (data file but no _SUCCESS) while the live dir is
    // intact: the temp is garbage — compaction must discard it and
    // rewrite from the live partition.
    fs.mkdirs(orphan)
    val junk = fs.create(new org.apache.hadoop.fs.Path(orphan, "part-junk.parquet"), true)
    junk.write("not parquet".getBytes("UTF-8")); junk.close()
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5) == 1)
    assert(!fs.exists(orphan))
    assert(spark.read.parquet(s"$tmp/wh").count() == 1)

    // Mid-write temp with the live dir gone (external clear during a
    // write): promotion would install partial data as the live
    // partition — require the temp be deleted and the day read as empty.
    val live = new org.apache.hadoop.fs.Path(s"$tmp/wh/year=2021/month=3/day=5")
    assert(fs.rename(live, orphan))
    fs.delete(new org.apache.hadoop.fs.Path(orphan, "_SUCCESS"), false)
    assert(Warehouse.compactPartition(spark, s"$tmp/wh", 2021, 3, 5) == 0)
    assert(!fs.exists(orphan) && !fs.exists(live))
  }

  test("bucketed tables join and aggregate with ZERO exchanges") {
    val facts = graft.sources.Tables.telemetry(spark, "/root/testdata/sf0.001")
      .select($"machineId", $"es", $"status", $"cnt")
    val rollup = facts.groupBy($"machineId").agg(org.apache.spark.sql.functions.max($"es").as("last_es"))
    Warehouse.writeBucketed(facts, "wb_facts", "machineId", 4, Seq("machineId", "es"))
    Warehouse.writeBucketed(rollup, "wb_rollup", "machineId", 4)
    // disable auto-broadcast: the point is the SHUFFLE-join path —
    // at warehouse scale neither side of facts⋈facts broadcasts, and
    // bucketing is what removes both exchanges
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // note: an EQUALITY filter between the two sides would be folded
      // into the join keys and (requireAllClusterKeysForCoPartition)
      // defeat the bucket layout — the non-equi residual stays a join
      // filter and the key remains exactly the bucket column
      val joined = spark.table("wb_facts")
        .join(spark.table("wb_rollup"), "machineId")
        .filter($"es" >= $"last_es")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1200)) // co-located: no shuffle either side
      assert(plan.contains("Bucketed: true"), plan.take(1200))
      assert(joined.count() > 0)
      // bucket-key aggregation also skips its exchange
      val agg = spark.table("wb_facts").groupBy($"machineId").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS wb_facts")
      spark.sql("DROP TABLE IF EXISTS wb_rollup")
    }
  }
}

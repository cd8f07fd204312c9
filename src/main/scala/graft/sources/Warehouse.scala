package graft.sources

import graft.model.MessageFormatConfig
import graft.parse.MessageParser
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The batch/BI data path — the Spark re-expression of the reference's
 * Firehose raw archive + nightly Glue ETL (SURVEY §2.1 S3-S6, §3.3):
 *
 *  - raw archive: stream records as JSON under year/month/day
 *    partitions (Firehose `YYYY/MM/DD/` prefixes,
 *    real-time-processing-construct.ts:39-46);
 *  - nightly normalize: read ONE day partition, explode envelopes to
 *    normalized rows, append to the columnar warehouse
 *    (convert_parquet.py:99-200);
 *  - warehouse: parquet partitioned by (year, month, day) with the
 *    reference's all-string row shape (etl-construct.ts:90-108);
 *  - catalog: table registration + partition discovery
 *    (update_crawler.py → `recoverPartitions`).
 *
 * Scale notes: the day-partition read prunes at the source (one
 * directory of N); the normalize is a narrow explode+project (no
 * shuffle); the warehouse append writes through the same partition
 * columns so downstream queries prune on (year, month, day).
 */
object Warehouse {

  /** Append raw payloads to the archive under year/month/day derived
   * from the ingest timestamp (epoch seconds). */
  def archiveRaw(df: DataFrame, payloadCol: String, epochCol: String, path: String): Unit =
    df.select(
      col(payloadCol).as("payload"),
      date_format(timestamp_seconds(col(epochCol)), "yyyy").as("year"),
      date_format(timestamp_seconds(col(epochCol)), "MM").as("month"),
      date_format(timestamp_seconds(col(epochCol)), "dd").as("day"))
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
      .json(path)

  /** Read exactly one day partition of the raw archive (partition
   * pruning via the partition-column predicate — the Spark analogue of
   * reading only yesterday's `YYYY/MM/DD/` prefix,
   * convert_parquet.py:33,161). */
  def readRawDay(spark: SparkSession, path: String, year: Int, month: Int, day: Int): DataFrame =
    spark.read
      .schema("payload STRING, year INT, month INT, day INT")
      .json(path)
      .filter(col("year") === year && col("month") === month && col("day") === day)

  /** Yesterday's (year, month, day) — the reference's default ETL input
   * scope (`date.today() - timedelta(1)`, convert_parquet.py:33 / F15). */
  def yesterdayPartition(todayEpochS: Long): (Int, Int, Int) = {
    val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(todayEpochS, 86400L) - 1)
    (d.getYear, d.getMonthValue, d.getDayOfMonth)
  }

  /**
   * Normalize one day of raw envelopes to the warehouse row shape
   * `(quality, value, timestamp, tag, id)` — all strings, timestamp
   * reformatted `%Y/%m/%d %H:%M:%S.%f` (convert_parquet.py:99-135 /
   * P8+F7).
   */
  def normalize(rawDay: DataFrame, formats: Seq[MessageFormatConfig]): DataFrame =
    MessageParser.parseBase64(rawDay, col("payload"), formats)
      .select(
        col("quality"),
        col("value"),
        date_format(col("ts"), "yyyy/MM/dd HH:mm:ss.SSSSSS").as("timestamp"),
        col("tag"),
        col("machineId").as("id"),
        col("year"), col("month"), col("day"))

  /** Append normalized rows to the partitioned parquet warehouse. The
   * empty-input early exit mirrors NoNewDataException
   * (convert_parquet.py:201-203). Returns false when nothing was
   * written. */
  def appendToWarehouse(normalized: DataFrame, path: String): Boolean = {
    if (normalized.isEmpty) false
    else {
      normalized.write.mode(SaveMode.Append)
        .partitionBy("year", "month", "day")
        .parquet(path)
      true
    }
  }

  /** Register the warehouse in the session catalog and discover
   * partitions (S6: Glue table + crawler → saveAsTable/
   * recoverPartitions). */
  def registerWarehouse(spark: SparkSession, path: String, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (quality STRING, value STRING, timestamp STRING,
         |tag STRING, id STRING, year INT, month INT, day INT)
         |USING parquet PARTITIONED BY (year, month, day)
         |LOCATION '$path'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE $table")
  }

  /** One nightly ETL run: read day partition → normalize → write.
   * Returns rows written (0 = no new data).
   *
   * The write is a DYNAMIC partition overwrite (replaces only the day
   * partitions present in this run's output), so replaying a day —
   * e.g. after a crash between this write and the ledger commit
   * (EtlLedger.runIncremental) — overwrites rather than duplicates.
   * This is the idempotence the reference gets from Glue bookmarks. */
  def runDailyEtl(spark: SparkSession, rawPath: String, warehousePath: String,
      formats: Seq[MessageFormatConfig], year: Int, month: Int, day: Int): Long = {
    val rawDay = readRawDay(spark, rawPath, year, month, day)
    if (rawDay.isEmpty) 0L // existence check, convert_parquet.py:54-66 (cheap: no parse)
    else {
      // persist so the parse chain runs ONCE across count + write
      val normalized = normalize(rawDay, formats)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = normalized.count()
        if (n > 0) {
          normalized.write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("year", "month", "day")
            .parquet(warehousePath)
        }
        n
      } finally { normalized.unpersist(); () }
    }
  }

  /**
   * Bucketed managed table — the co-located-join layout: both sides
   * of a recurring equi-join written with the SAME bucket count on
   * the join key join with ZERO exchanges (each task reads matching
   * bucket files from both sides), and bucket-key aggregations skip
   * their shuffle too. At warehouse scale this converts every
   * telemetry⋈telemetry / telemetry⋈rollup join from a 100 TB shuffle
   * into a file-placement property paid once at write time. Sorted
   * buckets additionally let the join sort-merge without sorting.
   */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /**
   * Small-file compaction for one day partition — the at-rest analogue
   * of the reference's Glue `groupFiles: inPartition` read option
   * (convert_parquet.py:163): streaming appends leave ~one file per
   * micro-batch per day, and a year of minute-cadence batches is
   * ~500k tiny files whose per-file open/footer cost dominates scans
   * at warehouse scale. Rewrites the partition into
   * ceil(bytes / targetFileBytes) files, RANGE-clustered and sorted on
   * (id, timestamp) so each output file covers a contiguous series
   * slice — parquet min/max stats then prune per-series range scans
   * (the condensation query's access path) to a few files.
   *
   * The rewrite is a [[StoreSwap]] of the day directory, so the old
   * files stay until the new ones are complete, and a rewrite that
   * crashed mid-swap is finished on entry. The day is located from
   * (path, year, month, day) VALUES, never from a scan's input files,
   * which are empty in exactly that crash state. Returns the output
   * file count (0 = empty partition, nothing to do).
   */
  def compactPartition(spark: SparkSession, path: String,
      year: Int, month: Int, day: Int,
      targetFileBytes: Long = 128L << 20,
      layout: (DataFrame, Int) => DataFrame = defaultCompactLayout): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Locate a partition child dir by VALUE (year=2021 and year=02021
    // both parse to 2021) — robust to whether the writer's partition
    // column was an INT ("month=3") or a formatted STRING ("month=03").
    // A day caught mid-swap exists only as its stage, which names it.
    def child(parent: Path, colName: String, value: Int): Option[Path] =
      if (!fs.exists(parent)) None
      else fs.listStatus(parent).iterator.filter(_.isDirectory)
        .map(st => StoreSwap.liveOf(st.getPath)).find { p =>
          p.getName.startsWith(s"$colName=") &&
            scala.util.Try(p.getName.stripPrefix(s"$colName=").trim.toInt)
              .toOption.contains(value)
        }

    // Resolve the target partition dir strictly by name. NEVER fall back
    // to the scan's input files: Dataset.inputFiles is not partition-
    // pruned for path-based parquet reads, so its head can belong to a
    // DIFFERENT day — compacting an absent day would then delete an
    // unrelated partition. Absent or data-less target day ⇒ nothing to
    // compact (the emptiness check is scoped to this one directory, not
    // the warehouse-global file list).
    val dayDir = child(new Path(path), "year", year)
      .flatMap(child(_, "month", month)).flatMap(child(_, "day", day))
    dayDir.foreach(d => StoreSwap.clearOrphan(spark, d.toString))
    val partDir = dayDir match {
      case Some(d) if StoreSwap.ready(spark, d.toString) => d
      case _ => return 0
    }
    // Read the one partition directory directly — partition values live
    // in the directory name, not the files, and a leaf-dir read skips
    // the warehouse-global listing a basePath+filter read would do.
    val part = spark.read.parquet(partDir.toString)
    val bytes = part.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((bytes + targetFileBytes - 1) / targetFileBytes).toInt.max(1)
    StoreSwap.swap(spark, partDir.toString)(
      layout(part, nFiles).write.mode(SaveMode.Overwrite).parquet(_))
    nFiles
  }

  /** Default compaction layout: range-sort by (id, timestamp) — serves
   * per-series scans and per-series time ranges. */
  def defaultCompactLayout(part: DataFrame, nFiles: Int): DataFrame =
    part
      .repartitionByRange(nFiles, col("id"), col("timestamp"))
      .sortWithinPartitions(col("id"), col("timestamp"))

  /**
   * Z-order compaction layout: cluster on the Morton interleave of a
   * hashed-id bucket and an event-time bucket, so BOTH pure-time
   * predicates (fleet-wide windows) and pure-id predicates (one
   * machine's history) prune files via min/max stats — the layout the
   * lexicographic (id, timestamp) sort cannot give time-only queries.
   * `tsFormat` parses the warehouse's string timestamp (F7 shape).
   */
  def zorderCompactLayout(bits: Int = 10,
      tsFormat: String = "yyyy/MM/dd HH:mm:ss.SSSSSS"): (DataFrame, Int) => DataFrame =
    (part, nFiles) => {
      val cells = 1L << bits
      val idBucket = pmod(xxhash64(col("id")), lit(cells))
      val tsSec = unix_timestamp(to_timestamp(col("timestamp"), tsFormat))
      // Fail FAST if the timestamp column doesn't parse with tsFormat:
      // an all-null tsSec would otherwise make every Z-key null and
      // repartitionByRange silently degrade the whole partition to one
      // giant unsorted file — a format mismatch is a caller bug, not a
      // layout choice.
      val minMax = part.agg(
        min(tsSec).as("mn"), max(tsSec).as("mx"),
        count(lit(1)).as("n"), count(tsSec).as("nParsed")).head()
      require(minMax.getLong(3) == minMax.getLong(2),
        s"zorderCompactLayout: ${minMax.getLong(2) - minMax.getLong(3)} of " +
          s"${minMax.getLong(2)} timestamps failed to parse with format '$tsFormat'")
      val (mn, mx) = if (minMax.getLong(2) == 0L) (0L, 0L)
        else (minMax.getLong(0), minMax.getLong(1))
      val tsBucket = graft.functions.ZOrder.bucket(tsSec, mn, math.max(mx, mn + 1), bits)
      graft.functions.ZOrder.cluster(part, Seq(idBucket, tsBucket), bits, nFiles)
    }
}

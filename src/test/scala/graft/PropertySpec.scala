package graft

import graft.query.{Aggregators, MachineDetail, Rollups}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property tests for the semantic rules the reference's golden tests
 * pin only pointwise (SURVEY §5): condensation invariants and rollover
 * totals under arbitrary inputs, plus typed-aggregator/window parity.
 */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic forAll: draw `n` samples from `g` with a fixed seed. */
  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val start = 1609502280L
  private val statusGen = Gen.oneOf("UP", "DOWN", "IDLE")
  private val rowsGen = Gen.listOfN(30, for {
    offset <- Gen.choose(0L, 600L)
    v <- statusGen
  } yield (start + offset, v))

  test("condensation invariants: bucket count, DOWN dominance, value domain") {
    forAll(rowsGen) { rows =>
      val end = start + 600
      val rt = rows.map { case (ts, v) => ("STATUS_m/x", ts, v) }
        .toDF("id", "messageTimestamp", "value")
      val out = MachineDetail.realTimeMachineData(rt, "m/x", start, end)
        .as[(Long, String, String)].collect().toSeq

      // (a) spine: exactly the minutes in (floor(start), end]
      assert(out.map(_._1) == (1 to 10).map(i => MachineDetail.floorMinute(start) + i * 60L))
      // (b) DOWN in a bucket's rows ⇒ bucket DOWN; (c) values from input ∪ UNKNOWN
      val byBucket = rows.groupBy { case (ts, _) =>
        math.max(MachineDetail.floorMinute(start) + 60, ((ts + 59) / 60) * 60)
      }
      out.foreach { case (bucket, statusValue, _) =>
        val inBucket = byBucket.getOrElse(bucket, Nil).map(_._2)
        if (inBucket.contains("DOWN")) assert(statusValue == "DOWN")
        else if (inBucket.isEmpty) assert(statusValue == "UNKNOWN")
        else assert(inBucket.contains(statusValue))
      }
    }
  }

  private val countsGen = Gen.listOfN(20, Gen.choose(0L, 100L))

  test("rollover total: window form == reference fold == typed aggregator") {
    forAll(countsGen) { counts =>
      if (counts.nonEmpty) {
        // reference fold (MachineDetail.tsx:99-119)
        var total = 0L; var max = 0L
        counts.foreach { v =>
          if (v > max) max = v else if (max > v) { total += max; max = v }
        }
        val expected = total + max

        val df = counts.zipWithIndex.map { case (c, i) => ("m", i.toLong, c) }
          .toDF("machineId", "ts", "count")
        val window = Rollups.totalProduction(df).as[(String, Long)].head()._2
        assert(window == expected, s"window form vs fold on $counts")

        val typed = df.as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(r => Aggregators.CountObs(r._2, r._3))
          .agg(Aggregators.RolloverTotal.toColumn)
          .collect().head._2
        assert(typed == expected, s"typed aggregator vs fold on $counts")
      }
    }
  }

  test("rollover total: typed aggregator == window form on negative counters") {
    // outside the reference's domain (its counters are non-negative):
    // both our forms seed the run from the FIRST observation, never a
    // phantom 0 — they must agree with each other
    forAll(Gen.listOfN(20, Gen.choose(-100L, 100L))) { counts =>
      if (counts.nonEmpty) {
        val df = counts.zipWithIndex.map { case (c, i) => ("m", i.toLong, c) }
          .toDF("machineId", "ts", "count")
        val window = Rollups.totalProduction(df).as[(String, Long)].head()._2
        val typed = df.as[(String, Long, Long)]
          .groupByKey(_._1)
          .mapValues(r => Aggregators.CountObs(r._2, r._3))
          .agg(Aggregators.RolloverTotal.toColumn)
          .collect().head._2
        assert(typed == window, s"typed vs window on $counts")
      }
    }
  }

  test("DownDominantLast aggregator == condensation status rule") {
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val ds = rows.map { case (ts, v) => ("m", ts, v) }.toDF("k", "ts", "v")
          .as[(String, Long, String)]
        val typed = ds.groupByKey(_._1)
          .mapValues(r => Aggregators.Obs(r._2, r._3))
          .agg(Aggregators.DownDominantLast.toColumn)
          .collect().head._2
        val expected =
          if (rows.exists(_._2 == "DOWN")) "DOWN"
          else rows.maxBy(r => (r._1, r._2))._2
        assert(typed == expected)
      }
    }
  }

  test("streaming condensation == batch condensation on random series") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    forAll(rowsGen, n = 3) { rows =>
      if (rows.nonEmpty) {
        val end = start + 600
        // batch reference: condense the same rows over the covered window
        val rt = rows.map { case (ts, v) => ("STATUS_m/p", ts, v) }
          .toDF("id", "messageTimestamp", "value")
        val batch = MachineDetail.realTimeMachineData(rt, "m/p", start, end)
          .as[(Long, String, String)].collect()
          .filter(_._2 != "UNKNOWN") // streaming append emits only non-empty chunks
          .map { case (chunk, status, _) => (chunk, status) }.toSet

        val input = MemoryStream[(String, java.sql.Timestamp, String)]
        val stream = input.toDF().toDF("machineId", "ts", "value")
        val qname = s"parity_${math.abs(rows.hashCode)}"
        val query = graft.streaming.StreamingCondense.condenseStatusStream(stream)
          .writeStream.format("memory").queryName(qname).outputMode("append").start()
        input.addData(rows.map { case (ts, v) =>
          ("m/p", new java.sql.Timestamp(ts * 1000), v)
        }: _*)
        // sentinel far in the future finalizes every chunk
        input.addData(("zz", new java.sql.Timestamp((end + 7200) * 1000), "UP"))
        query.processAllAvailable()
        query.stop()

        val streamed = spark.table(qname)
          .as[(String, Long, String)].collect()
          .filter(r => r._1 == "m/p" && r._2 > MachineDetail.floorMinute(start) && r._2 <= end)
          .map { case (_, chunk, status) => (chunk, status) }.toSet
        assert(streamed == batch, s"stream/batch divergence on $rows")
      }
    }
  }

  test("asof join equals the naive per-row definition on random inputs") {
    val pairGen = for {
      nL <- Gen.choose(1, 20)
      nR <- Gen.choose(0, 10)
      lts <- Gen.listOfN(nL, Gen.choose(0L, 100L))
      rts <- Gen.listOfN(nR, Gen.choose(0L, 100L))
    } yield (lts, rts.distinct) // unique right ts ⇒ deterministic spec
    forAll(pairGen) { case (lts, rts) =>
      val left = lts.zipWithIndex.map { case (ts, i) => (1, ts, i) }.toDF("k", "ts", "row")
      val right = rts.map(ts => (1, ts, s"v$ts")).toDF("k", "rts", "s")
      val got = graft.functions.AsofJoin.asof(left, right, "k", "ts", "rts", "s")
        .select("row", "asof_value").as[(Int, Option[String])].collect().toMap
      lts.zipWithIndex.foreach { case (ts, i) =>
        val expect = rts.filter(_ <= ts) match {
          case Nil => None
          case hit => Some(s"v${hit.max}") // latest at-or-before
        }
        assert(got(i) == expect, s"left ts=$ts rights=$rts")
      }
    }
  }

  test("md5-gate sampling is nested: sample(r1) ⊆ sample(r2) for r1 <= r2") {
    val ids = (0 until 500).map(i => (i.toLong, "s")).toDF("id", "stratum")
    def keys(rate: Double) = graft.functions.TextAnalysis.deterministicSample(
      ids, col("id").cast("string"), rate).select("id").as[Long].collect().toSet
    val r25 = keys(0.25); val r50 = keys(0.5); val r75 = keys(0.75)
    assert(r25.subsetOf(r50) && r50.subsetOf(r75)) // raise the rate, keep every prior doc
  }

  test("connected components: every member maps to its component's min id") {
    val edgeGen = Gen.listOfN(15, for {
      a <- Gen.choose(0L, 18L); off <- Gen.choose(1L, 5L)
    } yield (a, math.min(a + off, 19L)))
    forAll(edgeGen, n = 4) { edges =>
      if (edges.nonEmpty) {
        // reference union-find
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
        val pairs = edges.toDF("doc_a", "doc_b")
        // both regimes: the driver union-find and the distributed star rounds
        Seq[(String, (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.DataFrame)](
            ("connectedComponents", graft.functions.Dedup.connectedComponents(_, _, _)),
            ("connectedComponentsStar", graft.functions.Dedup.connectedComponentsStar(_, _, _)))
          .foreach { case (name, cc) =>
            val labels = cc(pairs, "doc_a", "doc_b").as[(Long, Long)].collect().toMap
            assert(labels.keySet == nodes, s"$name labels a different node set")
            nodes.groupBy(find).foreach { case (_, members) =>
              val expectedLabel = members.min
              members.foreach(m => assert(labels(m) == expectedLabel, s"$name: member $m of $members"))
            }
          }
      }
    }
  }

  test("parse roundtrip: any >=2-token alias splits and rejoins losslessly") {
    val tokGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    forAll(Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, tokGen))) { toks =>
      val alias = toks.mkString("/")
      val json =
        s"""{"messages":[{"name":"$alias","quality":"GOOD","timestamp":"2021-03-05 18:16:10.517000+00:00","value":"1"}]}"""
      val parsed = graft.parse.MessageParser.parse(
        Seq(json).toDF("p"), col("p"), Seq(graft.model.MessageFormatConfig(id = "D")))
        .select("machineId", "tag").as[(String, String)].head()
      assert(parsed._1 + "/" + parsed._2 == alias)
      assert(parsed._2 == toks.last)
    }
  }

  test("text kernels equal the lambda-chain reference on random mixed-whitespace text") {
    import graft.functions.TextKernelReference
    forAll(Gen.listOfN(24, TextKernelReference.textGen), n = 4) { texts =>
      TextKernelReference.assertKernelsMatch(spark, texts, Seq(1, 2, 3, 5))
    }
  }

  test("PII redaction is idempotent and non-expanding on random PII-laced text") {
    import graft.functions.TextAnalysis
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val pii = Gen.oneOf(
      Gen.const("bob.smith+x@corp.example.net"),
      Gen.const("555-201-3344"),
      Gen.const("172.16.254.3"))
    val textGen = Gen.listOfN(6, Gen.frequency(3 -> word, 1 -> pii)).map(_.mkString(" "))
    forAll(textGen, n = 12) { text =>
      val once = Seq(text).toDF("t")
        .select(TextAnalysis.redactPii(col("t")).as("r")).as[String].head()
      val twice = Seq(once).toDF("t")
        .select(TextAnalysis.redactPii(col("t")).as("r")).as[String].head()
      assert(twice == once, s"not idempotent on: $text")
      assert(!once.contains("@"), s"unredacted email survives in: $once")
    }
  }

  test("contamination containment is in (0,1] and 1.0 for verbatim-embedded docs") {
    import graft.functions.Dedup
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val docGen = Gen.listOfN(12, word).map(_.mkString(" "))
    forAll(Gen.listOfN(3, docGen), n = 5) { evalDocs =>
      val eval = evalDocs.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      // every eval doc embedded verbatim in one long train doc
      val train = Seq((1L, evalDocs.mkString("start padding ", " mid join padding ", " end padding")))
        .toDF("doc_id", "text")
      val hits = Dedup.contaminationPairs(train, eval, "doc_id", "text",
        n = 5, minContainment = 0.0)
        .select("eval_id", "containment").as[(Long, Double)].collect().toMap
      evalDocs.zipWithIndex.foreach { case (t, i) =>
        if (t.split("\\s+").length >= 5)
          assert(hits(100L + i) == 1.0, s"eval doc $i not fully contained")
      }
      assert(hits.values.forall(c => c > 0.0 && c <= 1.0))
    }
  }

  test("chunking invariant: stitching chunks (minus overlap) reconstructs the text") {
    // mirrors t14's geometry: size 200, overlap 50, stride 150
    val textGen = Gen.choose(1, 700).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    forAll(textGen, n = 12) { text =>
      val df = Seq((1L, text, text.length.toLong)).toDF("doc_id", "text", "n_chars")
      val chunks = df
        .withColumn("_nc", greatest(lit(1L),
          ceil((col("n_chars") - lit(50)).cast("double") / 150).cast("long")))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("_nc") - 1)).as("chunk_idx"))
        .withColumn("chunk", expr("substring(text, cast(chunk_idx * 150 as int) + 1, 200)"))
        .orderBy("chunk_idx").select("chunk").as[String].collect().toSeq
      // every chunk ≤ size; all non-final chunks are FULL (size chars)
      assert(chunks.forall(_.length <= 200))
      assert(chunks.dropRight(1).forall(_.length == 200), chunks.map(_.length))
      // consecutive chunks agree on the 50-char overlap (a non-final
      // chunk exists only when n > 200, and then every later chunk is
      // ≥ 51 chars by the stride geometry)
      chunks.sliding(2).foreach {
        case Seq(a, b) => assert(a.takeRight(50) == b.take(50))
        case _ =>
      }
      // stitch: first chunk + each subsequent chunk minus its overlap prefix
      val stitched = chunks.head + chunks.tail.map(_.drop(50)).mkString
      assert(stitched == text, s"len ${text.length}: ${chunks.map(_.length)}")
    }
  }

  test("packing invariant: (bin, offset) reconstructs the exact prefix-sum state") {
    val docsGen = Gen.listOfN(25, for {
      src <- Gen.oneOf("a", "b")
      nt <- Gen.choose(1L, 180L)
    } yield (src, nt))
    forAll(docsGen, n = 10) { docs =>
      val budget = 100L
      val df = docs.zipWithIndex.map { case ((s, nt), i) => (i.toLong, s, nt) }
        .toDF("doc_id", "source", "n_tokens")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val packed = df.withColumn("seq_pos", coalesce(sum($"n_tokens").over(w), lit(0L)))
        .select($"source", $"doc_id", $"n_tokens",
          ($"seq_pos" / budget).cast("long").as("bin"), ($"seq_pos" % budget).as("off"))
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      packed.groupBy(_._1).foreach { case (_, rows) =>
        val sorted = rows.sortBy(_._2)
        // offset equals running total mod budget; bin equals div —
        // the full packing state reconstructs from (bin, off) alone
        var pos = 0L
        sorted.foreach { case (_, _, nt, bin, off) =>
          assert(bin == pos / budget && off == pos % budget)
          pos += nt
        }
      }
    }
  }

  test("bounded-key packing == global single-window prefix sum for any monotone batch key") {
    val docsGen = Gen.listOfN(40, for {
      src <- Gen.oneOf("a", "b", "c")
      nt <- Gen.choose(1L, 180L)
    } yield (src, nt))
    val batchWidthGen = Gen.oneOf(1L, 3L, 7L, 1000L) // 1000 ⇒ one batch (degenerate)
    forAll(Gen.zip(docsGen, batchWidthGen), n = 10) { case (docs, width) =>
      val df = docs.zipWithIndex.map { case ((s, nt), i) => (i.toLong, s, nt) }
        .toDF("doc_id", "source", "n_tokens")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val global = df.withColumn("seq_pos", coalesce(sum($"n_tokens").over(w), lit(0L)))
        .select($"doc_id", $"seq_pos").as[(Long, Long)].collect().toMap
      val bounded = graft.functions.TextAnalysis
        .packSequences(df, "doc_id", "source", "n_tokens",
          batchCol = expr(s"doc_id div $width"))
        .select($"doc_id", $"seq_pos").as[(Long, Long)].collect().toMap
      assert(bounded == global, s"width=$width")
    }
  }

  test("z-order key is a bijection: de-interleaving recovers every input exactly") {
    // random (n, bits, values): interleave via the Expression, then
    // recover each input by picking its bit lanes back out — any
    // dropped/duplicated/misplaced bit breaks the round trip
    val caseGen = for {
      n <- Gen.choose(2, 5)
      bits <- Gen.choose(1, 62 / n) // keep n*bits <= 62 so 1L << (n*bits) stays positive
      vals <- Gen.listOfN(n, Gen.choose(0L, (1L << bits) - 1))
    } yield (n, bits, vals)
    forAll(caseGen, n = 24) { case (n, bits, vals) =>
      val df = Seq(1).toDF("one")
      val cols = vals.map(v => lit(v))
      val z = df.select(graft.functions.ZOrder.key(bits, cols: _*).as("z"))
        .as[Long].head()
      val recovered = (0 until n).map { k =>
        (0 until bits).foldLeft(0L)((acc, j) => acc | (((z >>> (j * n + k)) & 1L) << j))
      }
      assert(recovered == vals, s"n=$n bits=$bits vals=$vals z=$z")
      // keys fit the value bits: no overflow into the sign bit
      assert(z >= 0L && z < (1L << (n * bits)), s"z=$z out of range")
    }
  }
}

package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The one directory swap of every path-based store that is rewritten
 * in place: the UI-reference state, the sketch stores and bases, the
 * cluster logs, the IVF index, warehouse day partitions and the
 * fuzzy-link and near-dedup key logs. Spark cannot overwrite a path it
 * is reading, so a rewrite is staged first:
 *
 *  1. write the new image into the hidden sibling `.<name>.swap`
 *     (hidden, so a scan of the parent never lists it);
 *  2. make sure the stage holds a `_SUCCESS` marker: a marked stage is
 *     complete;
 *  3. delete the live directory, then rename the stage into its place.
 *
 * A crash between the delete and the rename leaves the only complete
 * image in the marked stage. Every read of a swapped store goes through
 * [[ready]], which finishes that swap first, so no read serves a crashed
 * swap as an empty store. A read only ever renames a marked stage onto
 * a missing live directory, and never deletes anything: a concurrent
 * swap may own the stage, and losing the rename race to it is harmless.
 * A stale stage (unmarked, or left beside an intact live directory)
 * goes at the next [[swap]], or at [[clearOrphan]] where no swap can be
 * running.
 *
 * SINGLE WRITER: two concurrent swaps of one store share one stage.
 * Each store states when its rewrite may run.
 */
private[graft] object StoreSwap {

  private val Marker = "_SUCCESS"
  private val Suffix = ".swap"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stageOf(live: Path): Path = new Path(live.getParent, s".${live.getName}$Suffix")

  /** Where the next image of `live` is staged. */
  def stage(live: String): String = stageOf(new Path(live)).toString

  /** The live directory that `p` is the stage of, or `p` itself. For a
   * caller that finds a store by listing its parent: after a crash
   * mid-swap, only the stage is there. */
  def liveOf(p: Path): Path = {
    val n = p.getName
    if (n.startsWith(".") && n.endsWith(Suffix))
      new Path(p.getParent, n.substring(1, n.length - Suffix.length))
    else p
  }

  /** Replace `live` with what `write` writes to the path it is given. */
  def swap(spark: SparkSession, live: String)(write: String => Unit): Unit = {
    val l = new Path(live)
    val s = stageOf(l)
    val f = fs(spark, l)
    f.delete(s, true)
    write(s.toString)
    mark(f, s)
    f.delete(l, true)
    promote(f, s, l)
  }

  /** Whether `live` holds a data file, after finishing a swap that
   * crashed between its delete and its rename (live missing, marked
   * stage present). Costs one `exists` call beyond the data-file check
   * when the live directory is there. */
  def ready(spark: SparkSession, live: String): Boolean = {
    val l = new Path(live)
    val f = fs(spark, l)
    if (!f.exists(l) && f.exists(new Path(stageOf(l), Marker))) promote(f, stageOf(l), l)
    hasData(f, l)
  }

  /** Settle the stage where no swap of the store can be running, e.g.
   * before a stream starts. A stage no swap will finish goes: an
   * unmarked one (a crashed write), or a marked one beside a live
   * directory that has data (a crash before the delete). A marked stage
   * beside a live directory without data is the only complete image: it
   * stays, and a live directory without data goes, so [[ready]] promotes
   * the stage. */
  def clearOrphan(spark: SparkSession, live: String): Unit = {
    val l = new Path(live)
    val s = stageOf(l)
    val f = fs(spark, l)
    if (f.exists(s)) {
      if (!f.exists(new Path(s, Marker)) || hasData(f, l)) f.delete(s, true)
      else f.delete(l, true)
    }
    ()
  }

  /** Make sure `dir` holds a `_SUCCESS` marker. */
  def mark(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    mark(fs(spark, p), p)
  }

  private def mark(f: FileSystem, dir: Path): Unit = {
    val m = new Path(dir, Marker)
    if (!f.exists(m)) f.create(m, true).close()
  }

  /** Whether `dir` holds a non-empty data file at any depth. Names
   * starting with `_` or `.` (markers, checksums, committer scratch,
   * stages) are not data. */
  private def hasData(f: FileSystem, dir: Path): Boolean =
    f.exists(dir) && f.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        (if (st.isDirectory) hasData(f, st.getPath) else st.getLen > 0)
    }

  /** Rename the stage onto `live`. A failed rename whose live directory
   * has data lost the race to another promotion of the same stage (a
   * read finishing the swap, or the swap itself); only a rename that
   * leaves `live` without data fails. */
  private def promote(f: FileSystem, stage: Path, live: Path): Unit = {
    val moved = try f.rename(stage, live)
      catch { case _: java.io.FileNotFoundException => false }
    if (!moved && !hasData(f, live))
      throw new java.io.IOException(s"store swap failed: $stage -> $live")
  }
}

package graft.sources

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.util.Try

/** The local file system under the `hooked` scheme, calling
 * [[HookedLocalFileSystem.hook]] before and after every delete and
 * rename, so a spec can step a swap and a read through one exact
 * interleaving. */
class HookedLocalFileSystem extends RawLocalFileSystem {
  import HookedLocalFileSystem.hook
  override def getUri: URI = URI.create("hooked:///")
  override def getScheme: String = "hooked"
  override def delete(p: Path, recursive: Boolean): Boolean = {
    hook("delete", p)
    val r = super.delete(p, recursive)
    hook("deleted", p)
    r
  }
  override def rename(src: Path, dst: Path): Boolean = {
    hook("rename", src)
    val r = super.rename(src, dst)
    hook("renamed", src)
    r
  }
}

object HookedLocalFileSystem {
  @volatile var hook: (String, Path) => Unit = (_, _) => ()
}

class StoreSwapSpec extends SparkTestBase {

  private def fs: FileSystem =
    new Path("hooked:///").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A fresh live path under the `hooked` scheme. */
  private def tmpLive(): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.hooked.impl",
      classOf[HookedLocalFileSystem].getName)
    "hooked://" + java.nio.file.Files.createTempDirectory("graft-storeswap") + "/store"
  }

  private def image(text: String)(dir: String): Unit = {
    val out = fs.create(new Path(dir, "part-0"))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def content(live: String): String = {
    val in = fs.open(new Path(live, "part-0"))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def same(a: Path, b: String): Boolean = a.toUri.getPath == new Path(b).toUri.getPath

  private def withHook[T](h: (String, Path) => Unit)(body: => T): T = {
    HookedLocalFileSystem.hook = h
    try body finally HookedLocalFileSystem.hook = (_, _) => ()
  }

  test("a read that sees a swap's crash window, then loses the rename to the swap, keeps the new image") {
    val live = tmpLive()
    StoreSwap.swap(spark, live)(image("old"))
    val liveDeleted, readerActs, swapRenamed = new CountDownLatch(1)
    var readerResult: Try[Boolean] = null
    val reader = new Thread(() => {
      liveDeleted.await(30, TimeUnit.SECONDS)
      readerResult = Try(StoreSwap.ready(spark, live))
      readerActs.countDown() // a read that changes nothing releases the swap here
    })
    // the swap deletes live and waits; the read checks, and before its
    // first delete or rename waits for the swap's rename to land
    withHook { (event, p) =>
      if (Thread.currentThread() eq reader) {
        if (event == "delete" || event == "rename") {
          readerActs.countDown()
          swapRenamed.await(30, TimeUnit.SECONDS)
        }
      } else if (event == "deleted" && same(p, live)) {
        liveDeleted.countDown()
        readerActs.await(30, TimeUnit.SECONDS)
      } else if (event == "renamed") swapRenamed.countDown()
    } {
      reader.start()
      StoreSwap.swap(spark, live)(image("new"))
      reader.join(60000)
    }
    assert(readerResult.get, "the read must see the swapped-in image")
    assert(content(live) == "new", "the read must not undo the swap")
    assert(!fs.exists(new Path(StoreSwap.stage(live))))
  }

  test("a read that finishes a swap's rename first leaves the swap to succeed") {
    val live = tmpLive()
    StoreSwap.swap(spark, live)(image("old"))
    var readerResult: Option[Boolean] = None
    withHook { (event, p) =>
      if (event == "deleted" && same(p, live) && readerResult.isEmpty) {
        readerResult = Some(false) // run the read once, not from its own calls
        readerResult = Some(StoreSwap.ready(spark, live))
      }
    } {
      StoreSwap.swap(spark, live)(image("new"))
    }
    assert(readerResult.contains(true))
    assert(content(live) == "new")
    assert(!fs.exists(new Path(StoreSwap.stage(live))))
  }
}

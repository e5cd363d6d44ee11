package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** A local filesystem under the `blocking:` scheme whose `exists` on a
  * path named `text` hangs like a stuck storage read until interrupted,
  * while `exists` on `vectors` waits until that hang has begun — so a
  * [[graft.hybrid.Hybrid.read]] over it fails in one load while another
  * load is provably still in flight. */
class BlockingLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("blocking:///")

  override def exists(f: Path): Boolean = f.getName match {
    case "text" =>
      BlockingLocalFs.hung = Some(Thread.currentThread)
      BlockingLocalFs.hangStarted.countDown()
      try { Thread.sleep(60000); super.exists(f) }
      catch {
        case _: InterruptedException =>
          Thread.currentThread.interrupt()
          false
      }
    case "vectors" =>
      BlockingLocalFs.hangStarted.await(30, TimeUnit.SECONDS)
      super.exists(f)
    case _ => super.exists(f)
  }
}

object BlockingLocalFs {
  val hangStarted = new CountDownLatch(1)
  @volatile var hung: Option[Thread] = None
}

class HybridReadPoolSpec extends SparkSpec {

  test("Hybrid.read of a corrupt artifact throws and leaves no load " +
       "thread alive: the pool's threads are named daemons, and the " +
       "failure path interrupts a sibling load stuck in the filesystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.blocking.impl", classOf[BlockingLocalFs].getName)
    conf.setBoolean("fs.blocking.impl.disable.cache", true)
    // corrupt: a vectors dir without centroids, no config, and a text
    // dir whose existence check hangs
    val dir = java.nio.file.Files.createTempDirectory("hybcorrupt")
    java.nio.file.Files.createDirectory(dir.resolve("vectors"))
    java.nio.file.Files.createDirectory(dir.resolve("text"))

    intercept[Exception] {
      graft.hybrid.Hybrid.read(spark, s"blocking:$dir")
    }
    val t = BlockingLocalFs.hung.getOrElse(
      fail("the text load never reached the filesystem"))
    assert(t.getName.startsWith(graft.hybrid.Hybrid.ReadThreadPrefix),
      s"load thread is not named for its pool: ${t.getName}")
    assert(t.isDaemon, "a load thread must not pin the JVM open")
    t.join(10000)
    assert(!t.isAlive, "the hung load was not interrupted on failure")

    def poolThreads = Thread.getAllStackTraces.keySet.toArray
      .collect { case th: Thread
        if th.isAlive &&
          th.getName.startsWith(graft.hybrid.Hybrid.ReadThreadPrefix) => th }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (poolThreads.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(poolThreads.isEmpty,
      s"load threads still alive: ${poolThreads.map(_.getName).mkString(", ")}")
  }
}

package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // session-catalog warehouse for bucketed-table tests
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.expr.Functions.register(s)
    s
  }

  /** Ids of the RDDs holding blocks: cached frames and localCheckpoints
    * alike. The session tracks persisted RDDs through weak references, so
    * a test holds the frames it checks: a collected one would drop out of
    * this view without its blocks being freed.
    */
  def rddsWithBlocks(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** `f`'s result and the descriptions of the Spark jobs it started, in
    * start order ("" for an untagged job). The listener bus is drained
    * before the listener is added and before it is read, so the list is
    * exact, not sampled.
    */
  def jobsDuring[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      TestListenerBus.drain(sc)
      (a, seen.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `f` re-read every 100 ms until `ok` (at most 10 s), then returned:
    * block updates reach the status store asynchronously.
    */
  def poll[A](f: => A)(ok: A => Boolean): A = {
    var v = f
    var n = 0
    while (!ok(v) && n < 100) { Thread.sleep(100); v = f; n += 1 }
    v
  }
}

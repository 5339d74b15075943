package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A timed interval. Layer spans come from the benchmark's own calls into
  * the program; job and stage spans come from the Spark listener. All
  * times are epoch microseconds; `parent` is 0 for a root span.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Span {
  /** Duration minus the part of it that `children` cover (their union,
    * clipped to the span).
    */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durUs - covered
  }
}

/** Per-stage record of the listener. */
final case class StageRec(stageId: Int, name: String, submitMs: Long,
    endMs: Long, taskMs: Seq[Long], shuffleWrite: Long, shuffleRead: Long,
    output: Long)

/** Per-job record of the listener. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** Per-query record of the listener: the action's name and duration. */
final case class QueryRec(func: String, endMs: Long, durMs: Long, scanBytes: Long)

/** The benchmark's run listener. Every counter is atomic and every record
  * goes to a concurrent collection; `drained` empties the listener bus
  * before anything is read, so a read never races the bus thread.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs, stages, shuffleWrite, shuffleRead, spill, gcMs, taskWaitMs,
      exchanges = new AtomicLong

  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]()
  private val jobStart = new ConcurrentHashMap[Int, JobRec]()
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, JobRec(e.jobId, e.time, 0L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(j => jobRecs.add(j.copy(endMs = e.time)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
      .add(e.taskInfo.duration)
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    val ts = Option(stageTasks.remove(i.stageId)).map(_.asScala.map(_.longValue).toSeq)
      .getOrElse(Nil)
    val m = i.taskMetrics
    stageRecs.add(StageRec(i.stageId, i.name.takeWhile(_ != '\n'),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), ts,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Probe.nodes(qe.executedPlan)
    exchanges.addAndGet(nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong)
    queries.add(QueryRec(funcName, System.currentTimeMillis(), durationNs / 1000000,
      nodes.flatMap(_.metrics.get("filesSize")).map(_.value).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Drain the bus, then read. */
  def drained[A](f: => A): A = { GraftBenchBus.drain(spark.sparkContext); f }

  def stageList: Seq[StageRec] = drained(stageRecs.asScala.toSeq.sortBy(_.stageId))
  def jobList: Seq[JobRec] = drained(jobRecs.asScala.toSeq.sortBy(_.jobId))

  /** Stages that ran inside a layer span (ms clock, 1 ms slack). */
  def stagesIn(s: Span): Seq[StageRec] = stageList.filter(r =>
    r.submitMs * 1000 >= s.startUs - 1000 && r.endMs * 1000 <= s.endUs + 1000)

  /** Queries that ended inside a span. */
  def queriesIn(s: Span): Seq[QueryRec] = drained(queries.asScala.toSeq).filter(q =>
    q.endMs * 1000 >= s.startUs && q.endMs * 1000 <= s.endUs + 1000)

  def counters: Map[String, Long] = drained(Map(
    "jobs" -> jobs.get, "stages" -> stages.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get, "gc_ms" -> gcMs.get,
    "task_wait_ms" -> taskWaitMs.get,
    "exchanges" -> exchanges.get))

  def detach(): Unit = {
    drained(())
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  /** Drains the bus first, so no event of earlier work reaches the probe. */
  def attach(spark: SparkSession): Probe = {
    GraftBenchBus.drain(spark.sparkContext)
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** The nodes of an executed plan, looking through adaptive plans and
    * their query stages; reused exchanges are not entered.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }
}

/** Spans of one run, kept in memory and written once at the end. Layer
  * spans nest on the driver thread; each Spark job is parented to the
  * innermost layer span open when it started, and each stage to its job.
  */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong
  private val layers = new ConcurrentLinkedQueue[Span]()
  private var open: List[Long] = Nil
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  def nowUs: Long = t0Ms * 1000L + (System.nanoTime() - t0Ns) / 1000L

  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    val s = nowUs
    try f
    finally {
      open = open.tail
      layers.add(Span(id, parent, "layer", name, s, nowUs))
    }
  }

  def layerSpans: Seq[Span] = layers.asScala.toSeq.sortBy(_.startUs)

  /** Layer spans plus job and stage spans from `probe`. */
  def allSpans(probe: Probe): Seq[Span] = {
    val ls = layerSpans
    val jobs = probe.jobList.map { j =>
      val startUs = j.startMs * 1000L
      // ms-resolution job times: allow 1 ms of truncation at the edges
      val host = ls.filter(l => l.startUs - 1000L <= startUs && startUs <= l.endUs)
        .sortBy(l => -l.startUs).headOption.map(_.id).getOrElse(0L)
      j -> Span(ids.incrementAndGet(), host, "job", s"job ${j.jobId}",
        startUs, math.max(startUs, j.endMs * 1000L))
    }
    val stageJob = jobs.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }
      .groupBy(_._1).map { case (st, v) => st -> v.map(_._2).min }
    val stages = probe.stageList.map(st =>
      Span(ids.incrementAndGet(), stageJob.getOrElse(st.stageId, 0L), "stage",
        s"stage ${st.stageId} ${st.name}", st.submitMs * 1000L,
        math.max(st.submitMs, st.endMs) * 1000L))
    (ls ++ jobs.map(_._2) ++ stages).sortBy(_.startUs)
  }

  /** Descendant job and stage spans of `root`. */
  def within(root: Span, all: Seq[Span], kind: String): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def desc(id: Long): Seq[Span] =
      byParent.getOrElse(id, Nil).flatMap(c => c +: desc(c.id))
    desc(root.id).filter(_.kind == kind)
  }

  def selfUs(s: Span, all: Seq[Span]): Long =
    Span.selfUs(s, all.filter(_.parent == s.id))

  def toJson(all: Seq[Span]): String = all.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
      s""""name":"${Json.esc(s.name)}","start_us":${s.startUs},"end_us":${s.endUs},""" +
      s""""self_us":${selfUs(s, all)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Spans around the benchmark's calls into each module, plus Spark listener
  * counters attributed to those spans. A disabled tracer runs every body
  * directly and registers nothing, so the timed run carries no tracing.
  *
  * Attribution: each open span adds a Spark job tag (`pbspan-<id>`) to its
  * thread. Threads started inside a span (pipeline pools, the streaming
  * query thread) inherit the tags, so a job or SQL execution belongs to the
  * deepest span among its tags; span ids grow with depth on any one thread. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val TagPrefix = "pbspan-"

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    @volatile var end: Long = 0L
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  private val current = new InheritableThreadLocal[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = new Span(nextId.incrementAndGet(), name,
        if (parent == null) 0 else parent.id, System.nanoTime())
      val tag = TagPrefix + s.id
      sc.addJobTag(tag)
      current.set(s)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.removeJobTag(tag)
        spans.add(s)
      }
    }

  /** Traced run only: run a lazy call's plan with a `noop` write, under a
    * span of its own. Use it where the call's input is files on disk. */
  def force(name: String)(call: => DataFrame): Unit =
    if (enabled) span(name)(call.write.format("noop").mode("overwrite").save())

  /** Traced run only: [[force]] a lazy call over `input` materialized first,
    * outside any span, so the span covers the call's own work alone. */
  def forceLazy(name: String, input: DataFrame)(call: DataFrame => DataFrame): Unit =
    if (enabled) {
      val m = input.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        m.count()
        force(name)(call(m))
      } finally m.unpersist(blocking = true)
    }

  // ---- named counters reported next to the span measures ----------------
  private val totals = mutable.Map.empty[String, Double]
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Added up over the run, reported per operation. */
  def add(name: String, v: Double): Unit =
    if (enabled) totals.synchronized(totals(name) = totals.getOrElse(name, 0.0) + v)
  /** Reported as the median of the values recorded. */
  def sample(name: String, v: Double): Unit =
    if (enabled) samples.synchronized(
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  // ---- Spark listeners ---------------------------------------------------
  private final class Acc {
    var taskMs = 0L; var shuffleBytes = 0L; var gcMs = 0L
    val execs = mutable.Set.empty[Long]
  }
  private val perSpan = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  // broadcast exchanges' "data size" accumulators per SQL execution, and the
  // driver-side metric updates; an update can arrive before the adaptive plan
  // that names its accumulator, so the two are joined when the run reports
  private val broadcastAccums = mutable.Map.empty[Long, Set[Long]]
  private val driverUpdates = mutable.Map.empty[Long, Seq[(Long, Long)]]
  private def broadcastBytes(exec: Long): Long = {
    val ids = broadcastAccums.getOrElse(exec, Set.empty)
    driverUpdates.getOrElse(exec, Nil).collect { case (id, v) if ids(id) => v }.sum
  }
  private var planningMs = 0L
  private var taskMsAll = 0L
  private var spillBytes = 0L
  private val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]

  private def spanOf(tags: Iterable[String]): Option[Int] =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toInt)
      .maxOption
  private def acc(id: Int): Acc = perSpan.getOrElseUpdate(id, new Acc)

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronizedAll {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      spanOf(tags).foreach { id =>
        e.stageIds.foreach(stageSpan(_) = id)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => acc(id).execs += x.toLong)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronizedAll {
      Option(e.taskMetrics).foreach { m =>
        taskMsAll += m.executorRunTime
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageSpan.get(e.stageId).foreach { id =>
          val a = acc(id)
          a.taskMs += m.executorRunTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.gcMs += m.jvmGCTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronizedAll(e match {
      case s: SparkListenerSQLExecutionStart =>
        spanOf(s.jobTags).foreach(acc(_).execs += s.executionId)
        noteBroadcasts(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteBroadcasts(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        driverUpdates(d.executionId) = driverUpdates.getOrElse(d.executionId, Nil) ++ d.accumUpdates
      case _ =>
    })
  }

  private def noteBroadcasts(exec: Long, p: SparkPlanInfo): Unit = {
    def walk(n: SparkPlanInfo): Seq[Long] =
      (if (n.nodeName == "BroadcastExchange")
        n.metrics.filter(_.name == "data size").map(_.accumulatorId) else Nil) ++
        n.children.flatMap(walk)
    broadcastAccums(exec) = broadcastAccums.getOrElse(exec, Set.empty) ++ walk(p)
  }

  private object queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronizedAll(planningMs += qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronizedAll(progress += e.progress.durationMs)
  }

  private def synchronizedAll[T](f: => T): T = this.synchronized(f)

  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  private var loopStart = 0L
  private var lastRddAtStart = -1

  def startLoop(): Unit = {
    lastRddAtStart = (sc.getPersistentRDDs.keys ++ Seq(-1)).max
    loopStart = System.nanoTime()
  }

  /** Per-layer metrics of the traced loop: per-span measures over `ops`
    * operations, the named counters, and Spark-wide counters. */
  def report(ops: Int, cores: Int): Map[String, Double] = {
    val wallS = (System.nanoTime() - loopStart) / 1e9
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def selfNs(s: Span): Long = {
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      (s.end - s.start) - covered
    }
    val n = math.max(ops, 1).toDouble
    val out = mutable.Map.empty[String, Double]
    synchronizedAll {
      all.groupBy(_.name).foreach { case (name, ss) =>
        val accs = ss.flatMap(s => perSpan.get(s.id))
        out(s"$name.s") = ss.map(selfNs).sum / 1e9 / n
        out(s"$name.executions") = accs.map(_.execs.size).sum / n
        out(s"$name.task_s") = accs.map(_.taskMs).sum / 1e3 / n
        out(s"$name.shuffle_bytes") = accs.map(_.shuffleBytes).sum / n
        out(s"$name.gc_ms") = accs.map(_.gcMs).sum / n
        val bc = accs.flatMap(_.execs).map(broadcastBytes).sum
        out(s"$name.broadcast_bytes") = bc / n
      }
      out("spark.planning_ms") = planningMs / n
      out("spark.spill_bytes") = spillBytes / n
      out("spark.busy_frac") = taskMsAll / 1e3 / (wallS * cores)
      def med(key: String) = median(progress.toSeq.flatMap(m => Option(m.get(key)).map(_.toDouble)))
      out("streaming.latest_offset_ms") = med("latestOffset")
      out("streaming.add_batch_ms") = med("addBatch")
      out("streaming.wal_commit_ms") = med("walCommit")
      out("streaming.query_planning_ms") = med("queryPlanning")
    }
    // RDDs the traced loop persisted and left persisted after its operations
    out("spark.leaked_rdds") = sc.getPersistentRDDs.keys.count(_ > lastRddAtStart) / n
    totals.foreach { case (k, v) => out(k) = v / n }
    samples.foreach { case (k, v) => out(k) = median(v.toSeq) }
    out.toMap
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary. Times are epoch microseconds;
  * `parent` is 0 for a request's root span. */
final case class Span(id: Int, parent: Int, req: Int, name: String, start: Long, end: Long)

/** Counters Spark's listener events give for one job group. */
final class GroupAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0.0
  var cpuMs = 0.0
  var waitMs = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** One traced request, as its layers saw it. */
final case class Traced(req: Int, op: String, startUs: Long, apiEndUs: Long, endUs: Long,
                        results: Long, api: GroupAgg, action: GroupAgg, planMs: Double,
                        gcMs: Double, extra: Map[String, Double]) {
  def wallMs: Double = (endUs - startUs) / 1e3
  def layerValues: Seq[(String, Double)] = {
    val both = Seq(api, action)
    val rows = both.map(_.rowsRead).sum
    Seq(
      "api.construct_ms" -> (apiEndUs - startUs) / 1e3,
      "api.construct_jobs" -> api.jobs.toDouble,
      "plan.ms" -> planMs,
      "exec.jobs" -> both.map(_.jobs).sum.toDouble,
      "exec.stages" -> both.map(_.stages).sum.toDouble,
      "exec.tasks" -> both.map(_.tasks).sum.toDouble,
      "exec.task_wait_ms" -> both.map(_.waitMs).sum,
      "exec.driver_gap_ms" -> Stats.driverGap(startUs / 1e3, endUs / 1e3,
        both.flatMap(_.jobIntervals)),
      "exec.run_ms" -> both.map(_.runMs).sum,
      "exec.cpu_ms" -> both.map(_.cpuMs).sum,
      "exec.gc_ms" -> gcMs,
      "exec.shuffle_bytes" -> both.map(_.shuffleBytes).sum.toDouble,
      "exec.spill_bytes" -> both.map(_.spillBytes).sum.toDouble,
      "exec.rows_read" -> rows.toDouble,
      "exec.rows_read_per_result" -> rows.toDouble / math.max(1L, results)) ++ extra.toSeq
  }
}

/** Spans and Spark counters for traced requests. It observes from
  * outside: job groups tag each request's jobs ("<req>/api" while the
  * client call builds its result, "<req>/action" while the result
  * materializes), a SparkListener attributes jobs, stages and tasks to
  * those groups, and a QueryExecutionListener reads each query's
  * planning phases. Everything stays in memory until `write`. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groups = mutable.HashMap.empty[String, GroupAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val runningJobs = mutable.HashMap.empty[Int, (String, Long)]
  // (job, group, start ms, end ms), (stage, start ms, end ms), (name, start us, end us)
  private val doneJobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val doneStages = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val planPhases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var planMs = 0.0
  private var gcAtBegin = 0L
  val requests = mutable.ArrayBuffer.empty[Traced]
  private var nextSpan = 0
  @volatile private var active = false

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def span(parent: Int, req: Int, name: String, start: Long, end: Long): Int = {
    nextSpan += 1
    spans += Span(nextSpan, parent, req, name, start, end)
    nextSpan
  }

  private def agg(group: String): GroupAgg = groups.getOrElseUpdate(group, new GroupAgg)

  /** Events from here to `finish` belong to one request. */
  def begin(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { reset() }
    gcAtBegin = Tracer.gcMs()
  }

  private def reset(): Unit = {
    groups.clear(); stageGroup.clear(); stageJob.clear()
    doneJobs.clear(); doneStages.clear(); planPhases.clear(); planMs = 0.0
    active = true
  }

  /** Closes a request: waits for its events, then records its spans. */
  def finish(req: Int, op: String, startUs: Long, apiEndUs: Long, endUs: Long,
             results: Long, extra: Map[String, Double]): Unit = {
    val gc = Tracer.gcMs() - gcAtBegin
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      active = false
      val root = span(0, req, op, startUs, endUs)
      val parentOf = Map(
        s"$req/api" -> span(root, req, "api", startUs, apiEndUs),
        s"$req/action" -> span(root, req, "action", apiEndUs, endUs))
      val jobSpan = doneJobs.map { case (job, g, s, e) =>
        job -> span(parentOf.getOrElse(g, root), req, s"job $job", s * 1000, e * 1000)
      }.toMap
      doneStages.foreach { case (stage, s, e) =>
        span(stageJob.get(stage).flatMap(jobSpan.get).getOrElse(root), req,
          s"stage $stage", s * 1000, e * 1000)
      }
      planPhases.foreach { case (name, s, e) => span(root, req, name, s, e) }
      requests += Traced(req, op, startUs, apiEndUs, endUs, results,
        groups.getOrElse(s"$req/api", new GroupAgg),
        groups.getOrElse(s"$req/action", new GroupAgg), planMs, gc.toDouble, extra)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob.getOrElseUpdate(s, e.jobId) }
    runningJobs(e.jobId) = (g, e.time)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    runningJobs.remove(e.jobId).foreach { case (g, s) =>
      agg(g).jobIntervals += ((s.toDouble, e.time.toDouble))
      doneJobs += ((e.jobId, g, s, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    agg(stageGroup.getOrElse(si.stageId, "")).stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) doneStages += ((si.stageId, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.rowsRead += m.inputMetrics.recordsRead
      // the scheduler-delay formula of Spark's own UI
      a.waitMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    if (active) qe.tracker.phases.foreach { case (name, p) =>
      planMs += p.durationMs
      planPhases += ((s"plan.$name", p.startTimeMs * 1000, p.endTimeMs * 1000))
    }
  }

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_us":${s.start},"end_us":${s.end}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover, summed per span name. */
  def selfTimeMs: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => s.name.takeWhile(c => !c.isDigit).trim).map { case (name, ss) =>
      name -> ss.map { s =>
        val cover = Stats.unionLength(kids.getOrElse(s.id, Nil).toSeq.map(k => (k.start.toDouble, k.end.toDouble)),
          s.start.toDouble, s.end.toDouble)
        (s.end - s.start - cover) / 1e3
      }.sum
    }
  }
}

object Tracer {
  /** Collection time of this JVM so far. Executors run inside it
    * (local mode), so this is their GC time too. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The closed-loop client: one request at a time, each timed from the
  * client call through full materialization of its result. A request
  * that throws counts as failed, with its exception class, and gives no
  * latency sample; so does one whose result fails its check. */
final class Client(spark: SparkSession) {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0
  /** Set while a traced phase runs. */
  var tracer: Option[Tracer] = None
  private var req = 0

  /** Runs one request: `call` is the client or module call, `finish`
    * materializes what it returned, `check` returns a problem or None.
    * `results` counts the rows the request produced (for the per-layer
    * rows-read ratio); `extra` adds per-layer values measured around it. */
  def request[D, R](op: String)(call: => D)(finish: D => R)(check: R => Option[String],
      results: R => Long = (_: R) => 1L, extra: => Map[String, Double] = Map.empty): Option[R] = {
    attempted += 1
    req += 1
    val sc = spark.sparkContext
    tracer.foreach(_.begin())
    val startUs = Tracer.nowUs()
    val t0 = System.nanoTime()
    var apiEndUs = startUs
    val outcome =
      try {
        sc.setJobGroup(s"$req/api", op)
        val d = call
        apiEndUs = Tracer.nowUs()
        sc.setJobGroup(s"$req/action", op)
        Right(finish(d))
      } catch {
        case e: Exception => Left(e)
      } finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1e6
    val endUs = Tracer.nowUs()
    outcome match {
      case Left(e) =>
        failures += op -> e.getClass.getName
        System.err.println(s"[perfbench] $op failed: $e")
        None
      case Right(r) =>
        tracer.foreach(_.finish(req, op, startUs, apiEndUs, endUs, results(r), extra))
        check(r) match {
          case Some(problem) =>
            failures += op -> s"check: $problem"
            System.err.println(s"[perfbench] $op check failed: $problem")
            None
          case None =>
            latencies.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
            Some(r)
        }
    }
  }

  /** A check made outside any request (end-of-run state checks). */
  def verify(what: String)(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failures += what -> s"check: $p"
      System.err.println(s"[perfbench] $what check failed: $p")
    }
  }

  def samples: Seq[Double] = latencies.values.flatten.toSeq
}

object Client {
  def collect(df: DataFrame): Array[Row] = df.collect()

  /** Full materialization of a pipeline frame without returning it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

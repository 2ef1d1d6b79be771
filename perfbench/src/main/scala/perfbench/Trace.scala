package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing from outside the engine: spans timed around calls into a
  * layer's public functions, plus Spark's own listener events. Jobs are
  * attributed to the innermost span open at their start time; stages and
  * tasks follow their job. Spans and events stay in memory until
  * [[report]] runs at the end. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)] // (start, ms)
  private var schedDelayMs = 0L
  private var tasksFailed = 0L

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
      e.stageInfos.foreach(s => stages.getOrElseUpdate(s.stageId, new StageAcc(s.numTasks)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, st) => jobs += Job(e.jobId, t0, e.time, st) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      val acc = stages.getOrElseUpdate(si.stageId, new StageAcc(si.numTasks))
      val m = si.taskMetrics
      acc.submitted = true
      acc.wallMs += (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L)
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.gcMs += m.jvmGCTime
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (e.taskInfo.failed || e.taskInfo.killed) tasksFailed += 1
      if (m != null)
        schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val t0 = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      planning += ((t0, ms))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Register the listeners on `spark`; a second call is a no-op. */
  def install(): Unit = if (!Trace.installed.getOrElse(spark.sparkContext, false)) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    Trace.installed(spark.sparkContext) = true
  }

  /** Time `body` as one span of `group`, nested under the enclosing span. */
  def span[A](group: String)(body: => A): A = {
    val parent = Trace.open.headOption
    Trace.open = group :: Trace.open
    val t0 = System.currentTimeMillis()
    try body
    finally {
      Trace.open = Trace.open.tail
      synchronized { spans += Span(group, parent, t0, System.currentTimeMillis()) }
    }
  }

  private def innermost(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start).headOption

  /** Per-group layer counters, once every listener event has arrived. */
  def report(): Map[String, Double] = {
    PerfbenchBus.drain(spark)
    synchronized {
      val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      for (g <- spans.map(_.group).distinct) {
        val own = spans.filter(_.group == g)
        val js = jobs.filter(j => innermost(j.start).exists(_.group == g))
        val st = js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.submitted)
        val busyMs = own.map { s =>
          val iv = js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
            .filter { case (a, b) => b > a }.sortBy(_._1)
          var covered = 0L; var reach = s.start
          iv.foreach { case (a, b) =>
            if (b > reach) { covered += b - math.max(a, reach); reach = b } }
          covered
        }.sum
        val wallMs = own.map(s => s.end - s.start).sum
        out(s"$g.wall_s") = wallMs / 1e3
        out(s"$g.driver_s") = (wallMs - busyMs) / 1e3
        out(s"$g.jobs") = js.size.toDouble
        out(s"$g.tasks") = st.map(_.numTasks.toLong).sum.toDouble
        out(s"$g.task_s") = st.map(_.runMs).sum / 1e3
        out(s"$g.shuffle_bytes") = st.map(_.shuffle).sum.toDouble
        out(s"$g.output_bytes") = st.map(_.outBytes).sum.toDouble
        out(s"$g.serial_s") = st.filter(a => a.numTasks == 1 && a.wallMs >= 50).map(_.wallMs).sum / 1e3
        out(s"$g.plan_ms") = planning.filter(p => innermost(p._1).exists(_.group == g)).map(_._2).sum.toDouble
      }
      val all = stages.values
      val attempted = jobs.map(_.stages.size).sum
      val ran = jobs.flatMap(_.stages).count(id => stages.get(id).exists(_.submitted))
      out("spark.gc_s") = all.map(_.gcMs).sum / 1e3
      out("spark.spill_bytes") = all.map(_.spill).sum.toDouble
      out("spark.sched_delay_s") = schedDelayMs / 1e3
      out("spark.stages_skipped_ratio") =
        if (attempted == 0) 0.0 else (attempted - ran).toDouble / attempted
      out("spark.tasks_failed") = tasksFailed.toDouble
      out.toMap
    }
  }

  def spanList: Seq[Span] = synchronized(spans.toList)
}

object Trace {
  final case class Span(group: String, parent: Option[String], start: Long, end: Long)
  private final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int])
  private final class StageAcc(val numTasks: Int) {
    var wallMs = 0L; var runMs = 0L; var shuffle = 0L; var outBytes = 0L
    var spill = 0L; var gcMs = 0L; var submitted = false
  }

  private val installed = mutable.WeakHashMap.empty[org.apache.spark.SparkContext, Boolean]
  @volatile private var open: List[String] = Nil
}

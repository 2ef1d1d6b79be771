package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.Sessions

/** The brief's "every operator" profiling pass for the PIPELINE mains —
  * the operators the bench does not time. Runs a representative
  * [[graft.corpus.CorpusMain]] publish (dedup + decontamination +
  * semantic decontamination + quota + stats + span-cut + url-dedup +
  * normalize + split audit) over a real sf dir with ProfStages'
  * job/stage listener, then a [[graft.corpus.PurgeMain]] erasure over
  * the published estate — and prints every job and stage with task
  * counts and summed task time, so serial (1-task) stages and driver
  * gaps are attributable from the log alone. Usage:
  * `runMain graft.tools.ProfCorpus <sfDir> <workDir>` */
object ProfCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfCorpus <sfDir> <workDir>")
    val sfDir = args(0)
    val work = args(1)
    val spark = Sessions.local("graft-profcorpus")

    case class St(job: Int, stage: Int, nTasks: Int, wallMs: Long, taskMs: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
    val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        jobs(e.jobId) = (e.time, -1L)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach { case (t0, _) => jobs(e.jobId) = (t0, e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(-1L)
        stages += St(stageToJob.getOrElse(si.stageId, -1), si.stageId,
          si.numTasks, wall, si.taskMetrics.executorRunTime)
      }
    }

    def timed(label: String)(body: => Unit): Unit = {
      stages.clear(); jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.ops.Staged.scope(body)
      val t = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300)
      println(f"[profcorpus] $label total ${t}%.3f s, ${jobs.size} jobs")
      val serial = stages.filter(s => s.nTasks == 1 && s.wallMs >= 50)
      serial.sortBy(-_.wallMs).take(12).foreach { s =>
        println(f"[profcorpus]   serial stage job=${s.job} stage=${s.stage} wall=${s.wallMs} ms task=${s.taskMs} ms")
      }
      println(f"[profcorpus]   1-task stages >=50ms: ${serial.size} of ${stages.size} stages; " +
        f"sum wall ${serial.map(_.wallMs).sum} ms")
    }

    val out = s"$work/published"
    timed("CorpusMain full publish") {
      graft.corpus.CorpusMain.runWith(spark,
        input = sfDir, output = out,
        capacity = Some(400),
        embeddings = Some(s"$sfDir/embeddings.parquet"),
        quota = Some(50), stats = true,
        normalize = true, cutSpans = Some(8),
        auditSplits = Some(0.8))
    }
    timed("PurgeMain erasure") {
      val report = graft.corpus.PurgeMain.runWith(spark,
        Seq(8L, 16L, 24L, 32L), curation = Some(out))
      println(s"[profcorpus]   purge report: $report")
    }
    spark.stop()
  }
}

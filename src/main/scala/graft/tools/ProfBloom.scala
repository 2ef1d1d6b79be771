package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.ops.Staged
import graft.queries.DedupOps

/** Measures what the Bloom prefilter actually buys on decontamination's
  * NON-broadcast path (the regime `contaminationBloom` exists for): wall
  * time and total shuffle write bytes of the exact shuffled semi-join vs
  * the bloom-prefiltered one, on the same corpus/bench split (q87's
  * moduli). The number that matters at 100 TB is the shuffle volume — the
  * probe side's exchange should shrink from "every shingle of every doc"
  * to "hits + the fpp fraction". Evidence behind SCALING.md's bloom
  * paragraph; not part of the library surface.
  *
  * Usage: sbt 'runMain graft.tools.ProfBloom [sfDir]'  (default sf0.1)
  */
object ProfBloom {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("prof-bloom")
    // Force the SHUFFLE regime the operator exists for: at test-fixture
    // sizes the bench set auto-broadcasts and neither path shuffles —
    // which at real scale is exactly the regime that breaks (an exact
    // bench set past the broadcast limit). Also park Spark's own runtime
    // bloom rewrite so the measurement isolates the explicit operator.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val shuffleWrite = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def shOf() = DedupOps.shingledOf(
      spark.read.parquet(s"$dir/documents.parquet"))
    def measure(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      // warmup (codegen + JIT), then one measured pass from cold caches
      Staged.scope(f.write.format("noop").mode("overwrite").save())
      shuffleWrite.set(0L)
      val wall = Staged.scope {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // listener events are posted async (listenerBus is private API);
      // a short settle is enough for stage-completed events at this size
      Thread.sleep(500)
      println(f"[profbloom] $label%-18s wall=$wall%6.2fs shuffleWrite=${shuffleWrite.get / 1e6}%8.2f MB")
    }
    measure("exact-shuffled") {
      val sh = shOf()
      DedupOps.contamination(
        sh.filter(col("doc_id") % 101 =!= 0),
        sh.filter(col("doc_id") % 101 === 0),
        broadcastBench = false)
    }
    measure("bloom-prefiltered") {
      val sh = shOf()
      DedupOps.contaminationBloom(
        sh.filter(col("doc_id") % 101 =!= 0),
        sh.filter(col("doc_id") % 101 === 0))
    }
    spark.stop()
  }
}

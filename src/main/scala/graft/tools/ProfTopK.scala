package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.ops.Staged
import graft.queries.TextOps

/** Measures what the bounded-heap quota (q96 / `--quota-heap`) buys on
  * the degenerate-domain corpus the window form fails on: every doc is
  * forced into ONE source, so `domainQuota`'s window sorts the whole
  * corpus inside a single partition while `domainQuotaHeap` keeps O(k)
  * state per map task. Wall time at sf sizes understates the 100 TB gap
  * (a single partition holding 100 TB simply does not run); the honest
  * signal here is the plan shape plus the single-task sort the window
  * path cannot avoid. Evidence behind SCALING.md's q96 row; not part of
  * the library surface.
  *
  * Usage: sbt 'runMain graft.tools.ProfTopK [sfDir]'  (default sf0.1)
  */
object ProfTopK {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("prof-topk")
    val oneDomain = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("source", lit("the-one-crawl"))
    def measure(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      Staged.scope(f.write.format("noop").mode("overwrite").save()) // warm codegen
      val wall = Staged.scope {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[proftopk] $label%-14s wall=$wall%6.2fs")
    }
    measure("window-quota")(TextOps.domainQuota(oneDomain, 5))
    measure("heap-quota")(TextOps.domainQuotaHeap(oneDomain, 5))
    spark.stop()
  }
}

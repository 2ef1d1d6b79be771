package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.queries.{DedupOps, EventOps, Relational, TextOps, VectorOps}

/** A fixed sample of `SparkEntry.queries` over the generated tables on one
  * warm session: every 12th query by name within each query module (12 of
  * the 116), so every module is measured. Each query is cache-cleared, then
  * built and executed through the `noop` sink; its row count is observed on
  * the way for the runner's check. Reads only. */
final class QuerySuite(data: String) extends Workload {

  private val modules = Seq(
    "relational" -> Relational.queries, "event" -> EventOps.queries,
    "text" -> TextOps.queries, "dedup" -> DedupOps.queries,
    "vector" -> VectorOps.queries)

  /** (name, query, module) of the sample, in name order. */
  private val queries = modules.flatMap { case (m, qs) =>
    qs.toSeq.sortBy(_._1).zipWithIndex.collect {
      case ((name, fn), i) if i % 12 == 0 => (name, fn, m)
    }
  }.sortBy(_._1)

  private def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** One untimed pass over small (sf0.001) tables of the same shape: at
    * this scale, compiling and JIT-warming every plan is most of a first
    * execution. */
  override def warm(spark: SparkSession, work: String): Unit =
    queries.foreach { case (name, fn, _) =>
      clear(spark)
      try fn(spark, s"$data/warm").write.format("noop").mode("overwrite").save()
      catch { case e: Exception => System.err.println(s"[perfbench] warm $name failed: $e") }
    }

  def run(spark: SparkSession, work: String, seconds: Double, run: Main.Run,
      span: String => Span): Unit = {
    val dir = s"$data/tables"
    val buildS = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    // a fixed number of passes, one per 10 s asked for: later passes still
    // run faster than earlier ones, so a time-driven count would mix states
    for (pass <- 0 until math.max(1, (seconds / 10).toInt)) {
      val p0 = System.nanoTime()
      queries.foreach { case (name, fn, module) =>
        clear(spark)
        val layer = s"queries.$module"
        val obs = Observation(s"rows_${pass}_$name")
        val ok = run.op("query", name, Map("pass" -> pass, "module" -> module)) {
          span(layer) {
            val b0 = System.nanoTime()
            val df: DataFrame = fn(spark, dir)
            buildS(layer) += (System.nanoTime() - b0) / 1e9
            df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          }
        }
        // observed outside the timed window, so the wait is not billed
        val rows = ok.map(_ => obs.get("n").asInstanceOf[Long]).getOrElse(-1L)
        run.ops(run.ops.size - 1) = run.ops.last.updated("rows", rows)
      }
      run.phases(s"pass$pass") = (System.nanoTime() - p0) / 1e9
    }
    buildS.foreach { case (l, s) => run.layer(s"$l.build_s") = s }
    run.facts("oracles") = graft.SparkEntry.oracleSql
  }
}

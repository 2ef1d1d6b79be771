package graft

import graft.tools.Jsons.{str => js}

/** Suite timing harness: `runMain graft.Bench [query…]` times every
  * registered query (or only the named ones) at `SPARK_GRAFT_SF_DIR`.
  * Each query runs [[Passes]] cache-cleared passes and is reported at the
  * median; the per-query [min, max] lands in the chunk lines' "spread" map.
  */
object Bench {
  // Per-query accounting note: the dedup family each rebuild the staged
  // shingle table inside their timed window because run() clears all
  // caches between queries. That is deliberate — every query is billed
  // its own full cost, none rides another's cache — but it means the
  // suite total counts the ~same staging stage several times; cross-round
  // trends on those queries move together when staging cost moves. The
  // machine-readable "staged" list in the output JSON marks them.
  private val stagedQueries = Seq("q31_minhash_lsh", "q32_simhash",
    "q33_ngram_jaccard", "q38_components", "q39_dedupe_corpus",
    "q48_neardup_gate", "q51_decontaminate", "q58_boilerplate",
    "q74_canonical_pick", "q81_dup_stats", "q87_bloom_decontaminate",
    "q92_dup_rate_by_source", "q113_split_leakage",
    "q115_split_leakage_report",
    // r22 staged frames: the LSH-family vector queries (stagedVecs),
    // the selective-recompute CDC maintainers (stagedOrdersCdc), and
    // the bigram LM scorer (lmFamiliarity's gram frame)
    "q37_hyperplane_lsh", "q54_vector_gate", "q109_embed_dedup_lsh",
    "q111_semantic_decontaminate", "q108_incremental_extrema",
    "q114_incremental_topk", "q116_incremental_extrema_enforced",
    "q73_lm_score")

  private val Passes = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // fail loudly BEFORE the multi-minute warmup if the staged list drifts
    // from the registry (a renamed query would otherwise mislabel the
    // machine-readable "staged" array) — a pure lookup, instant
    stagedQueries.filterNot(SparkEntry.queries.contains) match {
      case Nil => ()
      case missing => sys.error(s"staged list names unknown queries: $missing")
    }
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val suite =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else args.toSeq.distinct.map(q => q -> SparkEntry.queries(q))
    val spark = Sessions.local("graft-bench")
    // Warm the JVM once per PLAN SHAPE, not just once per process: run every
    // query at the smallest scale factor (untimed) before any measurement.
    // Whole-stage codegen compilation + C2 JIT of a plan's generated code is
    // multi-second and paid on first touch — without this, that one-off cost
    // lands on whichever query first exercises a stack (profiled: the first
    // dedup query was billed 3.5s of codegen the rest of the suite then rode
    // for free). Warming at sf0.001 compiles the same generated classes the
    // timed run uses while touching ~1% of the data.
    // Warm dir derives from the timed dir (sibling sf0.001 under the same
    // parent, overridable via SPARK_GRAFT_WARM_DIR) — a hardcoded path made
    // every warmup silently fail on any box without /root/testdata, which
    // re-billed the first timed query for multi-second codegen. If no small
    // sibling exists, warm on the timed dir itself (slower warmup, still
    // correct) and say so once, loudly.
    val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR").getOrElse {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory) sibling.getPath
      else {
        System.err.println(
          s"[bench] WARN: no sf0.001 sibling of $sfDir; warming on the timed dir itself")
        sfDir
      }
    }
    suite.foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed (ignored): ${e.getMessage}")
      }
    }
    // Bench-SCALE warm-in for the head of the run order (r15): the
    // sf0.001 pass above compiles every plan's generated code, but C2's
    // profile-guided recompilation is heated by ITERATIONS, and ~1% of
    // the data yields too few loop trips — the q07 profiler
    // (bd1515d:src/main/scala/graft/tools/ProfQ07.scala) measured ~0.7 s
    // of C2 warm-in landing on the first timed executions, i.e. on the
    // head of the run order. One untimed pass of those head queries at
    // the TIMED scale pays the warm-in before any measurement; later
    // queries already ride a hot JIT by the time the suite reaches them.
    // Cache-cleared like every timed run, so nothing here subsidizes a
    // measurement.
    suite.take(7).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] bench-scale warm-in $name failed (ignored): ${e.getMessage}")
      }
    }
    // Forensics for JIT health: warming 50+ codegen'd plans can exhaust the
    // JVM code cache (raised to 512m in build.sbt); if it still fills,
    // HotSpot silently stops compiling and every later query runs partly
    // interpreted. Surface the high-water mark so a regression is
    // attributable from bench stderr alone.
    def codeCacheReport(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .foreach { p =>
          val u = p.getUsage
          System.err.println(
            f"[bench] $label ${p.getName}: used=${u.getUsed / 1e6}%.0fMB max=${u.getMax / 1e6}%.0fMB")
        }
    }
    codeCacheReport("post-warmup")
    // One timed run: clear all cached blocks first so no query is billed
    // for (or subsidized by) another query's persisted stages, then
    // materialize through the noop sink — unlike count(), noop touches
    // every column of every row, so Catalyst can't prune the projection.
    def timeOne(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      // also drop RDD-level blocks (components()' localCheckpoints live
      // OUTSIDE the SQL cache): between queries nothing references them,
      // and leaving them to the ContextCleaner lets earlier queries'
      // blocks pressure later queries' memory. BLOCKING: the sweep runs
      // before t0, so an async removal cannot bleed into the timed window
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Every pass counts: a query that fails any pass is reported failed
    // with no timing, so an intermittent crash (e.g. a sporadic OOM) is
    // never hidden behind a passing retry.
    val passes: Seq[(String, Seq[Double])] = suite.map { case (name, fn) =>
      try name -> Seq.fill(Passes)(timeOne(fn)).sorted
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        name -> Nil
      }
    }
    val failed = passes.collect { case (q, ts) if ts.isEmpty => q }
    // sentinel: failed queries carry no timing (NaN isn't JSON)
    def median(ts: Seq[Double]): Double = if (ts.isEmpty) -1.0 else ts(ts.size / 2)
    val results = passes.map { case (q, ts) => q -> median(ts) }
    // release the staged shingle cache the last query left behind (the
    // dedup family's staged table lives in the SQL cache; run() clears it
    // between queries, this frees the final query's entry)
    spark.catalog.clearCache()
    codeCacheReport("post-run")
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map(js(_)).mkString("[", ",", "]")
    val stagedJson = stagedQueries.filter(q => suite.exists(_._1 == q))
      .map(js(_)).mkString("[", ",", "]")
    val qs = obj(results.map { case (q, t) => q -> t.toString })
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"staged":$stagedJson,"sf":${js(sfDir)}}""")
    // The driver archives only a bounded TAIL of stdout; at 100+ queries
    // the full line above truncates mid-map and loses the headline. So the
    // per-query map is re-emitted AFTER it in ~30-entry chunks — each chunk
    // line is a complete, independently parseable JSON object (join the
    // "queries" objects over parts 0..n_parts-1), carrying each query's
    // [min, max] over its passes — and a compact trailer restates the
    // totals and the ten slowest queries LAST, so any tail capture still
    // carries a parseable summary.
    val chunks = passes.grouped(30).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val qs = obj(chunk.map { case (q, ts) => q -> median(ts).toString })
      val spread = obj(chunk.collect { case (q, ts) if ts.nonEmpty =>
        q -> s"[${ts.head},${ts.last}]" })
      println(s"""{"metric":"queries_part","part":$i,"n_parts":${chunks.size},"queries":$qs,"spread":$spread,"sf":${js(sfDir)}}""")
    }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (q, t) => s"[${js(q)},$t]" }.mkString("[", ",", "]")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n":${results.size},"failed":${failed.size},"slowest":$slowest,"sf":${js(sfDir)}}""")
    spark.stop()
  }
}

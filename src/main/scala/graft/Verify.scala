package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameSubstr,...]")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1)
    // optional local-iteration filter (comma-separated name substrings);
    // the driver always calls with 2 args and gets the full inventory
    val wanted: String => Boolean = args.lift(2) match {
      case None => _ => true
      case Some(subs) =>
        val pats = subs.split(',').toSeq
        name => pats.exists(name.contains)
    }
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => wanted(n) }.foreach { case (name, fn) =>
      try graft.ops.Staged.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // delete any stale or partial result dir: the driver must see the
        // query as MISSING, never hash-compare a previous run's output
        // (mode(overwrite) deletes the target before writing, so a
        // mid-write crash also leaves debris here)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    import graft.tools.Jsons.{str => q}
    val json = SparkEntry.oracleSql.filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

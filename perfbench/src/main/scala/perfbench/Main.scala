package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a session, run one workload in a closed
  * loop with one client, and write what it measured as JSON for the runner
  * (`perfbench/run.py`), which checks the outputs and prints the result.
  *
  * Usage: perfbench.Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *   <launchEpochMicros> <resultFile>
  */
object Main {

  /** What a workload hands back: one record per timed operation, named
    * end-to-end phases, and facts the runner checks. */
  final class Run {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    val facts = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]

    /** Time one operation; a thrown exception counts it as failed. */
    def op[A](kind: String, name: String, extra: => Map[String, Any] = Map.empty)(
        body: => A): Option[A] = {
      val t0 = System.nanoTime()
      val r = try Some(body) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind $name failed: $e")
          None
      }
      ops += Map("kind" -> kind, "name" -> name, "secs" -> (System.nanoTime() - t0) / 1e9,
        "ok" -> r.isDefined) ++ extra
      r
    }
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, data, work, seconds, trace, launchMicros, resultFile) = argv
    val mainMicros = nowMicros()
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench")
    val createS = (System.nanoTime() - t0) / 1e9
    val run = new Run
    val w: Workload = workload match {
      case "query_suite" => new QuerySuite(data)
      case "nba_season" => new NbaSeason(data)
      case "corpus_stream" => new CorpusStream(data)
      // the corpus path runs cold, as its mains do for users; the queries
      // then run on the session it warmed, without a warm-up pass
      case "corpus_queries" => new Sequence(new CorpusStream(data), new QuerySuite(data))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warm0 = System.nanoTime()
    w.warm(spark, work)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = (mainMicros - launchMicros.toLong) / 1e6 + createS + warmS
    // traced runs listen from here on, so the counters cover timed work only
    val tracer = if (trace == "1") Some(new Trace(spark)) else None
    tracer.foreach(_.install())
    val spanOf = (g: String) => new Span {
      def apply[A](body: => A): A = tracer.fold(body)(_.span(g)(body))
    }
    w.run(spark, work, seconds.toDouble, run, spanOf)
    tracer.foreach { t =>
      run.layer ++= t.report()
      run.layer("sessions.create_s") = createS
    }
    val rss = peakRssMb()
    val json = Json.obj(Seq(
      "workload" -> workload,
      "cpus" -> graft.Sessions.cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setupS,
      "session_create_s" -> createS,
      "warm_s" -> warmS,
      "peak_rss_mb" -> rss,
      "ops" -> run.ops.toSeq,
      "phases" -> run.phases.toMap,
      "facts" -> run.facts.toMap,
      "layer" -> run.layer.toMap,
      "spans" -> tracer.toSeq.flatMap(_.spanList).map(s => Map(
        "name" -> s.group, "parent" -> s.parent.getOrElse(""),
        "start_ms" -> s.start, "end_ms" -> s.end))))
    Files.write(Paths.get(resultFile), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** The process's resident high-water mark (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Wraps a call into one layer: a traced span when tracing is on. */
trait Span { def apply[A](body: => A): A }

trait Workload {
  /** Untimed work that belongs to set-up (nothing for the cold pipelines). */
  def warm(spark: SparkSession, work: String): Unit = ()
  def run(spark: SparkSession, work: String, seconds: Double, run: Main.Run,
      span: String => Span): Unit
}

/** Workloads run one after another on one session, without their set-up. */
final class Sequence(parts: Workload*) extends Workload {
  def run(spark: SparkSession, work: String, seconds: Double, run: Main.Run,
      span: String => Span): Unit = parts.foreach(_.run(spark, work, seconds, run, span))
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = graft.tools.Jsons.str(s)
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.nba.{Fetch, IngestMain, PipelineArgs, PipelineMain, StartersMain}
import graft.sources.{Endpoints, Fetcher}

/** The in-process stats API: every response body is generated before the
  * timed window and held here; the transport only looks bodies up. The
  * league game log and shot charts follow `wave` (1 = the first season
  * snapshot, 2 = after new games were played). While the first snapshot
  * is served, dead game ids fail every attempt, as an unreachable game
  * does; they are back by the time the new games arrive. */
object StatsApi {
  @volatile var bodies: Map[String, String] = Map.empty
  @volatile var dead: Set[String] = Set.empty
  @volatile var wave: Int = 1
  val requests = new AtomicLong
  val errors = new AtomicLong
  private val emptyShots =
    """{"resultSets":[{"name":"Shot_Chart_Detail","headers":["GAME_ID","GAME_EVENT_ID",""" +
      """"PLAYER_ID","TEAM_ID","SHOT_MADE_FLAG","SHOT_TYPE"],"rowSet":[]}]}"""

  def load(dir: String): Unit = {
    val src = scala.io.Source.fromFile(s"$dir/api.tsv", "UTF-8")
    try bodies = src.getLines().map { l =>
      val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1) }.toMap
    finally src.close()
    val d = scala.io.Source.fromFile(s"$dir/dead.txt", "UTF-8")
    try dead = d.getLines().filter(_.nonEmpty).toSet finally d.close()
  }

  def get(r: Endpoints.Request): String = {
    requests.incrementAndGet()
    def p(k: String) = r.param(k).getOrElse("")
    val gid = p("gameId")
    val key = r.path match {
      case "leaguegamelog" => s"log:$wave"
      case "playbyplayv2" if wave == 1 && dead(gid) =>
        errors.incrementAndGet()
        throw new java.io.IOException(s"game $gid: 404")
      case "playbyplayv2" => s"pbp:$gid"
      case "gamerotation" => s"rot:${p("GameID")}"
      case "boxscoretraditionalv2" => s"box:$gid:${p("startPeriod")}"
      case "shotchartdetail" => s"shot:$wave:${p("playerId")}:${p("teamId")}"
      case other => throw new IllegalArgumentException(s"no such endpoint $other")
    }
    bodies.getOrElse(key,
      if (r.path == "shotchartdetail") emptyShots
      else throw new IllegalStateException(s"no body for $key"))
  }

  /** What the fetch tasks carry: a handle, not the bodies. */
  object Transport extends Fetcher.Transport {
    def get(request: Endpoints.Request): String = StatsApi.get(request)
  }
}

/** The reference DAG against [[StatsApi]]: per table, fetch-and-land then
  * ingest; then period starters (with their box-score fetch) and lineup
  * tracking. The full chain runs from an empty warehouse; the API then
  * serves new games and the same chain runs again with `--delta`. */
final class NbaSeason(data: String) extends Workload {

  private val tables = Seq("team_game_log", "rotations", "play_by_play", "shot_details")

  def run(spark: SparkSession, work: String, seconds: Double, run: Main.Run,
      span: String => Span): Unit = {
    StatsApi.load(s"$data/api")
    val facts = ujson(s"$data/nba.json")
    val (in, wh, out) = (s"$work/in", s"$work/wh", s"$work/out")
    def args(delta: Boolean, table: Option[String] = None) = PipelineArgs.Args(
      season = Some(facts("season")), seasonType = Some(facts("season_type")),
      delta = delta, input = in, output = wh, table = table)
    val api = Some(StatsApi.Transport)

    def chain(delta: Boolean): Double = {
      val mode = if (delta) "delta" else "full"
      // the delta chain is one span; the full chain reports per step
      // one timed step per DAG stage and chain: the four tables' fetches
      // add up to one step, as do their ingests
      def step(layer: String, table: String = "")(body: => Unit): Unit = {
        val l = if (delta) "nba.delta" else layer
        run.op("main", s"$mode.$layer$table", Map("step" -> s"$mode.$layer"))(span(l)(body))
        ()
      }
      val t0 = System.nanoTime()
      tables.foreach { t =>
        step("nba.fetch", s".$t")(Fetch.landRaw(t, args(delta, Some(t)), StatsApi.Transport)(spark))
        step("nba.ingest", s".$t")(IngestMain.runWith(spark, args(delta, Some(t))))
      }
      step("nba.starters")(StartersMain.runWith(spark,
        args(delta).copy(input = wh, output = wh), api))
      step("nba.lineups")(PipelineMain.runWith(spark,
        args(delta).copy(input = wh, output = out)))
      (System.nanoTime() - t0) / 1e9
    }

    StatsApi.wave = 1
    run.phases("nba_full_s") = chain(delta = false)
    run.facts("full") = outputFacts(spark, out) +
      ("fetch_errors" -> spark.read.parquet(s"$in/play_by_play_fetch_errors").count())
    StatsApi.wave = 2
    run.phases("nba_delta_s") = chain(delta = true)
    run.facts("out") = out
    run.layer("nba.fetch.requests") = StatsApi.requests.get.toDouble
    run.layer("nba.fetch.errors") = StatsApi.errors.get.toDouble
  }

  /** Row and game counts of the published lineups, read after the chain. */
  private def outputFacts(spark: SparkSession, out: String): Map[String, Any] = {
    val df = spark.read.parquet(s"$out/play_by_play_with_players")
    Map("rows" -> df.count(), "games" -> df.select("GAME_ID").distinct().count(),
      "quarantined" -> spark.read.parquet(s"$out/lineup_errors").count())
  }

  /** The two string fields the chain needs from the generator's facts. */
  private def ujson(path: String): Map[String, String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    Seq("season", "season_type").map { k =>
      k -> ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(s).get.group(1)
    }.toMap
  }
}

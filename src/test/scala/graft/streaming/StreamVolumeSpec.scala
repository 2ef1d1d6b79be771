package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.nba.{GameSide, Lineups}
import graft.schema.{PbpEvent, PbpWithPlayers, Stint}

/** The initial-state roster path at volume: 24 games seeded in one static
  * table, events arriving out-of-game-order across three micro-batches —
  * the stream must match the batch engine row-for-row over every game.
  * (The single-game unit specs cannot catch state/roster cross-talk
  * between keys or a partial initial-state distribution.) */
class StreamVolumeSpec extends SparkSpec {
  import spark.implicits._

  private val T1 = 100L
  private val T2 = 200L
  private def gid(i: Int) = f"00224002$i%02d"
  private def p(i: Int, k: Int) = (i * 100 + k).toLong // per-game player ids

  private def roster(i: Int): Seq[GameSide] = {
    val g = gid(i)
    (1 to 5).map(k => GameSide(g, 0, T1, p(i, k), -1,
      if (k == 3) Seq(Stint(0.0, 3600.0)) else Seq(Stint(0.0, 28800.0)), null)) ++
      Seq(GameSide(g, 0, T1, p(i, 6), -1, Seq(Stint(3600.0, 28800.0)), null)) ++
      (11 to 15).map(k => GameSide(g, 0, T2, p(i, k), -1, Seq(Stint(0.0, 28800.0)), null))
  }

  private def ev(i: Int, num: Long, typ: Int, clock: String,
      p1: Long, t1: Long, p2: Option[Long] = None, t2: Option[Long] = None) = {
    val Array(m, s) = clock.split(":").map(_.toInt)
    PbpEvent(gid(i), num, typ, 0, 1, clock, 720 - (m * 60 + s),
      Some(p1), Some(t1), p2, t2)
  }

  private def events(i: Int): Seq[PbpEvent] = Seq(
    ev(i, 1L, 10, "12:00", p(i, 1), T1, Some(p(i, 11)), Some(T2)), // jump
    ev(i, 2L, 1, "10:00", p(i, 2), T1), // shot
    ev(i, 3L, 8, "6:00", p(i, 3), T1, Some(p(i, 6)), Some(T1)), // sub 3 -> 6
    ev(i, 4L, 1, "3:00", p(i, 12), T2)) // shot after the sub

  test("24 games, 3 micro-batches: stream output == batch engine over every game") {
    implicit val sqlCtx = spark.sqlContext
    val games = 1 to 24
    val allRoster = games.flatMap(roster)
    val allEvents = games.flatMap(events)
    // slice by TIME, not by game: every micro-batch interleaves all games,
    // so each key advances from state in every batch
    val batches = Seq(
      allEvents.filter(_.SECONDS_FROM_START < 200),
      allEvents.filter(e => e.SECONDS_FROM_START >= 200 && e.SECONDS_FROM_START < 400),
      allEvents.filter(_.SECONDS_FROM_START >= 400))
    assert(batches.forall(_.nonEmpty))

    val in = MemoryStream[PbpEvent]
    val q = StreamOps.trackLineups(in.toDS(), allRoster.toDS())
      .writeStream.format("memory").queryName("lineups_vol").outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.sql("SELECT * FROM lineups_vol")
        .as[PbpWithPlayers].collect().toSet
      val (batchOut, batchErrors) = Lineups.withPlayersAndErrors(
        allEvents.toDS().toDF(),
        allRoster.toDS().toDF()
          .select(col("GAME_ID"), col("TEAM_ID"), col("PLAYER_ID"), col("STINTS")))
      assert(batchErrors.isEmpty, "the batch operator failed a game")
      val batchRows = batchOut.collect().toSet
      assert(streamed.size == games.size * 4)
      assert(streamed == batchRows, "stream and batch diverged at volume")
      // spot-check the sub applied per game from each game's OWN roster
      val post = streamed.filter(r => r.EVENTNUM == 4L)
      assert(post.forall(r => {
        val i = r.GAME_ID.takeRight(2).toInt
        !Seq(r.TEAM1_PLAYER1, r.TEAM1_PLAYER2, r.TEAM1_PLAYER3,
          r.TEAM1_PLAYER4, r.TEAM1_PLAYER5).contains(p(i, 3)) // 3 is out
      }))
    } finally q.stop()
  }
}

package graft.nba

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Stint

/** The flagship operator over a generated 200-game season slice — validates
  * the distributed cogroup path (many groups across partitions, all
  * invariants enforced per game) rather than single-game logic. */
class LineupsVolumeSpec extends SparkSpec {
  import spark.implicits._

  private val nGames = 200
  private def gid(i: Int) = f"00224$i%05d"
  private val T1 = 100L
  private val T2 = 200L

  test(s"$nGames games track lineups end-to-end with correct per-game state") {
    // per game: 5 starters + 1 bench per team; one sub per period at 6:00
    val rotations = (0 until nGames).flatMap { g =>
      (1L to 5L).map(p => (gid(g), T1, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((gid(g), T1, 6L, Seq(Stint(3600.0, 28800.0)))) ++
        (11L to 15L).map(p => (gid(g), T2, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((gid(g), T2, 16L, Seq(Stint(10800.0, 28800.0))))
    }.toDF("GAME_ID", "TEAM_ID", "PLAYER_ID", "STINTS")

    val pbp = (0 until nGames).flatMap { g =>
      Seq(
        (gid(g), 1L, 10, 0, 1, "12:00", Some(1L), Some(T1), Some(11L), Some(T2)),
        // team1 subs player (g%5)+1 out for 6 at 6:00 of p1
        (gid(g), 2L, 8, 0, 1, "6:00", Some((g % 5 + 1).toLong), Some(T1), Some(6L), Some(T1)),
        (gid(g), 3L, 1, 0, 1, "2:00", Some(6L), Some(T1), None, None),
        // team2 subs 12 out for 16 at 6:00 of p2
        (gid(g), 4L, 8, 0, 2, "6:00", Some(12L), Some(T2), Some(16L), Some(T2)))
    }.toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
      "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID")
      .withColumn("PLAYER3_ID", lit(null).cast("long"))
      .withColumn("PLAYER3_TEAM_ID", lit(null).cast("long"))

    val out = Lineups.withPlayersAndErrors(pbp, rotations)._1
    val rows = out.collect()
    assert(rows.length == nGames * 4, "every event of every game emitted")

    // ids unique across the whole output (A5 invariant)
    assert(rows.map(_.id).distinct.length == rows.length)

    // per-game: the subbed-out player is game-dependent -> state never
    // leaks across games
    val byGame = rows.groupBy(_.GAME_ID)
    (0 until nGames).foreach { g =>
      val last = byGame(gid(g)).maxBy(_.EVENTNUM)
      val t1 = Seq(last.TEAM1_PLAYER1, last.TEAM1_PLAYER2, last.TEAM1_PLAYER3,
        last.TEAM1_PLAYER4, last.TEAM1_PLAYER5)
      val expected = ((1L to 5L).toSet - (g % 5 + 1).toLong + 6L).toSeq.sorted
      assert(t1 == expected, s"game $g team1 final lineup")
      val t2 = Seq(last.TEAM2_PLAYER1, last.TEAM2_PLAYER2, last.TEAM2_PLAYER3,
        last.TEAM2_PLAYER4, last.TEAM2_PLAYER5)
      assert(t2 == Seq(11L, 13L, 14L, 15L, 16L), s"game $g team2 final lineup")
    }
  }
}

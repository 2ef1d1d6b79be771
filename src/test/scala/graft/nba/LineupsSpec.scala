package graft.nba

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Stint

/** The flagship lineup tracker (etl/play_by_play_with_players.py:113-165) on
  * a fully synthetic two-team game. */
class LineupsSpec extends SparkSpec {
  import spark.implicits._

  private val G = "0022400100"
  private val T1 = 1610612766L // resolves as team1 via jump ball
  private val T2 = 1610612739L

  // pbp: GAME_ID, EVENTNUM, EVENTMSGTYPE, EVENTMSGACTIONTYPE, PERIOD,
  //      PCTIMESTRING, PLAYER1_ID, PLAYER1_TEAM_ID, PLAYER2_ID, PLAYER2_TEAM_ID, PLAYER3_ID, PLAYER3_TEAM_ID
  private type Ev = (String, Long, Int, Int, Int, String, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])
  private def pbpOf(rows: Seq[Ev]) =
    rows.toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
      "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID",
      "PLAYER3_ID", "PLAYER3_TEAM_ID")

  // rotations with STINTS array<struct>; team1 players 101-105 start (IN=0),
  // 106 is bench (enters p2 at 7200 tenths); team2 mirrors with 201-206
  private def rotationsOf(extra: Seq[(Long, Long, Seq[Stint])] = Nil) = {
    val base =
      (101L to 105L).map(p => (T1, p, Seq(Stint(0.0, 7200.0)))) ++
        Seq((T1, 106L, Seq(Stint(7200.0, 28800.0)))) ++
        (201L to 205L).map(p => (T2, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((T2, 206L, Seq(Stint(14400.0, 28800.0))))
    (base ++ extra.map(e => (e._1, e._2, e._3)))
      .toDF("TEAM_ID", "PLAYER_ID", "STINTS")
      .withColumn("GAME_ID", lit(G))
  }

  private val jumpBall: Ev =
    (G, 1L, 10, 0, 1, "12:00", Some(101L), Some(T1), Some(201L), Some(T2), None, None)

  test("initial lineups from IN_TIME_REAL==0, emitted sorted (reference :81-86,130-133)") {
    val out = Lineups.withPlayersAndErrors(pbpOf(Seq(jumpBall)), rotationsOf())._1
    val row = out.collect().head
    assert((row.TEAM1_ID, row.TEAM2_ID) == ((T1, T2)))
    assert(Seq(row.TEAM1_PLAYER1, row.TEAM1_PLAYER2, row.TEAM1_PLAYER3,
      row.TEAM1_PLAYER4, row.TEAM1_PLAYER5) == (101L to 105L))
    assert(Seq(row.TEAM2_PLAYER1, row.TEAM2_PLAYER2, row.TEAM2_PLAYER3,
      row.TEAM2_PLAYER4, row.TEAM2_PLAYER5) == (201L to 205L))
    assert(row.id == s"$G-1")
  }

  test("substitution replaces in place and re-sorts; lineup changes from that event on (:88-98)") {
    val pbp = pbpOf(Seq(
      jumpBall,
      (G, 2L, 8, 0, 1, "6:00", Some(103L), Some(T1), Some(106L), Some(T1), None, None),
      (G, 3L, 1, 0, 1, "5:00", Some(101L), Some(T1), None, None, None, None)))
    val rows = Lineups.withPlayersAndErrors(pbp, rotationsOf())._1.collect().sortBy(_.EVENTNUM)
    def t1(r: graft.schema.PbpWithPlayers) =
      Seq(r.TEAM1_PLAYER1, r.TEAM1_PLAYER2, r.TEAM1_PLAYER3, r.TEAM1_PLAYER4, r.TEAM1_PLAYER5)
    assert(t1(rows(0)) == (101L to 105L))
    assert(t1(rows(1)) == Seq(101L, 102L, 104L, 105L, 106L)) // post-sub, sorted
    assert(t1(rows(2)) == Seq(101L, 102L, 104L, 105L, 106L))
  }

  test("period start re-derives lineup from stint boundaries at t*10 (:100-111)") {
    val pbp = pbpOf(Seq(
      jumpBall,
      // period 2 start: t=720s -> 7200 tenths; team1 101-105 OUT, 106 IN -> only 1 player -> would
      // fail without boundaries matching; give team1 players 102-105 stints through p2 instead
      (G, 10L, 12, 0, 2, "12:00", None, None, None, None, None, None)))
    val rot = // 101 leaves at p2, 106 enters at p2; 102-105 play on
      ((102L to 105L).map(p => (T1, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((T1, 101L, Seq(Stint(0.0, 7200.0))), (T1, 106L, Seq(Stint(7200.0, 28800.0)))) ++
        (201L to 205L).map(p => (T2, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((T2, 206L, Seq(Stint(14400.0, 28800.0)))))
        .toDF("TEAM_ID", "PLAYER_ID", "STINTS").withColumn("GAME_ID", lit(G))
    val rows = Lineups.withPlayersAndErrors(pbpOf(Seq(jumpBall,
      (G, 10L, 12, 0, 2, "12:00", None, None, None, None, None, None))), rot)._1
      .collect().sortBy(_.EVENTNUM)
    def t1(r: graft.schema.PbpWithPlayers) =
      Seq(r.TEAM1_PLAYER1, r.TEAM1_PLAYER2, r.TEAM1_PLAYER3, r.TEAM1_PLAYER4, r.TEAM1_PLAYER5)
    assert(t1(rows(0)) == (101L to 105L))
    assert(t1(rows(1)) == Seq(102L, 103L, 104L, 105L, 106L))
  }

  test("period start falls back to the starters table when boundaries don't give 5 (:141-152)") {
    // team2's 201-205 all end at 14400 (end of p2) and 206 enters at 14400 -> p3 start
    // yields 1 player -> fallback must supply the 5 starters
    val rot =
      ((101L to 105L).map(p => (T1, p, Seq(Stint(0.0, 28800.0)))) ++
        (201L to 205L).map(p => (T2, p, Seq(Stint(0.0, 14400.0)))) ++
        Seq((T2, 206L, Seq(Stint(14400.0, 28800.0)))))
        .toDF("TEAM_ID", "PLAYER_ID", "STINTS").withColumn("GAME_ID", lit(G))
    val starters = Seq(206L, 202L, 203L, 204L, 205L)
      .map(p => (G, 3, p, T2)) ++ (101L to 105L).map(p => (G, 3, p, T1))
    val startersDf = starters.toDF("GAME_ID", "PERIOD", "PLAYER_ID", "TEAM_ID")
    val pbp = pbpOf(Seq(jumpBall,
      (G, 20L, 12, 0, 3, "12:00", None, None, None, None, None, None)))
    val rows = Lineups.withPlayersAndErrors(pbp, rot, starters = Some(startersDf))._1
      .collect().sortBy(_.EVENTNUM)
    val r = rows(1)
    assert(Seq(r.TEAM2_PLAYER1, r.TEAM2_PLAYER2, r.TEAM2_PLAYER3,
      r.TEAM2_PLAYER4, r.TEAM2_PLAYER5) == Seq(202L, 203L, 204L, 205L, 206L))
  }

  test("sub of a player not on court fails the game, which is skipped like the reference (:96, :219-225)") {
    val pbp = pbpOf(Seq(
      jumpBall,
      (G, 2L, 8, 0, 1, "6:00", Some(999L), Some(T1), Some(106L), Some(T1), None, None)))
    val (rows, errors) = Lineups.withPlayersAndErrors(pbp, rotationsOf())
    assert(rows.count() == 0)
    assert(errors.collect().map(_.GAME_ID).toSeq == Seq(G))
  }

  test("duplicate EVENTNUM fails the game (check_duplicate_ids, utils/utils.py:1-10)") {
    val pbp = pbpOf(Seq(jumpBall, jumpBall.copy(_6 = "11:00")))
    val (rows, errors) = Lineups.withPlayersAndErrors(pbp, rotationsOf())
    assert(rows.count() == 0)
    assert(errors.collect().map(_.GAME_ID).toSeq == Seq(G))
  }

  test("no jump ball: teams resolve from MATCHUP 'vs'/'@' (:58-79)") {
    val pbp = pbpOf(Seq(
      (G, 1L, 1, 0, 1, "11:00", Some(101L), Some(T1), None, None, None, None)))
    val tgl = Seq((G, T2, "CLE vs. CHA"), (G, T1, "CHA @ CLE"))
      .toDF("GAME_ID", "TEAM_ID", "MATCHUP")
    val row = Lineups.withPlayersAndErrors(pbp, rotationsOf(), teamGameLog = Some(tgl))._1
      .collect().head
    // team1 = home ('vs') = T2 here
    assert((row.TEAM1_ID, row.TEAM2_ID) == ((T2, T1)))
  }

  test("interval cross-check: every emitted player has a covering stint (SURVEY §2.3 J6)") {
    val pbp = pbpOf(Seq(
      jumpBall,
      (G, 2L, 8, 0, 1, "6:00", Some(103L), Some(T1), Some(106L), Some(T1), None, None)))
    // 106 has stint starting 3600 (enters mid-p1 via the sub above)
    val rot = rotationsOf().filter(col("PLAYER_ID") =!= 106L)
      .unionByName(Seq((T1, 106L, Seq(Stint(3600.0, 28800.0))))
        .toDF("TEAM_ID", "PLAYER_ID", "STINTS").withColumn("GAME_ID", lit(G)))
    val out = Lineups.withPlayersAndErrors(pbp, rot)._1
    val chk = Lineups.intervalCheck(out.toDF(), rot)
    // every (event, player) pair that appears has at least one covering stint
    assert(chk.filter(col("n_covering_stints") < 1).count() == 0)
  }

  test("interval cross-check actually FIRES: an uncovered player reports 0 covering stints") {
    // 103 starts (stint from 0) but the stint ends at t=100 tenths; a
    // second event at 6:00 (t=3600 tenths) still shows 103 on court (no
    // sub happened), so the check must emit n_covering_stints = 0 for
    // (event 2, 103) — a post-join range filter would silently drop it
    val pbp = pbpOf(Seq(
      jumpBall,
      (G, 2L, 1, 0, 1, "6:00", Some(101L), Some(T1), None, None, None, None)))
    val rot = rotationsOf().filter(col("PLAYER_ID") =!= 103L)
      .unionByName(Seq((T1, 103L, Seq(Stint(0.0, 100.0))))
        .toDF("TEAM_ID", "PLAYER_ID", "STINTS").withColumn("GAME_ID", lit(G)))
    val out = Lineups.withPlayersAndErrors(pbp, rot)._1
    val violations = Lineups.intervalCheck(out.toDF(), rot)
      .filter(col("n_covering_stints") < 1)
      .select(col("EVENTNUM"), col("PLAYER_ID")).as[(Long, Long)].collect().toSet
    assert(violations == Set((2L, 103L)), s"uncovered player must surface, got $violations")
  }

  test("a row that fails PbpEvent deserialization quarantines its game, not the job (T4)") {
    val bad = "0022400101"
    val pbp = pbpOf(Seq(
      jumpBall, // good game G
      // null clock: SECONDS_FROM_START decodes null into a non-nullable Int
      (bad, 1L, 10, 0, 1, null, Some(101L), Some(T1), Some(201L), Some(T2), None, None)))
    val rot = rotationsOf().unionByName(rotationsOf().withColumn("GAME_ID", lit(bad)))
    val (rows, errors) = Lineups.withPlayersAndErrors(pbp, rot)
    assert(rows.collect().map(_.GAME_ID).toSet == Set(G))
    assert(errors.collect().map(_.GAME_ID).toSet == Set(bad))
  }
}

package graft.nba

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Stint

class PipelineMainSpec extends SparkSpec {
  import spark.implicits._

  test("argument XOR validation matches the reference scripts (:198-203)") {
    def p(s: String*) = PipelineArgs.parse(s)
    assert(p("--game-id", "0022400001", "--input", "i", "--output", "o").isRight)
    assert(p("--season", "2024-25", "--season-type", "Regular Season",
      "--input", "i", "--output", "o").isRight)
    assert(p("--game-id", "x", "--season", "2024-25", "--season-type", "RS",
      "--input", "i", "--output", "o").swap.exists(_.contains("not both")))
    assert(p("--input", "i", "--output", "o").isLeft)
    assert(p("--season", "2024-25", "--input", "i", "--output", "o").isLeft) // type missing
    assert(p("--game-id", "x").swap.exists(_.contains("required")))
    assert(p("--bogus").swap.exists(_.contains("unknown argument")))
  }

  test("withPlayersAndErrors: good games emit rows, bad games land in the quarantine channel") {
    val G1 = "0022400100" // good
    val G2 = "0022400101" // bad: sub of absent player
    val T1 = 100L
    val T2 = 200L
    def roster(g: String) =
      ((1L to 5L).map(p => (g, T1, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((g, T1, 6L, Seq(Stint(3600.0, 28800.0)))) ++
        (11L to 15L).map(p => (g, T2, p, Seq(Stint(0.0, 28800.0)))))
    val rotations = (roster(G1) ++ roster(G2))
      .toDF("GAME_ID", "TEAM_ID", "PLAYER_ID", "STINTS")
    val pbp = Seq(
      (G1, 1L, 10, 0, 1, "12:00", Some(1L), Some(T1), Some(11L), Some(T2)),
      (G1, 2L, 8, 0, 1, "6:00", Some(1L), Some(T1), Some(6L), Some(T1)),
      (G2, 1L, 10, 0, 1, "12:00", Some(1L), Some(T1), Some(11L), Some(T2)),
      (G2, 2L, 8, 0, 1, "6:00", Some(999L), Some(T1), Some(6L), Some(T1)))
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
        "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID")
      .withColumn("PLAYER3_ID", lit(null).cast("long"))
      .withColumn("PLAYER3_TEAM_ID", lit(null).cast("long"))

    val (rows, errors) = Lineups.withPlayersAndErrors(pbp, rotations)
    assert(rows.collect().map(_.GAME_ID).toSet == Set(G1))
    assert(rows.count() == 2)
    val errs = errors.collect()
    assert(errs.length == 1 && errs.head.GAME_ID == G2)
    assert(errs.head.error.contains("999"))
  }

  test("non-delta rerun is idempotent (ON CONFLICT DO UPDATE semantics) and the quarantine heals") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val in = s"$dir/in"
    val out = s"$dir/out"
    val G1 = "0022400100" // good
    val G2 = "0022400101" // bad: sub of absent player -> quarantine
    val T1 = 100L
    val T2 = 200L
    def roster(g: String) =
      ((1L to 5L).map(p => (g, T1, p, Seq(Stint(0.0, 28800.0)))) ++
        Seq((g, T1, 6L, Seq(Stint(3600.0, 28800.0)))) ++
        (11L to 15L).map(p => (g, T2, p, Seq(Stint(0.0, 28800.0)))))
    (roster(G1) ++ roster(G2))
      .toDF("GAME_ID", "TEAM_ID", "PLAYER_ID", "STINTS")
      .write.parquet(s"$in/rotations")
    Seq(
      (G1, 1L, 10, 0, 1, "12:00", Some(1L), Some(T1), Some(11L), Some(T2)),
      (G1, 2L, 8, 0, 1, "6:00", Some(1L), Some(T1), Some(6L), Some(T1)),
      (G2, 1L, 10, 0, 1, "12:00", Some(1L), Some(T1), Some(11L), Some(T2)),
      (G2, 2L, 8, 0, 1, "6:00", Some(999L), Some(T1), Some(6L), Some(T1)))
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
        "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID")
      .withColumn("PLAYER3_ID", lit(null).cast("long"))
      .withColumn("PLAYER3_TEAM_ID", lit(null).cast("long"))
      .write.parquet(s"$in/play_by_play")

    val args = PipelineArgs.parse(Seq(
      "--season", "2024-25", "--season-type", "Regular Season",
      "--input", in, "--output", out)).toOption.get

    PipelineMain.runWith(spark, args)
    val ids1 = spark.read.parquet(s"$out/play_by_play_with_players")
      .select("id").as[String].collect().sorted.toSeq
    assert(ids1 == Seq(s"$G1-1", s"$G1-2"))
    assert(spark.read.parquet(s"$out/lineup_errors")
      .select("GAME_ID").as[String].collect().toSeq == Seq(G2))

    // rerun without --delta: reference semantics are DO UPDATE, so the
    // output and the quarantine must be byte-for-byte stable, not doubled
    PipelineMain.runWith(spark, args)
    val ids2 = spark.read.parquet(s"$out/play_by_play_with_players")
      .select("id").as[String].collect().sorted.toSeq
    assert(ids2 == ids1, "non-delta rerun must not duplicate output rows")
    assert(spark.read.parquet(s"$out/lineup_errors")
      .select("GAME_ID").as[String].collect().toSeq == Seq(G2),
      "quarantine must hold one row per failing game, not one per run")

    // delta rerun: G1 is present in the output so only G2 is reprocessed;
    // it fails again and its error row is replaced, not appended
    PipelineMain.runWith(spark, args.copy(delta = true))
    val ids3 = spark.read.parquet(s"$out/play_by_play_with_players")
      .select("id").as[String].collect().sorted.toSeq
    assert(ids3 == ids1, "delta rerun must append nothing for already-present games")
    assert(spark.read.parquet(s"$out/lineup_errors")
      .select("GAME_ID").as[String].collect().toSeq == Seq(G2))
  }

  test("an optional input that is absent is skipped; one that is corrupt fails the run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline-opt").toString
    val (in, out) = (s"$dir/in", s"$dir/out")
    val G = "0022400100"
    ((1L to 5L).map(p => (G, 100L, p, Seq(Stint(0.0, 28800.0)))) ++
      (11L to 15L).map(p => (G, 200L, p, Seq(Stint(0.0, 28800.0)))))
      .toDF("GAME_ID", "TEAM_ID", "PLAYER_ID", "STINTS")
      .write.parquet(s"$in/rotations")
    Seq((G, 1L, 10, 0, 1, "12:00", Some(1L), Some(100L), Some(11L), Some(200L)))
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
        "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID")
      .withColumn("PLAYER3_ID", lit(null).cast("long"))
      .withColumn("PLAYER3_TEAM_ID", lit(null).cast("long"))
      .write.parquet(s"$in/play_by_play")
    val args = PipelineArgs.Args(gameId = Some(G), input = in, output = out)

    // no players_on_court_at_start_of_period, no team_game_log: both absent
    PipelineMain.runWith(spark, args)
    assert(spark.read.parquet(s"$out/play_by_play_with_players").count() == 1)

    val starters = new java.io.File(s"$in/players_on_court_at_start_of_period")
    starters.mkdirs()
    java.nio.file.Files.write(new java.io.File(starters, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](PipelineMain.runWith(spark, args))
  }

  test("createDatabase bootstraps once and is idempotent (S8, db_init.py:7-20)") {
    import graft.sources.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_db").toString
    assert(Warehouse.createDatabase(spark, "graft_boot", Some(s"$tmp/graft_boot.db")),
      "first call must report creation")
    assert(!Warehouse.createDatabase(spark, "graft_boot"),
      "second call must be a no-op, like CREATE DATABASE IF NOT EXISTS")
    assert(spark.catalog.databaseExists("graft_boot"))
    spark.sql("DROP DATABASE graft_boot")
  }

  test("a game with side inputs but no events (delta mode) is skipped, not failed") {
    val G = "0022400100"
    val rotations = (1L to 5L).map(p => (G, 100L, p, Seq(Stint(0.0, 28800.0))))
      .toDF("GAME_ID", "TEAM_ID", "PLAYER_ID", "STINTS")
    val pbp = Seq.empty[(String, Long, Int, Int, Int, String, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])]
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
        "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID",
        "PLAYER3_ID", "PLAYER3_TEAM_ID")
    val (rows, errors) = Lineups.withPlayersAndErrors(pbp, rotations)
    assert(rows.count() == 0)
    assert(errors.count() == 0)
  }
}

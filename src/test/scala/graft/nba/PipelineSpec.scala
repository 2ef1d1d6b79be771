package graft.nba

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.Stint
import graft.sources.{RestDecoder, Warehouse}

/** End-to-end pipeline mirroring the reference's smoke flow (test.py:11-15
  * plus the downstream jobs): REST envelope -> decoded rotation frames ->
  * home∪away union -> stint aggregation -> partitioned warehouse write ->
  * read-back -> lineup tracking -> CSV golden sink. Every seam between
  * modules is crossed for real (parquet on disk, not in-memory frames). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val G = "0022400236"
  private val T1 = 1610612766L
  private val T2 = 1610612739L

  private def envelope: String = {
    def row(team: Long, pid: Long, in: Double, out: Double) =
      s"""["$G","$team","$pid","$in","$out"]"""
    val home = (101L to 105L).map(p => row(T1, p, 0.0, 28800.0)) :+ row(T1, 106L, 3600.0, 28800.0)
    val away = (201L to 205L).map(p => row(T2, p, 0.0, 28800.0))
    s"""{"resultSets":[
       {"name":"HomeTeam","headers":["GAME_ID","TEAM_ID","PERSON_ID","IN_TIME_REAL","OUT_TIME_REAL"],
        "rowSet":[${home.mkString(",")}]},
       {"name":"AwayTeam","headers":["GAME_ID","TEAM_ID","PERSON_ID","IN_TIME_REAL","OUT_TIME_REAL"],
        "rowSet":[${away.mkString(",")}]}]}""".replaceAll("\n\\s*", "")
  }

  test("decode -> union -> aggregate -> write -> read -> lineups -> csv") {
    val tmp = java.nio.file.Files.createTempDirectory("pipeline").toString

    // S1 decode + U1 union (etl/rotations.py:19-26)
    val parsed = RestDecoder.parse(Seq(envelope).toDS())
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("GAME_ID", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("TEAM_ID", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("PERSON_ID", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("IN_TIME_REAL", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("OUT_TIME_REAL", org.apache.spark.sql.types.DoubleType)))
    val rotation = Seq("HomeTeam", "AwayTeam")
      .map(n => RestDecoder.cast(RestDecoder.resultSet(parsed, n), schema))
      .reduce(_ unionByName _)
      .withColumn("TEAM_CITY", lit(null).cast("string"))
      .withColumn("TEAM_NAME", lit(null).cast("string"))
      .withColumn("PLAYER_FIRST", lit(null).cast("string"))
      .withColumn("PLAYER_LAST", lit(null).cast("string"))

    // A1 aggregate + S5/S7 partitioned write (etl/rotations.py:49-68)
    val rotations = Stints.aggregate(rotation)
    Warehouse.writeTable(rotations, s"$tmp/rotations")

    // read-back: partition pruning path (SEASON stamped from the game id)
    val back = Warehouse.readTable(spark, s"$tmp/rotations")
      .filter(col("SEASON") === "2024-25" && col("SEASON_TYPE") === "Regular Season")
    assert(back.count() == 11)

    // flagship lineup tracking over a small pbp (play_by_play_with_players.py)
    val pbp = Seq(
      (G, 1L, 10, 0, 1, "12:00", Some(101L), Some(T1), Some(201L), Some(T2), None: Option[Long], None: Option[Long]),
      (G, 2L, 8, 0, 1, "6:00", Some(103L), Some(T1), Some(106L), Some(T1), None: Option[Long], None: Option[Long]))
      .toDF("GAME_ID", "EVENTNUM", "EVENTMSGTYPE", "EVENTMSGACTIONTYPE", "PERIOD",
        "PCTIMESTRING", "PLAYER1_ID", "PLAYER1_TEAM_ID", "PLAYER2_ID", "PLAYER2_TEAM_ID",
        "PLAYER3_ID", "PLAYER3_TEAM_ID")
    val lineups = Lineups.withPlayersAndErrors(pbp, back)._1
    val rows = lineups.collect().sortBy(_.EVENTNUM)
    assert(rows.length == 2)
    assert(rows(1).TEAM1_PLAYER5 == 106L)

    // S9 golden CSV sink (test.py:15)
    Warehouse.writeCsv(Stints.explodeStints(back)
      .select(col("GAME_ID"), col("TEAM_ID"), col("PLAYER_ID"),
        col("IN_TIME_REAL"), col("OUT_TIME_REAL")), s"$tmp/game_rotation")
    val csv = spark.read.option("header", "true").csv(s"$tmp/game_rotation")
    assert(csv.count() == 11)
    // zero-padded GAME_ID survived the whole pipeline as a string
    assert(csv.select(col("GAME_ID")).as[String].collect().forall(_ == G))
  }
}

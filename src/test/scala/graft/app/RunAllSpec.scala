package graft.app

import graft.SparkTestSession
import graft.war.{FieldSpec, SchemaFinalize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end DAG: raw pbp → parsed → metrics → guts → WAR ×4 →
  * leaderboard fan-out, each stage a re-readable parquet (the
  * reference's file-based dataflow edges, `run_all.py:52-154`). */
class RunAllSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rawGame = Seq(
    (1L, 1, 1, "Adams singled to left", null),
    (1L, 2, 1, "Brown walked", null),
    (1L, 3, 1, "Cole homered, 3 RBI; Adams scored; Brown scored", null),
    (1L, 4, 1, "Dunn struck out swinging", null),
    (1L, 5, 1, null, "Evans grounded into double play"),
    (1L, 6, 2, "Foley flied out to cf", null),
    (2L, 1, 1, "Giles reached on an error by ss", null),
    (2L, 2, 1, "Hart singled, RBI; Giles scored", null))
    .toDF("contest_id", "seq", "inning", "away_text", "home_text")

  test("RunAll produces every stage output with coherent rows") {
    val outDir = s"/tmp/graft_runall_${System.nanoTime()}"
    val stages = RunAll.run(spark, rawGame, outDir)
    val byName = stages.map(s => s.name -> s.rows).toMap
    assert(byName("parsed_pbp") === 8)
    assert(byName("expected_runs") === 8) // 8 base states, zero-filled
    assert(byName("linear_weights") >= 4) // walk/single/hr/out classes
    assert(byName("pbp_with_metrics") === 8)
    assert(byName("leaderboards/situational_batter") >= 5)
    assert(byName.contains("leaderboards/baserunning_team"))
    // every output re-readable from disk
    stages.foreach(s => assert(spark.read.parquet(s.path).count() === s.rows))
    // enrichment carried woba + rea columns
    val m = spark.read.parquet(s"$outDir/pbp_with_metrics")
    assert(m.columns.contains("woba") && m.columns.contains("rea"))
    // value tables gated off without WE/LI
    assert(!byName.contains("leaderboards/value_batter"))
  }

  test("RunAll with WE/LI tables runs the full WPA/leverage enrichment") {
    val raw = Seq(
      (1L, 1, 9, "Adams walked", null),
      (1L, 2, 9, "Brown grounded out to ss; Adams out at second", null),
      (1L, 3, 9, null, "Cole homered"))
      .toDF("contest_id", "seq", "inning", "away_text", "home_text")
    // minimal lookup tables covering the states this game visits
    val states = for {
      half <- Seq("Top", "Bottom"); runners <- Seq("NNN", "YNN")
      outs <- 0 to 2; diff <- -1 to 1
    } yield (9, half, runners, outs, diff)
    val we = states.map { case (i, h, r, o, d) => (i, h, r, o, d, 0.5) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "win_expectancy")
    val li = states.map { case (i, h, r, o, d) => (i, h, r, o, d, 1.0) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "leverage_index")

    val outDir = s"/tmp/graft_runall_weli_${System.nanoTime()}"
    RunAll.run(spark, raw, outDir, RunAll.Inputs(weTable = Some(we), liTable = Some(li)))
    val m = spark.read.parquet(s"$outDir/pbp_with_metrics")
    assert(m.columns.contains("wpa") && m.columns.contains("li")
      && m.columns.contains("times_through_order"))
    // every play's before-state is covered by the WE table → li populated
    assert(m.filter(col("li").isNull).count() === 0)
    // walk-off HR: game-end row gets home_win_exp_after = 1.0
    val last = m.orderBy(col("play_id").desc).limit(1).collect().head
    assert(last.getAs[Double]("home_win_exp_after") === 1.0)
  }

  test("full DAG: pitchers, guts, WAR tables and the leaderboard fan-out") {
    // WE/LI across innings 1-9, all 8 base states, 0-2 outs, ±12 diff
    val states = for {
      inn <- 1 to 9; half <- Seq("Top", "Bottom")
      runners <- Seq("NNN", "YNN", "NYN", "NNY", "YYN", "YNY", "NYY", "YYY")
      outs <- 0 to 2; diff <- -12 to 12
    } yield (inn, half, runners, outs, diff)
    val we = states.map { case (i, h, r, o, d) => (i, h, r, o, d, 0.5) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "win_expectancy")
    val li = states.map { case (i, h, r, o, d) => (i, h, r, o, d, 1.2) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "leverage_index")

    val teams = Seq(
      (1L, "T1", "T2", "Aardvarks", "Badgers"),
      (2L, "T3", "T2", "Cougars", "Badgers"))
      .toDF("contest_id", "away_team_id", "home_team_id", "away_team_name", "home_team_name")

    // pitching lineups: starters only (no in-game pitching changes)
    val pitchingLineups = Seq(
      (1L, "T1", "Knox", "p_knox", 1), (1L, "T2", "Lane", "p_lane", 1),
      (2L, "T3", "Moss", "p_moss", 1), (2L, "T2", "Lane", "p_lane", 1))
      .toDF("contest_id", "team_id", "player_name", "player_id", "pitch_order")

    val playerInfo = Seq(
      ("Adams", "L", "R"), ("Brown", "R", "R"), ("Cole", "R", "R"),
      ("Dunn", "S", "L"), ("Evans", "L", "L"), ("Foley", "R", "R"),
      ("Giles", "R", "R"), ("Hart", "L", "L"),
      ("p_knox", "R", "R"), ("p_lane", "L", "L"), ("p_moss", "R", "R"))
      .toDF("player_id", "bats", "throws")

    val battingStats = Seq(
      ("Adams", "T1", "Aardvarks", "North", "ss", 10, 40, 15, 3, 1, 2, 5, 0, 1, 8, 1, 0, 6, 1, 12),
      ("Brown", "T1", "Aardvarks", "North", "2b", 10, 38, 10, 2, 0, 1, 7, 1, 0, 9, 0, 1, 2, 0, 8),
      ("Cole", "T1", "Aardvarks", "North", "1b", 10, 42, 18, 5, 0, 6, 4, 0, 2, 10, 2, 0, 0, 1, 15),
      ("Evans", "T2", "Badgers", "South", "cf", 9, 35, 9, 1, 1, 0, 3, 0, 1, 7, 1, 2, 4, 2, 6),
      ("Hart", "T3", "Cougars", "North", "lf", 8, 30, 8, 2, 0, 1, 2, 0, 0, 6, 0, 0, 1, 0, 5))
      .toDF("player_id", "team_id", "team_name", "conference", "pos", "gp", "ab",
        "h", "2b", "3b", "hr", "bb", "ibb", "hbp", "k", "sf", "sh", "sb", "cs", "r")

    val pitchingStats = Seq(
      ("p_knox", "T1", "Aardvarks", "North", 8, 6, 45.2, 20, 25, 3.94, 30, 12, 5, 40, 2, 180),
      ("p_lane", "T2", "Badgers", "South", 10, 2, 30.1, 12, 14, 3.56, 25, 10, 3, 33, 1, 130),
      ("p_moss", "T3", "Cougars", "North", 6, 6, 38.0, 22, 26, 5.21, 28, 15, 4, 30, 3, 160))
      .toDF("player_id", "team_id", "team_name", "conference", "app", "gs", "ip",
        "er", "r", "era", "h", "bb", "hbp", "so", "hr_a", "bf")

    val parkFactors = Seq(("T1", 102.0), ("T2", 98.0), ("T3", 100.0))
      .toDF("team_id", "pf")
    val rankings = Seq(
      ("Aardvarks", 0.62, "7-3"), ("Badgers", 0.48, "5-5"), ("Cougars", 0.55, "4-4-1"))
      .toDF("massey_team", "sos_val", "record")
    val mappings = Seq(
      ("Aardvarks", "Aardvarks"), ("Badgers", "Badgers"), ("Cougars", "Cougars"))
      .toDF("ncaa_team_name", "massey_team_name")
    // T3 (Cougars) deliberately absent → leaderboard rows filtered;
    // year + canonical names present → the publish enrichment runs
    val teamHistory = Seq(
      ("T1", "ncaa_1", 2024, "Aardvarks Canonical", "North"),
      ("T2", "ncaa_1", 2024, "Badgers Canonical", "South"))
      .toDF("team_id", "division", "year", "team_name", "conference")

    val outDir = s"/tmp/graft_runall_full_${System.nanoTime()}"
    val stages = RunAll.run(spark, rawGame, outDir, RunAll.Inputs(
      weTable = Some(we), liTable = Some(li), teams = Some(teams),
      pitchingLineups = Some(pitchingLineups), playerInfo = Some(playerInfo),
      battingStats = Some(battingStats), pitchingStats = Some(pitchingStats),
      parkFactors = Some(parkFactors), rankings = Some(rankings),
      mappings = Some(mappings), teamHistory = Some(teamHistory),
      division = "ncaa_1", year = 2024))
    val byName = stages.map(s => s.name -> s.rows).toMap

    // pitcher assignment is real (not the round-2 lit("") stub)
    val parsed = spark.read.parquet(s"$outDir/parsed_pbp")
    assert(parsed.filter(col("pitcher_name") === "Lane").count() > 0)
    assert(parsed.filter(col("pitcher_name") === "Knox").count() > 0)
    // TTO partitions by real pitcher now
    val m = spark.read.parquet(s"$outDir/pbp_with_metrics")
    assert(m.columns.contains("times_through_order"))
    assert(m.filter(col("pitcher_name") === "").count() === 0)
    // team enrichment by half
    assert(m.filter(col("contest_id") === 1 && col("half") === "Top" &&
      col("bat_team_id") === "T1").count() > 0)

    // linear weights carry the real wOBA scale when batting stats exist
    val lwOut = spark.read.parquet(s"$outDir/linear_weights")
    assert(lwOut.filter(col("events") === "woba_scale").count() === 1)
    val g = spark.read.parquet(s"$outDir/guts_constants").collect().head
    assert(g.getAs[Double]("wobaScale") !== 1.0)

    // guts + the four WAR tables
    assert(byName("guts_constants") === 1)
    assert(byName("batting_war") === 5)
    assert(byName("pitching_war") === 3)
    assert(byName("batting_team_war") === 3)
    assert(byName("pitching_team_war") >= 2)
    val bw = spark.read.parquet(s"$outDir/batting_war")
    assert(bw.columns.contains("war") && bw.columns.contains("sos_adj_war") &&
      bw.columns.contains("baserunning"))
    // division normalization: batting WAR total hits the 60% share of
    // the standings target (16-12 record total, 24 games)
    val target = (7 + 5 + 4) - 0.294 * (10 + 10 + 9)
    val batTotal = bw.agg(sum("war")).first().getDouble(0)
    assert(math.abs(batTotal - target * 0.6) < 1e-6, s"$batTotal vs ${target * 0.6}")
    val pw = spark.read.parquet(s"$outDir/pitching_war")
    val pitTotal = pw.agg(sum("war")).first().getDouble(0)
    assert(math.abs(pitTotal - target * 0.4) < 1e-6)

    // the fan-out: all 20 tables present (nothing empty on this fixture
    // except possibly rolling, which needs 50+ PA per player)
    val expected = Seq("situational_batter", "situational_pitcher",
      "situational_batting_team", "situational_pitching_team",
      "splits_batter", "splits_pitcher", "splits_batting_team",
      "splits_pitching_team", "batted_ball_batter", "batted_ball_batting_team",
      "batted_ball_pitcher", "batted_ball_pitching_team",
      "baserunning", "baserunning_team",
      "value_batter", "value_batting_team", "value_pitcher", "value_pitching_team")
    expected.foreach(n =>
      assert(byName.contains(s"leaderboards/$n"), s"missing leaderboards/$n"))
    // upsert stamped (year, division) partitions
    val vb = spark.read.parquet(s"$outDir/leaderboards/value_batter")
    assert(vb.columns.contains("year") && vb.columns.contains("division"))
    assert(vb.filter(col("division") === "ncaa_1" && col("year") === 2024).count() === vb.count())
    // pitcher value sign-flip: Lane conceded Cole's walk-off HR in game
    // 1 — the pitching value table must exist with both pitchers' teams
    val vpt = spark.read.parquet(s"$outDir/leaderboards/value_pitching_team")
    assert(vpt.count() >= 2)
    // team-history publish filter: T3 is not in the history → no T3
    // rows in team-keyed leaderboards (WAR tables stay unfiltered)
    val sbt3 = spark.read.parquet(s"$outDir/leaderboards/splits_batting_team")
    assert(sbt3.filter(col("team_id") === "T3").count() === 0)
    assert(sbt3.filter(col("team_id") === "T1").count() > 0)
    // canonical names + conference pulled from the history at publish
    assert(sbt3.filter(col("team_id") === "T1")
      .select("team_name").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("Aardvarks Canonical"))
    assert(sbt3.columns.contains("conference"))
  }

  test("WAR inputs without WE/LI skip the WAR stage instead of crashing") {
    val battingStats = Seq(
      ("Adams", "T1", "Aardvarks", "North", "ss", 10, 40, 15, 3, 1, 2, 5, 0, 1, 8, 1, 0, 6, 1, 12))
      .toDF("player_id", "team_id", "team_name", "conference", "pos", "gp", "ab",
        "h", "2b", "3b", "hr", "bb", "ibb", "hbp", "k", "sf", "sh", "sb", "cs", "r")
    val pitchingStats = Seq(
      ("p_knox", "T1", "Aardvarks", "North", 8, 6, 45.2, 20, 25, 3.94, 30, 12, 5, 40, 2, 180))
      .toDF("player_id", "team_id", "team_name", "conference", "app", "gs", "ip",
        "er", "r", "era", "h", "bb", "hbp", "so", "hr_a", "bf")
    val outDir = s"/tmp/graft_runall_nowpa_${System.nanoTime()}"
    // clutch/GMLI (WAR inputs) need the WPA enrichment — absent WE/LI,
    // the stage must skip like every other missing-input stage
    val stages = RunAll.run(spark, rawGame, outDir, RunAll.Inputs(
      battingStats = Some(battingStats), pitchingStats = Some(pitchingStats),
      parkFactors = Some(Seq(("T1", 100.0)).toDF("team_id", "pf")),
      rankings = Some(Seq(("Aardvarks", 0.6, "7-3")).toDF("massey_team", "sos_val", "record")),
      mappings = Some(Seq(("Aardvarks", "Aardvarks")).toDF("ncaa_team_name", "massey_team_name"))))
    val names = stages.map(_.name).toSet
    assert(!names.contains("batting_war"))
    assert(names.contains("guts_constants")) // guts still runs off season stats
    assert(names.contains("leaderboards/situational_batter"))
  }

  test("batting lineups route names through the standardize cascade to real ids") {
    val teams = Seq((1L, "T1", "T2", "Aardvarks", "Badgers"),
      (2L, "T3", "T2", "Cougars", "Badgers"))
      .toDF("contest_id", "away_team_id", "home_team_id", "away_team_name", "home_team_name")
    // lineups carry canonical names + ids; "Cole" arrives via variation
    val battingLineups = Seq(
      (1L, "T1", "Adams, Jeff", "b_adams"), (1L, "T1", "Brown, Ted", "b_brown"),
      (1L, "T1", "Cole, Sam", "b_cole"), (1L, "T1", "Dunn, Al", "b_dunn"),
      (1L, "T2", "Evans, Bo", "b_evans"), (1L, "T1", "Foley, Jim", "b_foley"),
      (2L, "T3", "Giles, Ed", "b_giles"), (2L, "T3", "Hart, Lou", "b_hart"))
      .toDF("contest_id", "team_id", "player_name", "player_id")

    val outDir = s"/tmp/graft_runall_std_${System.nanoTime()}"
    RunAll.run(spark, rawGame, outDir, RunAll.Inputs(
      teams = Some(teams), battingLineups = Some(battingLineups)))
    val parsed = spark.read.parquet(s"$outDir/parsed_pbp")
    val ids = parsed.filter(col("batter_id").isNotNull)
      .select("batter_name", "batter_id").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // play text "Adams" (last name only) resolves to the lineup player
    assert(ids.get("Adams, Jeff").contains("b_adams"))
    assert(ids.get("Cole, Sam").contains("b_cole"))
    // runner ids resolved through the same cascade
    val r1 = parsed.filter(col("r1_id").isNotNull).select("r1_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(r1.contains("b_adams"))
  }

  test("runMany accumulates (year, division) slices; leaderboards keep history") {
    val outDir = s"/tmp/graft_runall_many_${System.nanoTime()}"
    val keys = Seq((2023, "ncaa_1"), (2024, "ncaa_1"), (2024, "ncaa_2"))
    val stages = RunAll.runMany(spark,
      keys.map { case (y, d) => (rawGame, RunAll.Inputs(division = d, year = y)) }, outDir)
    val sit = spark.read.parquet(s"$outDir/leaderboards/situational_batter")
    val slices = sit.select("year", "division").distinct()
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(slices === keys.toSet)
    // each slice reports the rows of its own (year, division) partition
    val sitRows = stages.filter(_.name == "leaderboards/situational_batter").map(_.rows)
    assert(sitRows === keys.map { case (y, d) =>
      sit.filter(col("year") === y && col("division") === d).count() })
    // re-running one slice overwrites ONLY that partition
    val before = sit.filter(col("year") === 2023).count()
    RunAll.run(spark, rawGame, outDir, RunAll.Inputs(division = "ncaa_1", year = 2023))
    val after = spark.read.parquet(s"$outDir/leaderboards/situational_batter")
    assert(after.filter(col("year") === 2023).count() === before)
    assert(after.select("year", "division").distinct().count() === 3)
  }

  test("boards emptied at publish record no stage and leave no directory") {
    val teams = Seq((1L, "T1", "T2", "Aardvarks", "Badgers"),
      (2L, "T3", "T2", "Cougars", "Badgers"))
      .toDF("contest_id", "away_team_id", "home_team_id", "away_team_name", "home_team_name")
    // every fixture team is in the history, but only under another
    // division: the publish filter keeps no row of a team-keyed board
    val teamHistory = Seq("T1", "T2", "T3").map(t => (t, "ncaa_2", 2024, t, "North"))
      .toDF("team_id", "division", "year", "team_name", "conference")
    val outDir = s"/tmp/graft_runall_empty_${System.nanoTime()}"
    val stages = RunAll.run(spark, rawGame, outDir, RunAll.Inputs(
      teams = Some(teams), teamHistory = Some(teamHistory), division = "ncaa_1", year = 2024))
    val names = stages.map(_.name).toSet
    // publish empties every team-keyed board (the pitcher and rolling
    // boards are empty on this fixture anyway): none is recorded and
    // no leaderboards directory is left behind
    assert(!names.exists(_.startsWith("leaderboards/")), names)
    assert(!new java.io.File(s"$outDir/leaderboards").exists())
    // the stage outputs are written regardless
    Seq("parsed_pbp", "expected_runs", "linear_weights", "pbp_with_metrics").foreach { n =>
      assert(names.contains(n) && new java.io.File(s"$outDir/$n").isDirectory, s"missing $n")
    }
  }

  test("SchemaFinalize: defaults, nullable ints, non-finite scrub, ordered select") {
    val df = Seq(
      ("a", Some(1L), Some(1.5)),
      ("b", None, Some(Double.NaN)),
      (null, Some(3L), None))
      .toDF("name", "maybe_id", "score")
    val fields = Seq(
      SchemaFinalize.strCol("name", "unknown"),
      SchemaFinalize.intColNullable("maybe_id"),
      SchemaFinalize.floatCol("score"),
      SchemaFinalize.intCol("missing_count", 7))
    val out = SchemaFinalize.finalizeSchema(df, fields).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "unknown"))
    assert(out(1).isNullAt(1)) // nullable int stays null
    assert(out(1).isNullAt(2)) // NaN scrubbed to null
    assert(out.forall(_.getLong(3) === 7L)) // missing col filled with default
    assert(SchemaFinalize.battingWar.map(_.name).contains("sos_adj_war"))
    assert(SchemaFinalize.pitchingWar.map(_.name).contains("gmli"))
  }
}

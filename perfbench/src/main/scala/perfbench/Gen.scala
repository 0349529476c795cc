package perfbench

import graft.app.RunAll
import graft.queries.QPbp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded inputs cut from the test data committed under `perfbench/data/`:
 * copies of the engine's test corpus, `events.parquet` of sf0.01 (10,000
 * events of 150 users) and `documents.parquet` of sf0.1 (5,000
 * documents). Set-up writes everything the timed unit reads to parquet
 * under the run's data directory.
 *
 * The DAG: each user's events are one game, as in the engine's own pbp
 * queries. A seeded game→division assignment splits the 150 games into
 * three divisions of 50, and the chosen division's games become the raw
 * play-by-play through `QPbp.rawPbpWithSubs` (play text keyed by event
 * type, every 13th play a pitcher substitution), with the ordered
 * pitching lineups and the noisy batting lineups of `QPbp`. The other
 * dimensions — teams, lineup positions, handedness, season stats, park
 * factors, rankings, mappings, team history, WE/LI — are drawn from the
 * seed for exactly the teams and players those games name, so every
 * optional RunAll input is present.
 *
 * The corpus: a seeded sample of the committed documents.
 */
object Gen {

  val Divisions: Seq[String] = Seq("ncaa_1", "ncaa_2", "ncaa_3")
  private val Positions = Seq("c", "1b", "2b", "3b", "ss", "lf", "cf", "rf", "dh")

  def source(root: String, name: String): String = s"$root/perfbench/data/$name.parquet"

  /** The games of `division` under the seed's game→division assignment. */
  def games(spark: SparkSession, root: String, seed: Long, division: String): Seq[Long] = {
    val all = spark.read.parquet(source(root, "events")).select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val di = Divisions.indexOf(division)
    new scala.util.Random(seed).shuffle(all).zipWithIndex
      .collect { case (g, i) if i % Divisions.size == di => g }.sorted
  }

  /** Write one division's full DAG input set into `dir`. */
  def writeDag(spark: SparkSession, root: String, dir: String, seed: Long, division: String): Unit = {
    import spark.implicits._
    val gs = games(spark, root, seed, division)
    // the division's events, where QPbp's generators read them
    spark.read.parquet(source(root, "events")).filter(col("user_id").isin(gs: _*))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def save(df: DataFrame, name: String): Unit = tables += name -> df

    save(QPbp.rawPbpWithSubs(spark, dir), "raw_pbp")
    val Seq(pitching0, batting0) = Par.map(Seq(QPbp.pitchingLineups(spark, dir),
      QPbp.battingLineups(spark, dir)))(_.collect().toSeq)
    // one id per pitcher name: QPbp's staffs reuse their names across
    // games, so a season's pitcher faces batters in many games
    val pitching = pitching0.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      "p-" + r.getString(2).replace(' ', '-'), r.getInt(4))).sorted
    save(pitching.toDF("contest_id", "team_id", "player_name", "player_id", "pitch_order"),
      "pitching_lineups")
    val batting = batting0.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sorted.map { case (g, t, n, p) => (g, t, n, p, Positions(rnd.nextInt(Positions.size))) }
    save(batting.toDF("contest_id", "team_id", "player_name", "player_id", "position"),
      "batting_lineups")

    // QPbp names a game's sides "A<game>" (away) and "H<game>" (home)
    val teams = gs.flatMap(g => Seq(s"A$g", s"H$g"))
    def teamName(t: String) = s"Team $t"
    val conf = teams.map(t => t -> s"C${rnd.nextInt(6)}").toMap
    save(gs.map(g => (g, s"A$g", s"H$g", teamName(s"A$g"), teamName(s"H$g")))
      .toDF("contest_id", "away_team_id", "home_team_id", "away_team_name", "home_team_name"),
      "teams")
    // a player's season team: the first team the lineups list them on
    val batters = batting.groupBy(_._4).map { case (p, rs) => p -> rs.map(_._2).min }.toSeq.sorted
    val pitchers = pitching.groupBy(_._4).map { case (p, rs) => p -> rs.map(_._2).min }.toSeq.sorted
    val hands = Seq("R", "L", "S", "Right", "left")
    save((batters.map { case (p, _) => (p, hands(rnd.nextInt(hands.size)), "R") } ++
      pitchers.map { case (p, _) => (p, "R", hands(rnd.nextInt(2))) })
      .toDF("player_id", "bats", "throws"), "player_info")
    save(batters.map { case (p, t) =>
      val ab = 150 + rnd.nextInt(100)
      val h = ab / 5 + rnd.nextInt(ab / 5)
      val d2 = rnd.nextInt(h / 4 + 1); val d3 = rnd.nextInt(4); val hr = rnd.nextInt(12)
      (p, t, teamName(t), conf(t), Positions(rnd.nextInt(Positions.size)), 40 + rnd.nextInt(15), ab,
        h, d2, d3, hr, 10 + rnd.nextInt(30), rnd.nextInt(4), rnd.nextInt(8),
        20 + rnd.nextInt(40), rnd.nextInt(4), rnd.nextInt(3), rnd.nextInt(15),
        rnd.nextInt(5), 10 + rnd.nextInt(40))
    }.toDF("player_id", "team_id", "team_name", "conference", "pos", "gp", "ab",
      "h", "2b", "3b", "hr", "bb", "ibb", "hbp", "k", "sf", "sh", "sb", "cs", "r"),
      "batting_stats")
    save(pitchers.map { case (p, t) =>
      val ip = 20 + rnd.nextInt(60)
      val er = ip / 3 + rnd.nextInt(ip / 3 + 1)
      (p, t, teamName(t), conf(t), 10 + rnd.nextInt(10), 2 + rnd.nextInt(8),
        ip + rnd.nextInt(3) / 10.0, er, er + rnd.nextInt(5), er * 9.0 / ip,
        ip + rnd.nextInt(20), 5 + rnd.nextInt(20), rnd.nextInt(6), ip + rnd.nextInt(30),
        rnd.nextInt(8), ip * 4 + rnd.nextInt(40))
    }.toDF("player_id", "team_id", "team_name", "conference", "app", "gs", "ip",
      "er", "r", "era", "h", "bb", "hbp", "so", "hr_a", "bf"), "pitching_stats")
    save(teams.map(t => (t, 92.0 + rnd.nextInt(17))).toDF("team_id", "pf"), "park_factors")
    save(teams.map(t => (teamName(t), 0.3 + rnd.nextInt(60) / 100.0,
      s"${10 + rnd.nextInt(20)}-${8 + rnd.nextInt(20)}"))
      .toDF("massey_team", "sos_val", "record"), "rankings")
    save(teams.map(t => (teamName(t), teamName(t)))
      .toDF("ncaa_team_name", "massey_team_name"), "mappings")
    save(teams.map(t => (t, division, 2024, teamName(t), conf(t)))
      .toDF("team_id", "division", "year", "team_name", "conference"), "team_history")
    val states = for {
      inn <- 1 to 9; half <- Seq("Top", "Bottom")
      runners <- Seq("NNN", "YNN", "NYN", "NNY", "YYN", "YNY", "NYY", "YYY")
      outs <- 0 to 2; diff <- -30 to 30
    } yield (inn, half, runners, outs, diff)
    // monotone in the score difference so WPA moves the right way
    val tilt = 0.02 + rnd.nextInt(5) / 1000.0
    save(states.map { case (i, h, r, o, d) =>
      (i, h, r, o, d, math.max(0.01, math.min(0.99, 0.5 + tilt * d))) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "win_expectancy"), "we")
    save(states.map { case (i, h, r, o, d) =>
      (i, h, r, o, d, 0.6 + (i + o + math.abs(d) % 5) / 10.0) }
      .toDF("inning", "half", "runners", "outs", "score_diff", "leverage_index"), "li")
    // the tables are small and independent: write them four at a time
    Par.foreach(tables.toSeq) { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
      schemas(s"$dir/$name") = df.schema
    }
  }

  /** Schemas of the tables written, so reading them back needs no
    * schema-inference job. */
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  /** RunAll inputs of a DAG data directory. */
  def dagInputs(spark: SparkSession, dir: String, division: String): (DataFrame, RunAll.Inputs) = {
    def rd(name: String) = spark.read.schema(schemas(s"$dir/$name")).parquet(s"$dir/$name")
    (rd("raw_pbp"), RunAll.Inputs(
      weTable = Some(rd("we")), liTable = Some(rd("li")), teams = Some(rd("teams")),
      pitchingLineups = Some(rd("pitching_lineups")),
      battingLineups = Some(rd("batting_lineups")),
      playerInfo = Some(rd("player_info")),
      battingStats = Some(rd("batting_stats")), pitchingStats = Some(rd("pitching_stats")),
      parkFactors = Some(rd("park_factors")), rankings = Some(rd("rankings")),
      mappings = Some(rd("mappings")), teamHistory = Some(rd("team_history")),
      division = division, year = 2024))
  }

  /** A seeded sample of `n` of the committed documents into
    * `dir/documents.parquet`. */
  def writeDocuments(spark: SparkSession, root: String, dir: String, seed: Long, n: Int): Unit = {
    val docs = spark.read.parquet(source(root, "documents"))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val keep = new scala.util.Random(seed).shuffle(ids).take(n)
    docs.filter(col("doc_id").isin(keep: _*)).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

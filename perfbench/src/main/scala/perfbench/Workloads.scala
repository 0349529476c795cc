package perfbench

import graft.SparkEntry
import graft.app.RunAll
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed unit produced: named outputs to digest, plus the
  * structural checks that need no recorded digest. */
final case class UnitOut(outputs: Seq[(String, () => Digest.D)], invariants: Seq[(String, Boolean)],
    queryWall: Map[String, Double] = Map.empty, boardsPublished: Int = 0)

trait Workload {
  def name: String
  /** Generate this seed's inputs under `data` from the test data in the
    * checkout at `root` (set-up, untimed). */
  def generate(spark: SparkSession, root: String, data: String, seed: Long): Unit
  /** One timed unit: reads only `data`, writes only under `out`. The
    * returned check runs after the unit's clock has stopped. */
  def unit(spark: SparkSession, data: String, out: String, span: String => Unit): () => UnitOut
}

object Workloads {
  val all: Map[String, Workload] = Seq(OpsMix, DagDaily).map(w => w.name -> w).toMap

  /** The 20 leaderboards RunAll publishes when every input is present. */
  val Boards: Seq[String] = Seq("situational", "splits", "batted_ball").flatMap(k =>
    Seq("batter", "pitcher", "batting_team", "pitching_team").map(s => s"${k}_$s")) ++
    Seq("rolling_batter", "rolling_pitcher", "baserunning", "baserunning_team",
      "value_batter", "value_batting_team", "value_pitcher", "value_pitching_team")
}

/** The daily cron: one division's DAG, RunAll.run with every optional
  * input, in a fresh process. The seed picks the game→division split,
  * the division and the values of every synthetic dimension. */
object DagDaily extends Workload {
  val name = "dag_daily"
  def division(seed: Long): String = Gen.Divisions(java.lang.Math.floorMod(seed, 3L).toInt)
  private var div = "ncaa_1"
  private var inputs: (DataFrame, RunAll.Inputs) = _
  def generate(spark: SparkSession, root: String, data: String, seed: Long): Unit = {
    div = division(seed)
    Gen.writeDag(spark, root, data, seed, div)
    // opened here, so their schema reads are set-up, not DAG work
    inputs = Gen.dagInputs(spark, data, div)
  }
  def unit(spark: SparkSession, data: String, out: String, span: String => Unit): () => UnitOut = {
    val (raw, in) = inputs
    span(s"RunAll.run $div")
    val res = RunAll.run(spark, raw, out, in)
    span("")
    () => check(spark, data, res, raw.count())
  }

  /** Every output's table digest, and the three structural invariants:
    * parsed rows = raw plays, all 20 boards published non-empty, WAR
    * rows = distinct players in the season stats. */
  private def check(spark: SparkSession, data: String, results: Seq[RunAll.StageResult],
      plays: Long): UnitOut = {
    val rows = results.map(r => r.name -> r.rows).toMap
    def players(t: String) = spark.read.parquet(s"$data/$t").select("player_id").distinct().count()
    val published = Workloads.Boards.filter(b => rows.getOrElse(s"leaderboards/$b", 0L) > 0)
    val missing = Workloads.Boards.diff(published)
    val invariants = Seq(
      s"$div parsed rows = raw plays" -> rows.get("parsed_pbp").contains(plays),
      s"$div every board published non-empty (missing: ${missing.mkString(", ")})" -> missing.isEmpty,
      s"$div batting WAR rows = distinct batters" -> rows.get("batting_war").contains(players("batting_stats")),
      s"$div pitching WAR rows = distinct pitchers" -> rows.get("pitching_war").contains(players("pitching_stats")))
    val tables = results.map(r => s"table ${r.name}" -> (() => Digest.of(spark.read.parquet(r.path))))
    UnitOut(tables, invariants, boardsPublished = published.size)
  }
}

/** The roadmap's operator targets: registered queries one after another
  * in a seeded order, cache cleared between them, each result committed
  * to parquet under the output root. */
object OpsMix extends Workload {
  val name = "ops_mix"
  val Queries: Seq[String] = Seq("llm02_corpus_multilang", "t07_minhash_lsh_pairs")
  val Docs = 2000
  private var order: Seq[String] = Queries
  def generate(spark: SparkSession, root: String, data: String, seed: Long): Unit = {
    Gen.writeDocuments(spark, root, data, seed, Docs)
    order = new scala.util.Random(seed).shuffle(Queries)
  }
  def unit(spark: SparkSession, data: String, out: String, span: String => Unit): () => UnitOut = {
    val wall = order.map { q =>
      spark.catalog.clearCache()
      span(q)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$out/q/$q")
      val dt = (System.nanoTime() - t0) / 1e9
      span("")
      q -> dt
    }
    () => UnitOut(order.map(q => s"query $q" -> (() => Digest.of(spark.read.parquet(s"$out/q/$q")))),
      Nil, wall.toMap)
  }
}

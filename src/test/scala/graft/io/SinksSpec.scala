package graft.io

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S9 JDBC sink round-trip against embedded Derby (the harness's only
  * JDBC engine) — reference `scripts/upload_to_db.py:71-181` semantics:
  * delete the refreshed slice, dedup incoming, append. */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val url = s"jdbc:derby:/tmp/graft_derby_${System.nanoTime()};create=true"
  private val types = "player VARCHAR(64), season INT, score DOUBLE, loaded_at INT"

  test("jdbcUpsert: initial load, per-year refresh, dedup-keep-latest") {
    val y2023 = Seq(("a", 2023, 1.0, 1), ("b", 2023, 2.0, 1)).toDF("player", "season", "score", "loaded_at")
    Sinks.jdbcUpsert(y2023, url, "leaderboard", Seq("player", "season"), col("loaded_at"),
      deleteWhere = None, columnTypes = Some(types))

    // refresh 2023 with a duplicate key (latest loaded_at wins) + 2024 rows
    val batch = Seq(
      ("a", 2023, 5.0, 2), ("a", 2023, 9.0, 3), ("c", 2024, 3.0, 2))
      .toDF("player", "season", "score", "loaded_at")
    Sinks.jdbcUpsert(batch, url, "leaderboard", Seq("player", "season"), col("loaded_at"),
      // quoted: Spark's JDBC writer creates case-sensitive quoted columns
      deleteWhere = Some("\"season\" = 2023"), columnTypes = Some(types))

    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "leaderboard")
      .load().select("player", "season", "score")
      .as[(String, Int, Double)].collect().toSet
    // 2023 'b' deleted (whole year refreshed), 'a' deduped to loaded_at=3
    assert(got === Set(("a", 2023, 9.0), ("c", 2024, 3.0)))
  }

  test("upsertByPartition replaces only the written partition and leaves the session mode alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_").toString
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(mode)
    Seq((1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)).toDF("id", "part", "v")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    Sinks.upsertByPartition(Seq((4, "a", 4.0)).toDF("id", "part", "v"), dir, Seq("part"))
    val got = spark.read.parquet(dir).select("id", "part").as[(Int, String)].collect().toSet
    assert(got === Set((4, "a"), (3, "b")))
    assert(spark.conf.getOption(mode) === before)
  }

  test("malformed CSV rows are captured, not silently dropped (PERMISSIVE + corrupt-record)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv_").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "in.csv"),
        ("id,qty,price\n" +      // header
          "1,3,9.5\n" +          // good
          "2,notanumber,1.0\n" + // bad qty type
          "3,4\n" +              // missing column
          "4,5,2.25\n"           // good
        ).getBytes)
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("qty", IntegerType),
        StructField("price", DoubleType),
        StructField("_corrupt_record", StringType)))
      val df = spark.read
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(dir)
        .cache() // corrupt-record column requires the full row to be materialized
      assert(df.count() === 4) // every input row accounted for
      val bad = df.filter(col("_corrupt_record").isNotNull)
        .select("_corrupt_record").as[String].collect().sorted.toSeq
      assert(bad === Seq("2,notanumber,1.0", "3,4"))
      val good = df.filter(col("_corrupt_record").isNull)
        .select("id").as[Long].collect().sorted.toSeq
      assert(good === Seq(1L, 4L))
      // FAILFAST is the loud alternative: same file must throw
      val strict = spark.read.option("header", "true").option("mode", "FAILFAST")
        .schema(StructType(schema.dropRight(1))).csv(dir)
      intercept[org.apache.spark.SparkException](strict.collect())
      df.unpersist()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("compactParquet: file count from actual bytes, content byte-identical, clamps apply") {
    val frag = java.nio.file.Files.createTempDirectory("graft_compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact_out").toString
    val df = (0 until 5000).map(i => (i.toLong, s"row_$i" * 8)).toDF("id", "payload")
    df.repartition(64).write.mode("overwrite").parquet(frag)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    assert(parquetFiles(frag).size === 64)
    val totalBytes = parquetFiles(frag).map(_.length).sum

    val target = totalBytes / 4 // expect ~4 output files
    val n = Sinks.compactParquet(spark, frag, out, targetBytes = target)
    assert(n === math.round(
      parquetFiles(frag).map(_.length).sum.toDouble / target).toInt ||
      n >= 3 && n <= 5, s"n=$n")
    assert(parquetFiles(out).size === n)
    // content round-trips exactly
    val back = spark.read.parquet(out)
    assert(back.count() === 5000)
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
    // clamps: enormous target → 1 file; maxFiles caps the count
    val one = java.nio.file.Files.createTempDirectory("graft_compact_one").toString
    assert(Sinks.compactParquet(spark, frag, one, targetBytes = Long.MaxValue) === 1)
    val capped = java.nio.file.Files.createTempDirectory("graft_compact_cap").toString
    assert(Sinks.compactParquet(spark, frag, capped, targetBytes = 1L, maxFiles = 7) === 7)

    // in == out (any spelling of the same location) must be refused —
    // overwrite-while-lazily-reading would destroy the source
    val same = intercept[IllegalArgumentException] {
      Sinks.compactParquet(spark, frag, frag + "/", targetBytes = target)
    }
    assert(same.getMessage.contains("same location"))
    assert(parquetFiles(frag).size === 64, "source must be untouched after the refusal")

    // sizing counts ONLY *.parquet bytes: pad the dir with a large
    // non-data file and the file count must not move
    java.nio.file.Files.write(java.nio.file.Paths.get(frag, "_garbage_metadata"),
      new Array[Byte]((totalBytes * 3).toInt))
    val unpadded = java.nio.file.Files.createTempDirectory("graft_compact_pad").toString
    assert(Sinks.compactParquet(spark, frag, unpadded, targetBytes = target) === n,
      "non-parquet files must not inflate the size estimate")
  }
}

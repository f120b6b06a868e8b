package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.read]]: the schema read from one footer on the driver is the
  * schema Spark's inference returns, it costs no Spark job, and every
  * case Spark must decide itself (mergeSchema, globs, no footer) falls
  * back to plain `spark.read.parquet` with its own error. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsDuring

  private val harness = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val sfDirs =
    Seq(TestSpark.SfDir, Paths.get(TestSpark.SfDir).resolveSibling("sf0.01").toString)

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Both readers agree: equal schemas, or the same exception class and
    * message. */
  private def assertSameAsInference(path: String): Unit = {
    val mine = Try(Tables.read(spark, path).schema)
    val spark_ = Try(spark.read.parquet(path).schema)
    (mine.toEither, spark_.toEither) match {
      case (Right(a), Right(b)) => assert(a == b, s"$path:\nfooter $a\ninferred $b")
      case (Left(a), Left(b)) =>
        assert(a.getClass == b.getClass && a.getMessage == b.getMessage, s"$path: $a vs $b")
      case other => fail(s"$path: readers disagree: $other")
    }
  }

  test("resolving the 10 harness tables and Tables.events launches no Spark job") {
    harness.foreach { t =>
      val (_, jobs) = jobsDuring(spark)(Tables.load(spark, TestSpark.SfDir, t).schema)
      assert(jobs == 0, s"Tables.load($t) launched $jobs jobs")
    }
    val (_, evJobs) = jobsDuring(spark)(Tables.events(spark, TestSpark.SfDir).schema)
    assert(evJobs == 0, s"Tables.events launched $evJobs jobs")
    // The counter is live: Spark's own inference of the same table runs one.
    val (_, inferJobs) =
      jobsDuring(spark)(spark.read.parquet(s"${TestSpark.SfDir}/events.parquet").schema)
    assert(inferJobs > 0, "spark.read.parquet was expected to launch its inference job")
  }

  test("footer schema equals Spark's inference for every table, nanosAsLong on and off") {
    for (dir <- sfDirs; nanos <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        harness.foreach(t => assertSameAsInference(s"$dir/$t.parquet"))
      }
  }

  test("a Spark-written partitioned table (_SUCCESS, .crc, batch_id=) keeps its partition column") {
    val t = s"${tmp("graft_tables_part")}/t"
    spark.range(0, 40).selectExpr("id", "CAST(id AS STRING) AS s", "id % 3 AS batch_id")
      .write.partitionBy("batch_id").parquet(t)
    val names = Files.walk(Paths.get(t)).toArray.map(_.toString.split('/').last).toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.contains("batch_id=0"), names)
    assertSameAsInference(t)
    val (schema, jobs) = jobsDuring(spark)(Tables.read(spark, t).schema)
    assert(schema.fieldNames.toSeq == Seq("id", "s", "batch_id"), schema)
    assert(jobs == 0, s"$jobs jobs")
  }

  test("the footer read is the one Spark picks: path-string order, then summary files") {
    val t = tmp("graft_tables_order")
    // `k=1-x/` sorts before `k=1/` as a path string ('-' < '/') but after
    // it as a bare name: Spark reads k=1-x's footer, which has `extra`.
    spark.range(0, 4).selectExpr("id").write.parquet(s"$t/k=1")
    spark.range(0, 4).selectExpr("id", "'e' AS extra").write.parquet(s"$t/k=1-x")
    assertSameAsInference(t)
    assert(Tables.read(spark, t).schema.fieldNames.contains("extra"))
    // A `_metadata` summary outranks every data file, and a
    // `_common_metadata` outranks `_metadata`.
    def plant(table: String, as: String): Unit = Files.copy(
      Paths.get(s"${TestSpark.SfDir}/$table.parquet"), Paths.get(t, as),
      StandardCopyOption.REPLACE_EXISTING)
    plant("region", "_metadata")
    assertSameAsInference(t)
    assert(Tables.read(spark, t).schema.fieldNames.contains("r_name"))
    plant("nation", "_common_metadata")
    assertSameAsInference(t)
    assert(Tables.read(spark, t).schema.fieldNames.contains("n_name"))
  }

  test("an empty or missing path fails with spark.read.parquet's own exception") {
    val empty = tmp("graft_tables_empty")
    val a = intercept[Exception](spark.read.parquet(empty))
    val b = intercept[Exception](Tables.read(spark, empty))
    assert(a.getClass == b.getClass && a.getMessage == b.getMessage, s"$a vs $b")
    assertSameAsInference(s"$empty/missing")
  }

  test("mergeSchema=true and glob paths take the fallback to Spark's inference") {
    val t = tmp("graft_tables_merge")
    spark.range(0, 4).selectExpr("id").write.parquet(s"$t/batch_id=0")
    spark.range(0, 4).selectExpr("id", "'e' AS extra").write.parquet(s"$t/batch_id=1")
    // mergeSchema off: the first footer alone, no `extra`.
    assert(GraftParquetFooter.inferSchema(spark, t).isDefined)
    assert(!Tables.read(spark, t).schema.fieldNames.contains("extra"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(GraftParquetFooter.inferSchema(spark, t).isEmpty)
      val (schema, jobs) = jobsDuring(spark)(Tables.read(spark, t).schema)
      assert(schema == spark.read.parquet(t).schema && schema.fieldNames.contains("extra"), schema)
      assert(jobs > 0, "the merge runs Spark's inference job")
    }
    val glob = s"$t/batch_id=*"
    assert(GraftParquetFooter.inferSchema(spark, glob).isEmpty)
    assertSameAsInference(glob)
    assert(Tables.read(spark, glob).schema.fieldNames.contains("id"))
  }
}

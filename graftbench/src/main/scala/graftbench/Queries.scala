package graftbench

import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed query: build the DataFrame through graft's registry (plan),
  * then collect it (execute). Each part runs under its own span, so the
  * jobs it launches are attributed to it. */
final class QueryRunner(trace: Trace, data: String) {
  val execs = ArrayBuffer.empty[Map[String, Any]]
  /** (query, DataFrame, rows) of each answer kept for the oracle check. */
  val kept = ArrayBuffer.empty[(String, DataFrame, Array[Row])]

  def run(spark: SparkSession, name: String, parent: Int, pass: String,
      keep: Boolean = false): Map[String, Any] = {
    val sc = spark.sparkContext
    val fn = graft.SparkEntry.queries(name)
    val rec = trace.span(name, "query", parent, Map("pass" -> pass)) { qid =>
      val before = sc.getPersistentRDDs.keySet
      val out = try {
        val t0 = trace.nowMs
        val df = trace.span("plan", "plan", qid) { id => trace.tag(sc, id); fn(spark, data) }
        val t1 = trace.nowMs
        val rows = trace.span("execute", "execute", qid) { id => trace.tag(sc, id); df.collect() }
        val t2 = trace.nowMs
        sc.clearJobGroup()
        val ops = if (trace.traced) trace.queries.await(df) else Map.empty[String, Any]
        if (keep) kept += ((name, df, rows))
        Map[String, Any]("plan_ms" -> (t1 - t0), "exec_ms" -> (t2 - t1), "ms" -> (t2 - t0),
          "rows" -> rows.length, "hash" -> QueryRunner.hash(rows), "ops" -> ops)
      } catch {
        case e: Throwable =>
          sc.clearJobGroup()
          Map[String, Any]("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300),
            "ms" -> 0.0)
      }
      val after = sc.getPersistentRDDs.keySet
      out ++ Map("query" -> name, "pass" -> pass, "span" -> qid,
        "persisted_delta" -> (after.size - before.size))
    }
    execs += rec
    rec
  }
}

object QueryRunner {
  /** Order-insensitive content hash of a result. */
  def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
      .sorted.mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  /** Write collected rows as one parquet file, for the DuckDB oracle check
    * made after the run. */
  def dump(spark: SparkSession, df: DataFrame, rows: Array[Row], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
  }
}

/** The input tables, resolved once per set-up so that a fresh session has
  * listed its files and read their schemas. */
object Inputs {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def touch(spark: SparkSession, data: String): Unit =
    tables.foreach(t => graft.Tables.load(spark, data, t).schema)
}

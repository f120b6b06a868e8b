package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one run needs: its trace, input tables, private work directory
  * and measuring time. */
final case class Ctx(trace: Trace, data: String, work: String, seconds: Double, seed: Long)

/** One run of one workload in one JVM. Writes the raw record (timings,
  * samples, ledgers, hashes, spans) as JSON; `run.py` turns it into
  * metrics and checks the answers.
  *
  * {{{
  * graftbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <out.json>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traced, data, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    // Every directory Spark writes lands in this run's own work dir.
    sys.props("spark.sql.warehouse.dir") = Paths.get(work, "warehouse").toUri.toString
    sys.props("spark.local.dir") = Paths.get(work, "spark-local").toString
    val t0 = System.nanoTime()
    val spark = graft.Engine.session(cores, "graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(traced == "1")
    trace.install(spark.sparkContext)
    val ctx = Ctx(trace, data, work, seconds.toDouble, seed.toLong)
    val result = workload match {
      case "ingest" => Ingest.run(spark, ctx)
      case "curate" => Curate.run(spark, ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val functions =
      if (trace.traced && workload == "curate") Functions.run(spark, s"$work/fdata") else Nil
    waitForListeners(trace)
    val record = result ++ Map(
      "workload" -> workload, "cores" -> cores, "session_s" -> sessionS,
      "epoch0_ms" -> trace.epoch0,
      "cache_bytes" -> spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum,
      "functions" -> functions,
      "stages" -> (if (trace.traced) trace.jobs.stages else Nil),
      "spans" -> trace.allSpans)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(out), mapper.writeValueAsString(record))
    spark.stop()
  }

  /** Seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Listener events arrive asynchronously; wait until the job count
    * stops moving. */
  private def waitForListeners(trace: Trace): Unit = if (trace.traced) {
    var last = -1
    while (last != trace.jobs.jobCount) { last = trace.jobs.jobCount; Thread.sleep(300) }
  }
}

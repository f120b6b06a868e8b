package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** `curate`: a fixed mix of training-data queries. Each cycle vacuums the
  * index layouts, clears the cache and opens a fresh session, runs the mix
  * (memo and persist builds), then re-runs it three times in the same
  * session (memo hits). Cycle 0 runs the mix once, in the cold JVM. */
object Curate {
  /** Query, and the module it exercises. */
  val mix: Seq[(String, String)] = Seq(
    "q29_minhash_signatures" -> "dedup",
    "q33_ann_brute" -> "similarity",
    // Builds its top-k memo while the plan is built; the rerun is served by it.
    "q110_tfidf_topk" -> "text",
    // Memoizes its symmetric-degree frame per session; the reruns are served by it.
    "q139_pagerank" -> "graph",
    "q239_global_rank" -> "GlobalRank")

  def reset(base: SparkSession, data: String, trace: Trace): SparkSession = {
    graft.similarity.IvfPqIndex.vacuum(base, Set.empty)
    base.catalog.clearCache()
    val s = base.newSession()
    trace.watch(s)
    Inputs.touch(s, data)
    s
  }

  def run(base: SparkSession, ctx: Ctx): Map[String, Any] = {
    val trace = ctx.trace
    val runner = new QueryRunner(trace, ctx.data)
    val sc = base.sparkContext
    // Set-up is the reset each cycle starts with: timed once before the
    // cycles and at the start of each one.
    val setups = ArrayBuffer(Main.seconds(reset(base, ctx.data, trace)))
    val cycles = ArrayBuffer.empty[Map[String, Any]]
    trace.span("curate", "workload", 0) { wid =>
      val start = trace.nowMs
      var c = 0
      while (c < 2 || trace.nowMs - start < ctx.seconds * 1000.0) {
        trace.span(s"cycle-$c", "cycle", wid) { cid =>
          var spark: SparkSession = null
          setups += Main.seconds { spark = reset(base, ctx.data, trace) }
          def pass(label: String): (Double, Set[Int]) = trace.span(label, "pass", cid) { pid =>
            val t0 = trace.nowMs
            mix.foreach { case (q, _) => runner.run(spark, q, pid, s"$label-$c", keep = c == 0) }
            (trace.nowMs - t0, sc.getPersistentRDDs.keySet.toSet)
          }
          val (passMs, afterPass) = pass("pass")
          // Cold-pass results are written, after it, for the DuckDB oracle check.
          runner.kept.foreach { case (q, df, rows) =>
            QueryRunner.dump(spark, df, rows, s"${ctx.work}/results/$q")
          }
          runner.kept.clear()
          // Cycle 0 is the cold pass only; its rerun would measure nothing new.
          if (c == 0) cycles += Map("cycle" -> c, "pass_ms" -> passMs)
          else {
            // One rerun is too short to time steadily: report the median of three.
            val reruns = (1 to 3).map(_ => pass("rerun"))
            cycles += Map("cycle" -> c, "pass_ms" -> passMs,
              "rerun_ms" -> reruns.map(_._1).sorted.apply(1),
              "rerun_leak" -> (reruns.last._2 -- afterPass).size)
          }
        }
        c += 1
      }
    }
    Map("setup_s" -> setups.toList, "mix" -> mix.map { case (q, m) => Map("query" -> q, "module" -> m) },
      "cycles" -> cycles.toList, "execs" -> runner.execs.toList,
      "oracle" -> mix.flatMap { case (q, _) => graft.SparkEntry.oracleSql.get(q).map(q -> _) }.toMap)
  }
}

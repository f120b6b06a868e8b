package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.operators.{Filters, Parse, Sinks}
import graft.sources.EventGen
import graft.streaming.StreamPipeline

/** Seeded Kafka-envelope event files: one JSON line `(value, timestamp)`
  * per event, where `value` is a Gen-2 payload (sword, guild, `default`)
  * or malformed JSON, and hosts are skewed. `timestamp` is the time the
  * event was due. The ledger keeps what the pipeline must land. */
final class EnvelopeGen(seed: Long, dir: Path) {
  private val rnd = new scala.util.Random(seed)
  private val staging = Files.createDirectories(dir.resolveSibling(dir.getFileName + "-staging"))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val hosts = (1 to 40).map(i => s"Player $i")
  private val hostCdf = {
    val w = hosts.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val details = Seq("wood", "iron", "gold", "starter guild", "elite guild")
  private val malformed = Seq("not json at all", """{"direction": "increase"}""", "")
  private var seq = 0
  /** (host, event_type, direction, event_detail) -> landed count. */
  val ledger = mutable.Map.empty[(String, String, String, String), Long]
  val files = new ConcurrentLinkedQueue[Map[String, Any]]()
  var parsed, valid = 0L

  private def host(): String = {
    val u = rnd.nextDouble()
    hosts(hostCdf.indexWhere(_ >= u) max 0)
  }

  private def event(): String = {
    val u = rnd.nextDouble()
    parsed += 1
    if (u < 0.05) malformed(rnd.nextInt(malformed.size))
    else if (u < 0.20) EventGen.json("default", "none", "none", host())
    else {
      val t = if (u < 0.60) "sword_event" else "guild_event"
      val (h, d, det) = (host(), if (rnd.nextBoolean()) "increase" else "decrease",
        details(rnd.nextInt(details.size)))
      valid += 1
      ledger((h, t, d, det)) = ledger.getOrElse((h, t, d, det), 0L) + 1
      EventGen.json(t, d, det, h)
    }
  }

  /** Write `n` events due at `dueMs` into a staged file; returns its path. */
  def stage(n: Int, dueMs: Long, phase: String): Path = synchronized {
    seq += 1
    val name = f"part-$seq%06d.json"
    val ts = Instant.ofEpochMilli(dueMs).toString
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      sb.append("{\"value\":").append(mapper.writeValueAsString(event()))
        .append(",\"timestamp\":\"").append(ts).append("\"}\n")
    }
    val p = staging.resolve(name)
    Files.writeString(p, sb.toString)
    files.add(Map("file" -> name, "events" -> n, "due_ms" -> dueMs, "phase" -> phase))
    p
  }

  /** Make a staged file visible to the stream source. */
  def release(p: Path): Long = {
    Files.move(p, dir.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }
}

/** Keeps every `StreamingQueryProgress` (the per-trigger layer view). */
final class ProgressLog extends StreamingQueryListener {
  val rows = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    add(e.progress)

  /** Idle triggers are not posted to listeners (a `QueryIdleEvent` carries
    * no timings); their progress is read from the query's recent progress. */
  def addIdle(q: StreamingQuery): Unit = q.recentProgress.filter(_.numInputRows == 0).foreach(add)

  private def add(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val obs = Option(p.observedMetrics.get("graft_etl")).map { r =>
      Map("n_parsed" -> r.getAs[Long]("n_parsed"), "n_valid" -> r.getAs[Long]("n_valid"),
        "n_malformed" -> r.getAs[Long]("n_malformed"))
    }.getOrElse(Map.empty)
    rows.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
      "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "observed" -> obs))
  }
}

/** `ingest`: file stream → `extractValidEventsObserved` →
  * `Sinks.streamingParquet`, micro-batches back to back. A warm-up
  * trigger, then six staged backlogs are drained (throughput), then an
  * open-loop generator thread offers a fixed rate (latency). The landed
  * table is registered and the reference's analytics A1–A4 run on it. */
object Ingest {
  val schema = "value STRING, timestamp TIMESTAMP"
  val backlogs = 6
  val backlogFiles = 4
  val backlogFileEvents = 15000
  val rate = 5000
  val tickMs = 100
  val landedReps = 3

  def start(spark: SparkSession, src: String, out: String, ckpt: String): StreamingQuery = {
    val raw = spark.readStream.schema(schema).json(src)
    Sinks.streamingParquet(StreamPipeline.extractValidEventsObserved(raw), out, ckpt,
      Trigger.ProcessingTime(0L))
  }

  /** Start a query on one staged file, wait for its trigger, stop it. */
  def setupOnce(base: SparkSession, root: Path, i: Int, seed: Long, progress: ProgressLog): Unit = {
    val s = base.newSession()
    s.streams.addListener(progress)
    val dir = Files.createDirectories(root.resolve(s"setup-$i/src"))
    val gen = new EnvelopeGen(seed + 1000 + i, dir)
    gen.release(gen.stage(1000, System.currentTimeMillis(), "setup"))
    val q = start(s, dir.toString, root.resolve(s"setup-$i/out").toString,
      root.resolve(s"setup-$i/ckpt").toString)
    q.processAllAvailable()
    q.stop()
    s.streams.removeListener(progress)
  }

  val analytics: Seq[(String, String)] = Seq(
    "A1" -> "SELECT count(*) AS num_entries FROM valid_events",
    "A2" -> "SELECT direction, count(*) AS n FROM valid_events GROUP BY direction",
    "A3" -> ("SELECT Host AS host, event_type, count(*) AS n FROM valid_events " +
      "GROUP BY Host, event_type ORDER BY event_type DESC"),
    "A4" -> ("SELECT Host AS host, event_type, event_detail FROM valid_events " +
      "GROUP BY Host, event_type, event_detail ORDER BY event_type, event_detail DESC"))

  def run(base: SparkSession, ctx: Ctx): Map[String, Any] = {
    val trace = ctx.trace
    val root = Files.createDirectories(Paths.get(ctx.work, "ingest"))
    val progress = new ProgressLog
    val setups = (1 to 3).map(i => Main.seconds(setupOnce(base, root, i, ctx.seed, progress)))
    val spark = base.newSession()
    trace.watch(spark)
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "100ms")
    spark.streams.addListener(progress)
    val src = Files.createDirectories(root.resolve("src"))
    val (out, ckpt) = (root.resolve("out").toString, root.resolve("ckpt").toString)
    val gen = new EnvelopeGen(ctx.seed, src)
    val marks = mutable.Map.empty[String, Any]
    var late = List.empty[Map[String, Any]]
    val landed = mutable.ListBuffer.empty[Map[String, Any]]
    trace.span("ingest", "workload", 0) { wid =>
      gen.release(gen.stage(1000, System.currentTimeMillis(), "warmup"))
      val q = trace.span("first-trigger", "phase", wid) { _ =>
        val q = start(spark, src.toString, out, ckpt)
        marks("query") = q.id.toString
        q.processAllAvailable()
        q
      }
      (1 to backlogs).foreach { b =>
        trace.span(s"drain-$b", "phase", wid) { _ =>
          val staged = (1 to backlogFiles).map(_ =>
            gen.stage(backlogFileEvents, System.currentTimeMillis(), s"drain-$b"))
          marks(s"drain-$b-release_ms") = System.currentTimeMillis()
          staged.foreach(gen.release)
          q.processAllAvailable()
        }
      }
      trace.span("idle", "phase", wid) { _ => Thread.sleep(600); progress.addIdle(q) }
      trace.span("open-loop", "phase", wid) { _ =>
        late = openLoop(gen, ctx.seconds)
        marks("open_end_ms") = System.currentTimeMillis()
        q.processAllAvailable()
      }
      q.stop()
      trace.span("landed", "phase", wid) { lid =>
        Sinks.registerExternalTable(spark, "valid_events", out)
        (1 to landedReps).foreach { rep =>
          analytics.foreach { case (name, sql) =>
            trace.span(name, "query", lid) { id =>
              trace.tag(spark.sparkContext, id)
              val t0 = trace.nowMs
              val rows = spark.sql(sql).collect()
              val ms = trace.nowMs - t0
              spark.sparkContext.clearJobGroup()
              // The last repetition's answer is kept for the ledger check.
              val answer = if (rep < landedReps) Map.empty else
                Map("rows" -> rows.map(_.toSeq.map(v => Option(v).map(_.toString).orNull)))
              landed += Map("query" -> name, "rep" -> rep, "ms" -> ms) ++ answer
            }
          }
        }
      }
    }
    val operators = if (ctx.trace.traced) operatorSlice(spark, src.toString, root) else Map.empty
    val outFiles = Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
    spark.streams.removeListener(progress)
    Map("setup_s" -> setups,
      "progress" -> progress.rows.asScala.toList,
      "main_query" -> marks("query"),
      "files" -> gen.files.asScala.toList,
      "late" -> late,
      "marks" -> marks.toMap,
      "source_log" -> root.resolve("ckpt/sources/0").toString,
      "ledger" -> gen.ledger.toSeq.map { case ((h, t, d, det), n) =>
        Map("host" -> h, "event_type" -> t, "direction" -> d, "event_detail" -> det, "n" -> n) },
      "ledger_parsed" -> gen.parsed, "ledger_valid" -> gen.valid,
      "landed" -> landed.toList,
      "sink_files" -> outFiles.size,
      "sink_bytes" -> outFiles.map(Files.size(_)).sum,
      "operators" -> operators)
  }

  /** Offer `rate` events/s for `seconds`, one file per tick, on a fixed
    * schedule: a late tick is not skipped or shifted. Returns each file's
    * due and visible times. */
  def openLoop(gen: EnvelopeGen, seconds: Double): List[Map[String, Any]] = {
    val perFile = rate * tickMs / 1000
    val n = (seconds * 1000 / tickMs).toInt
    val out = new java.util.ArrayList[Map[String, Any]]()
    val t0 = System.currentTimeMillis() + 50
    val th = new Thread(() => {
      (0 until n).foreach { k =>
        val due = t0 + k.toLong * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val p = gen.stage(perFile, due, "open")
        val visible = gen.release(p)
        out.add(Map("file" -> p.getFileName.toString, "due_ms" -> due, "visible_ms" -> visible))
      }
    }, "graftbench-open-loop")
    th.start()
    th.join()
    out.asScala.toList
  }

  /** Layer throughput on a cached slice of the staged events: parse only,
    * filter only, and the parquet sink only. Median of 3 runs each. */
  def operatorSlice(spark: SparkSession, src: String, root: Path): Map[String, Any] = {
    val raw = spark.read.schema(schema).json(src).cache()
    val n = raw.count()
    val parsed = Parse.extractEvents(raw).cache()
    parsed.count()
    val valid = parsed.filter(Filters.isValidEvent).cache()
    val nValid = valid.count()
    def med(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      ts.sorted.apply(1)
    }
    val parseS = med(Parse.extractEvents(raw).write.format("noop").mode("overwrite").save())
    val filterS = med(parsed.filter(Filters.isValidEvent).write.format("noop").mode("overwrite").save())
    val sinkS = med(Sinks.batchParquet(valid, root.resolve("slice-sink").toString))
    Seq(raw, parsed, valid).foreach(_.unpersist())
    Map("rows" -> n, "valid_rows" -> nValid, "parse_s" -> parseS, "filter_s" -> filterS,
      "sink_s" -> sinkS)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: [[Tables.read]] is the one owner of parquet table reads.
  * A `spark.read.parquet(…)` or `spark.read.schema(…).parquet(…)` (any
  * chain of reader calls before `.parquet(`) anywhere else under
  * `src/main` would re-infer the schema with a Spark job on every call.
  * The footer shim under Spark's parquet package is exempt, as is each
  * `Allowed` site, with its reason. */
class SourceLintSpec extends AnyFunSuite {
  import SourceLintSpec._

  /** (file under src/main/scala, the call as the lint prints it) → reason. */
  private val Allowed = Map(
    ("graft/dedup/IncrementalDedup.scala", ".read.schema(SigSchema).parquet(") ->
      ("declares the signature-store schema: no inference runs, and band_idx " +
        "stays INT across delta partitions whatever a footer says"))

  private val root = Paths.get("src/main/scala")
  private val shimDir = root.resolve("org/apache/spark/sql/execution/datasources/parquet")

  private def sources: Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("the lint's matcher sees reader chains across lines and ignores comments") {
    val src =
      """val a = spark.read.parquet(p)
        |val b = s.read
        |  .schema(Schema)
        |  .option("k", f(x))
        |  .parquet(p)
        |// spark.read.parquet(commented)
        |/* spark.read.parquet(block) /* nested */ still a comment */
        |val g = "dir/*"; val q = '"'
        |val e = spark.read.parquet(q)
        |val c = s.readStream.schema(x).parquet(p)
        |val d = df.write.parquet(p)
        |""".stripMargin
    assert(readCalls(src).map(_._2) ==
      Seq(".read.parquet(", """.read.schema(Schema).option("k", f(x)).parquet(""", ".read.parquet("))
    assert(readCalls(src).map(_._1) == Seq(1, 2, 9))
  }

  test("parquet reads in src/main go through Tables.read (allow-listed sites excepted)") {
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val found = sources.filterNot(_.startsWith(shimDir)).flatMap { f =>
      val rel = root.relativize(f).toString
      val text = new String(Files.readAllBytes(f), "UTF-8")
      val owner = ownerSpan(rel, text)
      readCalls(text).collect {
        case (line, call) if !owner.exists(_.contains(line)) => (rel, line, call)
      }
    }
    val stray = found.filterNot { case (rel, _, call) => Allowed.contains(rel -> call) }
    assert(stray.isEmpty, "route these through Tables.read, or allow-list them with a reason:\n" +
      stray.map { case (rel, line, call) => s"  $rel:$line $call" }.mkString("\n"))
    val stale = Allowed.keySet -- found.map { case (rel, _, call) => rel -> call }.toSet
    assert(stale.isEmpty, s"allow-list entries that match no site any more: $stale")
  }
}

object SourceLintSpec {
  /** A `.read` (not `.readStream`), any reader calls, then `.parquet(`.
    * Call arguments may nest parentheses two deep. */
  private val ReadCall = {
    val arg = """(?:[^()]|\((?:[^()]|\([^()]*\))*\))*"""
    ("""\.read\b\s*(?:\.\s*\w+\s*\(""" + arg + """\)\s*)*\.\s*parquet\s*\(""").r
  }

  /** Blanks comments (line, block, nested block) and keeps newlines, so
    * offsets still map to line numbers. String and char literals are
    * kept verbatim, so a comment opener inside one opens no comment. */
  private[graft] def stripComments(src: String): String = {
    val n = src.length
    val out = new StringBuilder(n)
    var i = 0
    var depth = 0
    def at(s: String) = src.startsWith(s, i)
    def keep(stop: Int): Unit = { out.append(src.substring(i, stop)); i = stop }
    while (i < n) {
      val c = src(i)
      if (depth > 0) {
        if (at("*/")) { depth -= 1; out.append("  "); i += 2 }
        else if (at("/*")) { depth += 1; out.append("  "); i += 2 }
        else { out.append(if (c == '\n') '\n' else ' '); i += 1 }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        keep(if (end < 0) n else end + 3)
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        keep(math.min(n, j + 1))
      } else if (c == '\'' && i + 2 < n && src(i + 2) == '\'') keep(i + 3)
      else if (c == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') keep(i + 4)
      else if (at("/*")) { depth = 1; out.append("  "); i += 2 }
      else if (at("//")) { while (i < n && src(i) != '\n') { out.append(' '); i += 1 } }
      else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Each parquet reader call: its 1-based line and its text, line breaks removed. */
  private[graft] def readCalls(src: String): Seq[(Int, String)] = {
    val code = stripComments(src)
    ReadCall.findAllMatchIn(code).map { m =>
      val line = code.substring(0, m.start).count(_ == '\n') + 1
      (line, m.matched.replaceAll("""\s*\n\s*""", ""))
    }.toList
  }

  /** Lines of `Tables.read`'s own body: the one site allowed to call the
    * Spark reader directly. */
  private def ownerSpan(rel: String, src: String): Option[Range] =
    if (rel != "graft/Engine.scala") None
    else {
      val start = src.indexOf("def read(spark: SparkSession, path: String)")
      val end = src.indexOf("\n  def ", start + 1)
      if (start < 0 || end < 0) None
      else Some(src.substring(0, start).count(_ == '\n') + 1 to src.substring(0, end).count(_ == '\n') + 1)
    }
}

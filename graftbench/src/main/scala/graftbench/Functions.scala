package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

import graft.functions._

/** Rows/s of each `graft.functions` expression on fixed inputs (the
  * documents' tokens and the embeddings), and whether the expression is
  * `CodegenFallback`, i.e. evaluated interpreted. Inputs are cached first,
  * so the figure is the expression's own cost plus a projection. */
object Functions {
  private def planes(rnd: scala.util.Random, tables: Int, bits: Int, dim: Int) =
    Array.fill(tables, bits, dim)(rnd.nextGaussian())

  /** PQ codebooks: 8 subspaces of 16 centroids. */
  def codebooks(dim: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(8, 16, dim / 8)(rnd.nextGaussian())
  }

  def exprs(dim: Int): Seq[(String, Column)] = {
    val rnd = new scala.util.Random(7)
    val hp = planes(rnd, 4, 8, dim)
    val cells = Array.fill(16, dim)(rnd.nextGaussian())
    val books = codebooks(dim)
    val merges = Seq(("s", "p"), ("sp", "a"), ("t", "h"), ("th", "e"), ("a", "r"))
    def t = col("tokens")
    def v = col("vec")
    Seq(
      "MinHashSignature" -> MinHashFunctions.minhash_signature(t, 8, 4, 42L),
      "MinHashBandKeys" -> MinHashFunctions.minhash_band_keys(t, 8, 4, 42L),
      "Md5TokenHashes" -> PortableHashFunctions.md5_token_hashes(t, 60),
      "RollingFingerprint" -> PortableHashFunctions.rolling_fingerprint(t),
      "SimHash64" -> VectorFunctions.simhash64(col("hashes")),
      "WordNgrams" -> NgramFunctions.word_ngrams(t, 3),
      "BpeDocSymbols" -> BpeFunctions.bpe_doc_symbols(col("text"), merges),
      "SortedIntersectSize" -> VectorFunctions.sorted_intersect_size(col("hashes"), col("hashes2")),
      "CosineSimilarity" -> VectorFunctions.cosine_sim(v, col("vec2")),
      "DotProduct" -> VectorFunctions.dot_product(v, col("vec2")),
      "L2Norm" -> VectorFunctions.l2_norm(v),
      "HyperplaneBuckets" -> HyperplaneFunctions.hyperplane_buckets(v, hp),
      "HyperplaneProbes" -> HyperplaneFunctions.hyperplane_probes(v, hp),
      "NearestCells" -> IvfFunctions.nearest_cells(v, cells, 2),
      "PqEncode" -> PqFunctions.pq_encode(v, books),
      "PqAdcLut" -> PqFunctions.pq_adc_lut(v, books),
      "PqAdcDist" -> PqFunctions.pq_adc_dist(v, col("codes"), books))
  }

  /** Rows each expression is timed on. */
  val rows = 20000

  def run(spark: SparkSession, data: String): Seq[Map[String, Any]] = {
    val docs = graft.Tables.documents(spark, data)
      .select(col("text"), split(col("text"), " ").as("tokens"))
      .withColumn("hashes", array_sort(array_distinct(
        PortableHashFunctions.md5_token_hashes(col("tokens"), 60))))
      .withColumn("hashes2", slice(col("hashes"), 1, 8))
    val emb = graft.Tables.embeddings(spark, data).select(col("embedding").as("vec"))
    val dim = emb.head().getSeq[Float](0).length
    val vecs = emb.withColumn("vec2", reverse(col("vec")))
    val withCodes = vecs.withColumn("codes", PqFunctions.pq_encode(col("vec"), codebooks(dim)))
    // Repeat each input up to `rows` so one run is long enough to time.
    def grow(df: DataFrame) = {
      val n = df.count()
      (1L until (rows + n - 1) / n).foldLeft(df)((a, _) => a.unionByName(df)).limit(rows)
    }
    val docIn = grow(docs).cache()
    val vecIn = grow(withCodes).cache()
    val nDocs = docIn.count()
    val nVecs = vecIn.count()
    val vecCols = Set("CosineSimilarity", "DotProduct", "L2Norm", "HyperplaneBuckets",
      "HyperplaneProbes", "NearestCells", "PqEncode", "PqAdcLut", "PqAdcDist")
    val out = exprs(dim).map { case (name, expr) =>
      val (in, n) = if (vecCols(name)) (vecIn, nVecs) else (docIn, nDocs)
      val df = in.select(expr.as("x"))
      val fallback = df.queryExecution.analyzed.expressions
        .exists(_.exists(_.isInstanceOf[CodegenFallback]))
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Map("expression" -> name, "rows" -> n, "seconds" -> secs(1),
        "rows_per_s" -> n / secs(1), "codegen_fallback" -> fallback)
    }
    docIn.unpersist(); vecIn.unpersist()
    out
  }
}

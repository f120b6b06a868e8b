package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Incremental model-inference materialization — the digest-synced-store
  * discipline ([[graft.dedup.IncrementalDedup.syncSigStore]], q200/q256)
  * applied to MODEL SCORES.
  *
  * At 100 TB the model-inference pass (quality classifier, language ID,
  * toxicity, embedding) is the most expensive stage of a curation
  * pipeline — often GPU-bound and orders of magnitude past the scan cost
  * — so re-curation must NEVER re-score unchanged data. This store keeps
  * one scored row per corpus document in a `_scores` sidecar mirroring
  * the corpus's partition layout, with a `_partition_state` digest file
  * recording WHICH corpus partition content each score partition
  * reflects. A sync lists the corpus partitions (driver work: one
  * listing), digests each one's file metadata, diffs against the
  * recorded state, and re-scores ONLY the changed/new partitions
  * (dropping score partitions whose corpus partition vanished).
  * Consistency is structural, not trusted: an out-of-band corpus edit —
  * a writer that bypasses the pipeline, a replay, a compaction — changes
  * the partition digest and forces that partition's re-score on the next
  * sync; a stale store is unreachable, never served.
  *
  * The underscore prefix keeps the sidecar invisible to corpus reads
  * (the parquet `_SUCCESS`/`_metadata` convention); reading the store
  * directly recovers the partition column via partition discovery.
  */
object ScoreStore {

  private def storeDir(corpusDir: String, sidecar: String) = s"$corpusDir/$sidecar"
  private val StateFile = "_partition_state"

  /** Sync the score store to mirror the corpus EXACTLY, by partition
    * digest. `score` maps one corpus partition slice (read WITHOUT the
    * partition column) to its scored rows; it runs only for partitions
    * whose digest diverged from the recorded state — first call = full
    * seed, steady state = empty diff, out-of-band edits = exactly the
    * touched partitions. `sidecar` names the store directory (must keep
    * the underscore prefix so corpus reads never see it) — one corpus
    * can carry several independent digest-synced materializations (the
    * q317 DAG mounts classifier scores AND segment partials side by
    * side), each with its own partition state. */
  def sync(spark: SparkSession, corpusDir: String,
      score: DataFrame => DataFrame, partPrefix: String = "part_id=",
      sidecar: String = "_scores"): Unit = {
    import graft.dedup.IncrementalDedup.{partitionDigest, readStateFile, writeStateFile}
    import org.apache.hadoop.fs.Path
    require(sidecar.startsWith("_"), s"sidecar must be underscore-prefixed: $sidecar")
    val cp = new Path(corpusDir)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cp)) return
    fs.mkdirs(new Path(storeDir(corpusDir, sidecar)))
    val current: Map[Long, String] = fs.listStatus(cp)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      .map(s => s.getPath.getName.stripPrefix(partPrefix).toLong ->
        partitionDigest(fs, s.getPath))
      .toMap
    val prev = readStateFile(fs, storeDir(corpusDir, sidecar), StateFile)
    if (current == prev) return
    (prev.keySet -- current.keySet).foreach { b =>
      fs.delete(new Path(storeDir(corpusDir, sidecar), s"$partPrefix$b"), true); ()
    }
    current.filter { case (b, d) => !prev.get(b).contains(d) }.keys.foreach { b =>
      val slice = Tables.read(spark, s"$corpusDir/$partPrefix$b")
      score(slice).write.mode("overwrite")
        .parquet(s"${storeDir(corpusDir, sidecar)}/$partPrefix$b")
    }
    writeStateFile(fs, storeDir(corpusDir, sidecar), StateFile, current)
  }

  /** The committed store as a frame — partition column recovered by
    * partition discovery from the directory names. Enforces the same
    * underscore invariant as [[sync]] (round-12 advice #4): without it,
    * `read(spark, corpus, sidecar = "scores")` would silently read the
    * CORPUS data files as if they were a store instead of failing fast
    * like the write path. */
  def read(spark: SparkSession, corpusDir: String,
      sidecar: String = "_scores"): DataFrame = {
    require(sidecar.startsWith("_"), s"sidecar must be underscore-prefixed: $sidecar")
    Tables.read(spark, storeDir(corpusDir, sidecar))
  }
}

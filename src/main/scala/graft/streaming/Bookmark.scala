package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ingest.FileListing

/** §2.8 — Glue-job-bookmark equivalent: a processed-file manifest. A run
  * lists the data files not yet in the manifest ([[newFiles]]), reads
  * exactly those, and then records exactly those ([[commitFiles]]), so
  * each file is processed once and a file landing mid-run waits for the
  * next run instead of being marked processed unread
  * (templates/study-pipeline-infra.j2:125 enables bookmarks per job;
  * docs/schema_change_protocol.md:31-33 documents the reset procedure —
  * here a reset is just deleting the manifest).
  *
  * Scale design: the manifest holds one row per data FILE (not per
  * record), so even a petabyte dataset yields a manifest of at most a few
  * million short strings. The listing is driver-held anyway (one
  * `FileStatus` per file from the Hadoop client), so the delta is a
  * driver-side set difference, capped by [[DefaultNewFilesBudget]].
  */
object Bookmark {

  /** Manifest identity of a path: the scheme and authority are stripped,
    * so `file:/a/b`, `file:///a/b` and `/a/b` record alike (and
    * `s3a://bucket/k` as `/bucket/k`). Only the manifest holds this
    * form; files are always read by their listed, qualified path.
    */
  private[graft] def normalize(path: String): String =
    path.replaceFirst("^[a-zA-Z0-9+.-]+:/+", "/")

  def manifestExists(spark: SparkSession, manifestPath: String): Boolean = {
    val p = new Path(manifestPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Default cap on how many new-file paths [[newFiles]] may return. One
    * million short strings is ~100 MB of driver heap — past that the run
    * should be split, not silently balloon driver state.
    */
  val DefaultNewFilesBudget = 1000000

  /** Normalized paths already recorded as processed. The schema is
    * declared, so the read skips Parquet's footer-inference job.
    */
  private def committed(spark: SparkSession, manifestPath: String): Seq[String] = {
    import spark.implicits._
    if (!manifestExists(spark, manifestPath)) Nil
    else spark.read.schema("path STRING").parquet(manifestPath)
      .as[String].collect().toSeq
  }

  /** Data files under `dataPath` not yet in the manifest, by their
    * listed (scheme-qualified) path, sorted. Hidden entries below
    * `dataPath` — a leading `.`, or a leading `_` outside a `k=v`
    * partition directory, as Spark's file index skips them — are never
    * data: `_SUCCESS`, checksums, an in-flight `_temporary` tree. With
    * no manifest yet, every data file is new. FAILS FAST when the delta
    * exceeds `maxFiles` ([[DefaultNewFilesBudget]]) — split the run or
    * raise the budget deliberately.
    */
  def newFiles(
      spark: SparkSession, dataPath: String, manifestPath: String,
      maxFiles: Int = DefaultNewFilesBudget): Seq[String] = {
    require(maxFiles > 0 && maxFiles < Int.MaxValue,
      s"maxFiles must be in (0, ${Int.MaxValue}), got $maxFiles")
    val root = new Path(dataPath)
    val prefix = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root).toString.stripSuffix("/") + "/"
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    val done = committed(spark, manifestPath).toSet
    val fresh = FileListing.files(spark, dataPath).iterator.map(_._1)
      .filter(p => !p.stripPrefix(prefix).split('/').exists(hidden) &&
        !done(normalize(p)))
      .take(maxFiles + 1).toVector
    if (fresh.length > maxFiles) throw new IllegalStateException(
      s"bookmark: more than $maxFiles new files under $dataPath — the " +
        "driver-held file list would exceed its budget. Split the run or " +
        "raise maxFiles.")
    fresh.sorted
  }

  /** Record `paths` (plus everything already committed) as processed:
    * the manifest is overwritten with (manifest ∪ paths), normalized, as
    * one small file. Commit exactly the files the run read — a
    * re-listing would mark files that landed mid-run as processed
    * without them ever being converted.
    */
  def commitFiles(
      spark: SparkSession, manifestPath: String, paths: Seq[String]): Unit = {
    import spark.implicits._
    (committed(spark, manifestPath) ++ paths.map(normalize)).distinct
      .toDF("path").coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)
  }
}

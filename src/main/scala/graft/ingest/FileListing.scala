package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S8 — recursive file-listing source (the list_objects_v2 pagination of
  * etl_408.py:38-60 / etl-245/main.py:20-27): enumerate a dataset prefix
  * into a DataFrame of (path, length). Listing is a metadata operation —
  * it touches no file contents, like the reference's paginated listing —
  * so it runs through the Hadoop FS client and parallelizes downstream
  * processing of the listed paths.
  */
object FileListing {

  /** Every file under `root` as (scheme-qualified path, length), held on
    * the driver; empty when `root` does not exist.
    */
  def files(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = Seq.newBuilder[(String, Long)]
    if (fs.exists(path)) {
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        rows += ((f.getPath.toString, f.getLen))
      }
    }
    rows.result()
  }

  def list(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    files(spark, root).toDF("path", "length")
  }
}

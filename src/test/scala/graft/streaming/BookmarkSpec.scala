package graft.streaming

import graft.SparkSpec

class BookmarkSpec extends SparkSpec {
  import spark.implicits._

  test("first run sees everything; committed files are skipped; " +
      "recommit advances the bookmark") {
    val tmp = graft.EntryKit.scratchTracked("graft_bm").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    def newData() = Bookmark.newFiles(spark, data, manifest) match {
      case Nil => Seq.empty[Int]
      case ps => spark.read.parquet(ps: _*).as[Int].collect().toSeq.sorted
    }

    Seq(1, 2, 3).toDF("x").write.mode("append").parquet(data)
    // no manifest yet → everything is new
    assert(newData() == Seq(1, 2, 3))

    Bookmark.commitFiles(spark, manifest, Bookmark.newFiles(spark, data, manifest))
    assert(newData().isEmpty)

    Seq(4, 5).toDF("x").write.mode("append").parquet(data)
    assert(newData() == Seq(4, 5))

    Bookmark.commitFiles(spark, manifest, Bookmark.newFiles(spark, data, manifest))
    assert(newData().isEmpty)
  }

  test("newFiles fails fast past its driver budget") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmb").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    // 4 appends → exactly 4 data files
    (1 to 4).foreach(i => Seq(i).toDF("x")
      .coalesce(1).write.mode("append").parquet(data))
    val e = intercept[IllegalStateException] {
      Bookmark.newFiles(spark, data, manifest, maxFiles = 2)
    }
    assert(e.getMessage.contains("budget"))
    // at budget the full delta comes back
    assert(Bookmark.newFiles(spark, data, manifest, maxFiles = 4).size == 4)
  }

  test("commitFiles: pinned files are skipped, unpinned files stay new, " +
      "previous commits survive the overwrite") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmd").toString
    val data = s"$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    // first generation committed
    Bookmark.commitFiles(spark, manifest, Bookmark.newFiles(spark, data, manifest))
    Seq(2).toDF("x").coalesce(1).write.mode("append").parquet(data)
    Seq(3).toDF("x").coalesce(1).write.mode("append").parquet(data)
    // pin only ONE of the two new files and commit it
    val fresh = Bookmark.newFiles(spark, data, manifest)
    assert(fresh.size == 2)
    Bookmark.commitFiles(spark, manifest, fresh.take(1))
    // the unpinned file is still new; the pinned and gen-1 files are not
    val after = Bookmark.newFiles(spark, data, manifest)
    assert(after == fresh.drop(1))
    // round-trip: committing the rest drains the delta
    Bookmark.commitFiles(spark, manifest, after)
    assert(Bookmark.newFiles(spark, data, manifest).isEmpty)
    assert(spark.read.parquet(manifest).count() == 3)
  }

  test("newFiles returns listed, scheme-qualified paths; the manifest " +
      "records their normalized form") {
    val tmp = graft.EntryKit.scratchTracked("graft_bmq").toString
    val data = s"file:$tmp/data"
    val manifest = s"$tmp/manifest"
    Seq(1).toDF("x").coalesce(1).write.mode("append").parquet(data)
    // an in-flight writer's attempt file is hidden, like _SUCCESS and .crc
    val inFlight = java.nio.file.Paths.get(s"$tmp/data/_temporary/0/part-0.parquet")
    java.nio.file.Files.createDirectories(inFlight.getParent)
    java.nio.file.Files.write(inFlight, Array[Byte](1))
    val fresh = Bookmark.newFiles(spark, data, manifest)
    assert(fresh.size == 1, fresh)
    assert(fresh.head.startsWith(s"file:$tmp/data/"), fresh)
    Bookmark.commitFiles(spark, manifest, fresh)
    val recorded = spark.read.parquet(manifest).as[String].collect().toSeq
    assert(recorded == Seq(fresh.head.stripPrefix("file:")), recorded)
    assert(recorded.head.startsWith(s"$tmp/data/"))
    assert(Bookmark.newFiles(spark, data, manifest).isEmpty)
  }
}

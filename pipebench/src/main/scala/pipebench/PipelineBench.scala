package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.{IngestJob, RawRecord, Router, ZipSource}
import graft.pipeline.{BootstrapDriver, ParquetJob}
import graft.relationalize.Relationalize
import graft.sources.{JsonDataset, ParquetDataset}
import graft.validate.{FileMetadata, SchemaCache}

/** The paper's pipeline, end to end, on seeded Bridge-like exports:
  * stage 1 (`IngestJob.run`: unzip → resolve → validate → route → NDJSON),
  * stage 2 (`ParquetJob.run`: relationalize → partitioned Parquet) and the
  * bootstrap diff (`BootstrapDriver`), driven through public entry points
  * only. One closed loop with one caller; every run is checked for
  * count parity against the generator.
  *
  * Usage: PipelineBench --workload W --seed N --seconds S --trace 0|1 --root DIR
  * Writes DIR/result.json; DIR is a scratch root the caller deletes.
  */
object PipelineBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String)

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The pinned session: no caller-supplied conf reaches it. */
  def sessionConf(root: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.app.name" -> "pipebench",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$root/spark-local",
    "spark.sql.warehouse.dir" -> s"$root/warehouse")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("root"))
    require(Set("backfill", "hourly_incremental")(a.workload),
      s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
    sessionConf(a.root).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val out = new Harness(spark, a, sessionS).run()
      Files.writeString(Paths.get(a.root, "result.json"), out)
    } finally spark.stop()
  }
}

/** One tick (or one bulk run) of a workload: its wall time, the records
  * it committed, and any parity break it showed.
  */
final case class Tick(wall: Double, records: Long, errors: Seq[String], traced: Boolean)

final class Harness(spark: SparkSession, a: PipelineBench.Args, sessionS: Double) {
  import PipelineBench._
  import spark.implicits._

  private val tracer = new Tracer(spark)
  private val cfg = IngestJob.Config(
    archiveMap = Generator.archiveMap,
    schemas = new SchemaCache(Generator.schemaDocs),
    schemaMapping = Router.defaultSchemaMapping,
    datasetMapping = Router.defaultDatasetMapping)

  // workload shape — see README.md for why each is what it is
  private val BackfillRecords = 1600
  private val BatchSize = 100 // records per submission (bootstrap_trigger.py)
  private val HistoryRuns = 2
  private val Reexports = 10
  private val Day0 = 19000L // 2022-01-08
  // generations per invocation: setup_s takes their median, and all of
  // them must give the same archives and expected counts
  private val GenReps = 3

  private var root: String = _
  private var gen: Generator = _
  private var expected = Expected.empty // everything committed so far
  private val byId = mutable.HashMap.empty[String, RawRecord]
  private var ingested = Vector.empty[RawRecord] // records fed to IngestJob while traced
  private var tickCount = 0
  private var exportRows = 0L
  private var inputs: Batch = _ // the backfill batch, or the hourly history
  private var historyFiles = 0L

  private def jsonRoot = s"$root/json"
  private def quarantine = s"$root/quarantine"
  private def parquetRoot = s"$root/parquet"
  private def manifests = s"$root/manifests"
  private def exportsPath = s"$root/exports"

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------------- stages

  private def ingest(records: Seq[RawRecord], partitions: Int = 0): Unit = {
    if (tracer.isEnabled) ingested ++= records
    tracer.span("ingest") {
      val ds =
        if (partitions > 0) spark.createDataset(spark.sparkContext.parallelize(records, partitions))
        else spark.createDataset(records)
      IngestJob.run(spark, ds, cfg, jsonRoot, quarantine)
    }
  }

  private def datasetsPresent(json: String): Seq[String] =
    Generator.Converted.toSeq.sorted.filter(d => Files.isDirectory(Paths.get(json, s"dataset=$d")))

  private val relationalized = mutable.ArrayBuffer.empty[(Int, Long, Double)] // tables, child rows, driver s

  /** Stage 2 for every routed catalog dataset; returns rows per table. */
  private def convert(): Map[String, Long] =
    datasetsPresent(jsonRoot).flatMap { ds =>
      val r = tracer.span("pipeline.parquet_job") {
        ParquetJob.run(spark, jsonRoot, ds, Generator.Catalog(ds), parquetRoot, manifests)
      }
      if (tracer.isEnabled) {
        // driver-side cost of the relationalize plan ParquetJob builds
        val t0 = System.nanoTime()
        val df = JsonDataset.read(spark, jsonRoot, ds, Generator.Catalog(ds).schema)
        if (Relationalize.hasNestedFields(df.schema))
          Relationalize.relationalize(df, ds, Seq("recordid"), ParquetJob.CarryCols)
        relationalized += ((r.tables.size, r.tables.filter(_._1 != ds).values.sum, secs(t0)))
      }
      r.tables
    }.toMap

  private def compareRows(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { t =>
      val g = got.getOrElse(t, 0L)
      val w = want.getOrElse(t, 0L)
      if (g != w) Some(s"$what $t: got $g, want $w") else None
    }

  // ------------------------------------------------------------- workloads

  /** The workload's inputs, generated afresh from the seed. */
  private def generate(): Batch = {
    gen = new Generator(a.seed)
    a.workload match {
      case "backfill" => gen.batch(BackfillRecords, Day0, 1)
      case _ => gen.batch(HistoryRuns * BatchSize, Day0, 1)
    }
  }

  /** The pipeline part of set-up, run once. Backfill warms the JVM with
    * one submission batch through ingest and convert in a throwaway root;
    * hourly builds its history, which warms it the same way.
    */
  private def prepare(): Unit = a.workload match {
    case "backfill" =>
      root = s"${a.root}/warmup"
      val warm = new Generator(a.seed + 1).batch(BatchSize, Day0, 1)
      ingest(warm.records)
      val errs = compareRows("warm-up", convert(), warm.expected.tableRows(Generator.Converted))
      require(errs.isEmpty, errs.mkString("; "))
      deleteTree(Paths.get(root))
    case _ =>
      // a day of earlier hourly runs already through the pipeline: one
      // ingest task per earlier run leaves that run's NDJSON files behind
      root = s"${a.root}/history"
      val hist = inputs
      hist.records.foreach(r => byId(r.metadata("recordid")) = r)
      ingest(hist.records, HistoryRuns)
      appendExports(hist.records.map(r => (r.metadata("recordid"), r.metadata("exportedon"))))
      val errs = compareRows("history", convert(), hist.expected.tableRows(Generator.Converted))
      require(errs.isEmpty, errs.mkString("; "))
      expected = hist.expected
      historyFiles = treeBytes(Seq(jsonRoot))._1
  }

  private def appendExports(rows: Seq[(String, String)]): Unit = {
    rows.toDF("recordid", "exportedon").withColumn("appid", lit("mobile-toolbox"))
      .write.mode("append").parquet(exportsPath)
    exportRows += rows.size
  }

  /** Root tables every valid record lands in: the bootstrap diff's anchor. */
  private val Anchors = Seq("MotionRecord_v1", "WeatherResult_v1")

  private def tick(): Tick = a.workload match {
    case "backfill" =>
      val b = inputs
      val t0 = System.nanoTime()
      val got = tracer.span("tick") {
        ingest(b.records)
        convert()
      }
      val wall = secs(t0)
      expected = b.expected
      Tick(wall, b.expected.validIds.size,
        compareRows("rows", got, b.expected.tableRows(Generator.Converted)), tracer.isEnabled)

    case "hourly_incremental" =>
      // arrival, outside the timed tick: 100 new records on the current
      // day plus re-exports of records already converted
      val fresh = gen.batch(BatchSize, Day0 + 1, 1)
      fresh.records.foreach(r => byId(r.metadata("recordid")) = r)
      val committed = expected.validIds.toIndexedSeq.sorted
      val rng = new java.util.SplittableRandom(a.seed * 31 + tickCount)
      val again = Seq.fill(Reexports)(committed(rng.nextInt(committed.size)))
      val later = Generator.Iso.format(java.time.Instant.ofEpochSecond((Day0 + 3) * 86400L))
      val exports = fresh.records.map(r => (r.metadata("recordid"), r.metadata("exportedon"))) ++
        again.map(_ -> later)
      // quarantined records never reach Parquet, so the diff resubmits them
      val wantIds = fresh.expected.validIds ++ fresh.expected.quarantinedIds ++
        expected.quarantinedIds
      val t0 = System.nanoTime()
      val (ids, got) = tracer.span("tick") {
        tracer.span("exports.append")(appendExports(exports))
        val batches = tracer.span("pipeline.bootstrap") {
          val latest = BootstrapDriver.keepLatest(
            spark.read.parquet(exportsPath), "recordid", "exportedon")
          val need = BootstrapDriver.needsProcessing(
            spark, latest, "recordid", Anchors.map(t => s"$parquetRoot/$t"))
          BootstrapDriver.batched(need, Seq("appid"), "recordid", BatchSize)
            .select("recordid", "batch_no").as[(String, Int)].collect()
        }
        diffRows += ((batches.length.toLong, exportRows))
        batches.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, rs) =>
          ingest(rs.map(r => byId(r._1)).toSeq)
        }
        (batches.map(_._1).toSet, convert())
      }
      val wall = secs(t0)
      expected = expected ++ fresh.expected
      val errs = (if (ids != wantIds) Seq(s"bootstrap diff selected ${ids.size} records, " +
        s"want ${wantIds.size}") else Nil) ++
        compareRows("rows", got, fresh.expected.tableRows(Generator.Converted))
      Tick(wall, fresh.expected.validIds.size, errs, tracer.isEnabled)
  }

  private val diffRows = mutable.ArrayBuffer.empty[(Long, Long)] // need, manifest rows

  // -------------------------------------------------------- closing checks

  /** The count-parity reconciliation read: per catalog dataset, NDJSON
    * lines and distinct recordids against the root Parquet table's.
    */
  private def parityScan(): (Map[String, (Long, Long)], Map[String, (Long, Long)]) = {
    val dss = datasetsPresent(jsonRoot)
    def agg(df: DataFrame): Map[String, (Long, Long)] =
      df.groupBy("ds").agg(count(lit(1)), countDistinct("recordid"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val json = agg(dss.map(ds => spark.read.schema("recordid string")
      .json(s"$jsonRoot/dataset=$ds").select(lit(ds).as("ds"), col("recordid"))).reduce(_ union _))
    val pq = agg(dss.map(ds => ParquetDataset.read(spark, s"$parquetRoot/$ds", Seq("recordid"))
      .select(lit(ds).as("ds"), col("recordid"))).reduce(_ union _))
    (json, pq)
  }

  private def finalChecks(json: Map[String, (Long, Long)], pq: Map[String, (Long, Long)]): Seq[String] = {
    val e = expected
    val conv = Generator.Converted
    val errs = mutable.ArrayBuffer.empty[String]
    errs ++= compareRows("ndjson lines", json.map(kv => kv._1 -> kv._2._1),
      e.lines.filter(kv => conv(kv._1)))
    errs ++= compareRows("root rows", pq.map(kv => kv._1 -> kv._2._1), json.map(kv => kv._1 -> kv._2._1))
    errs ++= compareRows("root recordids", pq.map(kv => kv._1 -> kv._2._2),
      e.datasetRecords.filter(kv => conv(kv._1)))
    val children = e.childRows.keySet.toSeq.sorted
    errs ++= compareRows("child rows",
      children.map(t => t -> spark.read.parquet(s"$parquetRoot/$t").count()).toMap, e.childRows)
    // records in = routed + quarantined, and quarantine holds the injected set
    val routedIds = Files.list(Paths.get(jsonRoot)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("dataset=")).toSeq
      .map(d => spark.read.schema("recordid string").json(s"$jsonRoot/$d").select("recordid"))
      .reduce(_ union _).distinct().count()
    val q =
      if (!Files.isDirectory(Paths.get(quarantine))) Set.empty[String]
      else spark.read.json(quarantine).select("recordid").distinct().as[String].collect().toSet
    if (q != e.quarantinedIds)
      errs += s"quarantine holds ${q.size} records, want the ${e.quarantinedIds.size} injected"
    if (routedIds + q.size != e.records)
      errs += s"records in ${e.records} != routed $routedIds + quarantined ${q.size}"
    errs.toSeq
  }

  // --------------------------------------------------------------- metrics

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least ten ticks beyond
    * it, but never below the upper median (the slowest of two ticks).
    */
  private def tail(xs: Seq[Double]): (Double, Double) = if (xs.isEmpty) (0.0, 0.0) else {
    val s = xs.sorted
    val idx = math.max(s.size / 2, s.size - 11)
    (s(idx), 100.0 * (idx + 1) / s.size)
  }

  private def treeBytes(paths: Seq[String]): (Long, Long) = paths.map(Paths.get(_))
    .filter(Files.exists(_)).foldLeft((0L, 0L)) { case ((n, b), p) =>
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((n, b))((acc, f) => (acc._1 + 1, acc._2 + Files.size(f)))
      finally w.close()
    }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def outputRoots: Seq[String] =
    Seq(jsonRoot, quarantine, parquetRoot, manifests, exportsPath)

  // ------------------------------------------------------------------ run

  def run(): String = {
    // set-up: generation, repeated, then the pipeline part once. setup_s
    // is session start + the median generation + the pipeline part
    val gens = (0 until GenReps).map { _ =>
      val t0 = System.nanoTime()
      val b = generate()
      (secs(t0), b.digest, b.expected, b)
    }
    inputs = gens.last._4
    val digest = gens.last._2
    val t0 = System.nanoTime()
    prepare()
    val prepareS = secs(t0)
    val setupTimes = gens.map(_._1)
    def sample(seed: Long) = new Generator(seed).batch(200, Day0, 2).digest
    val genErrors =
      (if (gens.map(g => (g._2, g._3)).distinct.size != 1)
        Seq("same seed produced different archives or expected counts") else Nil) ++
        (if (sample(a.seed) == sample(a.seed + 1)) Seq("different seeds produced identical archives")
        else Nil)

    val ticks = mutable.ArrayBuffer.empty[Tick]
    val probes = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)] // per traced tick
    var stop = false
    def runTick(): Tick = {
      tracer.run = ticks.size
      if (a.workload == "backfill") root = s"${a.root}/run-${ticks.size}"
      val before = if (tracer.isEnabled) Some(fsProbe()) else None
      System.gc() // every tick starts from a collected heap
      val t = try tick() catch {
        case e: Exception =>
          stop = true // a thrown tick leaves the state undefined
          Tick(0.0, 0L, Seq(s"tick failed: $e"), tracer.isEnabled)
      }
      before.foreach { b =>
        val after = fsProbe()
        probes += ((after._1 - b._1, after._2 - b._2, after._3 - b._3, after._4, manifestRows()))
      }
      ticks += t
      tickCount += 1
      if (a.workload == "backfill" && ticks.size > 1)
        deleteTree(Paths.get(s"${a.root}/run-${ticks.size - 2}"))
      t
    }
    // the timed closed loop. A traced invocation runs its first half
    // untraced and its second half traced (at least one tick each), then one
    // more untraced tick as the reference for the tracing overhead
    val window0 = System.nanoTime()
    def elapsed = System.nanoTime() - window0
    while (!stop && (elapsed < a.seconds * 1e9 || (a.trace && !ticks.exists(_.traced)))) {
      if (a.trace && elapsed >= a.seconds * 1e9 / 2) tracer.start()
      runTick()
    }
    val reference = if (a.trace && !stop) { tracer.stop(); Some(runTick().wall) } else None
    val failures = ticks.count(_.errors.nonEmpty)

    // closing reconciliation: one untimed pass compiles its plans, then the
    // median of three timed passes, each from a collected heap; the last
    // one is checked
    parityScan()
    val scans = (0 until 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      val r = parityScan()
      (secs(t0), r)
    }
    val (jsonCounts, pqCounts) = scans.last._2
    val checkErrors = finalChecks(jsonCounts, pqCounts)
    val (outFiles, outBytes) = treeBytes(outputRoots)
    val tickErrors = ticks.flatMap(_.errors)
    val errors = genErrors ++ tickErrors ++ checkErrors

    val timed = ticks.filterNot(_.traced)
    val walls = timed.map(_.wall).toSeq
    val (tailS, tailPct) = tail(walls)
    val inputBytes = a.workload match {
      case "backfill" => inputs.expected.zipBytes
      case _ => expected.zipBytes
    }
    val e2e = Seq(
      "records_per_s" -> (timed.map(_.records).sum / walls.sum, "records/s"),
      "run_p50_s" -> (median(walls), "s"),
      "run_tail_s" -> (tailS, "s"),
      "parity_scan_s" -> (median(scans.map(_._1)), "s"),
      "stored_bytes_per_input_byte" -> (outBytes.toDouble / inputBytes, "ratio"),
      "peak_rss_mb" -> (vmHwmMb(), "MB"),
      "setup_s" -> (sessionS + median(setupTimes) + prepareS, "s"))

    val layer = if (a.trace) layerMetrics(ticks.toSeq, probes.toSeq, reference.getOrElse(0.0)) else Nil
    if (a.trace) {
      val spans = Paths.get(a.root, "spans.jsonl")
      Files.writeString(spans, tracer.spansJsonl)
    }
    val metrics = (if (a.trace) layer else e2e)
      .map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    val ctx = context(ticks.toSeq, setupTimes, prepareS, scans.map(_._1), tailPct, walls.size, digest,
      inputBytes, outFiles, outBytes)
    s"""{"correct": ${errors.isEmpty}, "attempted": ${ticks.size}, "failed": $failures,
       |"errors": ${errors.take(20).map(jstr).mkString("[", ", ", "]")},
       |"metrics": {${metrics.mkString(", ")}},
       |"context": $ctx,
       |"duckdb": ${duckdbSpec()}}""".stripMargin
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally w.close()
  }

  /** Files and bytes under stage-1 output, parquet files, and the data
    * files the bookmark lists under every dataset path.
    */
  private def fsProbe(): (Long, Long, Long, Long) = {
    val (jf, _) = treeBytes(Seq(jsonRoot, quarantine))
    val (pf, pb) = treeBytes(Seq(parquetRoot))
    val listed = datasetsPresent(jsonRoot).map { ds =>
      val w = Files.walk(Paths.get(jsonRoot, s"dataset=$ds"))
      try w.iterator().asScala.count { f =>
        Files.isRegularFile(f) && !f.getFileName.toString.matches("^[_.].*")
      } finally w.close()
    }.sum
    (jf, pf, pb, listed.toLong)
  }

  private def manifestRows(): Long =
    if (!Files.isDirectory(Paths.get(manifests))) 0L
    else Files.list(Paths.get(manifests)).iterator().asScala.toSeq
      .map(m => spark.read.parquet(m.toString).count()).sum

  // ------------------------------------------------------- per-layer view

  private val Modules = Seq("IngestJob", "ParquetJob", "ParquetDataset", "Bookmark",
    "BootstrapDriver", "JsonDataset", "FileListing", "PipelineBench")

  private def layerMetrics(ticks: Seq[Tick], probes: Seq[(Long, Long, Long, Long, Long)],
      reference: Double): Seq[(String, (Double, String))] = {
    val spans = tracer.allSpans
    val tickSpans = spans.filter(_.name == "tick")
    val n = math.max(tickSpans.size, 1).toDouble
    def named(name: String) = spans.filter(_.name == name)
    def jobsUnder(ss: Seq[Span]) = tracer.jobsIn(ss.flatMap(tracer.subtree).toSet)
    def perSpan(ss: Seq[Span], x: Double) = if (ss.isEmpty) 0.0 else x / ss.size
    def med(ss: Seq[Span]) = median(ss.map(_.seconds))

    val ingestSpans = named("ingest")
    val ingestJobs = jobsUnder(ingestSpans)
    val ingestTasks = tracer.tasksOf(ingestJobs)
    def written(prefix: String) = tracer.tasksOf(ingestJobs.filter(_.callSite.startsWith(prefix)))
      .map(_.recordsWritten).sum.toDouble
    val pjSpans = named("pipeline.parquet_job")
    val pjJobs = jobsUnder(pjSpans)
    val tickJobs = jobsUnder(tickSpans)
    val tickTasks = tracer.tasksOf(tickJobs)
    val tickStages = tracer.stagesOf(tickJobs)
    val stageSubmit = tickStages.map(s => s.stageId -> s.submitMs).toMap
    val tickRecords = ticks.filter(_.traced).map(_.records).sum.toDouble
    val busy = tickTasks.map(_.runMs).sum / 1e3 / (tickSpans.map(_.seconds).sum * Cores)

    // single-thread cost of the per-record steps IngestJob.run fans out
    val recs = ingested.take(2000)
    def timeUs(f: RawRecord => Unit, rs: Seq[RawRecord]): Double = if (rs.isEmpty) 0.0 else {
      rs.foreach(f) // warm
      val t0 = System.nanoTime()
      rs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / rs.size
    }
    val validate = timeUs(r => IngestJob.validateRecord(r, cfg), recs)
    val valid = recs.filter(r => IngestJob.validateRecord(r, cfg).isEmpty)
    val route = timeUs(r => IngestJob.routeRecord(r, cfg), valid)
    val unzip = timeUs(r => ZipSource.entries(r.zipBytes), recs)
    val (checked, withErrors) = recs.foldLeft((0L, 0L)) { case ((c, w), r) =>
      val md = r.metadata
      if (cfg.datasetMapping.contains(md("assessmentid"), md("assessmentrevision"))) (c, w)
      else {
        val entries = ZipSource.entries(r.zipBytes)
        val self = IngestJob.selfRefSchemas(entries)
        val n = entries.count { case (p, _) => cfg.archiveMap.resolveUrl(FileMetadata(
          md("assessmentid"), md("assessmentrevision").toInt, Router.normalizeFileName(p),
          cfg.appId), self).isDefined }
        (c + n, w + IngestJob.validateRecord(r, cfg).size)
      }
    }
    val ingestRuns = math.max(ingestSpans.size, 1).toDouble
    val recsPerIngest = ingested.size / ingestRuns
    val ingestS = med(ingestSpans)
    val (relTables, relChild, relDriver) = relationalized.foldLeft((0.0, 0.0, 0.0)) {
      case ((a1, b1, c1), (t, ch, d)) => (a1 + t, b1 + ch, c1 + d)
    }
    val pjPlanning = tracer.executionsOf(pjJobs).map(_.planningMs).sum / 1e3
    val probeN = math.max(probes.size, 1).toDouble
    val (pqFiles, pqDirs) = {
      val files = treeBytes(Seq(parquetRoot))._1
      val dirs = if (!Files.isDirectory(Paths.get(parquetRoot))) 0L else {
        val w = Files.walk(Paths.get(parquetRoot))
        try w.iterator().asScala.count(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("day=")).toLong finally w.close()
      }
      (files, dirs)
    }
    val byModule = tickJobs.groupBy { j =>
      val file = j.callSite.split(" at ").lastOption.getOrElse("").split(':').head.stripSuffix(".scala")
      if (Modules.contains(file)) file else "other"
    }.map { case (m, js) => m -> js.map(j => j.endMs - j.submitMs).sum / 1e3 / n }
    val traced = ticks.filter(_.traced).map(_.wall)

    Seq(
      "ingest.run_s" -> (ingestS, "s"),
      "ingest.spark_jobs" -> (ingestJobs.size / ingestRuns, "count"),
      "ingest.unzip_us_per_record" -> (unzip, "us"),
      "ingest.route_us_per_record" -> (route, "us"),
      "ingest.record_work_share" ->
        (if (ingestS == 0) 0.0 else (validate + route) * recsPerIngest / 1e6 / Cores / ingestS, "ratio"),
      "ingest.files_written" -> (probes.map(_._1).sum / ingestRuns, "count"),
      "ingest.bytes_written" -> (ingestTasks.map(_.bytesWritten).sum / ingestRuns, "bytes"),
      "ingest.lines_routed" -> (written("text at") / ingestRuns, "count"),
      "ingest.records_quarantined" -> (written("json at") / ingestRuns, "count"),
      "validate.us_per_record" -> (validate, "us"),
      "validate.files_checked" -> (checked / ingestRuns, "count"),
      "validate.invalid_share" -> (if (checked == 0) 0.0 else withErrors.toDouble / checked, "ratio"),
      "pipeline.parquet_job_s" -> (med(pjSpans), "s"),
      "pipeline.spark_jobs_per_dataset" -> (perSpan(pjSpans, pjJobs.size), "count"),
      "pipeline.json_scans_per_dataset" ->
        (perSpan(pjSpans, tracer.executionsOf(pjJobs).map(_.jsonScans).sum), "count"),
      "pipeline.bootstrap_s" -> (med(named("pipeline.bootstrap")), "s"),
      "pipeline.diff_selectivity" -> (if (diffRows.isEmpty) 0.0
        else diffRows.map(_._1).sum.toDouble / diffRows.map(_._2).sum, "ratio"),
      "relationalize.tables" -> (perSpan(pjSpans, relTables), "count"),
      "relationalize.child_rows" -> (relChild / n, "count"),
      "relationalize.plan_s" -> (perSpan(pjSpans, relDriver + pjPlanning), "s"),
      "sources.parquet_files_written" -> (probes.map(_._2).sum / probeN, "count"),
      "sources.parquet_bytes_written" -> (probes.map(_._3).sum / probeN, "bytes"),
      "sources.files_per_partition_dir" -> (if (pqDirs == 0) 0.0 else pqFiles.toDouble / pqDirs, "count"),
      "sources.json_bytes_read" ->
        (tracer.tasksOf(pjJobs).map(_.bytesRead).sum / n, "bytes"),
      "streaming.bookmark_files_listed" -> (probes.map(_._4).sum / probeN, "count"),
      "streaming.bookmark_manifest_rows" -> (probes.map(_._5).sum / probeN, "count"),
      "spark.jobs" -> (tickJobs.size / n, "count"),
      "spark.jobs_per_record" -> (if (tickRecords == 0) 0.0 else tickJobs.size / tickRecords, "count"),
      "spark.stages" -> (tickStages.size / n, "count"),
      "spark.tasks" -> (tickTasks.size / n, "count"),
      "spark.planning_s" -> (tracer.executionsOf(tickJobs).map(_.planningMs).sum / 1e3 / n, "s"),
      "spark.task_busy_share" -> (busy, "ratio"),
      "spark.task_wait_s" -> (tickTasks.map(t =>
        math.max(0L, t.launchMs - stageSubmit.getOrElse(t.stageId, t.launchMs))).sum / 1e3 / n, "s"),
      "spark.gc_s" -> (tickTasks.map(_.gcMs).sum / 1e3 / n, "s"),
      "spark.shuffle_read_bytes" -> (tickTasks.map(_.shuffleRead).sum / n, "bytes"),
      "spark.shuffle_write_bytes" -> (tickTasks.map(_.shuffleWrite).sum / n, "bytes"),
      "trace.run_s" -> (median(traced), "s"),
      "trace.overhead_s" -> (if (traced.isEmpty) 0.0 else median(traced) - reference, "s")
    ) ++ Modules.:+("other").map(m =>
      s"spark.job_s_by_module.$m" -> (byModule.getOrElse(m, 0.0), "s"))
  }

  private def context(ticks: Seq[Tick], genTimes: Seq[Double], prepareS: Double, parityTimes: Seq[Double],
      tailPct: Double, n: Int, digest: String, inputBytes: Long, outFiles: Long,
      outBytes: Long): String = {
    val conf = sessionConf(a.root).filterNot(_._1.endsWith(".dir"))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")
    val history = if (a.workload == "hourly_incremental") HistoryRuns * BatchSize else 0
    s"""{"workload": ${jstr(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds},
       |"trace": ${a.trace}, "nproc": ${Runtime.getRuntime.availableProcessors},
       |"cores": $Cores, "spark": ${jstr(spark.version)},
       |"jvm": ${jstr(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},
       |"session_conf": $conf,
       |"input": {"records": ${expected.records}, "zip_bytes": $inputBytes,
       |  "valid_records": ${expected.validIds.size}, "quarantined_records": ${expected.quarantinedIds.size},
       |  "history_records": $history, "history_runs": ${if (history > 0) HistoryRuns else 0},
       |  "history_files": $historyFiles, "batch_size": $BatchSize, "archive_digest": ${jstr(digest)}},
       |"ticks": ${ticks.size}, "timed_ticks": $n, "tick_walls_s": ${ticks.map(t => num(t.wall)).mkString("[", ", ", "]")},
       |"run_tail_percentile": ${num(tailPct)}, "run_tail_n": $n,
       |"generation_s": ${genTimes.map(num).mkString("[", ", ", "]")}, "prepare_s": ${num(prepareS)},
       |"session_start_s": ${num(sessionS)},
       |"parity_scans_s": ${parityTimes.map(num).mkString("[", ", ", "]")},
       |"output": {"files": $outFiles, "bytes": $outBytes},
       |"fail_ratio": ${num(if (ticks.isEmpty) 0.0 else ticks.count(_.errors.nonEmpty).toDouble / ticks.size)}
       |}""".stripMargin
  }

  /** What the out-of-process DuckDB check reads back and expects. */
  private def duckdbSpec(): String = {
    val tables = expected.tableRows(Generator.Converted).filter(_._2 > 0)
      .map { case (t, r) => s"${jstr(t)}: $r" }.mkString("{", ", ", "}")
    val roots = expected.datasetRecords.filter(kv => Generator.Converted(kv._1))
      .map { case (t, r) => s"${jstr(t)}: $r" }.mkString("{", ", ", "}")
    s"""{"parquet_root": ${jstr(parquetRoot)}, "tables": $tables, "root_records": $roots}"""
  }
}

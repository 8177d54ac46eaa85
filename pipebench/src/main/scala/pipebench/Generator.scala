package pipebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import graft.ingest.{RawRecord, Router}
import graft.schema.{ColumnSpec, TableCatalog, TableSpec}
import graft.validate.{ArchiveMap, AssessmentEntry, SchemaRef}

/** What the pipeline must produce for a set of generated records. Only
  * valid records route; `lines` counts NDJSON lines per dataset (catalog
  * or not) and `childRows` the array elements each relationalized child
  * table receives.
  */
final case class Expected(
    records: Int,
    validIds: Set[String],
    quarantinedIds: Set[String],
    lines: Map[String, Long],
    datasetRecords: Map[String, Long],
    childRows: Map[String, Long],
    zipBytes: Long) {

  def ++(o: Expected): Expected = Expected(
    records + o.records, validIds ++ o.validIds,
    quarantinedIds ++ o.quarantinedIds, Expected.sum(lines, o.lines),
    Expected.sum(datasetRecords, o.datasetRecords),
    Expected.sum(childRows, o.childRows), zipBytes + o.zipBytes)

  /** Root rows (== NDJSON lines) and child rows per converted table. */
  def tableRows(converted: Set[String]): Map[String, Long] =
    lines.filter { case (d, _) => converted(d) } ++ childRows
}

object Expected {
  val empty: Expected =
    Expected(0, Set.empty, Set.empty, Map.empty, Map.empty, Map.empty, 0L)

  def sum(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}

/** A batch of generated records plus what the pipeline must make of it. */
final case class Batch(records: IndexedSeq[RawRecord], expected: Expected) {
  /** SHA-256 over every record's metadata and ZIP bytes, in order. */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    records.foreach { r =>
      r.metadata.toSeq.sorted.foreach { case (k, v) =>
        md.update(k.getBytes("UTF-8")); md.update(v.getBytes("UTF-8"))
      }
      md.update(r.zipBytes)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Seeded generator of Bridge-like exports: S3 metadata + ZIP archives,
  * the archive map that resolves their member files to JSON Schemas, and
  * the schemas themselves — all derived from the bundled table catalog,
  * schema mapping and dataset mapping, so the pipeline sees only these
  * generated inputs.
  *
  * Record mix:
  *  - legacy records (half): an assessment at the revision
  *    `dataset_mapping.json` maps, so validation is skipped and files route
  *    by (assessment, revision, filename);
  *  - schema records: the same assessments one revision later, resolved
  *    through the archive map (assessment scope), or two revisions later
  *    (a third of them), resolved through the self-referencing
  *    `files[].jsonSchema` of their own `metadata.json`; validated, routed
  *    by the schema `$id`;
  *  - one schema record in 16 carries a type violation and must
  *    land in quarantine; Android clients omit the weather `type`, an
  *    allowlisted (suppressed) error.
  *
  * Member files: metadata, nested `taskData`, `motion.json` as a top-level
  * array with long-tailed length, weather, microphone levels (top-level
  * array) and an unmapped `info.json` that routes nowhere.
  */
final class Generator(seed: Long) {
  import Generator._

  private val rng = new SplittableRandom(seed)
  private var serial = 0L

  /** `n` records uploaded uniformly over `days` days from `startEpochDay`
    * (day granularity drives the Parquet partition count). The mix is
    * fixed by position, so every batch of a size has the same share of
    * each kind: every other record is legacy; of the schema records, every
    * third self-references its task schema and one in [[InvalidEvery]] is
    * invalid.
    */
  def batch(n: Int, startEpochDay: Long, days: Int): Batch = {
    val recs = IndexedSeq.newBuilder[RawRecord]
    var exp = Expected.empty
    var i = 0
    while (i < n) {
      val day = startEpochDay + rng.nextInt(math.max(days, 1))
      val j = i / 2 // index among this batch's schema records
      val (r, e) =
        if (i % 2 == 0) record(day, legacy = true, selfRef = false, invalid = false)
        else record(day, legacy = false, selfRef = j % 3 == 0, invalid = j % InvalidEvery == 5)
      recs += r
      exp = exp ++ e
      i += 1
    }
    Batch(recs.result(), exp)
  }

  private def token(len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(Alphabet.charAt(rng.nextInt(Alphabet.length))); i += 1 }
    sb.toString
  }

  private def recordId(): String = {
    serial += 1
    // 22 chars like Bridge record ids; the serial keeps them unique
    token(14) + "%08d".format(serial)
  }

  /** Long-tailed (Pareto, tail index 2.5) length: most arrays are short,
    * a few are long; the variance stays finite, so batch totals are steady.
    */
  private def longTail(min: Int, scale: Double, cap: Int): Int = {
    val u = 1.0 - rng.nextDouble()
    math.min(cap, min + (scale * (math.pow(u, -0.4) - 1.0)).toInt)
  }

  /** Fill `obj` with one value per field of `st`, counting every array
    * element into the child table relationalize will split it into.
    */
  private def fillStruct(obj: ObjectNode, st: StructType, prefix: String,
      table: String, skip: Set[String], counts: mutable.Map[String, Long]): Unit =
    st.fields.foreach { f =>
      if (!skip(f.name)) {
        val flat = prefix + f.name
        f.dataType match {
          case s: StructType =>
            fillStruct(obj.putObject(f.name), s, flat + "_", table, Set.empty, counts)
          case ArrayType(elem, _) =>
            val child = s"${table}_$flat"
            val n = arrayLength(f.name)
            val arr = obj.putArray(f.name)
            counts(child) = counts.getOrElse(child, 0L) + n
            var i = 0
            while (i < n) {
              elem match {
                case s: StructType => fillStruct(arr.addObject(), s, "", child, Set.empty, counts)
                case other => arr.add(scalar(other, f.name))
              }
              i += 1
            }
          case other => obj.set[com.fasterxml.jackson.databind.JsonNode](f.name, scalar(other, f.name))
        }
      }
    }

  private def arrayLength(field: String): Int = field.toLowerCase match {
    case "steps" | "stephistory" => longTail(2, 10.0, 40)
    case "items" => 1 + rng.nextInt(4)
    case _ => 1 + rng.nextInt(3)
  }

  private def scalar(t: DataType, field: String): com.fasterxml.jackson.databind.JsonNode = {
    val nf = JsonNodeFactory.instance
    t match {
      case IntegerType | LongType | ShortType => nf.numberNode(rng.nextInt(1000))
      case DoubleType | FloatType =>
        nf.numberNode(math.rint(rng.nextDouble() * 1e6) / 1e3)
      case BooleanType => nf.booleanNode(rng.nextBoolean())
      case _ =>
        val f = field.toLowerCase
        if (f.contains("date") || f.contains("timestamp"))
          nf.textNode(Iso.format(Instant.ofEpochSecond(1640995200L + rng.nextInt(1 << 25))))
        else nf.textNode(Vocabulary(rng.nextInt(Vocabulary.length)) + "-" + token(4))
    }
  }

  private def rows(table: String, n: Int, counts: mutable.Map[String, Long]): ArrayNode = {
    val arr = JsonNodeFactory.instance.arrayNode()
    var i = 0
    while (i < n) {
      fillStruct(arr.addObject(), Schemas(table), "", table, Injected, counts)
      i += 1
    }
    arr
  }

  private def record(epochDay: Long, legacy: Boolean, selfRef: Boolean,
      invalid: Boolean): (RawRecord, Expected) = {
    val (assessment, mappedRev) = Assessments(rng.nextInt(Assessments.length))
    val revision = if (legacy) mappedRev else if (selfRef) mappedRev + 2 else mappedRev + 1
    val rid = recordId()
    val android = rng.nextDouble() < 0.3
    val uploaded = Instant.ofEpochSecond(epochDay * 86400L + rng.nextInt(86400))
    val md = Map(
      "recordid" -> rid,
      "assessmentid" -> assessment,
      "assessmentrevision" -> revision.toString,
      "uploadedon" -> Iso.format(uploaded),
      "exportedon" -> Iso.format(uploaded.plusSeconds(60 + rng.nextInt(3600))),
      "clientinfo" ->
        (if (android) "{osName:'Android', appVersion:74}" else "{osName:'iOS', appVersion:74}"),
      "healthcode" -> token(12),
      "appversion" -> "v3.2.1",
      "participantversion" -> (1 + rng.nextInt(4)).toString)

    val hasMic = MicAssessments(assessment)
    val counts = mutable.Map.empty[String, Long]
    val lines = mutable.Map.empty[String, Long]
    def routed(ds: String, n: Long): Unit = lines(ds) = lines.getOrElse(ds, 0L) + n

    val memberNames =
      Seq("metadata.json", "taskData.json", "motion.json", "weather.json") ++
        (if (hasMic) Seq("microphone.json") else Nil) :+ "info.json"

    // metadata.json: the ArchiveMetadata shape, with files[] describing
    // every member (self-referencing records name taskData's schema here)
    val meta = mapper.createObjectNode()
    fillStruct(meta, Schemas("ArchiveMetadata_v1"), "", "ArchiveMetadata_v1",
      Injected ++ md.keySet + "files", counts)
    val files = meta.putArray("files")
    memberNames.foreach { name =>
      val f = files.addObject()
      f.put("filename", name)
      f.put("timestamp", md("uploadedon"))
      f.put("contentType", "application/json")
      f.put("identifier", name.stripSuffix(".json"))
      f.put("stepPath", s"$assessment/${name.stripSuffix(".json")}")
      if (selfRef && name == "taskData.json") f.put("jsonSchema", SchemaUrl(TaskTable))
    }
    // legacy metadata routes to TaskMetadata_v1, which is not a catalog table
    if (!legacy) counts("ArchiveMetadata_v1_files") = memberNames.size.toLong
    routed(if (legacy) "TaskMetadata_v1" else "ArchiveMetadata_v1", 1)

    // legacy, archive-map and self-referenced task data all land in one table
    val task = rows(TaskTable, 1, counts).get(0)
    routed(TaskTable, 1)

    val nMotion = longTail(1, 20.0, 400)
    val motion = rows("MotionRecord_v1", nMotion, counts)
    routed("MotionRecord_v1", nMotion)

    val weather = rows("WeatherResult_v1", 1, counts).get(0).asInstanceOf[ObjectNode]
    if (android) weather.remove("type") // allowlisted for Android clients
    if (invalid) weather.put("identifier", 1000 + rng.nextInt(9000)) // not a string
    routed("WeatherResult_v1", 1)

    val mic =
      if (!hasMic) None
      else {
        val n = 5 + rng.nextInt(40)
        routed("AudioLevelRecord_v1", n)
        Some(rows("AudioLevelRecord_v1", n, counts))
      }

    val info = mapper.createObjectNode().put("appName", "mobile-toolbox")
      .put("dataFilename", "taskData.json")

    val zip = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(zip)
    val mtime = uploaded.toEpochMilli
    def put(name: String, node: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val e = new ZipEntry(name)
      e.setTime(mtime) // fixed entry time: same seed, same bytes
      zout.putNextEntry(e)
      zout.write(mapper.writeValueAsBytes(node))
      zout.closeEntry()
    }
    put("metadata.json", meta)
    put("taskData.json", task)
    put("motion.json", motion)
    put("weather.json", weather)
    mic.foreach(put("microphone.json", _))
    put("info.json", info)
    zout.close()
    val bytes = zip.toByteArray

    val exp =
      if (invalid) Expected(1, Set.empty, Set(rid), Map.empty, Map.empty, Map.empty, bytes.length)
      else Expected(1, Set(rid), Set.empty, lines.toMap, lines.map(_._1 -> 1L).toMap,
        counts.toMap, bytes.length)
    (RawRecord(md, bytes), exp)
  }
}

object Generator {
  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  val Iso: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  private val Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-"
  private val Vocabulary = Array("tap", "swipe", "next", "back", "pause", "resume",
    "correct", "incorrect", "practice", "trial", "left", "right", "start", "end")

  /** Columns the router injects into every line; never generated. */
  val Injected: Set[String] = graft.pipeline.ParquetJob.CarryCols.toSet

  /** The production dataset mapping: the legacy (assessment, revision) set. */
  val Assessments: IndexedSeq[(String, Int)] =
    Router.defaultDatasetMapping.byAssessment.toIndexedSeq
      .flatMap { case (a, revs) => revs.keys.map(r => a -> r.toInt) }
      .sorted

  private val MicAssessments: Set[String] =
    Router.defaultDatasetMapping.byAssessment.collect {
      case (a, revs) if revs.values.exists(_.contains("microphone.json")) => a
    }.toSet

  /** The four v0 task tables declare no `recordid` data column, but the
    * router injects it into every line and ParquetJob keys relationalize
    * on it; the benchmark declares it so those tables convert.
    */
  val Catalog: Map[String, TableSpec] = TableCatalog.default.map { case (n, s) =>
    n -> (if (s.columns.exists(_.name == "recordid")) s
      else s.copy(columns = s.columns :+ ColumnSpec("recordid", "string")))
  }

  /** Parsed once: TableSpec.schema re-parses its DDL on every call. */
  val Schemas: Map[String, StructType] = Catalog.map { case (n, s) => n -> s.schema }

  /** One schema record in this many carries a type violation. */
  val InvalidEvery = 16

  private val SchemaBase = "https://sage-bionetworks.github.io/mobile-client-json/schemas"

  /** Catalog table → schema `$id`, taken from the bundled schema mapping. */
  val SchemaId: Map[String, String] =
    Router.defaultSchemaMapping.collect { case (id, t) if Catalog.contains(t) => t -> id }

  /** Catalog table → URL the archive map (or metadata.json) points at. */
  val SchemaUrl: Map[String, String] = SchemaId.map { case (t, id) =>
    t -> (if (id.startsWith("https://")) id
      else if (id.startsWith("schemas/")) s"$SchemaBase/${id.stripPrefix("schemas/")}"
      else s"$SchemaBase/v2/$id.json")
  }

  /** Task-data table of every record. Its arrays nest arrays
    * (userinteractions[].controlEvent[]), so relationalize recurses.
    */
  val TaskTable = "sharedSchema_v1"

  /** What the archive map alone would resolve a self-referencing
    * record's task data to. metadata.json's `files[].jsonSchema` must win,
    * or lines land in this table and the parity checks fail.
    */
  val Decoy = "3DRotation_v1"

  /** Archive map: each assessment one revision past its legacy mapping
    * resolves metadata, motion, weather, microphone levels and its task
    * data at assessment scope; two revisions past (the self-referencing
    * records) it points task data at the decoy.
    */
  val archiveMap: ArchiveMap = ArchiveMap(
    anyOf = Nil,
    assessments = Assessments.flatMap { case (a, rev) =>
      Seq(rev + 1 -> TaskTable, rev + 2 -> Decoy).map { case (r, task) =>
        AssessmentEntry(a, r, Seq(
          SchemaRef("metadata.json", Some(SchemaUrl("ArchiveMetadata_v1"))),
          SchemaRef("taskData.json", Some(SchemaUrl(task))),
          SchemaRef("motion.json", Some(SchemaUrl("MotionRecord_v1"))),
          SchemaRef("weather.json", Some(SchemaUrl("WeatherResult_v1"))),
          SchemaRef("microphone_levels.json", Some(SchemaUrl("AudioLevelRecord_v1")))))
      }
    },
    apps = Nil)

  /** JSON Schema (draft-07) for a catalog table, from its column types. */
  def schemaFor(table: String): String = {
    val cols = StructType(Schemas(table).fields.filterNot(f => Injected(f.name)))
    val root = nf.objectNode()
    root.put("$schema", "http://json-schema.org/draft-07/schema#")
    root.put("$id", SchemaId(table))
    val obj = typeSchema(cols)
    table match {
      case "MotionRecord_v1" | "AudioLevelRecord_v1" =>
        // top-level array of samples, items behind a JSON-pointer $ref
        root.put("type", "array")
        root.putObject("items").put("$ref", "#/definitions/Sample")
        root.putObject("definitions").set[com.fasterxml.jackson.databind.JsonNode]("Sample", obj)
      case "ArchiveMetadata_v1" =>
        // files[] items behind a `$id` anchor, as the published schema does
        val props = obj.get("properties").asInstanceOf[ObjectNode]
        val fileInfo = props.get("files").get("items").asInstanceOf[ObjectNode]
        fileInfo.put("$id", "#FileInfo")
        props.putObject("files").put("type", "array")
          .putObject("items").put("$ref", "#FileInfo")
        root.putObject("definitions").set[com.fasterxml.jackson.databind.JsonNode]("FileInfo", fileInfo)
        obj.putArray("required").add("files")
        root.setAll(obj)
      case "WeatherResult_v1" =>
        obj.putArray("required").add("type")
        root.setAll(obj)
      case _ => root.setAll(obj)
    }
    mapper.writeValueAsString(root)
  }

  private def typeSchema(t: DataType): ObjectNode = {
    val o = nf.objectNode()
    t match {
      case st: StructType =>
        o.put("type", "object")
        val props = o.putObject("properties")
        st.fields.foreach(f => props.set[com.fasterxml.jackson.databind.JsonNode](f.name, typeSchema(f.dataType)))
      case ArrayType(e, _) =>
        o.put("type", "array")
        o.set[com.fasterxml.jackson.databind.JsonNode]("items", typeSchema(e))
      case IntegerType | LongType | ShortType => o.put("type", "integer")
      case DoubleType | FloatType => o.put("type", "number")
      case BooleanType => o.put("type", "boolean")
      case _ => o.put("type", "string")
    }
    o
  }

  /** URL → schema document, the fetch function behind the SchemaCache. */
  val schemaDocs: Map[String, String] =
    SchemaUrl.map { case (t, url) => url -> schemaFor(t) }

  /** Catalog datasets a record can route to — every one converts. */
  val Converted: Set[String] = Set("ArchiveMetadata_v1", "MotionRecord_v1",
    "WeatherResult_v1", "AudioLevelRecord_v1", TaskTable)
}

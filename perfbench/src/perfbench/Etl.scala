package perfbench

import graft.CityDirectories
import graft.geocode.Geocoder
import graft.model.GeoAddress
import graft.sources.{Download, Manifest}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's four-step ETL driven through the program's public calls:
  * download → manifest → parse → geocode → transform → union sink.
  */
final class Etl(spark: SparkSession, corpus: Corpus.Corpus, workDir: Path,
                val minYear: Option[Int], val maxYear: Option[Int],
                val download: Boolean) {
  import spark.implicits._

  val archiveDir: Path = workDir.resolve("archives")
  private val stepDir = workDir.resolve("steps")
  private val dead = corpus.volumes.filter(_.dead).map(_.uuid).toSet
  private val threads = Runtime.getRuntime.availableProcessors()

  /** Local stand-in for the HTTP fetch: reads the generated archive, and
    * fails for the volumes the corpus marks dead.
    */
  private val fetch: String => Array[Byte] = uuid =>
    if (dead(uuid)) throw new java.io.IOException(s"HTTP 404 for $uuid")
    else Files.readAllBytes(corpus.remoteDir.resolve(s"$uuid.tar.gz"))

  // dimension load: read once per session and kept in memory, as the
  // reference's geocoder keeps its index for the life of the process
  val dim: Dataset[GeoAddress] = spark.read
    .schema("addressId STRING, addressName STRING, streetId STRING, " +
      "streetName STRING, normalizedKey STRING, " +
      "geometry STRUCT<type: STRING, coordinates: ARRAY<ARRAY<DOUBLE>>>")
    .json(corpus.dimensionPath.toString).as[GeoAddress].cache()
  require(dim.count() == corpus.shape.dimensionRows, "dimension row count")
  private val standalone = graft.parse.EntryParser.standaloneStreetsFrom(dim)

  def fetchAll(): Seq[Download.FetchResult] =
    Download.downloadAll(archiveDir.toString,
      Manifest.parseTable(corpus.manifestHtml), fetch, parallelism = threads)

  /** One fused run: the steps chained into one plan, written once.
    * Returns the number of dead-lettered volumes.
    */
  def runFused(outDir: Path): Int = {
    val manifest = Manifest.load(spark, corpus.manifestHtml)
    val deadLettered =
      if (download) Download.downloadAll(archiveDir.toString, manifest.collect().toSeq,
        fetch, parallelism = threads).count(!_.ok)
      else 0
    val lines = CityDirectories.parse(spark, manifest, archiveDir.toString,
      minYear, maxYear, standalone)
    val union = CityDirectories.transform(CityDirectories.geocode(spark, lines, dim))
    CityDirectories.writeUnion(union, outDir.toString)
    deadLettered
  }

  /** One traced run: each step hands off through files, as the
    * reference's steps do, with a span around every public call. With
    * `counters`, each step span also records its Spark counters.
    */
  def runTraced(outDir: Path, tr: Tracer, counters: Option[Counters]): Unit = tr.span("run") {
    def step(name: String) = stepDir.resolve(name).toString
    def counted[A](name: String)(body: => A): A =
      counters.fold(tr.span(name)(body))(c => tr.counted(name, c)(body)._1)
    val manifest = counted("Manifest.load") { Manifest.load(spark, corpus.manifestHtml) }
    if (download) counted("downloadAll") {
      Download.downloadAll(archiveDir.toString, manifest.collect().toSeq, fetch,
        parallelism = threads)
    }
    counted("parse") {
      CityDirectories.parse(spark, manifest, archiveDir.toString, minYear, maxYear,
        standalone).write.mode("overwrite").parquet(step("lines"))
    }
    counted("geocode") {
      val index = tr.span("buildIndex") { Geocoder.buildIndex(spark, dim) }
      Geocoder.geocode(spark.read.parquet(step("lines")), index)
        .write.mode("overwrite").parquet(step("geocoded"))
    }
    counted("transform") {
      CityDirectories.transform(spark.read.parquet(step("geocoded")))
        .write.mode("overwrite").parquet(step("union"))
    }
    counted("writeUnion") {
      CityDirectories.writeUnion(spark.read.parquet(step("union")), outDir.toString)
    }
  }

  def bytesWritten(outDir: Path): Long = {
    val s = Files.walk(outDir)
    try s.filter(p => p.getFileName.toString.startsWith("part-"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  def selectedVolumes: Seq[Corpus.VolumeTruth] = corpus.selected(minYear, maxYear)
  def selectedLines: Long = selectedVolumes.map(_.lines).sum
  def selectedArchiveBytes: Long = selectedVolumes.map(_.archiveBytes).sum

  def expected: Checks.Expected = Checks.Expected(
    selectedVolumes.filter(_.lines > 0).map(v => v.uuid -> v.lines).toMap,
    selectedVolumes.map(_.hits).sum, selectedVolumes.map(_.misses).sum)

  def readOutput(outDir: Path): DataFrame = Checks.readUnion(spark, outDir)
  def dimIds: DataFrame = dim.select(col("addressId"))
}

/** Output checks on a written union, against the corpus truth. */
object Checks {

  final case class Expected(linesPerVolume: Map[String, Long], hits: Long, misses: Long) {
    def hitRatio: Double = hits.toDouble / (hits + misses)
  }

  val MissPrefix = "Address not found: "
  val IdLogError = "Coult not create ID"

  /** The written union as text lines with their kind (from the partition
    * dirs), plus the fields the checks need parsed out; cached, so the
    * checks and the digest read the files once. Unpersist after use.
    */
  def readUnion(spark: SparkSession, dir: Path): DataFrame =
    spark.read.text(dir.toString)
      .select(col("type"), col("value"), from_json(col("value"),
        "id STRING, `to` STRING, `from` STRING, error STRING, " +
          "data STRUCT<volumeUuid: STRING>", Map.empty[String, String]).as("j"))
      .select(col("type"), col("value"), col("j.id").as("id"), col("j.to").as("to"),
        col("j.from").as("from"), col("j.error").as("error"),
        col("j.data.volumeUuid").as("volumeUuid"))
      .cache()

  /** Failed checks (empty = all passed) and the measured hit ratio. */
  def verify(rows: DataFrame, dimIds: DataFrame, exp: Expected): (Seq[String], Double) = {
    val isObj = col("type") === "object"
    val isRel = col("type") === "relation"
    val isMiss = col("type") === "log" && col("error").startsWith(MissPrefix)
    val isIdLog = col("type") === "log" && col("error") === IdLogError
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val c = rows.agg(n(isObj), n(isRel), n(isMiss), n(isIdLog),
      n(!(isObj || isRel || isMiss || isIdLog))).head()
    val Seq(objects, relations, misses, idLogs, other) =
      (0 until 5).map(i => if (c.isNullAt(i)) 0L else c.getLong(i))
    val perVolume = rows.filter(isObj).groupBy(col("volumeUuid")).count()
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1)).toMap
    val rels = rows.filter(isRel)
    val danglingTo = rels.join(dimIds, rels("to") === dimIds("addressId"), "left_anti").count()
    val objIds = rows.filter(isObj).select(col("id").as("_oid"))
    val danglingFrom = rels.join(objIds, rels("from") === objIds("_oid"), "left_anti").count()
    val hitRatio = if (relations + misses == 0) 0.0 else relations.toDouble / (relations + misses)
    val extra = perVolume.keySet -- exp.linesPerVolume.keySet
    val wrong = exp.linesPerVolume.filter { case (v, k) => perVolume.getOrElse(v, 0L) != k }
    val failures = Seq(
      (objects + idLogs == exp.linesPerVolume.values.sum && idLogs == 0) ->
        s"lines: objects $objects + id logs $idLogs != selected lines ${exp.linesPerVolume.values.sum}",
      wrong.isEmpty -> s"objects per volume differ for ${wrong.size} volumes, e.g. ${wrong.take(3)}",
      extra.isEmpty -> s"records from unselected or dead-lettered volumes: ${extra.take(3)}",
      (relations == exp.hits) -> s"relations $relations != found geocodes ${exp.hits}",
      (danglingTo == 0) -> s"$danglingTo relation.to not a dimension addressId",
      (danglingFrom == 0) -> s"$danglingFrom relation.from not an emitted object id",
      (misses == exp.misses) -> s"miss logs $misses != not-found locations ${exp.misses}",
      (hitRatio == exp.hitRatio) -> s"hit ratio $hitRatio != seeded ${exp.hitRatio}",
      (other == 0) -> s"$other records of unknown kind"
    ).collect { case (false, msg) => msg }
    (failures, hitRatio)
  }

  /** Order-independent digest of a result: row count and two 32-bit sums
    * of a 64-bit row hash over every column.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }.toIndexedSeq
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)),
        sum(shiftrightunsigned(col("h"), 32))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    f"${l(0)}%d-${l(1)}%x-${l(2)}%x"
  }

  /** Digest of the written union's text, kind included. */
  def outputDigest(rows: DataFrame): String = digest(rows.select(col("type"), col("value")))
}

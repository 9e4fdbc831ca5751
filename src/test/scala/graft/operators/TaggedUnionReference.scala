package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four-branch form of [[TransformOps.taggedUnion]]: one `select`
  * per record kind over the same input, unioned by name. It reads as a
  * line-by-line transcription of city-directories.js:338-451 and is kept
  * as the equivalence reference for the single-generator form. Do not
  * use it in a pipeline: each branch of the union re-runs everything
  * upstream of `lines` (scan, column detection, entry parse, geocode).
  */
object TaggedUnionReference {

  def taggedUnion(lines: DataFrame): DataFrame = {
    val id = CityDirOps.mintId(
      col("yearMin"), col("yearMax"), col("pageNum"), col("bbox"))
    val withId = lines.withColumn("_id", id)

    val found = filter(col("geocoded"), g => g.getField("found"))
    // address projection (city-directories.js:384-391)
    val addresses = transform(found, g => struct(
      g.getField("result").getField("properties").getField("address")
        .getField("id").as("id"),
      g.getField("result").getField("properties").getField("address")
        .getField("name").as("name"),
      g.getField("result").getField("properties").getField("street")
        .getField("name").as("street"),
      g.getField("result").getField("properties").getField("street")
        .getField("id").as("streetId")))
    val geometries = transform(found, g => g.getField("result").getField("geometry"))

    // object record (city-directories.js:410-429)
    val objects = withId.filter(col("_id").isNotNull).select(
      lit("object").as("type"),
      col("_id").as("id"),
      lit("st:Person").as("objType"),
      CityDirOps.firstElement(col("parsed.subjects")).as("name"),
      col("yearMin").as("validSince"),
      col("yearMax").as("validUntil"),
      struct(
        col("uuid").as("volumeUuid"),
        col("pageUuid"),
        col("pageNum"),
        col("bbox"),
        col("text"),
        CityDirOps.firstElement(col("parsed.occupations")).as("occupation"),
        col("parsed.locations").as("locations"),
        addresses.as("geocoded")).as("data"),
      CityDirOps.multiPoint(geometries).as("geometry"))

    // edge records: one per found address (city-directories.js:395-399)
    val relations = withId.filter(col("_id").isNotNull)
      .select(col("_id"), explode(addresses).as("_addr"))
      .select(
        lit("relation").as("type"),
        col("_addr.id").as("to"),
        col("_id").as("from"),
        lit("st:in").as("relType"))

    // log records: geocode misses (city-directories.js:401-404) …
    val missLogs = withId.filter(col("_id").isNotNull)
      .select(col("_id"),
        explode(filter(col("geocoded"), g => !g.getField("found"))).as("_miss"))
      .select(
        lit("log").as("type"),
        col("_id").as("id"),
        col("_miss.error").as("error"))
    // … and id-minting failures (city-directories.js:356-364)
    val idLogs = withId.filter(col("_id").isNull).select(
      lit("log").as("type"),
      lit("Coult not create ID").as("error"),
      col("text"))

    objects
      .unionByName(relations, allowMissingColumns = true)
      .unionByName(missLogs, allowMissingColumns = true)
      .unionByName(idLogs, allowMissingColumns = true)
  }
}

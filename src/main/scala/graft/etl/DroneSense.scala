package graft.etl

import graft.functions.Geo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity ETL pipeline: DroneSense telemetry → TAK
  * Cursor-on-Target (CoT) GeoJSON features.
  *
  * Re-expresses the reference connector's record loop (task.ts:123-214) as
  * ONE declarative column transform — `struct`/`array`/`when` plus
  * higher-order array functions — so the whole pipeline is a single
  * narrow-dependency projection. An in-memory payload ([[parseJson]]) is
  * decoded and transformed on the driver through `LocalRelation` folding,
  * with no Spark job; [[readJson]] and [[streamFromJsonDir]] inputs stay
  * distributed. Fidelity subtleties preserved (SURVEY.md §7.5):
  *
  *  - a sensor qualifies for video only when `rtsp_url` is non-null AND
  *    non-empty (JS falsiness, task.ts:146), and only the FIRST qualifying
  *    sensor is used (`break`, task.ts:177);
  *  - the viewer link's `url` copies `video_url` WITHOUT a null check
  *    (task.ts:173) — a null url link is emitted whenever rtsp exists;
  *  - the sensor-FOV block requires BOTH spoiLat and spoiLng strictly
  *    nonzero (task.ts:183);
  *  - geometry is `[longitude, latitude, altitudeAgl]` — AGL, not MSL
  *    (task.ts:139);
  *  - `properties.metadata` embeds the whole input record (task.ts:133).
  */
object DroneSense {

  /** Input schema — mirror of the reference's TypeBox declaration
    * (task.ts:52-72). `video_url`/`rtsp_url` are optional ⇒ nullable.
    */
  val sensorSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("video_url", StringType, nullable = true),
    StructField("rtsp_url", StringType, nullable = true)))

  val droneSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("callSign", StringType, nullable = false),
    StructField("missionName", StringType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    StructField("lastUpdate", DoubleType, nullable = false),
    StructField("altitudeAgl", DoubleType, nullable = false),
    StructField("altitudeMsl", DoubleType, nullable = false),
    StructField("speed", DoubleType, nullable = false),
    StructField("heading", DoubleType, nullable = false),
    StructField("spoiLat", DoubleType, nullable = false),
    StructField("spoiLng", DoubleType, nullable = false),
    StructField("sensors", ArrayType(sensorSchema, containsNull = false), nullable = false)))

  /** Read a DroneSense payload (a JSON array of records) from a file path.
    * Schema-on-read with the declared schema ≙ the reference's TypeBox
    * decode (task.ts:119); [[validate]] adds the strict-failure behaviour.
    */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(droneSchema).option("multiLine", value = true).json(path)

  /** Parse an in-memory JSON payload (e.g. fetched by [[HttpJson]]) on
    * the driver into a `LocalRelation` ([[HttpJson.parseArray]]).
    * A malformed payload FAILS LOUDLY instead of yielding zero rows, i.e.
    * silent data loss on a corrupt upstream response (the reference's
    * `.typed` also throws, task.ts:119-121).
    */
  def parseJson(spark: SparkSession, payload: String): DataFrame =
    parseJson(spark, payload, verbose = false, log = defaultLog)

  /** [[parseJson]] with the reference's verbose typed decode
    * (`droneres.typed(..., {verbose: env.DEBUG})`, task.ts:119-121):
    * when `verbose`, the decoded records are printed to logs. `log` is
    * injectable so tests can assert the gate without capturing log4j
    * output; NOTHING here ever logs headers or tokens — only the decoded
    * payload, as the reference does.
    */
  def parseJson(spark: SparkSession, payload: String, verbose: Boolean,
                log: String => Unit): DataFrame = {
    // The declared relation is an ARRAY of records (task.ts:119).
    val records = HttpJson.parseArray(spark, payload, droneSchema)
    if (verbose) {
      // "Print results in logs" (task.ts:80): a bounded record sample.
      val sample = jsonLines(records.limit(3))
      log(s"[dronesense] decoded payload sample (${sample.length} shown):\n" +
        sample.mkString("\n"))
    }
    records
  }

  /** `toJSON` as a projection, which folds over a `LocalRelation` where
    * `toJSON` (a `MapPartitions`) always starts a job. */
  private def jsonLines(df: DataFrame): Array[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0))

  private def defaultLog: String => Unit =
    org.apache.logging.log4j.LogManager.getLogger(getClass).info(_)

  /** The reference's `control()` end-to-end (task.ts:104-217): resolve
    * env, GET the drones-with-sensors endpoint with the token header,
    * strictly decode (verbose when `env.debug`), validate, transform to
    * CoT features. The returned frame is driver-local; pair with
    * [[toFeatureCollectionJson]] + [[HttpJson.sink]] for the submit half.
    */
  def fromApi(spark: SparkSession, url: String, env: Environment,
              log: String => Unit = defaultLog): DataFrame =
    toCot(validate(parseJson(spark, HttpJson.get(url, env.apiHeaders),
      verbose = env.debug, log = log)))

  /** Strict schema validation ≙ `droneres.typed(...)` (task.ts:119-121):
    * every required field must be present and non-null. Returns the input
    * unchanged; throws with a sample of offending records otherwise.
    */
  def validate(df: DataFrame): DataFrame = {
    val required = droneSchema.fields.filterNot(_.nullable).map(_.name)
    val anyNull = required.map(col(_).isNull).reduce(_ || _)
    // Collect up to 5 offenders and branch on emptiness.
    val sample = jsonLines(df.filter(anyNull).limit(5))
    if (sample.nonEmpty) {
      throw new IllegalArgumentException(
        s"DroneSense payload failed schema validation; sample offenders:\n${sample.mkString("\n")}")
    }
    df
  }

  /** A sensor qualifies when rtsp_url is truthy in the JS sense. */
  private def hasRtsp(sensor: Column): Column = {
    val u = sensor.getField("rtsp_url")
    u.isNotNull && u =!= ""
  }

  /** The full record→feature transform (task.ts:123-214), one projection. */
  def toCot(drones: DataFrame): DataFrame = {
    // try_element_at: NULL (not an ANSI error) when no sensor qualifies.
    val firstSensor = try_element_at(
      filter(col("sensors"), hasRtsp _), lit(1))

    val video = struct(
      col("id").as("uid"),
      concat(col("callSign"), lit("-camera")).as("sensor"),
      col("_sensor").getField("rtsp_url").as("url"),
      struct(
        col("id").as("uid"),
        lit(12000).as("networkTimeout"),
        lit("").as("path"),
        lit("raw").as("protocol"),
        lit(-1).as("bufferTime"),
        col("_sensor").getField("rtsp_url").as("address"),
        lit(-1).as("port"),
        lit(-1).as("roverPort"),
        lit(0).as("rtspReliable"),
        lit(false).as("ignoreEmbeddedKLV"),
        col("callSign").as("alias")).as("connection"))

    val link = struct(
      col("id").as("uid"),
      lit("r-u").as("relation"),
      lit("text/html").as("type"),
      col("_sensor").getField("video_url").as("url"),
      lit("DroneSense Viewer").as("remarks"))

    val fov = struct(
      Geo.initialBearing(col("latitude"), col("longitude"),
        col("spoiLat"), col("spoiLng")).as("azimuth"),
      lit(45).as("fov"),
      lit(45).as("vfov"),
      Geo.haversineMeters(col("latitude"), col("longitude"),
        col("spoiLat"), col("spoiLng")).as("range"),
      lit(0).as("elevation"),
      lit(0).as("roll"),
      lit(0).as("displayMagneticReference"),
      lit(-16777216).as("strokeColor"),
      lit(0.5).as("strokeWeight"),
      lit(1.0).as("fovRed"),
      lit(0.5).as("fovGreen"),
      lit(0.0).as("fovBlue"),
      lit(0.3).as("fovAlpha"),
      lit(100).as("rangeLines"),
      lit(-16777216).as("rangeLineStrokeColor"),
      lit(1.0).as("rangeLineStrokeWeight"))

    drones
      .withColumn("_sensor", firstSensor)
      .select(
        col("id"),
        lit("Feature").as("type"),
        struct(
          lit("a-f-A-M-H-Q").as("type"),
          col("callSign").as("callsign"),
          col("speed"),
          col("heading").as("course"),
          when(col("_sensor").isNotNull, array(link))
            .otherwise(array().cast(
              "array<struct<uid:string,relation:string,type:string,url:string,remarks:string>>"))
            .as("links"),
          struct(drones.columns.map(col).toIndexedSeq: _*).as("metadata"),
          when(col("_sensor").isNotNull, video).as("video"),
          when(col("spoiLat") =!= 0 && col("spoiLng") =!= 0, fov).as("sensor"))
          .as("properties"),
        struct(
          lit("Point").as("type"),
          array(col("longitude"), col("latitude"), col("altitudeAgl"))
            .as("coordinates")).as("geometry"))
  }

  /** Materialise a GeoJSON FeatureCollection string — the sink-side
    * serialisation (task.ts:107-110, 216). Only the feature strings are
    * collected. Empty input still yields a valid empty collection.
    */
  def toFeatureCollectionJson(features: DataFrame): String = {
    val rows = jsonLines(features)
    rows.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  }

  /** Streaming form of the pipeline (SURVEY.md §1.3: micro-batch ≙ one
    * scheduled invocation of the reference, task.ts:87): watch a
    * directory for JSON payload files, validate shape via the declared
    * schema, run the SAME `toCot` transform. Drive with
    * `.writeStream.foreachBatch { (batch, _) => sink(batch) }` — e.g. an
    * [[HttpJson.sink]] POST per micro-batch, exactly the reference's
    * submit cadence.
    */
  def streamFromJsonDir(spark: SparkSession, dir: String): DataFrame =
    toCot(spark.readStream
      .schema(droneSchema)
      .option("multiLine", value = true)
      .json(dir))

  /** The embedded test fixture (FIXTURES.md A1) as a DataFrame. */
  def fixture(spark: SparkSession): DataFrame = {
    val url = getClass.getResource("/graft/drones.json")
    require(url != null, "embedded fixture /graft/drones.json missing")
    val payload = scala.io.Source.fromURL(url, "UTF-8").mkString
    parseJson(spark, payload)
  }
}

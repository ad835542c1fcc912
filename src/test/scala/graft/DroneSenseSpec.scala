package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.etl.{DroneSense, HttpJson}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, from_json}
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite

/** Golden-file parity for the DroneSense→CoT pipeline (SURVEY.md §5.3).
  *
  * The golden file (src/test/resources/cot_golden.json) is produced by an
  * INDEPENDENT plain-Python implementation of the reference semantics
  * (tools/gen_golden.py), so a shared bug between transform and expectation
  * is unlikely. JSON comparison treats `null` and absent as equal (Spark's
  * toJSON omits null fields; the JS reference emits explicit nulls) and
  * numbers with 1e-6 relative tolerance (libm last-ulp drift).
  */
class DroneSenseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper()

  private def dropNulls(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      o.properties().asScala.foreach { e =>
        if (!e.getValue.isNull) out.set[JsonNode](e.getKey, dropNulls(e.getValue))
      }
      out
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      a.elements().asScala.foreach(e => out.add(dropNulls(e)))
      out
    case other => other
  }

  private def assertSame(path: String, got: JsonNode, want: JsonNode): Unit = {
    if (got.isNumber && want.isNumber) {
      val (g, w) = (got.asDouble(), want.asDouble())
      val tol = math.max(1e-9, math.abs(w) * 1e-6)
      assert(math.abs(g - w) <= tol, s"$path: got $g want $w")
    } else if (got.isObject && want.isObject) {
      val gk = got.properties().asScala.map(_.getKey).toSet
      val wk = want.properties().asScala.map(_.getKey).toSet
      assert(gk == wk, s"$path: keys got $gk want $wk")
      gk.foreach(k => assertSame(s"$path.$k", got.get(k), want.get(k)))
    } else if (got.isArray && want.isArray) {
      assert(got.size() == want.size(), s"$path: size ${got.size()} want ${want.size()}")
      (0 until got.size()).foreach(i => assertSame(s"$path[$i]", got.get(i), want.get(i)))
    } else {
      assert(got == want, s"$path: got $got want $want")
    }
  }

  test("CoT transform matches the independently computed golden file") {
    val cot = DroneSense.toCot(DroneSense.validate(DroneSense.fixture(spark)))
      .orderBy(col("id"))
    val gotJson = DroneSense.toFeatureCollectionJson(cot)
    val goldenUrl = getClass.getResource("/cot_golden.json")
    assert(goldenUrl != null, "golden file missing")
    val got = dropNulls(mapper.readTree(gotJson))
    val want = dropNulls(mapper.readTree(goldenUrl))
    assertSame("$", got, want)
  }

  test("empty payload still yields a valid empty FeatureCollection (task.ts:107-110,216)") {
    val empty = DroneSense.parseJson(spark, "[]")
    val json = DroneSense.toFeatureCollectionJson(DroneSense.toCot(empty))
    assert(json == """{"type":"FeatureCollection","features":[]}""")
  }

  test("malformed payload fails loudly instead of silently yielding zero rows") {
    intercept[IllegalArgumentException] {
      DroneSense.parseJson(spark, "this is not json")
    }
    intercept[IllegalArgumentException] {
      DroneSense.parseJson(spark, """{"not": "an array"}""")
    }
    // empty array is VALID (empty FeatureCollection still produced)
    assert(DroneSense.parseJson(spark, "[]").count() == 0)
  }

  test("strict validation rejects records missing required fields (task.ts:119-121)") {
    val bad = DroneSense.parseJson(spark,
      """[{"callSign": "X", "sensors": []}]""")
    intercept[IllegalArgumentException] { DroneSense.validate(bad) }
  }

  test("streaming pipeline over a watched dir equals the batch transform") {
    val dir = java.nio.file.Files.createTempDirectory("drones-stream").toString
    // Stage the fixture payload as one file in the watched directory.
    val payload = scala.io.Source.fromURL(
      getClass.getResource("/graft/drones.json"), "UTF-8").mkString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "batch1.json"), payload)

    val q = DroneSense.streamFromJsonDir(spark, dir)
      .writeStream.format("memory").queryName("cot_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cot_stream").orderBy(col("id"))
      val batch = DroneSense.toCot(DroneSense.fixture(spark)).orderBy(col("id"))
      assert(DroneSense.toFeatureCollectionJson(streamed)
        == DroneSense.toFeatureCollectionJson(batch))
    } finally q.stop()
  }

  test("only the first truthy rtsp sensor feeds video; empty string is falsy") {
    val cot = DroneSense.toCot(DroneSense.fixture(spark)).orderBy(col("id"))
    val rows = cot.select(col("id"), col("properties.video.url").as("u")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows("d3").contains("rtsp://cam.example/d3b")) // second sensor wins
    assert(rows("d7").contains("rtsp://cam.example/d7a")) // break after first
    assert(rows("d8").isEmpty)                            // "" is falsy
    assert(rows("d1").isEmpty)                            // no sensors
  }

  private def fixturePayload: String = scala.io.Source.fromURL(
    getClass.getResource("/graft/drones.json"), "UTF-8").mkString

  /** Jobs that `body`, run on this thread, starts. Jobs are matched by a
    * job group, so work other threads start is not counted.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsStartedBy")
    try { body; ListenerBusDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    started.get
  }

  test("an in-memory invocation starts no Spark job") {
    var out: String = null
    assert(jobsStartedBy {
      out = DroneSense.toFeatureCollectionJson(DroneSense.toCot(
        DroneSense.validate(DroneSense.parseJson(spark, fixturePayload))))
    } == 0)
    assert(mapper.readTree(out).get("features").size == 8)
    assert(jobsStartedBy {
      HttpJson.parseArray(spark, fixturePayload, DroneSense.droneSchema)
    } == 0)
  }

  /** The `Dataset.toJSON` serializer `toFeatureCollectionJson` used to
    * have, kept here only as the reference for its replacement.
    */
  private def toJsonReference(features: DataFrame): String =
    features.toJSON.collect()
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  private def drone(id: String, sensors: String, spoiLat: Double, spoiLng: Double,
                    longitude: Double = 10.7522): String =
    s"""[{"id":"$id","callSign":"CS-$id","missionName":"m","model":"x",""" +
      s""""latitude":59.9139,"longitude":$longitude,"lastUpdate":1.7e12,""" +
      s""""altitudeAgl":50.0,"altitudeMsl":120.0,"speed":4.5,"heading":90.0,""" +
      s""""spoiLat":$spoiLat,"spoiLng":$spoiLng,"sensors":$sensors}]"""

  test("toFeatureCollectionJson is byte-identical to the toJSON serializer") {
    val payloads = Seq(
      "fixture" -> fixturePayload,
      "sensors []" -> drone("a", "[]", 59.92, 10.76),
      "rtsp_url null" -> drone("b",
        """[{"id":"s0","name":"n","video_url":"http://v/0","rtsp_url":null}]""", 0, 0),
      "rtsp_url empty" -> drone("c",
        """[{"id":"s0","name":"n","video_url":"http://v/0","rtsp_url":""}]""", 0, 0),
      "rtsp_url on the second sensor" -> drone("d",
        """[{"id":"s0","name":"n"},""" +
          """{"id":"s1","name":"n","video_url":"http://v/1","rtsp_url":"rtsp://r/1"}]""",
        59.92, 10.76),
      "SPOI zero" -> drone("e", "[]", 0, 0),
      "SPOI nonzero" -> drone("f", "[]", 59.92, 10.76),
      "SPOI across the antimeridian" -> drone("g", "[]", -16.93, -179.9, longitude = 179.9),
      "empty" -> "[]")
    payloads.foreach { case (name, payload) =>
      val cot = DroneSense.toCot(DroneSense.validate(DroneSense.parseJson(spark, payload)))
      assert(DroneSense.toFeatureCollectionJson(cot) == toJsonReference(cot), name)
    }
  }

  test("parseJson keeps the schema of the from_json + explode decode") {
    import spark.implicits._
    // With droneSchema's non-nullable fields instead, the optimizer would
    // fold validate's isNull checks to false over the local rows.
    val exploded = spark.createDataset(Seq(fixturePayload))
      .select(from_json(col("value"), ArrayType(DroneSense.droneSchema)).as("arr"))
      .select(explode(col("arr")).as("r")).select(col("r.*"))
    assert(DroneSense.parseJson(spark, fixturePayload).schema == exploded.schema)
    assert(DroneSense.parseJson(spark, "[]").schema == exploded.schema)
  }
}

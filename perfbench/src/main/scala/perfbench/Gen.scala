package perfbench

import java.util.SplittableRandom

/** Every input the benchmark varies comes from here, as a pure function of
  * the workload seed: the op order of each pass, the order batch each
  * graph write retracts and re-inserts, and the cot_feed payloads and
  * arrival schedule. The same seed always gives the same inputs.
  */
object Gen {
  /** An independent stream per (seed, purpose, index). */
  def rng(seed: Long, purpose: String, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 31L ^ index)

  /** The op order for pass `pass` (Fisher-Yates). */
  def shuffle[T](ops: Seq[T], seed: Long, pass: Int): Seq[T] = {
    val r = rng(seed, "order", pass)
    val a = ops.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** The 1 % order batch (`pmod(l_orderkey, 100) == residue`) that the
    * graph write retracts and re-inserts.
    */
  def writeResidue(seed: Long): Int = rng(seed, "write").nextInt(100)

  /** One generated drone record: the fields `toCot` branches on. */
  final case class Sensor(id: String, name: String, videoUrl: Option[String],
                          rtspUrl: Option[String])
  final case class Drone(id: String, callSign: String, lat: Double, lon: Double,
                         spoiLat: Double, spoiLng: Double, sensors: Seq[Sensor])

  /** `n` payloads; each is a JSON array of 1-12 drones with 0-3 sensors.
    * A sensor's `rtsp_url` is null, empty or set, and a drone's SPOI is
    * zero or nonzero, so together the payloads reach every branch of
    * `toCot`. Payload 0 carries one drone of each shape, so even a short
    * run covers all of them.
    */
  def payloads(seed: Long, n: Int): IndexedSeq[IndexedSeq[Drone]] =
    (0 until n).map { p =>
      val r = rng(seed, "payload", p)
      val count = if (p == 0) Shapes else 1 + r.nextInt(12)
      (0 until count).map { d =>
        val shape = if (p == 0) d else r.nextInt(Shapes)
        drone(r, s"p$p-d$d", shape)
      }
    }

  /** Distinct drone shapes: sensors [] / rtsp null / rtsp "" / rtsp on
    * the second sensor / rtsp without video_url, crossed with SPOI zero,
    * nonzero, and nonzero across the antimeridian.
    */
  val Shapes = 6

  private def drone(r: SplittableRandom, id: String, shape: Int): Drone = {
    val lat = -60 + r.nextDouble() * 120
    val lon = if (shape == 5) 179.9 else -179 + r.nextDouble() * 358
    def s(i: Int, video: Option[String], rtsp: Option[String]) =
      Sensor(s"$id-s$i", s"cam$i", video, rtsp)
    val sensors = shape match {
      case 0 => Nil
      case 1 => Seq(s(0, Some("http://v/0"), None))
      case 2 => Seq(s(0, Some("http://v/0"), Some("")), s(1, None, None))
      case 3 => Seq(s(0, None, None), s(1, Some("http://v/1"), Some("rtsp://r/1")),
                    s(2, Some("http://v/2"), Some("rtsp://r/2")))
      case 4 => Seq(s(0, None, Some("rtsp://r/0")))
      case _ => Seq(s(0, Some("http://v/0"), Some("rtsp://r/0")))
    }
    val (sLat, sLng) = shape match {
      case 0 | 2 => (0.0, 0.0)
      case 5 => (lat + 0.01, -179.9)
      case _ => (lat + r.nextDouble() * 0.05, lon + r.nextDouble() * 0.05)
    }
    Drone(id, s"CS-$id", lat, lon, sLat, sLng, sensors)
  }

  /** The payload as the DroneSense API would send it. */
  def json(drones: Seq[Drone]): String = {
    def str(o: Option[String]) = o.fold("null")(Json.quote)
    drones.map { d =>
      val sensors = d.sensors.map { s =>
        s"""{"id":${Json.quote(s.id)},"name":${Json.quote(s.name)},""" +
          s""""video_url":${str(s.videoUrl)},"rtsp_url":${str(s.rtspUrl)}}"""
      }.mkString("[", ",", "]")
      s"""{"id":${Json.quote(d.id)},"callSign":${Json.quote(d.callSign)},""" +
        s""""missionName":"m","model":"x","latitude":${d.lat},"longitude":${d.lon},""" +
        s""""lastUpdate":1.7e12,"altitudeAgl":50.0,"altitudeMsl":120.0,""" +
        s""""speed":4.5,"heading":90.0,"spoiLat":${d.spoiLat},"spoiLng":${d.spoiLng},""" +
        s""""sensors":$sensors}"""
    }.mkString("[", ",", "]")
  }

  /** Due times (seconds from the segment start) of `n` invocations at
    * `rateHz`: a fixed period, each arrival shifted by a seeded jitter of
    * up to a fifth of the period, kept in order.
    */
  def schedule(seed: Long, segment: Int, rateHz: Double, n: Int): IndexedSeq[Double] = {
    val r = rng(seed, "schedule", segment)
    val period = 1.0 / rateHz
    (0 until n).map(i => i * period + (r.nextDouble() - 0.5) * 0.4 * period + 0.2 * period)
  }
}

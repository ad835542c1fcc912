package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed gives the same inputs; another seed other inputs") {
    assert(Gen.payloads(7, 16) == Gen.payloads(7, 16))
    assert(Gen.payloads(7, 16) != Gen.payloads(8, 16))
    assert(Gen.schedule(7, 0, 2.0, 50) == Gen.schedule(7, 0, 2.0, 50))
    assert(Gen.schedule(7, 0, 2.0, 50) != Gen.schedule(8, 0, 2.0, 50))
    assert(Gen.writeResidue(7) == Gen.writeResidue(7))
    assert((1 to 20).map(Gen.writeResidue(_)).distinct.size > 1)
    val ops = (1 to 30).map(i => s"q$i")
    assert(Gen.shuffle(ops, 7, 3) == Gen.shuffle(ops, 7, 3))
    assert(Gen.shuffle(ops, 7, 3) != Gen.shuffle(ops, 7, 4))
  }

  test("a shuffle is a permutation and a write batch a 1 % residue") {
    val ops = (1 to 56).map(i => s"q$i")
    assert(Gen.shuffle(ops, 1, 0).sorted == ops.sorted)
    assert((0 until 200).map(Gen.writeResidue(_)).forall(r => r >= 0 && r < 100))
  }

  test("due times are in order, one period apart within the jitter") {
    val d = Gen.schedule(5, 1, 2.0, 100)
    assert(d.zip(d.tail).forall { case (a, b) => b > a })
    assert(d.zipWithIndex.forall { case (t, i) => t >= i * 0.5 && t <= i * 0.5 + 0.2 })
  }

  test("payload 0 reaches every toCot branch, and every payload is valid JSON") {
    val ps = Gen.payloads(11, 16)
    val first = ps.head
    assert(first.size == Gen.Shapes)
    assert(first.exists(_.sensors.isEmpty))
    assert(first.exists(d => d.sensors.nonEmpty && d.sensors.forall(_.rtspUrl.isEmpty)))
    assert(first.exists(_.sensors.exists(_.rtspUrl.contains(""))))
    assert(first.exists(d => d.sensors.size > 1 && d.sensors.head.rtspUrl.isEmpty &&
      d.sensors(1).rtspUrl.exists(_.nonEmpty)))
    assert(first.exists(_.sensors.exists(s => s.rtspUrl.exists(_.nonEmpty) && s.videoUrl.isEmpty)))
    assert(first.exists(d => d.spoiLat == 0 && d.spoiLng == 0))
    assert(first.exists(d => d.spoiLat != 0 && d.spoiLng != 0))
    assert(first.exists(d => d.lon > 179 && d.spoiLng < -179))
    val m = new ObjectMapper
    ps.foreach { p =>
      val arr = m.readTree(Gen.json(p))
      assert(arr.size == p.size && p.size >= 1 && p.size <= 12)
      assert((0 until arr.size).map(arr.get(_).get("id").asText) == p.map(_.id))
    }
  }
}

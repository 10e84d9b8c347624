package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side KCV model: unsigned order and delete-before-add. */
class KcvModelSpec extends AnyFunSuite {
  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def hexes(cells: Seq[(Array[Byte], Array[Byte], Array[Byte])]) =
    cells.map { case (k, c, _) => KcvModel.hex(k) + "/" + KcvModel.hex(c) }

  test("0x80 sorts after 0x7f") {
    assert(KcvModel.Unsigned.compare(b(0x80), b(0x7f)) > 0)
    assert(KcvModel.Unsigned.compare(b(0xff), b(0x00)) > 0)
    assert(KcvModel.Unsigned.compare(b(0x01, 0x80), b(0x01, 0x7f, 0xff)) > 0)
  }

  test("a slice walks columns in unsigned order and stops at its bound") {
    val m = new KcvModel
    val k = b(0x00)
    Seq(0x7f, 0x80, 0xff, 0x00).foreach(c => m.put(k, b(c), b(1)))
    assert(hexes(m.slice(k, b(0x00), b(0xff), 10)) == Seq("00/00", "00/7f", "00/80"))
    assert(hexes(m.slice(k, b(0x7f), b(0xff), 1)) == Seq("00/7f"))
  }

  test("key ranges include keys at and above 0x80") {
    val m = new KcvModel
    Seq(0x10, 0x7f, 0x80, 0xfe).foreach(k => m.put(b(k), b(0x01), b(1)))
    assert(m.keysIn(b(0x7f), b(0xff)).map(KcvModel.hex) == Seq("7f", "80", "fe"))
    assert(hexes(m.keySlices(b(0x80), b(0xff), b(0x00), b(0xff), 5)) == Seq("80/01", "fe/01"))
  }

  test("mutate deletes before it adds, and an addition replaces its cell") {
    val m = new KcvModel
    m.put(b(1), b(1), b(10))
    m.put(b(1), b(2), b(20))
    m.mutate(additions = Seq((b(1), b(1), b(11)), (b(1), b(3), b(30))),
      deletions = Seq((b(1), b(1)), (b(1), b(2))))
    val cells = m.slice(b(1), b(0), b(0xff), 10)
    assert(hexes(cells) == Seq("01/01", "01/03"))
    assert(cells.head._3.toSeq == Seq(11.toByte))
  }

  test("successor is the next fixed-width key") {
    assert(KcvModel.hex(KcvModel.successor(b(0x00, 0xff))) == "0100")
    assert(KcvModel.hex(KcvModel.successor(b(0x7f))) == "80")
  }
}

package graft.perfbench

import java.util.{Comparator, TreeMap => JTreeMap}

import scala.jdk.CollectionConverters._

/** Driver-side model of a KCV store: every cell in one TreeMap keyed by
  * (k, c) under unsigned lexicographic byte order — JanusGraph's order,
  * and the order Spark's BinaryType compares in. `mutate` applies
  * deletions strictly before additions, and an addition replaces its
  * own cell (the reference's upsert). */
final class KcvModel {
  import KcvModel._

  private val cells = new JTreeMap[Cell, Array[Byte]](CellOrder)

  def size: Int = cells.size()

  def put(k: Array[Byte], c: Array[Byte], v: Array[Byte]): Unit = cells.put(Cell(k, c), v)

  def mutate(additions: Seq[(Array[Byte], Array[Byte], Array[Byte])],
             deletions: Seq[(Array[Byte], Array[Byte])]): Unit = {
    deletions.foreach { case (k, c) => cells.remove(Cell(k, c)) }
    additions.foreach { case (k, c, v) => cells.put(Cell(k, c), v) }
  }

  /** getSlice: key `k`, columns in [cStart, cEnd), the first `limit`. */
  def slice(k: Array[Byte], cStart: Array[Byte], cEnd: Array[Byte],
            limit: Int): Seq[(Array[Byte], Array[Byte], Array[Byte])] =
    cells.subMap(Cell(k, cStart), true, Cell(k, cEnd), false).asScala.iterator
      .take(limit).map { case (cell, v) => (cell.k, cell.c, v) }.toSeq

  /** keySlices: keys in [kStart, kEnd), each key's first `limit` columns
    * in [cStart, cEnd). */
  def keySlices(kStart: Array[Byte], kEnd: Array[Byte], cStart: Array[Byte],
                cEnd: Array[Byte], limit: Int): Seq[(Array[Byte], Array[Byte], Array[Byte])] =
    keysIn(kStart, kEnd).flatMap(k => slice(k, cStart, cEnd, limit))

  /** The distinct keys in [kStart, kEnd). */
  def keysIn(kStart: Array[Byte], kEnd: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var cur = cells.ceilingKey(Cell(kStart, Empty))
    while (cur != null && Unsigned.compare(cur.k, kEnd) < 0) {
      out += cur.k
      cur = cells.ceilingKey(Cell(successor(cur.k), Empty))
    }
    out.result()
  }

  def liveBytes: Double =
    allCells.map { case (k, c, v) => (k.length + c.length + v.length).toDouble }.sum

  def allCells: Iterator[(Array[Byte], Array[Byte], Array[Byte])] =
    cells.entrySet().iterator().asScala.map(e => (e.getKey.k, e.getKey.c, e.getValue))
}

object KcvModel {
  val Empty: Array[Byte] = Array.emptyByteArray

  /** Unsigned lexicographic order: 0x80 sorts after 0x7f. */
  object Unsigned extends Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  final case class Cell(k: Array[Byte], c: Array[Byte])

  object CellOrder extends Comparator[Cell] {
    override def compare(a: Cell, b: Cell): Int = {
      val byK = Unsigned.compare(a.k, b.k)
      if (byK != 0) byK else Unsigned.compare(a.c, b.c)
    }
  }

  /** `k` plus one as a fixed-width unsigned number (carrying), or `k`
    * extended by a zero byte when it is all 0xff: the smallest byte string
    * of at least `k`'s length that sorts after `k`. */
  def successor(k: Array[Byte]): Array[Byte] = {
    val out = k.clone()
    var i = out.length - 1
    while (i >= 0 && out(i) == 0xff.toByte) { out(i) = 0; i -= 1 }
    if (i < 0) k :+ 0.toByte else { out(i) = (out(i) + 1).toByte; out }
  }

  def be(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's change model: lineitem-shaped rows (the sf0.1
  * `lineitem` column set and value ranges) and the transactions the
  * loopback primary sends. Everything derives from the workload seed, so
  * the generator process and the correctness check in the program's
  * process rebuild the same changes independently.
  */
object Model {
  val Namespace = "public"
  val Table = "lineitem"
  val RelId = 16385
  val KeyField = "l_orderkey"

  /** Column name and whether it is part of the replica identity. */
  val Columns: IndexedSeq[(String, Boolean)] = IndexedSeq(
    "l_orderkey" -> true, "l_partkey" -> false, "l_suppkey" -> false,
    "l_linenumber" -> true, "l_quantity" -> false, "l_extendedprice" -> false,
    "l_discount" -> false, "l_tax" -> false, "l_returnflag" -> false,
    "l_linestatus" -> false, "l_shipdate" -> false)

  sealed trait Op { def name: String }
  case object Insert extends Op { val name = "INSERT" }
  case object Update extends Op { val name = "UPDATE" }
  case object Delete extends Op { val name = "DELETE" }

  /** One row change; `cells` is the full post-image for INSERT/UPDATE and
    * the key columns for DELETE (the rest are absent).
    */
  final case class Change(op: Op, orderKey: Long, lineNumber: Int,
      cells: IndexedSeq[String]) {
    /** The image the sink's value serializes, minus the injected
      * `operation` field: full row for INSERT/UPDATE, key columns for
      * DELETE (a key-only pre-image).
      */
    def image: Seq[(String, String)] =
      if (op == Delete) Seq("l_orderkey" -> orderKey.toString,
        "l_linenumber" -> lineNumber.toString)
      else Columns.map(_._1).zip(cells)
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def fixed(v: Double, digits: Int): String =
    java.math.BigDecimal.valueOf(v).setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString

  private val flags = Array("R", "A", "N")
  private val status = Array("O", "F")

  /** A full lineitem row for (orderKey, lineNumber), varied by `version`
    * so an UPDATE changes the non-key columns.
    */
  def row(seed: Long, orderKey: Long, lineNumber: Int, version: Int): IndexedSeq[String] = {
    val r = new SplittableRandom(mix(mix(seed, orderKey * 8 + lineNumber), version))
    val qty = 1 + r.nextInt(50)
    val price = qty * (900 + r.nextInt(100000)) / 100.0
    val day = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(3650).toLong)
    IndexedSeq(
      orderKey.toString,
      (1 + r.nextInt(20000)).toString,
      (1 + r.nextInt(1000)).toString,
      lineNumber.toString,
      fixed(qty.toDouble, 1),
      fixed(price, 2),
      fixed(r.nextInt(11) / 100.0, 2),
      fixed(r.nextInt(9) / 100.0, 2),
      flags(r.nextInt(3)),
      status(r.nextInt(2)),
      s"$day 00:00:00")
  }

  /** Row `i` of the bulk stream: consecutive (orderKey, lineNumber) keys,
    * seven lines per order, every row a fresh key.
    */
  def bulkChange(seed: Long, i: Long): Change = {
    val ok = i / 7 + 1
    val ln = (i % 7).toInt + 1
    Change(Insert, ok, ln, row(seed, ok, ln, 0))
  }

  /** The OLTP stream: transactions of 1-10 rows, 60/30/10
    * INSERT/UPDATE/DELETE, UPDATE and DELETE on keys inserted earlier in
    * the same stream. Deterministic in the seed and in the number of
    * transactions drawn.
    */
  final class OltpStream(seed: Long) {
    private val rnd = new SplittableRandom(mix(seed, 0x01f9L))
    private val live = mutable.ArrayBuffer.empty[(Long, Int)]
    private val versions = mutable.HashMap.empty[(Long, Int), Int]
    private var nextKey = 0L
    // OLTP keys live above the bulk key range so the two never collide
    private val keyBase = 1L << 40

    def nextTxn(): IndexedSeq[Change] = {
      val n = 1 + rnd.nextInt(10)
      IndexedSeq.fill(n) {
        val p = rnd.nextInt(100)
        if (p < 60 || live.isEmpty) {
          val ok = keyBase + nextKey / 7
          val ln = (nextKey % 7).toInt + 1
          nextKey += 1
          live += ((ok, ln))
          versions((ok, ln)) = 0
          Change(Insert, ok, ln, row(seed, ok, ln, 0))
        } else if (p < 90) {
          val k = live(rnd.nextInt(live.length))
          val v = versions(k) + 1
          versions(k) = v
          Change(Update, k._1, k._2, row(seed, k._1, k._2, v))
        } else {
          val at = rnd.nextInt(live.length)
          val k = live(at)
          live(at) = live(live.length - 1)
          live.remove(live.length - 1)
          versions.remove(k)
          Change(Delete, k._1, k._2, IndexedSeq.empty)
        }
      }
    }
  }

  /** 64-bit digest of one sink record: the key plus its value's fields,
    * combined order-independently so JSON field order does not matter.
    */
  def recordDigest(key: String, fields: Iterable[(String, String)]): Long = {
    var d = mix(key.hashCode.toLong, 0x5bd1e995L)
    fields.foreach { case (k, v) =>
      val hv = if (v == null) 0x7f4a7c15 else scala.util.hashing.MurmurHash3.stringHash(v)
      d += mix(scala.util.hashing.MurmurHash3.stringHash(k).toLong, hv.toLong)
    }
    d
  }

  /** Expected digest of a change as it should reach the sink. */
  def expectedDigest(c: Change): Long =
    recordDigest(c.orderKey.toString, c.image :+ ("operation" -> c.op.name))
}

/** pgoutput protocol-v1 message builders, written from the PostgreSQL
  * protocol documentation and kept independent of the program's decoder.
  */
object PgOutputWire {
  val PgEpochMicros: Long = 946684800000000L

  final class Buf(capacity: Int = 256) {
    val out = new ByteArrayOutputStream(capacity)
    def byte(b: Int): Buf = { out.write(b); this }
    def int16(v: Int): Buf = { out.write(v >>> 8); out.write(v); this }
    def int32(v: Int): Buf = { int16(v >>> 16); int16(v) }
    def int64(v: Long): Buf = { int32((v >>> 32).toInt); int32(v.toInt) }
    def bytes(b: Array[Byte]): Buf = { out.write(b, 0, b.length); this }
    def cstr(s: String): Buf = { bytes(s.getBytes(StandardCharsets.UTF_8)); byte(0) }
    def result: Array[Byte] = out.toByteArray
  }

  def begin(finalLsn: Long, unixMicros: Long, xid: Int): Array[Byte] =
    new Buf(24).byte('B').int64(finalLsn).int64(unixMicros - PgEpochMicros).int32(xid).result

  def commit(commitLsn: Long, endLsn: Long, unixMicros: Long): Array[Byte] =
    new Buf(32).byte('C').byte(0).int64(commitLsn).int64(endLsn)
      .int64(unixMicros - PgEpochMicros).result

  def relation(): Array[Byte] = {
    val b = new Buf().byte('R').int32(Model.RelId).cstr(Model.Namespace)
      .cstr(Model.Table).byte('d').int16(Model.Columns.length)
    Model.Columns.foreach { case (name, key) =>
      b.byte(if (key) 1 else 0).cstr(name).int32(25).int32(-1)
    }
    b.result
  }

  private def tuple(b: Buf, cells: IndexedSeq[String]): Unit = {
    b.int16(cells.length)
    cells.foreach { c =>
      if (c == null) b.byte('n')
      else {
        val v = c.getBytes(StandardCharsets.UTF_8)
        b.byte('t').int32(v.length).bytes(v)
      }
    }
  }

  /** The key old-tuple: every column, non-key columns as NULL. */
  private def keyTuple(c: Model.Change): IndexedSeq[String] =
    Model.Columns.map {
      case ("l_orderkey", _) => c.orderKey.toString
      case ("l_linenumber", _) => c.lineNumber.toString
      case _ => null
    }

  def change(c: Model.Change): Array[Byte] = {
    val b = new Buf(160)
    c.op match {
      case Model.Insert => b.byte('I').int32(Model.RelId).byte('N'); tuple(b, c.cells)
      case Model.Update =>
        b.byte('U').int32(Model.RelId).byte('K'); tuple(b, keyTuple(c))
        b.byte('N'); tuple(b, c.cells)
      case Model.Delete => b.byte('D').int32(Model.RelId).byte('K'); tuple(b, keyTuple(c))
    }
    b.result
  }
}

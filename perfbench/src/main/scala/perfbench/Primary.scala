package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader, DataInputStream, DataOutputStream, EOFException, InputStreamReader, PrintStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

/** The benchmark's loopback PostgreSQL primary: a process of its own,
  * apart from the program, so the program's CPU and heap figures exclude
  * it. It answers the startup, bootstrap and slot-health queries a
  * replication client sends on any connection, and streams pgoutput over
  * the latest `START_REPLICATION` connection.
  *
  * Driven over stdin, one command a line:
  *   bulk <firstRow> <rows>  one INSERT transaction, sent as fast as read
  *   paced <rate> <count>    open loop: transaction k is due at start + k/rate
  *   burst <count>           transactions sent back to back (a backlog)
  *   quit
  * and reports on stdout, times in unix microseconds:
  *   PORT <port>
  *   SENT <due> <start> <end> <commitLsn> <endLsn> <rows>  per transaction
  *   ACK <flushedLsn> <time>   when a standby status raises the flushed LSN
  *   DONE                      after each command has been sent
  *
  * Writes are buffered with one flush per transaction, and the schedule
  * is kept whatever the client does: a transaction that could not be
  * written on time goes out as soon as the socket takes it, and its
  * lateness shows as `start - due`.
  *
  * Usage: Primary <seed>
  */
object Primary {
  import PgOutputWire.Buf

  private val out = new PrintStream(new BufferedOutputStream(System.out), false, "UTF-8")
  private def report(line: String): Unit = out.synchronized { out.println(line); out.flush() }

  private def readMessage(in: DataInputStream): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val body = new Array[Byte](in.readInt() - 4)
    in.readFully(body)
    (t, body)
  }
  private def writeMessage(out: DataOutputStream, t: Char, body: Array[Byte]): Unit = {
    out.writeByte(t); out.writeInt(body.length + 4); out.write(body)
  }

  private def lsnText(lsn: Long): String = f"${lsn >>> 32}%X/${lsn & 0xffffffffL}%X"

  /** The connection currently in COPY-both mode, if any. */
  final class Stream(val sock: Socket, val out: DataOutputStream) {
    @volatile var relationSent = false
    @volatile var lastWriteNanos: Long = System.nanoTime()
  }
  @volatile private var stream: Stream = _
  private val streamLock = new Object
  private val ackLock = new Object
  @volatile private var flushed = 0L
  @volatile private var lsn = 0x16B0000L
  private var xid = 1000

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val accept = new Thread(() => {
      while (!server.isClosed) {
        try {
          val s = server.accept()
          val t = new Thread(() => serve(s), "primary-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: Throwable => () }
      }
    }, "primary-accept")
    accept.setDaemon(true)
    accept.start()
    val keepalive = new Thread(() => {
      while (true) {
        Thread.sleep(200)
        val s = stream
        if (s != null && System.nanoTime() - s.lastWriteNanos > 1000000000L)
          streamLock.synchronized(send(s, keepaliveFrame(), flush = true))
      }
    }, "primary-keepalive")
    keepalive.setDaemon(true)
    keepalive.start()
    report(s"PORT ${server.getLocalPort}")

    val oltp = new Model.OltpStream(seed)
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line != "quit") {
      line.split(" ").toList match {
        case "bulk" :: first :: rows :: Nil =>
          val f = first.toLong
          val changes = (0L until rows.toLong).map(i => Model.bulkChange(seed, f + i))
          sendTxn(changes, Stats.nowMicros())
        case "paced" :: rate :: count :: Nil =>
          val t0 = Stats.nowMicros()
          val step = 1e6 / rate.toDouble
          (0 until count.toInt).foreach { k =>
            val due = t0 + (k * step).toLong
            val txn = oltp.nextTxn()
            val wait = due - Stats.nowMicros()
            if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
            sendTxn(txn, due)
          }
        case "burst" :: count :: Nil =>
          (0 until count.toInt).foreach(_ => sendTxn(oltp.nextTxn(), Stats.nowMicros()))
        case other => throw new IllegalArgumentException(s"unknown command $other")
      }
      report("DONE")
      line = in.readLine()
    }
    server.close()
    val s = stream
    if (s != null) s.sock.close()
  }

  private def keepaliveFrame(): Array[Byte] =
    new Buf(24).byte('k').int64(lsn).int64(Stats.nowMicros() - PgOutputWire.PgEpochMicros)
      .byte(0).result

  private def xlogFrame(start: Long, end: Long, payload: Array[Byte]): Array[Byte] =
    new Buf(payload.length + 32).byte('w').int64(start).int64(end)
      .int64(Stats.nowMicros() - PgOutputWire.PgEpochMicros).bytes(payload).result

  private def send(s: Stream, copyData: Array[Byte], flush: Boolean): Unit =
    try {
      writeMessage(s.out, 'd', copyData)
      if (flush) s.out.flush()
      s.lastWriteNanos = System.nanoTime()
    } catch { case _: java.io.IOException => () } // client gone; it reconnects

  /** Encode one transaction at the next LSNs and send it with one flush.
    * Encoding happens before the first byte goes out; `due` is when the
    * schedule wanted it sent.
    */
  private def sendTxn(changes: IndexedSeq[Model.Change], due: Long): Unit = {
    val s = awaitStream()
    val rows = changes.map(PgOutputWire.change)
    val rel = if (s.relationSent) None else Some(PgOutputWire.relation())
    val beginLen = 21
    val start = lsn
    val bodyLen = rel.map(_.length).getOrElse(0) + rows.map(_.length.toLong).sum
    val commitLsn = start + beginLen + bodyLen
    val commitMicros = Stats.nowMicros()
    val commit0 = PgOutputWire.commit(commitLsn, 0L, commitMicros)
    val endLsn = commitLsn + commit0.length
    val commit = PgOutputWire.commit(commitLsn, endLsn, commitMicros)
    xid += 1
    val payloads = (PgOutputWire.begin(commitLsn, commitMicros, xid) +: rel.toSeq) ++ rows :+ commit
    // the whole transaction is framed before its first byte goes out, so
    // the send runs at socket speed and the client sets the pace
    val framed = new java.io.ByteArrayOutputStream(bodyLen.toInt + payloads.length * 40)
    val frames = new DataOutputStream(framed)
    var pos = start
    payloads.foreach { p =>
      writeMessage(frames, 'd', xlogFrame(pos, endLsn, p))
      pos += p.length
    }
    val bytes = framed.toByteArray
    streamLock.synchronized {
      val t0 = Stats.nowMicros()
      try {
        s.out.write(bytes)
        s.out.flush()
        s.lastWriteNanos = System.nanoTime()
      } catch { case _: java.io.IOException => () } // client gone; it reconnects
      s.relationSent = true
      lsn = endLsn
      report(s"SENT $due $t0 ${Stats.nowMicros()} $commitLsn $endLsn ${changes.length}")
    }
  }

  private def awaitStream(): Stream = {
    val deadline = System.nanoTime() + 60000000000L
    while (stream == null || stream.sock.isClosed) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("no replication connection within 60 s")
      Thread.sleep(5)
    }
    stream
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val o = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    try {
      val len = in.readInt()
      in.readFully(new Array[Byte](len - 4)) // protocol version + parameters
      writeMessage(o, 'R', new Buf(4).int32(0).result) // AuthenticationOk
      writeMessage(o, 'Z', Array('I'.toByte))
      o.flush()
      var replicating = false
      while (!replicating) {
        val (t, body) = readMessage(in)
        if (t == 'X') return
        val sql = new String(body, 0, body.length - 1, StandardCharsets.UTF_8)
        if (sql.startsWith("START_REPLICATION")) {
          writeMessage(o, 'W', Array[Byte](0, 0, 0)) // CopyBothResponse
          o.flush()
          val s = new Stream(sock, o)
          streamLock.synchronized {
            val old = stream
            stream = s
            if (old != null) old.sock.close()
          }
          replicating = true
        } else query(o, sql)
        o.flush()
      }
      // the client's standby status updates carry the flushed LSN: an
      // ACK is reported once per raise of that position
      while (true) {
        val (t, body) = readMessage(in)
        if (t == 'X' || t == 'c') return
        if (t == 'd' && body.length >= 34 && body(0) == 'r') {
          val b = java.nio.ByteBuffer.wrap(body, 1, 33)
          b.getLong
          val f = b.getLong
          val at = Stats.nowMicros()
          ackLock.synchronized {
            if (f > flushed) { flushed = f; report(s"ACK $f $at") }
          }
        }
      }
    } catch {
      case _: EOFException | _: java.io.IOException => ()
    } finally sock.close()
  }

  private def rows(o: DataOutputStream, cols: Seq[String], values: Seq[Option[String]]): Unit = {
    val t = new Buf().int16(cols.length)
    cols.foreach(c => t.cstr(c).int32(0).int16(0).int32(25).int16(-1).int32(-1).int16(0))
    writeMessage(o, 'T', t.result)
    val d = new Buf().int16(values.length)
    values.foreach {
      case Some(v) => val b = v.getBytes(StandardCharsets.UTF_8); d.int32(b.length).bytes(b)
      case None => d.int32(-1)
    }
    writeMessage(o, 'D', d.result)
    complete(o, "SELECT 1")
  }

  private def complete(o: DataOutputStream, tag: String): Unit = {
    writeMessage(o, 'C', new Buf().cstr(tag).result)
    writeMessage(o, 'Z', Array('I'.toByte))
  }

  /** The bootstrap and slot-health surface: the publication and the slot
    * exist; the slot reports the last flushed position.
    */
  private def query(o: DataOutputStream, sql: String): Unit =
    if (sql.contains("FROM pg_publication")) rows(o, Seq("pubname"), Seq(Some("graft_pub")))
    else if (sql.contains("active_pid")) rows(o,
      Seq("active", "active_pid", "confirmed_flush_lsn", "restart_lsn", "current_lsn"),
      Seq(Some(if (stream != null) "t" else "f"), Some("4242"), Some(lsnText(flushed)),
        Some(lsnText(flushed)), Some(lsnText(lsn))))
    else if (sql.contains("FROM pg_replication_slots"))
      rows(o, Seq("slot_name"), Seq(Some("graft_slot")))
    else complete(o, sql.takeWhile(_ != ' '))
}

package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.app.{ConnectorConfig, KafkaSinkConfig, PostgresSourceConfig}
import graft.sources.cdc.{PgReplicationClient, ReplicationBootstrap, ReplicationTail, SlotActivityChecker}
import graft.streaming.{CdcPipeline, Metrics, MetricsRegistry, PipelineProbe}

/** One transaction as the primary sent it (unix micros). */
final case class Sent(due: Long, start: Long, end: Long, commitLsn: Long, endLsn: Long, rows: Int) {
  /** The capture file the tail names after the commit LSN. */
  def file: String = f"$commitLsn%016x.pgo"
}

/** The loopback primary as a child process, driven over its stdin. */
final class PrimaryProcess(seed: Long, work: Path) {
  private val proc = new ProcessBuilder(
    s"${System.getProperty("java.home")}/bin/java", "-Xmx512m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
    "-cp", System.getProperty("java.class.path"), "perfbench.Primary", seed.toString)
    .redirectError(work.resolve("primary.err").toFile).start()
  private val in = new PrintWriter(proc.getOutputStream, true)
  val sent = new ConcurrentLinkedQueue[Sent]
  val acks = new ConcurrentLinkedQueue[(Long, Long)] // (flushed LSN, time)
  @volatile var maxAck = 0L
  private val done = new LinkedBlockingQueue[String]
  private val portQ = new LinkedBlockingQueue[Int]
  private val reader = new Thread(() => {
    val r = new BufferedReader(new InputStreamReader(proc.getInputStream))
    var line = r.readLine()
    while (line != null) {
      line.split(" ").toList match {
        case "PORT" :: p :: Nil => portQ.put(p.toInt)
        case "SENT" :: f =>
          val v = f.map(_.toLong)
          sent.add(Sent(v(0), v(1), v(2), v(3), v(4), v(5).toInt))
        case "ACK" :: l :: t :: Nil =>
          acks.add((l.toLong, t.toLong))
          maxAck = math.max(maxAck, l.toLong)
        case "DONE" :: Nil => done.put(line)
        case _ => ()
      }
      line = r.readLine()
    }
    done.put("EOF")
  }, "primary-reader")
  reader.setDaemon(true)
  reader.start()

  val port: Int = Option(portQ.poll(60, TimeUnit.SECONDS))
    .getOrElse(throw new IllegalStateException("loopback primary did not start"))

  /** Send one command and wait until the primary has sent it. */
  def run(cmd: String): Unit = {
    in.println(cmd)
    val r = done.poll(170, TimeUnit.SECONDS)
    if (r != "DONE") throw new IllegalStateException(s"primary failed on '$cmd'")
  }

  def close(): Unit = {
    in.println("quit")
    if (!proc.waitFor(10, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    reader.join(5000)
  }
}

/** One capture-sink call (unix micros). */
final case class Capture(commitLsn: Long, start: Long, end: Long, rows: Int, bytes: Long)

/** A micro-batch as the listener saw it. */
final case class Batch(batchId: Long, start: Long, received: Long, rows: Long,
    durations: Map[String, Long], files: Int, lastFile: String)

/** The production live lane as `Connector` wires it for
  * `source.format: graft-replication`, assembled from the same public
  * calls so the benchmark can time the capture sink: bootstrap, slot
  * checker, `ReplicationTail.fromConfig` over `captureSink`, and
  * `CdcPipeline.startToParquet` with a `PipelineProbe` and the metrics
  * collector.
  */
final class CdcLane(spark: SparkSession, dir: Path, port: Int) {
  val sourceDir: Path = dir.resolve("capture")
  val outDir: Path = dir.resolve("sink")
  val cfg = ConnectorConfig(
    sourceDir = sourceDir.toString,
    checkpointDir = dir.resolve("checkpoint").toString,
    kafka = KafkaSinkConfig(brokers = Seq.empty,
      tableTopicMapping = Map(s"${Model.Namespace}.${Model.Table}" -> "lineitem"),
      producerBatchTickerDuration = CdcBench.TriggerMs.millis),
    keyField = Model.KeyField,
    sourceFormat = "graft-replication",
    postgres = PostgresSourceConfig(host = "127.0.0.1", port = port,
      username = "bench", database = "bench"))

  val captures = new ConcurrentLinkedQueue[Capture]
  val batches = new ConcurrentLinkedQueue[Batch]
  private val mapper = new ObjectMapper()
  @volatile private var query: StreamingQuery = _
  /** Name of the last capture file a committed batch covers. */
  @volatile var coveredFile = ""
  @volatile private var stopped = false
  private var tail: ReplicationTail = _
  private var tailThread: Thread = _
  private var checker: SlotActivityChecker = _
  private val registry = new MetricsRegistry(cfg.slotName)
  private val probe = new PipelineProbe(spark.sparkContext,
    graft.route.TopicRouter(cfg.kafka.tableTopicMapping), cfg.keyField, s"graft.${cfg.slotName}")
  private val collector = new Metrics.Collector(Some(registry), Some(probe))

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val q = query
      if (q == null || e.progress.id != q.id) return
      val p = e.progress
      def offset(json: String): (Int, String) =
        if (json == null || json == "null") (0, "")
        else { val n = mapper.readTree(json); (n.path("n").asInt(), n.path("last").asText("")) }
      val (n0, _) = offset(p.sources.headOption.map(_.startOffset).orNull)
      val (n1, last) = offset(p.sources.headOption.map(_.endOffset).orNull)
      val ts = java.time.Instant.parse(p.timestamp)
      batches.add(Batch(p.batchId, ts.getEpochSecond * 1000000L + ts.getNano / 1000L,
        Stats.nowMicros(), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, n1 - n0, last))
      if (last > coveredFile) coveredFile = last
    }
  }

  private def client() = new PgReplicationClient(cfg.postgres.host, cfg.postgres.port,
    cfg.postgres.username, cfg.postgres.database, None, receiveTimeoutMs = 15000)

  /** Start the lane and block until its first progress report. */
  def start(): Unit = {
    spark.streams.addListener(listener)
    spark.streams.addListener(collector)
    val boot = client()
    try { boot.connect(); ReplicationBootstrap.run(boot, cfg.postgres, cfg.slotName) }
    finally boot.close()
    checker = new SlotActivityChecker(() => client(), cfg.slotName,
      cfg.postgres.slotActivityCheckerIntervalMs, registry.setSlotInfo)
    checker.start()
    val lsnFile = dir.resolve("checkpoint").resolve("replication.lsn")
    Files.createDirectories(lsnFile.getParent)
    val capture = ReplicationTail.captureSink(sourceDir)
    tail = ReplicationTail.fromConfig(cfg, lsnFile, txn => {
      val t0 = Stats.nowMicros()
      capture(txn)
      captures.add(Capture(txn.commitLsn, t0, Stats.nowMicros(), txn.events.size,
        txn.rawPayloads.map(_.length.toLong + 4).sum))
      registry.setReplicationLag(System.currentTimeMillis() - txn.commitMicros / 1000L)
      registry.incrementReplicationCommit()
    })
    tailThread = new Thread(() => {
      while (!stopped) {
        try tail.run() catch { case _: Throwable => () }
        if (!stopped) Thread.sleep(1000L)
      }
    }, "bench-replication-tail")
    tailThread.setDaemon(true)
    tailThread.start()
    query = CdcPipeline.startToParquet(spark, cfg, outDir.toString, Some(probe))
    val deadline = System.nanoTime() + 120000000000L
    while (query.lastProgress == null) {
      if (System.nanoTime() > deadline || !query.isActive)
        throw new IllegalStateException("live lane reported no progress within 120 s")
      Thread.sleep(5)
    }
  }

  def stop(): Unit = {
    stopped = true
    if (checker != null) checker.close()
    if (tail != null) tail.stop()
    if (tailThread != null) tailThread.join(5000L)
    if (query != null) query.stop()
    spark.streams.removeListener(listener)
    spark.streams.removeListener(collector)
  }

  /** The first batch whose end offset covers `file`, if one has run. */
  def coveringBatch(file: String): Option[Batch] =
    batches.asScala.filter(b => b.lastFile.nonEmpty && b.lastFile >= file).minByOption(_.batchId)
}

/** The two CDC workloads over one live lane. */
object CdcBench {
  val TriggerMs = 100 // the reference bench's batch ticker
  val BulkRows = 50000
  val WarmRaces = 2
  val Rate = 5 // txn/s, the paced OLTP load
  val Backlog = 200
  val SetupCycles = 3

  final case class Outcome(e2e: Map[String, (Double, String)], layers: Map[String, (Double, String)],
      attempted: Long, failed: Long, notes: Seq[String])

  private def waitFor(what: String, timeoutS: Int)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!cond) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      tracer: Tracer, work: Path, engine: Option[EngineListener]): Outcome = {
    val primary = new PrimaryProcess(seed, work)
    try {
      // set-up: bring the lane up on fresh directories and wait for its
      // first progress report; the last of the cycles stays up
      var lane: CdcLane = null
      val setups = (1 to SetupCycles).map { i =>
        if (lane != null) lane.stop()
        val t0 = System.nanoTime()
        lane = new CdcLane(spark, work.resolve(s"lane$i"), primary.port)
        lane.start()
        (System.nanoTime() - t0) / 1e9
      }
      val l = lane
      def sinkTime(s: Sent): Option[Long] = l.coveringBatch(s.file).map(_.received)
      def ackTime(s: Sent): Option[Long] =
        primary.acks.asScala.filter(_._1 >= s.endLsn).map(_._2).minOption
      // acks and covered offsets only grow, so the last transaction
      // settling settles all before it
      def settled(ss: Seq[Sent]): Boolean = ss.isEmpty ||
        (primary.maxAck >= ss.last.endLsn && l.coveredFile >= ss.last.file)
      def sentSince(n: Int): Seq[Sent] = primary.sent.asScala.toSeq.drop(n)

      val out = mutable.LinkedHashMap.empty[String, (Double, String)]
      val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
      val notes = mutable.ArrayBuffer.empty[String]

      // warm-up (JIT, first writes), not measured
      if (workload == "cdc_bulk")
        (0 until WarmRaces).foreach(r => primary.run(s"bulk ${r * BulkRows} $BulkRows"))
      else primary.run(s"paced $Rate ${Rate * 3}")
      waitFor("warm-up", 120)(settled(sentSince(0)))
      val warmSent = primary.sent.size
      val batches0 = l.batches.size
      val captures0 = l.captures.size

      Jvm.arm()
      val cpu0 = Jvm.cpuNanos
      val gc0 = Jvm.gcMillis
      engine.foreach(_.armed = true)
      val acks = mutable.ArrayBuffer.empty[Double] // race ack latencies (ms)
      val work_s = mutable.ArrayBuffer.empty[Double]
      if (workload == "cdc_bulk") {
        // races of one bulk INSERT transaction each, back to back; the
        // count is fixed by the window length (about 1.2 s a race)
        val races = math.max(3, math.ceil(seconds / 1.2).toInt)
        var race = 0
        var first = WarmRaces.toLong * BulkRows
        while (race < races) {
          // every race starts on a collected heap, so whether a young
          // collection lands inside a race does not depend on the ones
          // before it
          System.gc()
          val n0 = primary.sent.size
          primary.run(s"bulk $first $BulkRows")
          val s = sentSince(n0).head
          waitFor(s"race $race", 170)(settled(Seq(s)))
          val sink = sinkTime(s).get
          val ack = ackTime(s).get
          work_s += (sink - s.start) / 1e6
          acks += (ack - s.start) / 1e3
          first += BulkRows
          race += 1
        }
        val rows = BulkRows.toDouble
        notes += "race_s=" + work_s.map(v => f"$v%.3f").mkString(",") +
          " ack_ms=" + acks.map(v => f"$v%.0f").mkString(",")
        notes += f"races=$race rows_per_race=$BulkRows rows_per_s=${rows / Stats.median(work_s.toSeq)}%.0f " +
          f"ack_s=${Stats.median(acks.toSeq) / 1e3}%.3f"
        layers("cdc.rows_per_s") = (rows / Stats.median(work_s.toSeq), "1/s")
        layers("cdc.ack_s") = (Stats.median(acks.toSeq) / 1e3, "s")
      } else {
        // paced open loop at Rate txn/s for two windows, then a backlog
        // sent back to back
        val n0 = primary.sent.size
        primary.run(s"paced $Rate ${Rate * seconds * 2}")
        val paced = sentSince(n0)
        waitFor("paced phase", 120)(settled(paced))
        val n1 = primary.sent.size
        primary.run(s"burst $Backlog")
        val backlog = sentSince(n1)
        waitFor("backlog", 170)(settled(backlog))
        val drain = (backlog.map(s => sinkTime(s).get).max - backlog.head.start) / 1e6
        work_s += drain
        val sinkMs = paced.map(s => (sinkTime(s).get - s.due) / 1e3)
        val ackMs = paced.map(s => (ackTime(s).get - s.due) / 1e3)
        layers("cdc.txn_per_s") = (Backlog / drain, "1/s")
        layers("cdc.ack_p50_ms") = (Stats.pct(ackMs, 50), "ms")
        layers("cdc.ack_p99_ms") = (Stats.pct(ackMs, 99), "ms")
        layers("cdc.sink_p50_ms") = (Stats.pct(sinkMs, 50), "ms")
        layers("cdc.sink_p99_ms") = (Stats.pct(sinkMs, 99), "ms")
        layers("gen.late_p99_ms") = (Stats.pct(paced.map(s => (s.start - s.due) / 1e3), 99), "ms")
        notes += f"paced_txns=${paced.size} sink_p50_ms=${Stats.pct(sinkMs, 50)}%.1f " +
          f"sink_p99_ms=${Stats.pct(sinkMs, 99)}%.1f ack_p50_ms=${Stats.pct(ackMs, 50)}%.2f " +
          f"ack_p99_ms=${Stats.pct(ackMs, 99)}%.2f backlog=$Backlog txn_per_s=${Backlog / drain}%.1f"
      }
      val cpu = (Jvm.cpuNanos - cpu0) / 1e9
      val gc = (Jvm.gcMillis - gc0) / 1e3
      engine.foreach(_.armed = false)
      val peak = Jvm.disarm() / (1024.0 * 1024.0)
      l.stop()

      val windowSent = sentSince(warmSent)
      val windowBatches = l.batches.asScala.toSeq.drop(batches0).filter(_.rows > 0)
      val windowCaptures = l.captures.asScala.toSeq.drop(captures0)

      out("setup_s") = (Stats.median(setups), "s")
      out("work_s") = (Stats.median(work_s.toSeq), "s")
      out("cpu_s") = (cpu, "s")
      out("peak_heap_mb") = (peak, "MB")

      // correctness: the sink holds exactly the changes sent, and the
      // last ack covers the last commit
      val (attempted, failed, checkNotes) = verify(spark, workload, seed, l, primary)
      notes ++= checkNotes

      if (tracer.enabled) {
        layers("trace.layer_sum_share") =
          (traceCdc(tracer, windowSent, l, windowBatches, windowCaptures), "ratio")
        layers ++= cdcLayers(spark, tracer, l, windowSent, windowBatches, windowCaptures)
        layers("jvm.gc_s") = (gc, "s")
      }
      Outcome(out.toMap, layers.toMap, attempted, failed, notes.toSeq)
    } finally primary.close()
  }

  /** Compare the sink with the changes the seed generates, per key: count
    * and a sum of per-record digests. Rows whose transaction was never
    * acked also count as failed.
    */
  private def verify(spark: SparkSession, workload: String, seed: Long, lane: CdcLane,
      primary: PrimaryProcess): (Long, Long, Seq[String]) = {
    import spark.implicits._
    val sent = primary.sent.asScala.toSeq
    type PerKey = mutable.HashMap[String, (Long, Long)]
    def add(m: PerKey, kd: (String, Long)): Unit = {
      val (c, d) = m.getOrElse(kd._1, (0L, 0L)); m(kd._1) = (c + 1, d + kd._2)
    }
    def digest(c: Model.Change) = (c.orderKey.toString, Model.expectedDigest(c))
    val expected = new PerKey
    if (workload == "cdc_bulk") {
      val n = sent.map(_.rows.toLong).sum
      val parts = 4
      (0 until parts).map { p =>
        scala.concurrent.Future((p * n / parts until (p + 1) * n / parts)
          .map(i => digest(Model.bulkChange(seed, i))))(scala.concurrent.ExecutionContext.global)
      }.foreach(f => scala.concurrent.Await.result(f, 120.seconds).foreach(add(expected, _)))
    } else {
      val stream = new Model.OltpStream(seed)
      sent.foreach(_ => stream.nextTxn().foreach(c => add(expected, digest(c))))
    }
    val actual = new PerKey
    spark.read.parquet(lane.outDir.toString)
      .selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)").as[(String, String)]
      .mapPartitions { rows =>
        val mapper = new ObjectMapper()
        rows.map { case (key, value) =>
          (key, Model.recordDigest(key, mapper.readTree(value).properties().asScala
            .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText()))))
        }
      }.collect().foreach(add(actual, _))
    val attempted = expected.values.map(_._1).sum
    val mismatched = (expected.keySet ++ actual.keySet).toSeq.map { k =>
      val (ec, ed) = expected.getOrElse(k, (0L, 0L))
      val (ac, ad) = actual.getOrElse(k, (0L, 0L))
      if (ec != ac) math.abs(ec - ac) else if (ed != ad) ec else 0L
    }.sum
    val lastEnd = sent.map(_.endLsn).max
    val acked = primary.maxAck
    val unacked = sent.filter(_.endLsn > acked).map(_.rows.toLong).sum
    (attempted, math.min(mismatched + unacked, attempted),
      Seq(s"check: expected=$attempted sink=${actual.values.map(_._1).sum} " +
        s"mismatched=$mismatched final_ack_lsn=$acked last_end_lsn=$lastEnd unacked_rows=$unacked"))
  }

  private val Phases =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Spans per transaction: generator lateness, tail receive + decode,
    * capture, trigger wait and the covering micro-batch, whose progress
    * phases are its children (in MicroBatchExecution order). Returns the
    * share of the transactions' wall time (first byte to the sink's
    * progress report) that the layer times account for: receive +
    * decode, capture, trigger wait and the covering batch's phases.
    */
  private def traceCdc(tracer: Tracer, sent: Seq[Sent], lane: CdcLane,
      batches: Seq[Batch], captures: Seq[Capture]): Double = {
    val capByLsn = captures.map(c => c.commitLsn -> c).toMap
    batches.foreach { b =>
      val end = b.start + b.durations.getOrElse("triggerExecution", 0L) * 1000L
      val id = tracer.add("stream.batch", b.start, end)
      var t = b.start
      Phases.foreach { p =>
        val d = b.durations.getOrElse(p, 0L) * 1000L
        tracer.add(s"stream.$p", t, t + d, id)
        t += d
      }
      tracer.add("stream.listener", end, b.received, id)
    }
    var wall, layers = 0.0
    sent.foreach { s =>
      for (c <- capByLsn.get(s.commitLsn); b <- lane.coveringBatch(s.file)) {
        val (c0, c1) = (c.start, c.end)
        val root = tracer.add("txn", s.due, b.received)
        tracer.add("gen.late", s.due, s.start, root)
        tracer.add("tail.recv_decode", s.start, c0, root)
        tracer.add("tail.capture", c0, c1, root)
        tracer.add("stream.wait", c1, math.max(c1, b.start), root)
        tracer.add("stream.covering_batch", math.max(c1, b.start), b.received, root)
        wall += b.received - s.start
        layers += (c0 - s.start) + (c1 - c0) + math.max(0L, b.start - c1) +
          Phases.map(p => b.durations.getOrElse(p, 0L) * 1000L).sum
      }
    }
    if (wall > 0) layers / wall else 0.0
  }

  private def cdcLayers(spark: SparkSession, tracer: Tracer, lane: CdcLane, sent: Seq[Sent],
      batches: Seq[Batch], captures: Seq[Capture]): Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    val capBy = captures.map(c => c.commitLsn -> c).toMap
    // tail time outside the capture callback: from a transaction's first
    // byte to its callback, counting overlapping (queued) spans once
    m("tail.recv_decode_s") = (Stats.unionLength(sent.flatMap(s =>
      capBy.get(s.commitLsn).map(c => (s.start, c.start)))) / 1e6, "s")
    m("tail.capture_s") = (captures.map(c => (c.end - c.start) / 1e6).sum, "s")
    m("tail.txns") = (captures.size.toDouble, "count")
    m("tail.rows") = (captures.map(_.rows.toDouble).sum, "count")
    m("tail.capture_files") = (Option(lane.sourceDir.toFile.list()).map(_.count(_.endsWith(".pgo"))).getOrElse(0).toDouble, "count")
    m("tail.capture_bytes") = (captures.map(_.bytes.toDouble).sum, "bytes")
    m("stream.batches") = (batches.size.toDouble, "count")
    m("stream.latest_offset_ms_p50") = (Stats.median(dur("latestOffset")), "ms")
    m("stream.latest_offset_ms_last") = (dur("latestOffset").lastOption.getOrElse(0.0), "ms")
    m("stream.partitions_per_batch_p50") = (Stats.median(batches.map(_.files.toDouble)), "count")
    m("stream.add_batch_ms_p50") = (Stats.median(dur("addBatch")), "ms")
    m("stream.add_batch_ms_max") = (dur("addBatch").max, "ms")
    m("stream.wal_commit_ms_p50") = (Stats.median(dur("walCommit")), "ms")
    m("stream.commit_offsets_ms_p50") = (Stats.median(dur("commitOffsets")), "ms")
    m("stream.query_planning_ms_p50") = (Stats.median(dur("queryPlanning")), "ms")
    m("sink.files") = (Option(lane.outDir.toFile.list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0).toDouble, "count")
    // isolates: batch-read the capture directory through graft-cdc into
    // noop (decode), then with the declarative handler added
    val events = spark.read.format("graft-cdc").option("path", lane.sourceDir.toString).load()
    val rows = events.count().toDouble
    def timed(df: org.apache.spark.sql.DataFrame, name: String): Double = (1 to 2).map { _ =>
      val t0 = Stats.nowMicros()
      df.write.format("noop").mode("overwrite").save()
      val t1 = Stats.nowMicros()
      tracer.add(name, t0, t1)
      (t1 - t0) / 1e6
    }.min
    val tDecode = timed(events, "isolate.decode")
    val tFull = timed(graft.transform.Handlers.declarative(events,
      graft.route.TopicRouter(lane.cfg.kafka.tableTopicMapping), lane.cfg.keyField), "isolate.handler")
    m("decode.rows_per_s") = (rows / tDecode, "1/s")
    // 0 when the handler's share is below the two runs' difference
    m("handler.rows_per_s") = (if (tFull > tDecode) rows / (tFull - tDecode) else 0.0, "1/s")
    m.toMap
  }
}

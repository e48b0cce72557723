package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

/** Engine counters and job/stage spans from Spark's listener bus while
  * armed (the measured window), keyed by the `perfbench.lane` job
  * property; streaming micro-batches carry none and count as "stream".
  */
final class EngineListener extends SparkListener {
  @volatile var armed = false
  final class Agg {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuNs, gcMs = 0L
  }
  private val aggs = new ConcurrentHashMap[String, Agg]
  private val stageLane = new ConcurrentHashMap[Int, String]
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]
  /** (label, job start, job end) and (label, stage start, stage end), micros. */
  val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
  val stageSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]

  private def agg(label: String): Agg = aggs.computeIfAbsent(label, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (armed) {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.lane")))
      .getOrElse("stream")
    e.stageIds.foreach(stageLane.put(_, label))
    jobs.put(e.jobId, (label, e.time * 1000L))
    agg(label).synchronized { agg(label).jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (l, t0) => jobSpans.add((l, t0, e.time * 1000L)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageLane.get(e.stageInfo.stageId)).foreach { label =>
      val a = agg(label)
      a.synchronized { a.stages += 1 }
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        stageSpans.add((label, s * 1000L, c * 1000L))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLane.get(e.stageId)).foreach { label =>
      val a = agg(label)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
        }
      }
    }

  def totals(labels: Seq[String]): Agg = {
    val t = new Agg
    labels.map(of).foreach { a => a.synchronized {
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
    } }
    t
  }
  def of(label: String): Agg = Option(aggs.get(label)).getOrElse(new Agg)

  /** Record job spans under their lane span (or as roots), stage spans
    * under the job that contains them.
    */
  def trace(tracer: Tracer, laneSpans: Map[String, Seq[(Int, Long, Long)]]): Unit = {
    def parentOf(label: String, s: Long, e: Long, within: Seq[(Int, Long, Long)]): Int =
      within.find(p => p._2 <= s && e <= p._3 + 1000).map(_._1).getOrElse(-1)
    val jobIds = jobSpans.asScala.toSeq.map { case (l, s, e) =>
      (l, tracer.add("spark.job", s, e, parentOf(l, s, e, laneSpans.getOrElse(l, Nil))), s, e)
    }
    stageSpans.asScala.foreach { case (l, s, e) =>
      tracer.add("spark.stage", s, e,
        parentOf(l, s, e, jobIds.filter(_._1 == l).map(j => (j._2, j._3, j._4))))
    }
  }
}

/** One pass over fixed registered query lanes through the noop sink, with
  * the family caches cleared first (cold caches, warm scan path).
  */
object QueryHeads {
  /** The q92 drift control first, then heads the open speed items
    * target; q126 and q135 share a family cache.
    */
  val Lanes: Seq[String] = Seq("q92_time_travel", "q126_prefix_join", "q135_containment",
    "q153_quantile_norm", "q156_weighted_pctl", "q202_lorenz")
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val SetupCycles = 3

  final case class LaneResult(lane: String, pass: Int, secs: Double, rows: Long,
      digest: String, error: Option[String], start: Long, end: Long)

  private def clearCaches(spark: SparkSession): Unit = {
    graft.queries.Dedup.clearCaches(spark)
    graft.queries.LangModel.clearCaches(spark)
    graft.queries.TextOps.clearCaches(spark)
    graft.queries.Timeseries.clearCaches(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run one lane through the noop sink, observing its row count and an
    * order-independent content digest on the way out.
    */
  def runLane(spark: SparkSession, dataDir: String, lane: String, pass: Int): LaneResult = {
    spark.sparkContext.setLocalProperty("perfbench.lane", lane)
    val obs = Observation(s"$lane-$pass")
    val t0 = Stats.nowMicros()
    val r = try {
      val df = graft.SparkEntry.queries(lane)(spark, dataDir)
      df.observe(obs, count(lit(1)).as("rows"),
          sum(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
            .cast("decimal(38,0)")).as("digest"))
        .write.format("noop").mode("overwrite").save()
      val t1 = Stats.nowMicros()
      val m = obs.get
      LaneResult(lane, pass, (t1 - t0) / 1e6, m("rows").asInstanceOf[Long],
        String.valueOf(m("digest")), None, t0, t1)
    } catch {
      case e: Throwable =>
        val t1 = Stats.nowMicros()
        LaneResult(lane, pass, (t1 - t0) / 1e6, -1, "",
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"), t0, t1)
    }
    spark.sparkContext.setLocalProperty("perfbench.lane", null)
    r
  }

  /** Recorded answers: lane -> (rows, digest). */
  def readAnswers(path: Path): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    node.path("lanes").properties().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("digest").asText())
    }.toMap
  }

  def writeAnswers(path: Path, dataName: String, results: Seq[LaneResult]): Unit = {
    val lanes = results.map(r => s"""    "${r.lane}": {"rows": ${r.rows}, "digest": "${r.digest}"}""")
    val json = s"""{\n  "data": "$dataName",\n  "lanes": {\n${lanes.mkString(",\n")}\n  }\n}\n"""
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
  }

  def run(spark: SparkSession, seconds: Int, tracer: Tracer, dataDir: String,
      answers: Option[Path], engine: Option[EngineListener]): (CdcBench.Outcome, Seq[LaneResult]) = {
    // warm the scan path once (parquet footers, noop writer), untimed
    val tables = Tables.map(t => t -> graft.sources.Tables.load(spark, dataDir, t)).toMap
    tables.values.foreach(_.write.format("noop").mode("overwrite").save())
    // set-up, timed per cycle: plan and run one join + aggregate + window
    // query (planner and code generation)
    val setups = (1 to SetupCycles).map { _ =>
      val t0 = System.nanoTime()
      tables("lineitem").join(tables("orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"))
        .withColumn("r", org.apache.spark.sql.functions.rank().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("q").desc)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    Jvm.arm()
    val cpu0 = Jvm.cpuNanos
    val gc0 = Jvm.gcMillis
    val builds0 = graft.queries.FamilyCaches.buildCount
    engine.foreach(_.armed = true)
    val passes = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[LaneResult]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      clearCaches(spark)
      val p0 = System.nanoTime()
      results ++= Lanes.map(runLane(spark, dataDir, _, passes.length))
      passes += (System.nanoTime() - p0) / 1e9
    }
    val cpu = (Jvm.cpuNanos - cpu0) / 1e9
    val gc = (Jvm.gcMillis - gc0) / 1e3
    engine.foreach(_.armed = false)
    val peak = Jvm.disarm() / (1024.0 * 1024.0)
    clearCaches(spark)

    val expected = answers.map(readAnswers).getOrElse(Map.empty)
    val bad = results.filter(r => r.error.isDefined ||
      (answers.isDefined && !expected.get(r.lane).contains((r.rows, r.digest))))
    val e2e = Map(
      "setup_s" -> (Stats.median(setups), "s"),
      "work_s" -> (Stats.median(passes.toSeq), "s"),
      "cpu_s" -> (cpu, "s"),
      "peak_heap_mb" -> (peak, "MB"))
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    layers("query.suite_s") = (Stats.median(passes.toSeq), "s")
    layers("query.cache_builds") = ((graft.queries.FamilyCaches.buildCount - builds0).toDouble, "count")
    layers("jvm.gc_s") = (gc, "s")
    engine.foreach { en =>
      Lanes.foreach { l =>
        val rs = results.filter(_.lane == l)
        val a = en.of(l)
        layers(s"query.$l.s") = (Stats.median(rs.map(_.secs).toSeq), "s")
        layers(s"query.$l.shuffle_bytes") = ((a.shuffleRead + a.shuffleWrite).toDouble / passes.length, "bytes")
      }
      val laneSpans = results.groupBy(_.lane).map { case (l, rs) =>
        l -> rs.map(r => (tracer.add("query.lane", r.start, r.end), r.start, r.end)).toSeq
      }
      en.trace(tracer, laneSpans)
    }
    val notes = Seq(f"passes=${passes.length} suite_s=${Stats.median(passes.toSeq)}%.3f " +
      results.map(r => f"${r.lane}=${r.secs}%.2f").mkString(" ")) ++
      bad.map(r => s"check: ${r.lane} pass ${r.pass} rows=${r.rows} digest=${r.digest} " +
        s"expected=${expected.get(r.lane)} error=${r.error.getOrElse("")}")
    (CdcBench.Outcome(e2e, layers.toMap, results.size.toLong, bad.size.toLong, notes),
      results.toSeq)
  }
}

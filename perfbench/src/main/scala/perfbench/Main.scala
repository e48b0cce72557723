package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark harness: runs one workload against the program in this
  * JVM and prints one JSON result line last on stdout.
  *
  *   Main --workload <cdc_bulk|cdc_oltp|query_heads> --seed <n>
  *        --seconds <n> --trace <0|1> --work <dir> --data <dir> --answers <file>
  *        [--record]
  *
  * With --trace 0 the result carries the end-to-end metrics, with
  * --trace 1 the per-layer metrics (and the spans go to <work>/trace.jsonl).
  * --record runs one query_heads pass and writes the answers file instead.
  */
object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "work_s", "cpu_s", "peak_heap_mb")

  /** Every per-layer metric with its unit; a workload that does not run a
    * layer reports it as 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "tail.recv_decode_s" -> "s", "tail.capture_s" -> "s", "tail.txns" -> "count",
    "tail.rows" -> "count", "tail.capture_files" -> "count", "tail.capture_bytes" -> "bytes",
    "gen.late_p99_ms" -> "ms",
    "cdc.rows_per_s" -> "1/s", "cdc.ack_s" -> "s", "cdc.txn_per_s" -> "1/s",
    "cdc.ack_p50_ms" -> "ms", "cdc.ack_p99_ms" -> "ms",
    "cdc.sink_p50_ms" -> "ms", "cdc.sink_p99_ms" -> "ms",
    "stream.batches" -> "count", "stream.latest_offset_ms_p50" -> "ms",
    "stream.latest_offset_ms_last" -> "ms", "stream.partitions_per_batch_p50" -> "count",
    "stream.add_batch_ms_p50" -> "ms", "stream.add_batch_ms_max" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms", "stream.commit_offsets_ms_p50" -> "ms",
    "stream.query_planning_ms_p50" -> "ms", "stream.tasks" -> "count", "sink.files" -> "count",
    "decode.rows_per_s" -> "1/s", "handler.rows_per_s" -> "1/s",
    "query.suite_s" -> "s", "query.cache_builds" -> "count",
    "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.shuffle_read_bytes" -> "bytes", "query.shuffle_write_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes", "query.executor_cpu_s" -> "s", "query.gc_s" -> "s",
    "jvm.gc_s" -> "s",
    "self.tail_s" -> "s", "self.stream_s" -> "s", "self.lane_s" -> "s",
    "self.job_s" -> "s", "self.stage_s" -> "s", "trace.layer_sum_share" -> "ratio",
    "trace.spans" -> "count") ++
    QueryHeads.Lanes.flatMap(l => Seq(s"query.$l.s" -> "s", s"query.$l.shuffle_bytes" -> "bytes"))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val dataDir = Paths.get(opts("data")).toAbsolutePath.toString
    val answers = Paths.get(opts("answers")).toAbsolutePath
    require(Seq("cdc_bulk", "cdc_oltp", "query_heads").contains(workload),
      s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.contains("--warm")) {
      // class-loading pass for the build's class-data-sharing archive:
      // batch parquet, the graft-cdc stream into a parquet sink, Jackson
      val dir = work.resolve("warm").toString
      spark.range(1000).selectExpr("id % 7 AS k", "CAST(id AS STRING) AS v")
        .write.mode("overwrite").parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").groupBy("k").count().collect()
      java.nio.file.Files.createDirectories(Paths.get(dir, "capture"))
      spark.readStream.format("graft-cdc").option("path", s"$dir/capture").load()
        .writeStream.format("parquet").option("checkpointLocation", s"$dir/ckpt")
        .option("path", s"$dir/sink").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      spark.stop()
      return
    }
    val tracer = new Tracer(traced, s"$workload-$seed")
    val engine = if (traced) {
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val outcome =
      if (record) {
        val (_, results) = QueryHeads.run(spark, 0, tracer, dataDir, None, None)
        QueryHeads.writeAnswers(answers, Paths.get(dataDir).getFileName.toString, results)
        println(s"recorded ${results.size} lanes into $answers")
        results.foreach(r => println(s"  ${r.lane} rows=${r.rows} digest=${r.digest} ${r.error.getOrElse("")}"))
        spark.stop()
        return
      } else if (workload == "query_heads")
        QueryHeads.run(spark, seconds, tracer, dataDir, Some(answers), engine)._1
      else CdcBench.run(spark, workload, seed, seconds, tracer, work, engine)

    val metrics: Seq[(String, (Double, String))] =
      if (!traced) EndToEnd.map(k => k -> outcome.e2e(k))
      else {
        val layers = collection.mutable.LinkedHashMap(outcome.layers.toSeq: _*)
        engine.foreach { en =>
          // engine totals over the query lanes (the stream's micro-batches
          // count apart, as stream.tasks)
          val t = en.totals(QueryHeads.Lanes)
          layers("query.jobs") = (t.jobs.toDouble, "count")
          layers("query.stages") = (t.stages.toDouble, "count")
          layers("query.tasks") = (t.tasks.toDouble, "count")
          layers("query.shuffle_read_bytes") = (t.shuffleRead.toDouble, "bytes")
          layers("query.shuffle_write_bytes") = (t.shuffleWrite.toDouble, "bytes")
          layers("query.spill_bytes") = (t.spill.toDouble, "bytes")
          layers("query.executor_cpu_s") = (t.cpuNs / 1e9, "s")
          layers("query.gc_s") = (t.gcMs / 1e3, "s")
          layers("stream.tasks") = (en.of("stream").tasks.toDouble, "count")
          if (workload != "query_heads") en.trace(tracer, Map.empty)
        }
        val self = tracer.selfMicros.withDefaultValue(0L)
        def s(names: String*) = names.map(self).sum / 1e6
        layers("self.tail_s") = (s("tail.recv_decode", "tail.capture"), "s")
        layers("self.stream_s") = (s("stream.batch", "stream.latestOffset", "stream.walCommit",
          "stream.getBatch", "stream.queryPlanning", "stream.addBatch", "stream.commitOffsets",
          "stream.listener"), "s")
        layers("self.lane_s") = (s("query.lane"), "s")
        layers("self.job_s") = (s("spark.job"), "s")
        layers("self.stage_s") = (s("spark.stage"), "s")
        layers("trace.spans") = (tracer.all.size.toDouble, "count")
        tracer.write(work.resolve("trace.jsonl"))
        PerLayer.map { case (k, u) => k -> layers.getOrElse(k, (0.0, u)) }
      }
    spark.stop()

    outcome.notes.foreach(n => println(s"# $workload: $n"))
    metrics.foreach { case (k, (v, u)) => println(f"# $k%-40s $v%.6f $u") }
    val failedRate = if (outcome.attempted > 0) outcome.failed.toDouble / outcome.attempted else 1.0
    println(f"# error_rate ${failedRate}%.6f (${outcome.failed} of ${outcome.attempted})")
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${outcome.failed == 0}, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${outcome.failed}, "metrics": {${body.mkString(", ")}}}""")
  }
}

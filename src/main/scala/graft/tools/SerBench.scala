package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.route.TopicRouter
import graft.sources.SnapshotSource
import graft.transform.Handlers

/** Ablation microbench for the two CDC serializer lanes: attributes the
  * flat-vs-envelope throughput delta to its component expressions.
  * Usage: runMain graft.tools.SerBench [sfDir] [isolate]
  *
  * `isolate` mode runs the flat lane, the envelope lane, and the
  * envelope lane with the production metrics probe attached,
  * INTERLEAVED round-robin across attempts so co-located load drift
  * hits every lane equally.
  */
object SerBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val isolate = args.lift(1).contains("isolate")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val router = TopicRouter(Map("public.lineitem" -> "lineitem-topic"))
    def events = SnapshotSource.snapshot(spark, sfDir, "lineitem")
    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(tag: String)(df: DataFrame): Unit = {
      run(df) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(df); (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag: ${ts.min}%.3f s  (attempts ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

    if (isolate) {
      val lanes: Seq[(String, () => DataFrame)] = Seq(
        "flat" -> (() => Handlers.declarative(events, router, "l_orderkey")),
        "envelope" -> (() => Handlers.debeziumEnvelope(events, router, "l_orderkey")),
        // the fused accumulator probe (production path since r14): the
        // FULL metric set — pipeline + quality PRE-handler and per-topic
        // success counts POST-handler — with zero CollectMetrics nodes
        "env+probe" -> (() => {
          val probe = new graft.streaming.PipelineProbe(
            spark.sparkContext, router, "l_orderkey", "serbench")
          probe.attachSink(Handlers.debeziumEnvelope(
            probe.attach(events), router, "l_orderkey"))
        }))
      lanes.foreach { case (_, mk) => run(mk()) } // warm all lanes first
      val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      (1 to 7).foreach { _ =>
        lanes.foreach { case (tag, mk) =>
          val df = mk()
          val t0 = System.nanoTime(); run(df)
          samples(tag) = samples(tag) :+ (System.nanoTime() - t0) / 1e9
        }
      }
      lanes.foreach { case (tag, _) =>
        val ts = samples(tag).sorted
        println(f"$tag%-18s min ${ts.min}%.3f s  median ${ts(ts.length / 2)}%.3f s" +
          s"  (attempts ${ts.map(t => f"$t%.2f").mkString(", ")})")
      }
      // one machine-readable line for the per-round SERBENCH_rN.json
      // artifact: headline serializer-lane numbers should come from THIS
      // interleaved run, not from whichever contended suite run was best
      val nRows = events.count()
      val laneJson = lanes.map { case (tag, _) =>
        val ts = samples(tag).sorted
        val med = ts(ts.length / 2)
        f""""$tag":{"min_sec":${ts.min}%.3f,"median_sec":$med%.3f,""" +
          f""""rows_per_sec_min":${nRows / ts.min}%.0f,""" +
          f""""rows_per_sec_median":${nRows / med}%.0f,""" +
          s""""attempts":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
      }.mkString(",")
      println(s"""{"metric":"serbench_isolate","sf_dir":"$sfDir","rows":$nRows,""" +
        s""""interleaved_attempts":7,"lanes":{$laneJson}}""")
      spark.stop(); return
    }
    val img = Handlers.payloadImage(col("op"), col("oldData"), col("newData"))
    def base = events
      .filter(col("op").isin(graft.model.Op.all: _*))
      .withColumn("topic", router.resolveColumn(col("tableNamespace"), col("tableName")))
      .filter(col("topic").isNotNull)

    time("flat full")(Handlers.declarative(events, router, "l_orderkey"))
    time("envelope full")(Handlers.debeziumEnvelope(events, router, "l_orderkey"))
    time("flat with map_set_key, no headers/casts")(base.select(
      col("topic"),
      element_at(img, "l_orderkey").as("key"),
      to_json(call_function("map_set_key", img, lit("operation"),
        col("op"))).as("value")))
    time("flat minus headers")(base.select(
      col("topic"),
      element_at(img, "l_orderkey").cast("binary").as("key"),
      to_json(map_concat(
        call_function("map_drop_key", img, lit("operation")),
        map(lit("operation"), col("op")))).cast("binary").as("value")))
    time("flat minus binary casts")(base.select(
      col("topic"),
      element_at(img, "l_orderkey").as("key"),
      to_json(map_concat(
        call_function("map_drop_key", img, lit("operation")),
        map(lit("operation"), col("op")))).as("value")))
    time("flat json of raw img (no map ops)")(base.select(
      col("topic"),
      element_at(img, "l_orderkey").as("key"),
      to_json(img).as("value")))
    time("headers only")(base.select(
      col("topic"),
      array(
        struct(lit("operation").as("key"), col("op").cast("binary").as("value")),
        struct(lit("table").as("key"),
          concat_ws(".", col("tableNamespace"), col("tableName")).cast("binary").as("value")),
        struct(lit("source").as("key"), lit("graft").cast("binary").as("value"))
      ).as("headers")))
    spark.stop()
  }
}

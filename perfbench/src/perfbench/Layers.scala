package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{RegionAssign, Tables, Trajectory}
import graft.functions.GeoFunctions
import graft.queries.Portable

/** The g40 pipeline taken apart into its engine layers, for the traced run.
  *
  * Each layer reads the persisted output of the layer before it, so its
  * span times that layer's own work (plus building its in-memory cache)
  * and nothing upstream. Row counts and shares come from `Dataset.observe`
  * on the same execution. The two geo kernels are timed in isolation over
  * `spark.range` input.
  */
object Layers {
  val KernelRows = 2000000L

  private def materialize(tracer: Tracer, name: String, df: DataFrame,
                          extra: Seq[Column] = Nil, keep: Boolean = true): (DataFrame, Map[String, Double]) = {
    val obs = Observation(name.replace('.', '_'))
    val observed = df.observe(obs, count(lit(1)).as("rows"), extra: _*)
    val out = if (keep) observed.persist() else observed
    tracer(name)(out.write.mode("overwrite").format("noop").save())
    val m = obs.get.map { case (k, v) => k -> Option(v).map(_.toString.toDouble).getOrElse(0.0) }
    tracer.annotate(name, m)
    (out, m)
  }

  private def kernel(spark: SparkSession, tracer: Tracer, name: String, expr: Column): Unit = {
    val df = spark.range(KernelRows)
      .select(((col("id") * 7919 % 1700000) / 10000.0 - 85.0).as("lat"),
        ((col("id") * 104729 % 3500000) / 10000.0 - 175.0).as("lon"))
      .select(expr.as("k"))
    tracer(name)(df.write.mode("overwrite").format("noop").save())
    val s = tracer.spans.last.seconds
    tracer.annotate(name, Map("rows" -> KernelRows.toDouble, "rows_per_s" -> KernelRows / s))
  }

  def run(spark: SparkSession, data: String, tracer: Tracer): Unit = {
    val (events, ev) = materialize(tracer, "engine.Tables.events", Tables.events(spark, data))

    // the fix and dictionary frames exactly as g40_pipeline builds them
    val k = Portable.fixKey(col("user_id"), col("ts"))
    val fx = events.select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("lat", Portable.latFromKey(k))
      .withColumn("lon", Portable.lonFromKey(k))
      .withColumn("hour", date_trunc("hour", col("ts")))
    val cust = Tables(spark, data, "customer")
      .select(col("c_custkey"), (col("c_nationkey") + 1).as("agent"))
      .withColumn("lat", Portable.latFromKey(col("c_custkey")))
      .withColumn("lon", Portable.lonFromKey(col("c_custkey")))
    val precisions = Seq(4, 3)
    val assignedDf = RegionAssign.assign(fx, col("lat"), col("lon"),
        cust, col("lat"), col("lon"), col("agent"),
        precisions = precisions, sentinel = 0L, expandNeighbors = true)
      .select(col("user_id"), col("event_id"), col("ts"), col("hour"),
        col("agent_id").cast("string").as("region"))
    val (assigned, as) = materialize(tracer, "engine.RegionAssign.assign", assignedDf,
      Seq(sum(when(col("region") =!= "0", 1L).otherwise(0L)).as("hits")))
    val dictCells = precisions.map { p =>
      RegionAssign.dictAtNeighbors(cust, col("lat"), col("lon"), col("agent"), p).count()
    }.sum
    tracer.annotate("engine.RegionAssign.assign", Map(
      "hit_share" -> as("hits") / math.max(1.0, as("rows")),
      "dict_cells" -> dictCells.toDouble))

    val (state, st) = materialize(tracer, "engine.Trajectory.hourlyState",
      Trajectory.hourlyStateFrom(assigned))
    tracer.annotate("engine.Trajectory.hourlyState",
      Map("keep_share" -> st("rows") / math.max(1.0, ev("rows"))))
    val (_, gf) = materialize(tracer, "engine.Trajectory.gapFill",
      Trajectory.gapFillRelational(state), keep = false)
    tracer.annotate("engine.Trajectory.gapFill",
      Map("fill_share" -> (gf("rows") - st("rows")) / math.max(1.0, gf("rows"))))
    materialize(tracer, "engine.Trajectory.transitions", Trajectory.transitions(state), keep = false)

    kernel(spark, tracer, "functions.GeoFunctions.geohash",
      GeoFunctions.geohashCol(col("lat"), col("lon"), 8))
    kernel(spark, tracer, "functions.GeoFunctions.haversine",
      GeoFunctions.haversineCol(col("lat"), col("lon"), lit(31.2304), lit(121.4737)))

    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** JVM side of the benchmark: one closed-loop client at local[nproc].
  *
  * Usage: Main --data <dir> --ops <a,b,...> --seconds <s> --trace <0|1>
  *             --out <result.json> --verify-dir <dir> --local-dir <dir>
  *             --run-id <id> [--min-passes <n>]
  *
  * Set-up starts the session three times (the last one is kept) and runs
  * one warm pass that also writes every operation's output as parquet
  * for the DuckDB cross-check. Measured passes then repeat the operation
  * list into the noop sink until `--seconds` have elapsed, and at least
  * `--min-passes` (default [[MinPasses]]) times, so the caller can take
  * medians over passes; the retained heap is read once, after the first
  * measured pass. Each
  * operation is one `SparkEntry.queries` entry, started only after the
  * previous one finished. With `--trace 1` the traced pass and the layer
  * decomposition ([[Layers]]) run between two untraced passes.
  *
  * Every execution carries an order-independent output hash
  * (row count, sum and xor of xxhash64 over all columns) collected by
  * `Dataset.observe`, so checking it adds no job. The caller compares the
  * hashes and computes the metrics from the JSON written to `--out`.
  */
object Main {

  val MinPasses = 3

  final case class OpRun(name: String, seconds: Double, hash: String, error: String)

  /** The judged session: the three r17 settings, UTC and GraftExtensions,
    * as `graft.Bench` builds it. */
  def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()

  private def hashColumns(df: DataFrame): Seq[Column] = {
    val hashable = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = xxhash64(hashable: _*)
    Seq(count(lit(1)).as("n"), sum(pmod(h, lit(1000000007L))).as("s"), bit_xor(h).as("x"))
  }

  def runOp(spark: SparkSession, data: String, name: String,
            sink: (String, DataFrame) => Unit): OpRun = {
    val t0 = System.nanoTime()
    try {
      val df = graft.SparkEntry.queries(name)(spark, data)
      val obs = Observation(s"h_$name")
      val h = hashColumns(df)
      sink(name, df.observe(obs, h.head, h.tail: _*))
      val dt = (System.nanoTime() - t0) / 1e9
      val r = obs.get
      OpRun(name, dt, s"${r("n")}:${r("s")}:${r("x")}", null)
    } catch {
      case e: Throwable =>
        OpRun(name, (System.nanoTime() - t0) / 1e9, null,
          e.toString.replaceAll("\\s+", " ").take(300))
    } finally {
      // as graft.Bench: no cache outlives the operation that made it
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  def noop(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Driver heap in use after a full collection, in MB. The pause between
    * two collections lets Spark's ContextCleaner drop the broadcasts and
    * shuffles the first one found unreachable. */
  def heapRetainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Owner of an operation for the per-module time split. */
  def module(name: String): String =
    if (name.matches("st\\d.*")) "streaming"
    else if (name.matches("s\\d.*")) "sources"
    else if (name == "o04_native_topk") "operators.TopKPerKey"
    else Seq(
      "Relational" -> graft.queries.Relational.queries,
      "GeoQueries" -> graft.queries.GeoQueries.queries,
      "EpiQueries" -> graft.queries.EpiQueries.queries,
      "TextQueries" -> graft.queries.TextQueries.queries,
      "VectorQueries" -> graft.queries.VectorQueries.queries,
      "MultimodalQueries" -> graft.queries.MultimodalQueries.queries,
      "StreamingQueries" -> graft.queries.StreamingQueries.queries)
      .collectFirst { case (m, qs) if qs.contains(name) => s"queries.$m" }
      .getOrElse("queries.unknown")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val ops = opt("ops").split(",").toSeq.filter(_.nonEmpty)
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val verifyDir = opt("verify-dir")
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark: SparkSession = null
    val sessionS = (0 until 3).map { i =>
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(cpus, opt("local-dir"))
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
      (System.currentTimeMillis() - t0) / 1e3
    }

    val verifySink = (name: String, df: DataFrame) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
    val w0 = System.nanoTime()
    val warm = ops.map(runOp(spark, data, _, verifySink))
    val warmS = (System.nanoTime() - w0) / 1e9
    val oracles = ops.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), Json.render(Json.obj(oracles: _*)))

    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[OpRun], Double)]
    def pass(): (Double, Seq[OpRun], Double) = {
      val t0 = System.nanoTime()
      val runs = ops.map(runOp(spark, data, _, noop))
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, runs, if (passes.isEmpty) heapRetainedMb() else Double.NaN)
    }

    var trace = Json.obj()
    if (!traced) {
      val m0 = System.nanoTime()
      val minPasses = opt.get("min-passes").fold(MinPasses)(_.toInt)
      while (passes.size < minPasses || (System.nanoTime() - m0) / 1e9 < seconds) passes += pass()
    } else {
      passes += pass()
      val counters = new Counters(spark)
      val tracer = new Tracer(opt("run-id"), counters)
      counters.register()
      val startMs = System.currentTimeMillis()
      val tracedPass = tracer("pass") {
        ops.map(n => tracer(s"${module(n)}.$n")(runOp(spark, data, n, noop)))
      }
      val endMs = System.currentTimeMillis()
      val passSpan = tracer.spans.last
      val idle = counters.idleSeconds(startMs, endMs)
      tracer("layers")(Layers.run(spark, data, tracer))
      counters.unregister()
      passes += pass()
      trace = Json.obj(
        "pass_s" -> passSpan.seconds,
        "untraced_pass_s" -> passes.map(_._1).sum / passes.size,
        "driver_only_s" -> idle,
        "pass_counters" -> Json.obj(passSpan.counters.toSeq: _*),
        "pass_ops" -> tracedPass.map(opJson),
        "spans" -> tracer.spans.map(Json.span))
    }

    val out = Json.obj(
      "cpus" -> cpus,
      "session_s" -> sessionS,
      "warm_s" -> warmS,
      "warm_ops" -> warm.map(opJson),
      "passes" -> passes.map { case (wall, runs, heap) =>
        Json.obj("wall_s" -> wall, "heap_mb" -> heap, "ops" -> runs.map(opJson))
      },
      "trace" -> trace)
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    spark.stop()
  }

  private def opJson(r: OpRun) =
    Json.obj("name" -> r.name, "s" -> r.seconds, "hash" -> r.hash, "error" -> r.error)
}

/** Minimal JSON rendering for the result file (no extra dependency). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def span(s: Span): Obj = obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "counters" -> obj(s.counters.toSeq.sortBy(_._1): _*),
    "attrs" -> obj(s.attrs.toSeq.sortBy(_._1): _*))

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = graft.queries.Portable.jsonEscape(s)
}

package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, Pipeline, ResultCache}
import graft.operators.{Forecast, WeatherApi}

/** JVM side of the warehouse benchmark: runs one workload against the
  * engine's public entry points and writes every timing, output
  * location and trace record as one JSON file. `run.py` drives it,
  * checks the outputs and computes the metrics.
  *
  * Usage: `Harness <workload> <inputsDir> <workDir> <outJson> <seconds>
  * <trace 0|1>`. Everything it writes stays under `workDir`.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** Timed set-up repetitions per run; `setup_s` takes their median. */
  private val Setups = 3

  final case class Ctx(spark: SparkSession, inputs: String, work: String,
                       seconds: Double, trace: Boolean, tracer: Tracer) {
    val checks: String = s"$work/checks"
    def feed(name: String): String = s"$inputs/$name"
  }

  def main(args: Array[String]): Unit = {
    val mainUs = Clock.us()
    val Array(workload, inputs, work, out, seconds, trace) = args
    val spark = session(work)
    val sessionUs = Clock.us()
    val ctx = Ctx(spark, inputs, work, seconds.toDouble, trace == "1", new Tracer)
    Files.createDirectories(Paths.get(ctx.checks))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "main_us" -> mainUs, "session_us" -> sessionUs,
      "cores" -> spark.sparkContext.defaultParallelism)
    result ++= (workload match {
      case "trickle" => trickle(ctx)
      case "dashboard" => dashboard(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    })
    result("peak_rss_mb") = peakRssMb()
    result("oracle") = Map(
      "silver" -> graft.operators.Weather.silverCleanSql,
      "forecast" -> Forecast.forecastMlSql)
    spark.stop()
    mapper.writeValue(new File(out), result)
  }

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("perfbench")
      .withExtensions(new GraftExtensions)
      // the session graft.Pipeline's own entry point builds
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---------------------------------------------------------------
  // Measurement scaffolding shared by the workloads
  // ---------------------------------------------------------------

  /** The listeners of one traced phase (set-up, or the window's second
    * half). */
  private final class Listeners(spark: SparkSession) {
    val engine = new EngineListener
    val plans = new PlanListener
    val streams = new StreamListener
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)

    def close(): Map[String, Any] = {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(engine)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(streams)
      Map("jobs" -> engine.records, "executions" -> plans.records,
        "progress" -> streams.records)
    }
  }

  /** A workload's set-up: `Setups` timed backfills of the snapshot
    * feed (`Pipeline.run` into a fresh warehouse root, then
    * `Forecast.forecastMl` over the same feed, collected), then one timed
    * warm-up of the op's own path. The first backfill also warms the JVM;
    * the last one's warehouse is the workload's starting store, and its
    * outputs are kept for the checker. A traced run traces the backfills
    * too: they are the only calls into `Pipeline.run` and `Forecast`. */
  private def setUp(ctx: Ctx)(warmUp: Pipeline.Warehouse => Any)
      : (Map[String, Any], Pipeline.Warehouse) = {
    def secs(body: => Any): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val listeners = if (ctx.trace) Some(new Listeners(ctx.spark)) else None
    ctx.tracer.enabled = ctx.trace
    val snapshot = ctx.feed("snapshot")
    var wh: Pipeline.Warehouse = null
    var forecast: DataFrame = null
    val reps = (0 until Setups).map { k =>
      if (k > 0) rmTree(s"${ctx.work}/store-${k - 1}")
      wh = Pipeline.Warehouse(s"${ctx.work}/store-$k/wh")
      secs {
        ctx.tracer.span("Pipeline.run")(Pipeline.run(ctx.spark, snapshot, wh.root))
        if (ctx.tracer.enabled) PerfbenchBus.drain(ctx.spark.sparkContext)
        ctx.tracer.span("Forecast.forecastMl") {
          val fc = Forecast.forecastMl(ctx.spark, snapshot)
          forecast = ctx.spark.createDataFrame(fc.collect().toList.asJava, fc.schema)
        }
      }
    }
    ctx.tracer.enabled = false
    val traced = listeners.map(_.close()).getOrElse(Map.empty)
    val check = s"${ctx.checks}/setup"
    copyTree(wh.silver, s"$check/silver")
    forecast.coalesce(1).write.parquet(s"$check/forecast")
    (Map("reps_s" -> reps, "warmup_s" -> secs(warmUp(wh)),
      "silver" -> s"$check/silver", "forecast" -> s"$check/forecast",
      "listeners" -> traced), wh)
  }

  /** The timed part of an op, inside its "op" span: the record's
    * `start_us`/`end_us`. Work an op does after it (keeping outputs for
    * the checker) is not timed. */
  private def timed(ctx: Ctx)(body: => Unit): Map[String, Any] = {
    val start = Clock.us()
    ctx.tracer.span("op")(body)
    Map("start_us" -> start, "end_us" -> Clock.us())
  }

  /** Closed-loop measurement: `clients` threads each issue their next op
    * when the previous one returns, until `seconds` have passed. With
    * tracing, the first half of the window runs untraced and the second
    * half traced, so one run also yields the tracing overhead. */
  private def measure(ctx: Ctx, clients: Int)(
      op: Int => Map[String, Any]): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    val opCounter = new AtomicInteger(0)
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windowStart = Clock.us()
    val deadline = windowStart + (ctx.seconds * 1e6).toLong
    val traceFrom = if (ctx.trace) windowStart + (ctx.seconds * 5e5).toLong else Long.MaxValue
    var listeners: Option[Listeners] = None
    val lock = new Object
    def runClient(): Unit = {
      var now = Clock.us()
      while (now < deadline) {
        lock.synchronized {
          if (now >= traceFrom && listeners.isEmpty) {
            listeners = Some(new Listeners(ctx.spark))
            ctx.tracer.enabled = true
          }
        }
        val traced = ctx.tracer.enabled
        val id = opCounter.incrementAndGet()
        sc.setLocalProperty("perfbench.op", id.toString)
        val start = Clock.us()
        val rec = ctx.tracer.inOp(id) {
          try op(id) catch {
            case e: Exception => Map[String, Any]("error" -> e.toString,
              "start_us" -> start, "end_us" -> Clock.us())
          }
        }
        sc.setLocalProperty("perfbench.op", null)
        lock.synchronized {
          records += rec ++ Map("op" -> id, "traced" -> traced)
        }
        now = Clock.us()
      }
    }
    val threads = (1 until clients).map { _ =>
      val t = new Thread(() => runClient())
      t.start(); t
    }
    runClient()
    threads.foreach(_.join())
    val windowEnd = Clock.us()
    ctx.tracer.enabled = false
    Map("window_start_us" -> windowStart, "window_end_us" -> windowEnd,
      "ops" -> records.sortBy(_("op").asInstanceOf[Int]).toList,
      "spans" -> ctx.tracer.records,
      "listeners" -> listeners.map(_.close()).getOrElse(Map.empty))
  }

  // ---------------------------------------------------------------
  // Workloads
  // ---------------------------------------------------------------

  /** One op lands the next trickle batch as a new parquet directory and
    * drains it with `Pipeline.runStreaming` (AvailableNow). */
  private def trickle(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val batches = new File(ctx.feed("batches")).list().sorted
    def land(batch: String): String = {
      val landing = s"${ctx.work}/landing/$batch"
      copyTree(ctx.feed(s"batches/$batch"), landing)
      landing
    }
    // the warm-up drains the first batch; timed ops land the ones after it
    val (setup, wh) = setUp(ctx)(Pipeline.runStreaming(spark, land(batches(0)), _))
    val replays = meta(ctx)("replays").asInstanceOf[Map[String, Any]]
    val m = measure(ctx, clients = 1) { id =>
      val batch = batches(id)
      val landing = land(batch)
      val replay = replays.contains(batch)
      val bronzeBefore = if (replay) Some(digest(spark, wh.bronze)) else None
      val filesBefore = if (ctx.tracer.enabled) Some(listing(wh)) else None
      val times = timed(ctx) {
        ctx.tracer.span("Pipeline.runStreaming")(
          Pipeline.runStreaming(spark, landing, wh))
      }
      // outside the op: keep what the checker needs
      val check = s"${ctx.checks}/op-$id"
      copyTree(wh.silver, s"$check/silver")
      val extra = mutable.LinkedHashMap[String, Any](
        "batch" -> batch, "silver" -> s"$check/silver", "replay" -> replay,
        "bronze_unchanged" -> bronzeBefore.forall(_ == digest(spark, wh.bronze)))
      filesBefore.foreach { before =>
        extra("upsert") = upsertStats(before, listing(wh), landing)
        extra("rows_landed") = spark.read.parquet(landing).count()
      }
      times ++ extra
    }
    Map("setup" -> setup, "measure" -> m, "store" -> storeStats(wh))
  }

  /** Dashboard reads through `ResultCache` over `WeatherApi`, two
    * closed-loop clients drawing from one seeded request sequence. */
  private def dashboard(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    var bronze, silver: DataFrame = null
    val (setup, wh) = setUp(ctx) { wh =>
      bronze = spark.read.parquet(wh.bronze)
      silver = spark.read.parquet(wh.silver)
      WeatherApi.toJsonRows(WeatherApi.metrics(bronze, silver,
        bronze.select("site").head().getString(0))).collect()
    }
    val requests = scala.io.Source.fromFile(ctx.feed("requests.jsonl"))
      .getLines().map(l => mapper.readValue(l, classOf[Map[String, Any]]))
      .toVector
    val cache = new ResultCache(ttlMs = 30000, maxEntries = 64)
    val responses = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    def endpoint(ep: String, site: String, hours: Int): DataFrame =
      ctx.tracer.span(s"WeatherApi.$ep")(ep match {
        case "sites" => WeatherApi.sites(bronze)
        case "summary" => WeatherApi.summary(silver, Some(site))
        case "hourly" => WeatherApi.recentHours(bronze, silver, site, hours)
        case "raw" => WeatherApi.recentRaw(bronze, site, hours)
        case "metrics" => WeatherApi.metrics(bronze, silver, site)
      })
    val m = measure(ctx, clients = 2) { id =>
      val r = requests((id - 1) % requests.size)
      val ep = r("endpoint").toString
      val site = r("site").toString
      val hours = r("hours").asInstanceOf[Int]
      val key = ep match {
        case "sites" => "sites"
        case "summary" | "metrics" => s"$ep|$site"
        case _ => s"$ep|$site|$hours"
      }
      var loaded = false
      var rows: Seq[String] = Nil
      var notFound = false
      val times = timed(ctx) {
        try {
          rows = ctx.tracer.span("ResultCache.apply") {
            val df = cache(spark, key) { loaded = true; endpoint(ep, site, hours) }
            WeatherApi.toJsonRows(df).collect().toSeq
          }
        } catch { case _: WeatherApi.UnknownSiteException => notFound = true }
      }
      val request = times ++ Map("endpoint" -> ep, "site" -> site,
        "hours" -> hours, "key" -> key, "hit" -> !loaded)
      if (notFound) request + ("not_found" -> true)
      else {
        val first = Option(responses.putIfAbsent(key, rows)).getOrElse(rows)
        request + ("consistent" -> (first == rows))
      }
    }
    val (hits, misses) = cache.stats
    Map("setup" -> setup, "measure" -> m, "store" -> storeStats(wh),
      "warehouse" -> wh.root, "responses" -> responses.asScala.toMap,
      "cache" -> Map("hits" -> hits, "misses" -> misses,
        "oversized" -> cache.oversized))
  }

  // ---------------------------------------------------------------
  // Store inspection (outside the timed calls)
  // ---------------------------------------------------------------

  private def tables(wh: Pipeline.Warehouse): Seq[(String, String)] = Seq(
    "bronze" -> wh.bronze, "silver" -> wh.silver,
    "mart_features" -> wh.martFeatures, "mart_kpis" -> wh.martKpis)

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  /** Bytes on disk and data files per `ds` partition, per table. */
  private def storeStats(wh: Pipeline.Warehouse): Map[String, Any] =
    tables(wh).map { case (name, dir) =>
      val fs = files(dir)
      val data = fs.filter(f => f.getFileName.toString.endsWith(".parquet"))
      val parts = data.map(_.getParent).distinct.size
      name -> Map("bytes" -> fs.map(Files.size).sum,
        "data_files" -> data.size, "partitions" -> parts)
    }.toMap

  /** (relative path -> (size, mtime)) of every file in the stores. */
  private def listing(wh: Pipeline.Warehouse): Map[String, (Long, Long)] =
    tables(wh).flatMap { case (_, dir) =>
      files(dir).map(f => f.toString ->
        (Files.size(f), Files.getLastModifiedTime(f).toMillis))
    }.toMap

  private def upsertStats(before: Map[String, (Long, Long)],
                          after: Map[String, (Long, Long)],
                          landing: String): Map[String, Any] = {
    val changed = after.filter { case (f, v) => !before.get(f).contains(v) }
    val removed = before.keySet -- after.keySet
    def dsDirs(paths: Iterable[String], table: String): Int =
      paths.filter(_.contains(s"/$table/"))
        .flatMap(_.split('/').find(_.startsWith("ds="))).toSet.size
    Map("bronze_partitions_rewritten" ->
        dsDirs(changed.keys ++ removed, "bronze"),
      "silver_partitions_rewritten" -> dsDirs(changed.keys ++ removed, "silver"),
      "bytes_written" -> changed.values.map(_._1).sum,
      "bytes_landed" -> files(landing).map(Files.size).sum)
  }

  /** Order-insensitive content digest of a parquet store. */
  private def digest(spark: SparkSession, path: String): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(path)
    // 32-bit row hashes, so the sum cannot overflow
    val h = xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xffffffffL))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def meta(ctx: Ctx): Map[String, Any] =
    mapper.readValue(new File(ctx.feed("meta.json")), classOf[Map[String, Any]])

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    files(from).foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def rmTree(dir: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }
}

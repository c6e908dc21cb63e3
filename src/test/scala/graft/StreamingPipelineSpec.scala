package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Weather
import graft.sources.NasaIngest

/** The composed STREAMING pipeline gates (VERDICT r6 item 2) and the
  * incremental gold-mart maintenance IO contract (item 7): a drained
  * micro-batch warehouse equals the batch warehouse store-for-store;
  * cross-batch late data wins per the upsert contract; and a bounded
  * refresh rewrites ONLY the touched mart partitions (byte-identity
  * on the untouched ones). */
class StreamingPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Content hashes of the part files under one ds partition — bytes,
    * not (size, mtime), per the r6 advice: mtime granularity can
    * false-pass a same-size rewrite. */
  private def partFiles(store: String, ds: String): Map[String, String] = {
    val d = new java.io.File(s"$store/ds=$ds")
    Option(d.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> md.map("%02x".format(_)).mkString
      }.toMap
  }

  test("q39: streaming pipeline == batch pipeline, store for store " +
       "(Silver AND both marts), on the fixture feed") {
    val streamed = rows(Pipeline.pipelineSilverStreaming(spark, sf))
    assert(streamed === rows(Weather.silverClean(spark, sf)),
      "published streaming Silver == in-memory batch kernel")

    // and the marts the micro-batches maintained incrementally equal
    // a wholesale batch rebuild over the same data
    val whB = Pipeline.Warehouse(TestTmp.dir("graft-spb-").toString + "/wh")
    Pipeline.run(spark, sf, whB.root)
    val staged = TestTmp.dir("graft-sps-in-").toString + "/events"
    spark.read.parquet(s"$sf/events.parquet")
      .repartitionByRange(3, col("ts")).write.parquet(staged)
    val whS = Pipeline.Warehouse(TestTmp.dir("graft-sps-").toString + "/wh")
    Pipeline.runStreaming(spark, staged, whS, maxFilesPerTrigger = Some(1))
    for (mart <- Seq((_: Pipeline.Warehouse).martFeatures,
                     (_: Pipeline.Warehouse).martKpis)) {
      assert(rows(spark.read.parquet(mart(whS)).orderBy("site", "ts_utc"))
        === rows(spark.read.parquet(mart(whB)).orderBy("site", "ts_utc")))
    }
    // genuinely micro-batched: the staged feed is 3 files drained at
    // maxFilesPerTrigger=1, so Bronze accumulated across >1 batch
    assert(new java.io.File(staged).listFiles()
      .count(_.getName.endsWith(".parquet")) === 3)
  }

  test("cross-batch late data: a newer version for an already-cleaned " +
       "(site, hour) arriving in a LATER micro-batch wins; untouched " +
       "mart partitions stay byte-identical (incremental refresh IO)") {
    val day1 = 1704067200000000L // 2024-01-01 00:00 UTC, micros
    val day2 = day1 + 86400L * 1000000L
    val day3 = day2 + 86400L * 1000000L
    def write(events: Seq[(Long, Long, Double)], dir: String): Unit = {
      events.map { case (id, ts, v) => (id, ts * 1000L, 1L, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      ()
    }
    // batch 1: one row on each day; batch 2: a higher ingest_seq for
    // day2's (site, hour) — same hour, new value, day1 untouched
    val in = TestTmp.dir("graft-spl-in-").toString
    write(Seq((1L, day1, 50.0), (2L, day2, 50.0)), in)
    write(Seq((12L, day2, 75.0)), in)
    val wh = Pipeline.Warehouse(TestTmp.dir("graft-spl-").toString + "/wh")
    Pipeline.runStreaming(spark, in, wh, maxFilesPerTrigger = Some(1))

    val silver = spark.read.parquet(wh.silver)
    assert(silver.count() === 2)
    val d2 = silver.filter(to_date($"ts_utc") === lit("2024-01-02")).collect()
    assert(d2.length === 1 && d2(0).getAs[Long]("ingest_seq") === 12L,
      "the later micro-batch's higher ingest_seq won the (site, hour)")

    // the IO contract: re-merging ONLY day2 leaves day1's partitions
    // byte-identical (not rewritten) in every store, while day2's change
    val stores = Seq("bronze" -> wh.bronze, "silver" -> wh.silver,
      "mart_features" -> wh.martFeatures, "mart_kpis" -> wh.martKpis)
    def snapshot(ds: String): Map[String, Map[String, String]] =
      stores.map { case (name, path) => name -> partFiles(path, ds) }.toMap
    val d1Files = snapshot("2024-01-01")
    val d2Files = snapshot("2024-01-02")
    assert(d1Files.values.forall(_.nonEmpty) && d2Files.values.forall(_.nonEmpty))
    // a third, even later version arrives as a NEW feed (fresh stream,
    // same warehouse): its only micro-batch touches ds=2024-01-02
    val in2 = TestTmp.dir("graft-spl-in2-").toString
    write(Seq((23L, day2, 60.0)), in2)
    Pipeline.runStreaming(spark, in2, wh, maxFilesPerTrigger = Some(1))
    for ((name, path) <- stores) {
      assert(partFiles(path, "2024-01-01") === d1Files(name),
        s"untouched $name partition not rewritten")
      assert(partFiles(path, "2024-01-02") !== d2Files(name),
        s"touched $name partition was rewritten")
    }
    val d2After = spark.read.parquet(wh.silver)
      .filter(to_date($"ts_utc") === lit("2024-01-02")).collect()
    assert(d2After.length === 1 && d2After(0).getAs[Long]("ingest_seq") === 23L)

    // a batch touching day2 (a newer version) and day3, whose only row
    // the clean drops (event_id % 97 == 0 carries a negative GHI): the
    // touched list is a strict superset of the cleaned dates, and
    // Silver still equals the batch kernel over the published Bronze
    val in3 = TestTmp.dir("graft-spl-in3-").toString
    write(Seq((34L, day2, 65.0), (97L, day3, 50.0)), in3)
    Pipeline.runStreaming(spark, in3, wh, maxFilesPerTrigger = Some(1))
    assert(partFiles(wh.bronze, "2024-01-03").nonEmpty)
    assert(partFiles(wh.silver, "2024-01-03").isEmpty)
    val cols = Seq("site", "ts_utc", "ghi_wm2", "temp_c", "wind_mps",
      "ingested_at", "ingest_seq").map(col)
    val kernel = Weather.cleanToHourlyAudit(spark.read.parquet(wh.bronze))
    assert(rows(spark.read.parquet(wh.silver).select(cols: _*)
        .orderBy("site", "ts_utc"))
      === rows(kernel.select(cols: _*).orderBy("site", "ts_utc")))
    assert(rows(spark.read.parquet(wh.silver).select($"ingest_seq")
      .orderBy("ingest_seq")) === Seq("[1]", "[34]"))
    for ((name, path) <- stores)
      assert(partFiles(path, "2024-01-01") === d1Files(name),
        s"untouched $name partition not rewritten")
  }

  test("runNasaIngestStreaming: per-window micro-batches converge to " +
       "the batch NASA warehouse, Bronze and Silver") {
    val start = LocalDate.of(2024, 3, 1)
    val end = LocalDate.of(2024, 3, 10)
    val hours = 0 until 24 by 6
    def series(day: String, scale: Double) =
      hours.map(h => f""""$day${h}%02d": ${scale + h}%.1f""").mkString(", ")
    def payload(d0: LocalDate, d1: LocalDate): String = {
      val days = Iterator.iterate(d0)(_.plusDays(1))
        .takeWhile(!_.isAfter(d1)).toSeq
        .map(_.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE))
      s"""{"properties": {"parameter": {
         |  "ALLSKY_SFC_SW_DWN": {${days.map(series(_, 100.0)).mkString(", ")}},
         |  "T2M": {${days.map(series(_, 10.0)).mkString(", ")}},
         |  "WS10M": {${days.map(series(_, 1.0)).mkString(", ")}}}}}""".stripMargin
    }
    val transport: NasaIngest.Transport = (url, _) => {
      val q = url.split('?')(1).split('&')
        .map(_.split('=')).map(p => p(0) -> p(1)).toMap
      val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      Right(200 -> payload(
        LocalDate.parse(q("start"), fmt), LocalDate.parse(q("end"), fmt)))
    }
    val stamp = java.sql.Timestamp.valueOf("2024-03-11 00:00:00")
    val sites = Seq(Pipeline.Site("alpha", 52.5, 13.4),
                    Pipeline.Site("beta", 40.7, -74.0))

    val whBatch = Pipeline.Warehouse(TestTmp.dir("graft-nsb-").toString + "/wh")
    Pipeline.runNasaIngest(spark, sites, start, end, whBatch, stamp,
      transport = transport)
    Pipeline.refineSilver(spark, whBatch)

    val whStream = Pipeline.Warehouse(TestTmp.dir("graft-nss-").toString + "/wh")
    val n = Pipeline.runNasaIngestStreaming(spark, sites, start, end,
      whStream, stamp, transport = transport)
    assert(n === 4, "2 sites x 2 windows, one staged file each")

    for (store <- Seq((_: Pipeline.Warehouse).bronze,
                      (_: Pipeline.Warehouse).silver)) {
      assert(rows(spark.read.parquet(store(whStream))
          .orderBy("site", "ts_utc"))
        === rows(spark.read.parquet(store(whBatch))
          .orderBy("site", "ts_utc")))
    }
    // the payload JSON round-tripped the staging encode exactly: the
    // raw_json blobs match the batch path's byte for byte
    assert(spark.read.parquet(whStream.bronze)
      .filter($"raw_json".isNull).count() === 0)
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The per-micro-batch work budget of `Pipeline.runStreaming`: every
  * SQL execution one batch runs, with the store paths it writes and
  * reads. A duplicated touched-date collect, a schema-inference or
  * emptiness probe, or a staged merge round-trip changes this list. */
class MicroBatchBudgetSpec extends AnyFunSuite {
  import MicroBatchBudgetSpec._
  import TestSpark._
  import spark.implicits._

  private def feed(events: Seq[(Long, Long, Double)]): String = {
    val dir = TestTmp.dir("graft-mbb-in-").toString + "/events"
    events.map { case (id, ts, v) => (id, ts * 1000L, 1L, "click", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("one runStreaming batch into a built warehouse: one touched-date " +
       "collect, one Validator aggregate, one write per store, no stage") {
    val day1 = 1704067200000000L // 2024-01-01 00:00 UTC, micros
    val hour = 3600L * 1000000L
    val wh = Pipeline.Warehouse(TestTmp.dir("graft-mbb-").toString + "/wh")
    Pipeline.runStreaming(spark,
      feed(Seq((1L, day1, 50.0), (2L, day1 + hour, 40.0))), wh)
    // the measured batch: a late row for a built date and a new date
    val landing = feed(Seq((3L, day1 + 30L * 60 * 1000000L, 55.0),
      (4L, day1 + 24 * hour, 60.0)))

    val rec = new Recorder
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(rec)
    try {
      Pipeline.runStreaming(spark, landing, wh)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(rec)

    val execs = rec.synchronized(rec.execs.toList)
    val stores = Seq(wh.bronze, wh.silver, wh.martFeatures, wh.martKpis)
      .map(p => new java.io.File(p).getAbsolutePath)
    val (writes, others) = execs.partition(_.writes.nonEmpty)
    assert(writes.flatMap(_.writes) === stores,
      "one write per store, in pipeline order")
    assert(others.map(_.func) === Seq("collect", "collect"), others)
    assert(others.head.reads.isEmpty, "the touched dates come from the batch")
    assert(others(1).reads === Seq(stores.head),
      "the Validator aggregate re-cleans the Bronze slice")
    assert(!execs.exists(e => (e.writes ++ e.reads).exists(_.contains(".stage-"))))
  }
}

object MicroBatchBudgetSpec {
  final case class Exec(func: String, writes: Seq[String], reads: Seq[String])

  final class Recorder extends QueryExecutionListener {
    val execs = mutable.ArrayBuffer.empty[Exec]
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val plan = qe.analyzed
      val writes = plan.collect {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
      }
      val reads = plan.collectWithSubqueries {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      }.flatten.distinct
      synchronized(execs += Exec(funcName, writes, reads))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
}

package graft.sources

import java.net.URI
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Idempotent keyed upsert over a file-backed table — the Spark
  * re-expression of the reference's `INSERT ... ON CONFLICT (keys) DO
  * UPDATE` sinks (fastapi/app/etl/nasa.py:126-149,
  * transform/silver_clean.py:47-54,125-132). Last write wins per key,
  * arbitrated by explicit version columns (the reference's
  * `ingested_at` + insertion order; SURVEY §7.4-1 requires the total
  * order).
  *
  * Semantics: `upsert(run) ∘ upsert(run) == upsert(run)` — re-running
  * any window is a no-op (README.md:36), and late data for an
  * already-written key overwrites iff its version is newer.
  *
  * Scale notes: the merge is one shuffle on the key columns (both
  * sides hash-partitioned); on a real deployment the table would be a
  * transactional format (Delta/Iceberg MERGE). The unpartitioned
  * [[upsert]] swaps by a tmp-write + directory rename, the strongest
  * atomicity a bare filesystem offers for a whole table. The
  * partitioned [[upsertPartitioned]] is one shuffle plus one
  * dynamic-partition-overwrite write straight into the store: its
  * atomicity comes from the committer, which writes every task's files
  * under the store's `.spark-staging-<job>` directory and swaps only
  * the written partitions in `commitJob`, so a failed merge leaves the
  * store as it was. Rewriting the full table per merge is the textbook
  * copy-on-write trade-off; merging only the touched partitions is the
  * incremental refinement.
  */
object UpsertWriter {

  /** Pure merge: one row per key — the newest version among existing
    * and incoming rows (incoming wins version ties via the `is_new`
    * tiebreak, matching ON CONFLICT DO UPDATE). */
  def merge(existing: DataFrame, incoming: DataFrame,
            keys: Seq[String], versionCols: Seq[String]): DataFrame = {
    val tagged = existing.withColumn("is_new", lit(0))
      .unionByName(incoming.withColumn("is_new", lit(1)))
    val order = versionCols.map(col(_).desc) :+ col("is_new").desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    tagged.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_new")
  }

  /** Merge `incoming` into the parquet table at `path` (created if
    * absent), swapping directories after the merged result is fully
    * materialized. Callers needing the new row count read it from the
    * published table (a parquet `count()` is footer-metadata-only) —
    * doing it here unconditionally taxed every streaming micro-batch
    * with an extra job (VERDICT r1). */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame,
             keys: Seq[String], versionCols: Seq[String],
             checks: Seq[graft.schema.Schemas.Check] = Nil,
             table: String = "upsert-target"): Unit = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val target = new Path(path)
    // Constraint gate at the write boundary (the engine-side stand-in
    // for the reference DDL's CHECKs): only the INCOMING slice is
    // validated — existing rows passed the gate when they were written.
    // The frame is persisted first so the validation aggregate and the
    // merge write share one computation of the incoming lineage
    // (matters per-micro-batch in the streaming path); enforce runs
    // INSIDE the try so a rejected batch still unpersists its cache.
    val guarded = if (checks.isEmpty) incoming else incoming.cache()
    try {
      if (checks.nonEmpty)
        graft.schema.Validator.enforce(guarded, checks, table)
      val merged =
        if (fs.exists(target))
          merge(spark.read.parquet(path), guarded, keys, versionCols)
        else guarded
      val tmp = new Path(path + ".tmp-" + UUID.randomUUID().toString.take(8))
      // materializes the merge BEFORE the old version is touched
      merged.write.mode("overwrite").parquet(tmp.toString)
      val bak = new Path(path + ".bak")
      if (fs.exists(bak)) fs.delete(bak, true)
      // Hadoop rename signals failure by returning false, not throwing —
      // ignoring it here could delete the only surviving copy. Roll the
      // backup back if the forward rename fails.
      if (fs.exists(target) && !fs.rename(target, bak))
        throw new java.io.IOException(s"upsert: cannot move $target aside")
      if (!fs.rename(tmp, target)) {
        if (fs.exists(bak)) fs.rename(bak, target) // restore old version
        throw new java.io.IOException(s"upsert: cannot publish $tmp to $target")
      }
      fs.delete(bak, true)
      // the session's FileStatusCache still lists the replaced files —
      // without this, the next read of the store in the same session
      // throws FileNotFoundException on the deleted parts
      spark.catalog.refreshByPath(path)
    } finally if (checks.nonEmpty) guarded.unpersist()
  }

  /** Partition-pruned upsert: the store is laid out
    * `partitionBy(partitionCol)` and only partitions present in
    * `incoming` are read, merged, and rewritten (dynamic partition
    * overwrite). This is the shape that survives 100 TB — a day's
    * ingest merges a day's partitions, not the table.
    *
    * `touched` lists the partition values to merge when the caller
    * already knows them (a superset of `incoming`'s is exact: an
    * untouched partition is read and rewritten unchanged); omitted, it
    * is collected from `incoming`. The store is read through
    * [[readStore]], so the merge runs no schema-inference job. */
  def upsertPartitioned(spark: SparkSession, path: String,
                        incoming: DataFrame, keys: Seq[String],
                        versionCols: Seq[String],
                        partitionCol: String,
                        checks: Seq[graft.schema.Schemas.Check] = Nil,
                        table: String = "upsert-target",
                        touched: Option[Seq[Any]] = None): Unit = {
    val fs = FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(path))
    // the incoming lineage can feed the CHECK aggregate, the touched-
    // partition listing, AND the merge — persist it once. With a single
    // consumer (the write) caching would be a pure extra
    // materialization.
    val multiConsumer = checks.nonEmpty || (exists && touched.isEmpty)
    val guarded = if (multiConsumer) incoming.cache() else incoming
    try {
      if (checks.nonEmpty)
        graft.schema.Validator.enforce(guarded, checks, table)
      if (!exists) {
        guarded.write.partitionBy(partitionCol).parquet(path)
      } else {
        val parts = touched.getOrElse(guarded.select(partitionCol).distinct()
          .collect().map(_.get(0)).toSeq)
        // partition filter prunes the scan to touched partitions only
        val existingSlice = readStore(spark, path, guarded.schema(partitionCol))
          .filter(col(partitionCol).isin(parts: _*))
        // The merge reads the very partitions it overwrites, and that is
        // safe ONLY under dynamic overwrite: its committer writes into
        // `.spark-staging-<job>` and replaces the written partitions in
        // commitJob, after every task has read the old files. A static
        // overwrite can delete them before the job reads them (it does
        // with AQE off). Never drop the `dynamic` option here.
        merge(existingSlice, guarded, keys, versionCols)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .parquet(path)
      }
      // invalidate the session's cached file listing for the store
      // (dynamic overwrite replaced files in the touched partitions)
      spark.catalog.refreshByPath(path)
    } finally if (multiConsumer) guarded.unpersist()
  }

  /** The partitioned parquet store at `path`, read with the schema
    * `spark.read.parquet` would infer for it: the Spark schema one part
    * file's footer records, plus the `partition` column. The footer is
    * read on the driver — inference would launch a Spark job per read,
    * which a micro-batch pays on every store it touches. A store with
    * no part file (or a footer without a Spark schema) falls back to
    * plain inference. */
  def readStore(spark: SparkSession, path: String,
                partition: StructField): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI(path), conf)
    val visible = (s: FileStatus) =>
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
    val part = fs.listStatus(new Path(path)).iterator
      .filter(s => s.isDirectory && visible(s))
      .flatMap(d => fs.listStatus(d.getPath)
        .find(s => s.isFile && visible(s) && s.getPath.getName.endsWith(".parquet")))
      .nextOption()
    val data = part.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val meta = try reader.getFileMetaData.getKeyValueMetaData
                 finally reader.close()
      Option(meta.get("org.apache.spark.sql.parquet.row.metadata"))
    }.map(DataType.fromJson).collect { case s: StructType => s }
    data.fold(spark.read.parquet(path))(d =>
      spark.read.schema(StructType(d.fields :+ partition)).parquet(path))
  }
}

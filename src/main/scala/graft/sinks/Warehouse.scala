package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._

import graft.model.Layer

/** Table layout of the engine — the Spark-native replacement for the
  * reference's Postgres `content.*` schema.
  *
  * Every per-feature table is parquet partitioned by `tdei_dataset_id`;
  * a load replaces exactly the partitions it produces. That makes a
  * re-load of the same dataset idempotent — the Spark idiom replacing the
  * reference's `delete_dataset_records_by_id($1)` pre-clean +
  * transactional reload (`src/service/extract-load-service.ts:291-295`,
  * `src/database/data-source.ts:33-65`). Replays overwrite exactly the
  * partitions they produce, so a failed load is repaired by re-running —
  * the at-least-once story the queue semantics require.
  *
  * Staged promote commit (`writeFeaturesStaged`): the six plain feature
  * tables of one load are written by ONE job into a private staging root
  * `<root>/_staging/<uuid>`, partitioned by (`layer_table`,
  * `tdei_dataset_id`). Only after that job succeeds is each partition
  * directory renamed into `content_<table>/`, the same delete, mkdirs,
  * rename steps Spark's dynamic partition overwrite commit performs. So
  * no content partition of a load is visible before its write job has
  * succeeded, and a failed job leaves nothing behind (the staging root is
  * always removed). Keyed metadata tables and `content_extension` (its
  * extra `ext_file_id` column) use dynamic partition overwrite directly.
  *
  * Partition directory names use Spark's own path escaping
  * (`ds:1` → `tdei_dataset_id=ds%3A1`): `partitionPath` builds that name
  * for pre-clean and reads, and the promote moves the names Spark wrote,
  * both through `partitionDir`, so each finds what the other made.
  *
  * Every table has a FIXED schema (the reference's DDL is fixed too), so
  * reads never rely on parquet schema inference: a table whose last
  * partition was deleted reads as an empty, correctly-typed DataFrame
  * instead of failing schema inference.
  *
  * Scale note: partitioning by dataset id means a 1000-executor load of N
  * archives touches only its own partitions (no global shuffle, no table
  * lock); feature writes are narrow maps over the parsed records.
  */
final class Warehouse(spark: SparkSession, val root: String) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def tablePath(table: String): String = s"$root/content_$table"

  def tableSchema(name: String): StructType = Warehouse.schemas(name)

  /** One feature table (content.extension), dynamic partition overwrite. */
  def writeFeatures(table: String, df: DataFrame): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("tdei_dataset_id")
      .parquet(tablePath(table))

  /** Several feature tables in one write job, then a staged promote (see
    * the class doc). `df` holds `layer_table` (the target table) and
    * `tdei_dataset_id` next to the table's own columns; each table's
    * files hold just those own columns, as a direct write would.
    */
  def writeFeaturesStaged(df: DataFrame): Unit = {
    val staging = new Path(s"$root/_staging/${java.util.UUID.randomUUID()}")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      df.write.partitionBy("layer_table", "tdei_dataset_id").parquet(staging.toString)
      promote(fs, staging)
    } finally fs.delete(staging, true)
  }

  /** Moves every `layer_table=<t>/<partition>` directory of a finished
    * staged write to `content_<t>/<partition>`, keeping the directory name
    * Spark produced. Same steps as Spark's dynamic-overwrite commit:
    * delete the target, create its parent if missing, rename; a failed
    * rename fails the load.
    */
  private def promote(fs: FileSystem, staging: Path): Unit =
    fs.listStatus(staging).filter(_.isDirectory).foreach { tableDir =>
      val table = ExternalCatalogUtils.unescapePathName(
        tableDir.getPath.getName.stripPrefix("layer_table="))
      fs.listStatus(tableDir.getPath).filter(_.isDirectory).foreach { part =>
        val target = partitionDir(table, part.getPath.getName)
        if (!fs.delete(target, true) && !fs.exists(target.getParent))
          fs.mkdirs(target.getParent)
        if (!fs.rename(part.getPath, target))
          throw new java.io.IOException(
            s"Failed to rename ${part.getPath} to $target when promoting staged partitions")
      }
    }

  /** Per-dataset overwrite for keyed metadata tables (dataset, stats,
    * extension_file): one partition per dataset id = an upsert.
    */
  def upsertByDataset(table: String, df: DataFrame): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("tdei_dataset_id")
      .parquet(tablePath(table))

  /** Append-only response log (K10). Serialized per JVM: concurrent
    * parquet APPENDs to one directory share the committer's
    * `_temporary/0` staging dir, and the first job's cleanup can delete
    * the second's in-flight task files — unlike the dynamic-overwrite
    * writes (unique `.spark-staging-<jobId>` each), appends need the
    * lock. Responses are single rows; the serialization cost is nil.
    */
  def appendResponses(df: DataFrame): Unit = Warehouse.responseLock.synchronized {
    df.write.mode(SaveMode.Append).parquet(tablePath("response"))
  }

  /** B1 JDBC parity sink: the reference's real load target is Postgres
    * with 1000-row multi-VALUES INSERT batches
    * (`extract-load-service.ts:363-384`, `BULK_INSERT_BATCH_SIZE` in
    * `src/environment/environment.ts:26`) over a pool of ≤ 20
    * connections (`POSTGRES_POOL_SIZE`, `:21`). Spark equivalent:
    * `DataFrameWriter.jdbc` with `batchsize=1000` (executeBatch chunks)
    * and `numPartitions ≤ 20` (connection bound). For Postgres, pass
    * `reWriteBatchedInserts=true` in `props` so the driver rewrites each
    * batch into the same multi-row INSERT the reference emits.
    */
  def writeFeaturesJdbc(url: String, table: String, df: DataFrame,
      batchSize: Int = 1000, maxConnections: Int = 20,
      writerOptions: Map[String, String] = Map.empty,
      props: java.util.Properties = new java.util.Properties): Unit =
    Warehouse.mapDbErrors {
      val bounded =
        if (df.rdd.getNumPartitions > maxConnections)
          df.coalesce(maxConnections)
        else df
      bounded.write
        .mode(SaveMode.Append)
        .option("batchsize", batchSize.toLong)
        .options(writerOptions) // e.g. createTableColumnTypes for DDL control
        .jdbc(url, table, props)
    }

  /** A1 parity on the JDBC target: delete one dataset's rows from the
    * given tables before re-appending — the reference's
    * `delete_dataset_records_by_id($1)` pre-clean
    * (`src/service/extract-load-service.ts:291-295`). Tables that don't
    * exist yet (first load) are skipped. Driver-side, one connection:
    * the delete is a single keyed statement per table, not data-volume
    * work.
    */
  def deleteDatasetRecordsJdbc(url: String, datasetId: String,
      tables: Seq[String],
      props: java.util.Properties = new java.util.Properties): Unit =
    Warehouse.mapDbErrors {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try tables.foreach { t =>
        // Only a table that genuinely doesn't exist yet (first load) may
        // be skipped; probing DatabaseMetaData first — instead of
        // swallowing undefined-table SQLStates around the DELETE — keeps a
        // typo'd or case-folded name from turning the pre-clean into a
        // silent no-op (the reload would quietly duplicate rows).
        if (jdbcTableExists(conn, t)) {
          // Spark's JDBC writer creates case-exact quoted identifiers;
          // quote to match (standard double quotes: Derby + Postgres)
          val st = conn.prepareStatement(
            s"""DELETE FROM $t WHERE "tdei_dataset_id" = ?""")
          try { st.setString(1, datasetId); st.executeUpdate() }
          finally st.close()
        } else
          log.info(s"pre-clean: table $t does not exist yet, skipping")
      } finally conn.close()
    }

  /** True if `name` resolves to an existing table: checks the exact
    * (quoted-identifier) spelling plus both case foldings, matching how
    * Derby (upper) and Postgres (lower) fold unquoted DDL names.
    */
  private def jdbcTableExists(conn: java.sql.Connection, name: String): Boolean = {
    val md = conn.getMetaData
    // '_' and '%' are LIKE wildcards in DatabaseMetaData patterns — a raw
    // probe for content_docs would also match a sibling contentXdocs,
    // false-positive the existence check, and send the DELETE at a table
    // that isn't there. Escape with the driver's own escape string, and
    // require an exact TABLE_NAME match on whatever rows come back.
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def escaped(n: String): String = {
      val b = new StringBuilder
      n.foreach { c =>
        if (c == '_' || c == '%' || esc.contains(c)) b.append(esc)
        b.append(c)
      }
      b.toString
    }
    Seq(name, name.toUpperCase(java.util.Locale.ROOT),
        name.toLowerCase(java.util.Locale.ROOT)).distinct.exists { n =>
      val rs = md.getTables(null, null, escaped(n), Array("TABLE"))
      try {
        var found = false
        while (!found && rs.next()) found = rs.getString("TABLE_NAME") == n
        found
      } finally rs.close()
    }
  }

  /** Idempotent JDBC re-load: pre-clean the dataset's rows, then append.
    * Running it twice with the same frame leaves the same row count —
    * the JDBC-target equivalent of the parquet tables' dynamic partition
    * overwrite.
    */
  def reloadFeaturesJdbc(url: String, table: String, df: DataFrame,
      datasetId: String, batchSize: Int = 1000, maxConnections: Int = 20,
      writerOptions: Map[String, String] = Map.empty,
      props: java.util.Properties = new java.util.Properties): Unit = {
    deleteDatasetRecordsJdbc(url, datasetId, Seq(table), props)
    writeFeaturesJdbc(url, table, df, batchSize, maxConnections,
      writerOptions, props)
  }

  /** Read a JDBC table back (round-trip / verification path). */
  def readJdbc(url: String, table: String,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Read a table with its fixed schema. A missing directory or a
    * directory with no data files (all partitions deleted) reads as an
    * empty DataFrame — parity with `SELECT * FROM t` on an empty table.
    */
  def table(name: String): DataFrame = {
    val schema = Warehouse.schemas.getOrElse(name, null)
    if (schema == null) spark.read.parquet(tablePath(name))
    else if (!tableExists(name))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(tablePath(name))
  }

  def tableExists(name: String): Boolean = {
    val p = new Path(tablePath(name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One partition directory of a table, by its on-disk name. */
  private def partitionDir(table: String, dirName: String): Path =
    new Path(tablePath(table), dirName)

  /** Path of one dataset's partition within a table, escaped the way
    * Spark names it on write.
    */
  def partitionPath(table: String, datasetId: String): String =
    partitionDir(table,
      ExternalCatalogUtils.getPartitionPathString("tdei_dataset_id", datasetId)).toString

  def partitionExists(table: String, datasetId: String): Boolean = {
    val p = new Path(partitionPath(table, datasetId))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Explicit cross-table pre-clean (A1). Dynamic partition overwrite
    * already replaces partitions we re-write; this additionally removes a
    * dataset's rows from layer tables the re-load does NOT touch (e.g. a
    * reload that dropped a layer) — full parity with
    * `delete_dataset_records_by_id`.
    */
  def deleteDatasetRecords(datasetId: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tables = Layer.all.map(_.table).distinct ++
      Seq("extension_file", "dataset", "stats")
    tables.foreach { t =>
      val dir = new Path(partitionPath(t, datasetId))
      val fs = dir.getFileSystem(hconf)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
  }

  /** Persist a relation as a BUCKETED, bucket-sorted managed table:
    * every future equi-join or aggregation on `keys` against another
    * table bucketed the same way is CO-LOCATED — both sides scan their
    * pre-hashed files and the join runs with ZERO Exchange (proved by
    * `BucketedJoinSpec`: SortMergeJoin, no shuffle in the plan).
    *
    * This is the 100 TB answer for repeatedly-joined fact tables:
    * one bucketed write amortizes the fact-table shuffle across every
    * downstream join — the shuffle happens once, at write time, instead
    * of per query. Pick `numBuckets` ≈ cluster cores so one bucket is
    * one task.
    */
  def writeBucketedTable(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      // external table AT THE WAREHOUSE ROOT — every other writer in
      // this class lands under tablePath; only the bucket metadata
      // lives in the session catalog
      .option("path", tablePath(table))
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }
}

/** Typed constraint-violation errors — parity with the reference's
  * `UniqueKeyDbException` / `ForeignKeyDbException` mapping of Postgres
  * SQLSTATE 23505 / 23503 (`src/database/data-source.ts:98-105`,
  * `src/constants/pg-error-constants.ts:211,213`). The states are
  * SQL-standard, so Derby (tests) and Postgres (deploys) map alike.
  */
final class UniqueKeyDbException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
final class ForeignKeyDbException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

object Warehouse {

  private[sinks] val responseLock = new Object

  /** Map constraint-violation SQLStates to typed errors. The original
    * SQLException may sit anywhere in a SparkException cause chain or a
    * BatchUpdateException nextException chain — walk both (bounded).
    */
  private[sinks] def mapDbErrors[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        val seen = scala.collection.mutable.Set.empty[Throwable]
        def walk(t: Throwable): Option[java.sql.SQLException] = {
          if (t == null || seen.size > 50 || !seen.add(t)) return None
          t match {
            case s: java.sql.SQLException
                if s.getSQLState == "23505" || s.getSQLState == "23503" =>
              Some(s)
            case s: java.sql.SQLException =>
              walk(s.getNextException).orElse(walk(s.getCause))
            case other => walk(other.getCause)
          }
        }
        walk(e) match {
          case Some(s) if s.getSQLState == "23505" =>
            throw new UniqueKeyDbException("Duplicate", e)
          case Some(s) =>
            throw new ForeignKeyDbException(s.getMessage, e)
          case None => throw e
        }
    }

  private def featureSchema = StructType(Seq(
    StructField("feature", StringType),
    StructField("requested_by", StringType),
    StructField("tdei_dataset_id", StringType)))

  /** Fixed schema per table — mirrors the reference's `content.*` DDL
    * (INSERT column lists at `extract-load-service.ts:378,426,478,528`).
    * The partition column `tdei_dataset_id` is declared StringType.
    */
  val schemas: Map[String, StructType] = Map(
    "node" -> featureSchema,
    "edge" -> featureSchema,
    "zone" -> featureSchema,
    "extension_point" -> featureSchema,
    "extension_line" -> featureSchema,
    "extension_polygon" -> featureSchema,
    "extension" -> StructType(Seq(
      StructField("ext_file_id", IntegerType),
      StructField("feature", StringType),
      StructField("requested_by", StringType),
      StructField("tdei_dataset_id", StringType))),
    "extension_file" -> StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("file_meta", StringType),
      StructField("requested_by", StringType),
      StructField("tdei_dataset_id", StringType))),
    "dataset" -> StructType(
      Layer.routingOrder.flatMap(_.metaColumn).map(c => StructField(c, StringType)) :+
        StructField("tdei_dataset_id", StringType)),
    "stats" -> StructType(Seq(
      StructField("layer_table", StringType),
      StructField("geometry_type", StringType),
      StructField("feature_count", LongType),
      StructField("min_lon", DoubleType),
      StructField("max_lon", DoubleType),
      StructField("min_lat", DoubleType),
      StructField("max_lat", DoubleType),
      StructField("tdei_dataset_id", StringType))),
    "response" -> StructType(Seq(
      StructField("messageId", StringType),
      StructField("messageType", StringType),
      StructField("message", StringType),
      StructField("success", BooleanType),
      // translated HTTP status of the terminal error handler
      // (error-handler-middleware parity; 200 on success)
      StructField("status", IntegerType, nullable = false)))
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench). At
  * cluster scale these would be external tables; the API is identical.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def lineitem: DataFrame  = table("lineitem")
  def orders: DataFrame    = table("orders")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def nation: DataFrame    = table("nation")
  def region: DataFrame    = table("region")
  def events: DataFrame    = Tables.normalizeEvents(table("events"))
  def documents: DataFrame = Tables.normalizeDocuments(table("documents"))
  def embeddings: DataFrame = Tables.normalizeEmbeddings(table("embeddings"))
}

object Tables {

  // sun.net.httpserver.ServerConfig latches its properties ONCE at
  // the first HttpServer.create in the JVM — per-server setProperty
  // calls are no-ops if any server (e.g. a test double) was built
  // first. Tables loads before any graft entry point serves HTTP, so
  // this is the reliable chokepoint for the Nagle fix (without it
  // every keep-alive response stalls ~40 ms behind delayed ACKs).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  // Ephemeral working files — shuffle/spill files (spark.local.dir
  // defaults to java.io.tmpdir) and streaming temp checkpoints (offset/
  // commit logs + state-store deltas) — go to RAM-backed /dev/shm when
  // available instead of the root disk. The checkpoints are never
  // fsync'd (Hadoop's local FS does not sync on close and neither
  // checkpoint manager calls hsync); their measured per-file cost was
  // process creation, removed in `sessionConfs`. What the redirect
  // still moves off the root disk is the shuffle and spill traffic.
  // This is environment I/O configuration, not a plan change:
  // a production deployment points spark.local.dir at local NVMe and
  // checkpointLocation at durable storage; the bench's TEMP
  // checkpoints are deleted on query stop by design. Guarded: only
  // when the dir is usable, and SPARK_GRAFT_TMPFS=off restores /tmp.
  locally {
    val shm = new java.io.File("/dev/shm/graft_tmp")
    if (sys.env.getOrElse("SPARK_GRAFT_TMPFS", "on") == "on" &&
        (shm.isDirectory || shm.mkdirs()) && shm.canWrite)
      System.setProperty("java.io.tmpdir", shm.getAbsolutePath)
  }

  /** Normalize the events table's `ts` to session-TZ TIMESTAMP
    * regardless of how the upstream writer encoded it. The staged
    * parquet has shipped with (at least) two physical encodings, and a
    * robust loader must absorb either without queries noticing:
    *
    *  - ns-precision `timestamp[ns]`, which Spark's parquet reader
    *    rejects; sessions set `spark.sql.legacy.parquet.nanosAsLong`
    *    (see [[sessionConfs]]) so `ts` arrives as a ns-epoch LONG,
    *    converted here with floor division to µs — matching DuckDB's
    *    `epoch_us` on the same values, so oracle arithmetic agrees.
    *  - µs-precision `timestamp[us] isAdjustedToUTC=false`, which
    *    Spark reads as TIMESTAMP_NTZ. The session time zone is pinned
    *    UTC (see [[sessionConfs]]), so casting the wall-clock NTZ value
    *    to TIMESTAMP is value-identical to the LONG path — and again
    *    equals DuckDB's naive-timestamp reading of the same file.
    *
    * This is the single boundary that owns timestamp-encoding
    * normalization: every batch loader and streaming source goes
    * through it, and queries only ever see TIMESTAMP.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.find(_.name == tsCol) match {
      case Some(f) if f.dataType == LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }

  /** The canonical events schema every query compiles against. The r6
    * NTZ incident generalizes: ANY staged physical type the upstream
    * writer picks (int32 ids, float32 value, …) must be absorbed at
    * this loader boundary, never in queries. Width-preserving casts
    * only — a literal re-encoding of the same values.
    */
  private val canonicalEvents: Seq[(String, String)] = Seq(
    "event_id" -> "bigint", "user_id" -> "bigint",
    "event_type" -> "string", "value" -> "double", "props" -> "string")

  /** [[normalizeTs]] plus canonical-type casts for the non-ts event
    * columns; a no-op on columns already canonical (the cast is not
    * even planned) or absent.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    canonicalEvents.foldLeft(normalizeTs(df)) { case (d, (name, typ)) =>
      castIfNeeded(d, name, typ)
    }

  private def castIfNeeded(d: DataFrame, name: String, typ: String): DataFrame =
    d.schema.find(_.name == name) match {
      case Some(f) if f.dataType.simpleString != typ =>
        d.withColumn(name, col(name).cast(typ))
      case _ => d
    }

  /** The r6 NTZ lesson applied to EVERY staged table, not just
    * events: whatever physical widths the upstream writer picks
    * (int32 ids, float64 embeddings, …), queries compile against one
    * canonical schema; the loader boundary owns the (value-identical,
    * width-only) re-encoding and is a planning no-op when the staging
    * is already canonical.
    */
  def normalizeDocuments(df: DataFrame): DataFrame =
    Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint")
      .foldLeft(df) { case (d, (n, t)) => castIfNeeded(d, n, t) }

  /** Only the id widens; the embedding array is deliberately LEFT in
    * its staged element type — float→double is what the math casts do
    * anyway (every consumer scores in double, and the native vector
    * expressions accept float or double elements), while forcing
    * float32 here would NARROW a float64 staging, a value-CHANGING
    * cast this boundary must never make.
    */
  def normalizeEmbeddings(df: DataFrame): DataFrame =
    castIfNeeded(df, "vec_id", "bigint")

  /** Scale-adaptive fan-out before heavy per-row work (guide §2:
    * derive partitioning from the input, never a constant). A scan of
    * the staged single-row-group bench files yields ONE input split,
    * so a regex/explode battery after it runs single-task no matter
    * how many cores the session has; at production scale the same
    * table yields thousands of splits and this helper is a planning
    * no-op. Only when the scan's split count is below the session's
    * parallelism does it repartition on the given high-cardinality
    * key (deterministic hash — safe under task retry, guide §2.5).
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    if (df.sparkSession.conf.get("spark.graft.fanout", "on") != "on") return df
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, key) else df
  }

  /** Persist a DataFrame as a parquet table bucketed (and sorted)
    * on a join/aggregation key. Repeated joins or aggregations on
    * that key then read co-located buckets and plan WITHOUT an
    * Exchange — the standard way to amortize the shuffle of a hot
    * 100 TB fact table across the many pattern/window queries that
    * all key on the same column (PlanSpec proves the exchange-free
    * self-join). `path` keeps the data out of the default warehouse.
    */
  def saveBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, path: String): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .saveAsTable(table)
  }

  /** Session config every entry point (Verify/Bench/tests) applies.
    *
    * The AQE coalesce floor (guide §2.2 "fewer, larger reduce
    * partitions" has an inverse at tiny inputs): AQE's
    * parallelismFirst coalescing targets
    * max(totalShuffleBytes / defaultParallelism, minPartitionSize),
    * and the default 1 MB floor collapses every sub-MB exchange to
    * ONE post-shuffle partition — at bench SFs the window/sort/agg
    * stages after each exchange all ran single-task (measured: f3
    * 1.21→0.69 s, f5 1.30→0.60 s, a1 0.99→0.65 s with the floor at
    * 256k). At production scale per-partition bytes dwarf any floor
    * value, so the setting is a no-op there — it only stops the
    * local-mode collapse. Overridable via SPARK_GRAFT_AQE_MIN_PART.
    *
    * The checkpoint-manager and `fs.file.impl` entries take process
    * creation out of every local file commit. Without the native Hadoop
    * library, every file or directory created through Hadoop's local FS
    * starts one `chmod` process, and Spark's default FileContext-based
    * checkpoint manager starts more on each rename: each micro-batch's
    * offset log, commit log and per-partition state-store deltas paid
    * about 11 ms per atomic file commit (single-thread probe, 4-core
    * host). Spark's FileSystem-based manager (still temp file + rename,
    * still `FileAlreadyExistsException` on a commit that must not
    * overwrite) takes that to 2.2–2.9 ms, and over
    * [[NoForkLocalFileSystem]] to about 0.1 ms. Every Spark checkpoint
    * graft makes is a temporary local one (no `checkpointLocation` is
    * set in `src/main`), so no per-scheme dispatch is needed.
    */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PART", "256k"),
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName)
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access + oracle-exact numeric helpers.
  *
  * The correctness gate hash-compares Spark results against DuckDB running
  * ANSI SQL on the same parquet. Raw `sum(double)` is order-dependent and
  * will not hash-match across engines, so every money/quantity aggregate is
  * routed through `decimal(18,2)` (the synthetic data is exactly 2-decimal):
  * decimal sums are exact in both engines and the final cast back to double
  * is the same correctly-rounded conversion on both sides.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // defensive: a caller-supplied session may not have the conf the
      // engine sessions set at build time (runtime-settable legacy conf)
      try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case _: Exception => }
    }
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    // The events fixture carries TIMESTAMP(NANOS) which Spark reads only as
    // long (nanosAsLong); normalize to a session-TZ-free timestamp so query
    // semantics match engines that read nanos natively.
    // `div` = integer division: Spark's `/` casts longs to double, and
    // epoch nanos (~1.7e18) exceed double's 53-bit mantissa — the double
    // path corrupts ~2% of timestamps by 1µs
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  /** Reads with the session's memoized inferred schema, keyed on
    * (path, mtime, length, nanosAsLong). `spark.read.parquet(path)` runs
    * a schema-inference job (~30-40 ms) on every call — 10 per
    * eda-stream pass — while `.schema(memo)` reads the same relation
    * without one. The key changes when the file is rewritten or the conf
    * that shapes the inferred ts type flips; only plain files are
    * memoized (a directory's own mtime and length miss in-place rewrites
    * of its parts). [[readParquet]] is also where SparkEntry's fixture
    * streams take their raw schema from. */
  private[graft] def readParquet(spark: SparkSession, path: String)
      : DataFrame = {
    val key = try {
      val p = new org.apache.hadoop.fs.Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      if (st.isFile) Some(("schema", path, st.getModificationTime, st.getLen,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")))
      else None
    } catch { case _: Exception => None }
    key match {
      case Some(k) => spark.read.schema(
        SessionMemo(spark, k)(spark.read.parquet(path).schema)).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Register all tables as temp views (for spark.sql entry points).
    * Memoized per session as the bound dir — r20: 16 query bodies call
    * this, and each un-memoized call re-resolved all 10 parquet footers
    * and re-bound 10 views (~0.3-0.5 s per sql_* query at sf0.1,
    * measured as the bulk of those queries' wall). A view is a lazy
    * name→plan binding, not data: every query still computes from
    * parquet. A dir switch or a dropped view (a session-catalog lookup:
    * no job, no listing) re-binds; `force` re-binds unconditionally —
    * for callers that shadowed a view and need the fixture back. */
  def registerAll(spark: SparkSession, sfDir: String,
                  force: Boolean = false): Unit = {
    val bound = SessionMemo(spark, "registerAll")(
      new java.util.concurrent.atomic.AtomicReference[String]())
    bound.synchronized {
      if (force || bound.get != sfDir ||
          names.exists(spark.sessionState.catalog.getRawTempView(_).isEmpty)) {
        names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
        bound.set(sfDir)
      }
    }
  }

  /** Exact row count of a bare table without a Spark job: a plain
    * parquet file answers from its footer (the sum of its row groups'
    * record counts, the number `table(..).count()` returns); anything
    * else — a Spark-written directory, an unreadable footer — falls back
    * to `table(..).count()`. Nothing is memoized, so a file rewritten in
    * place is counted afresh. For the scale gates that only need the
    * size of their input (ScaleGates.nearDupStride, atFixture, the ANN
    * gates), where a `count()` costs two jobs. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val footer = try {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val conf = spark.sessionState.newHadoopConf()
      val st = p.getFileSystem(conf).getFileStatus(p)
      if (!st.isFile) None
      else {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try Some(r.getRecordCount) finally r.close()
      }
    } catch { case _: Exception => None }
    footer.getOrElse(table(spark, sfDir, name).count())
  }

  /** Scale-adaptive fan-out for heavy per-row compute after a scan that
    * CANNOT be split: a table whose entire input fits inside one scan
    * split (one small file, one parquet row group — the fixture shape,
    * and the "one huge unsplittable file" input-skew case in general)
    * runs its whole map stage as a SINGLE task, serializing explodes,
    * kernels and joins no matter how many cores the session has. When
    * that is the case, buy parallelism with ONE exchange of the (by
    * definition small) input. Two forms share that one gate:
    *
    *  - `fanOut` hash-partitions on `key`, so a downstream groupBy(key)
    *    reuses the partitioning instead of adding a second exchange —
    *    and, because every key group stays whole inside one partition,
    *    per-group aggregation order (hence any floating-point
    *    accumulation) is bit-identical to the single-task plan;
    *  - [[fanOutByRange]] range-partitions on `key`, for sites whose
    *    output is sorted with `key` leading (`orderBy(key, …)`):
    *    `RangePartitioning(key)` already satisfies the sort's ordered
    *    distribution, so the sort adds no second exchange and the
    *    per-row kernel runs once. (A global sort over the hash form
    *    re-runs the kernel in the range exchange's sampling job and
    *    again in its map stage.) Its own sampling job reads only the
    *    input, before the kernel. Sites whose output is not sorted on
    *    the key keep the hash form: there the range form would only
    *    add that sampling job.
    *
    * At scale both are a structural NO-OP: any input bigger than one
    * scan split (≤ 128 MB by default) already gives the map stage its
    * parallelism, and the frame is returned untouched — so the exchange
    * can never become a payload shuffle of a large table. Partition
    * count comes from spark.sql.shuffle.partitions (session-derived),
    * not a local constant. */
  def fanOut(df: DataFrame, key: Column): DataFrame =
    fanPartitions(df).fold(df)(n => df.repartition(n, key))

  /** The range-partitioned form of [[fanOut]] (see there). */
  def fanOutByRange(df: DataFrame, key: Column): DataFrame =
    fanPartitions(df).fold(df)(n => df.repartitionByRange(n, key))

  /** Total byte size of a scan's input files, via the Hadoop FileSystem
    * API so every scheme a Spark scan can read (file://, hdfs://, s3a://)
    * resolves (r19 VERDICT Next #9: the previous java.io.File probe threw
    * on every non-`file:` URI, silently disabling fanOut exactly in the
    * motivating case — a genuinely small REMOTE input). A file that still
    * fails to resolve counts as huge: fail-safe toward NOT fanning, so a
    * big input can never be shuffled by a probe error. */
  private[graft] def inputBytes(files: Array[String],
      conf: org.apache.hadoop.conf.Configuration): Long =
    files.map { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(conf).getFileStatus(path).getLen
      } catch { case _: Exception => Long.MaxValue / 1024 }
    }.sum

  /** The fan-out gate shared by both forms: the partition count to fan
    * `df` out to, or None when it must stay as it is. */
  private def fanPartitions(df: DataFrame): Option[Int] = {
    // Frames that already shuffle upstream (joins, aggregates, windows,
    // global sorts, explicit repartitions) are no-ops (r20): their map
    // stage downstream of the exchange is not pinned to the scan's
    // split count, so the extra exchange buys no parallelism — it only
    // adds a pass. Measured (r19→r20 idle 32c rows): fanning the
    // post-join frames inside the curation pipeline cost
    // llm_curation_pipeline 1.64→2.35 s and llm_contamination_report
    // 1.05→1.29 s, while every bare-scan site held its win
    // (llm_decontaminate 3.69→0.84 s idle-to-idle).
    val shuffledUpstream = try {
      import org.apache.spark.sql.catalyst.plans.logical._
      df.queryExecution.analyzed.collectFirst {
        case p @ (_: Join | _: Aggregate | _: Window |
                  _: Distinct | _: Deduplicate | _: RepartitionOperation) => p
        // a local sort (sortWithinPartitions) stays on the scan's split
        case s: Sort if s.global => s
      }.isDefined
    } catch { case _: Exception => false }
    if (shuffledUpstream) return None
    // streaming frames (no inputFiles) and non-file sources: no-op —
    // their parallelism is the source's business
    val files = try df.inputFiles catch { case _: Exception => Array.empty[String] }
    val bytes =
      if (files.isEmpty) 0L
      else inputBytes(files,
        try df.sparkSession.sessionState.newHadoopConf()
        catch { case _: Exception => new org.apache.hadoop.conf.Configuration() })
    val oneSplit = try {
      org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    } catch { case _: Exception => 128L * 1024 * 1024 }
    // explicit partition count: without it AQE treats the exchange as
    // coalescible and folds the (tiny-bytes, heavy-compute-downstream)
    // shuffle straight back to ONE partition — the advisory size knows
    // bytes, not the compute the rows fan into
    if (files.nonEmpty && bytes <= oneSplit)
      Some(try df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        catch {
          case _: Exception => df.sparkSession.sparkContext.defaultParallelism
        })
    else None
  }

  /** Exact decimal image of a 2-decimal double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent exact sum of a 2-decimal double column, as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact average: exact decimal sum divided by count, both engines agree. */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)

  /** Local-mode session used by mains and tests. */
  def session(appName: String, cores: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", cores)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import scala.annotation.tailrec

/** Source/sink surface (SURVEY.md §2.1 S1–S8).
  *
  * Everything file-shaped goes through Spark's distributed readers so scans
  * parallelize per file-split; only the REST pager (S1) is driver-side by
  * nature (the reference's `fetch_issues.py:29-39` pagination protocol is
  * sequential: each page links the next).
  */
object Sources {

  /** S1 paginated REST source: pull pages while `fetch` yields one, then
    * parallelize the page bodies and JSON-parse them on executors.
    * `fetch(i)` returns the raw JSON body of page i or None when the pager
    * is exhausted (the reference stops when `next` is null,
    * fetch_issues.py:33-38). HTTP itself is injected so the pager is
    * testable offline; `maxPages` guards a runaway API. */
  def paginatedJson(spark: SparkSession, fetch: Int => Option[String],
                    maxPages: Int = 100000): DataFrame = {
    import spark.implicits._
    @tailrec def loop(i: Int, acc: List[String]): List[String] =
      if (i >= maxPages) acc.reverse
      else fetch(i) match {
        case Some(body) => loop(i + 1, body :: acc)
        case None => acc.reverse
      }
    val pages = loop(0, Nil)
    spark.read.json(spark.createDataset(pages))
  }

  /** S2 multiline-JSON scan (whole-file JSON documents, e.g. the issues
    * dump: an array of pages each holding a `results` array —
    * rucio_data_exploration.ipynb:149-164). */
  def readMultilineJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)

  /** S2 helper: flatten the issues-dump shape (array of pages, each with a
    * `results` array of records) to one row per record. */
  def flattenPages(pages: DataFrame, resultsCol: String = "results"): DataFrame =
    pages.select(explode(col(resultsCol)).as("r")).select(col("r.*"))

  /** S3 JSON-lines scan with path glob (day-partition pruning happens in
    * the glob, rucio_data_access_HDfs.ipynb:152-158). Schemas of part-files
    * are union-merged by the reader, missing fields null-filled. */
  def readJsonLines(spark: SparkSession, glob: String): DataFrame =
    spark.read.json(glob)

  /** S11 heterogeneous JSON ingestion (the §1.2 archive semantic: a
    * 23-column day shard next to a 59-column full file,
    * rucio_data_access_HDFS.ipynb:295-319): one read over several paths
    * whose part-files carry DIFFERENT column subsets. Spark's JSON
    * inference samples every file and UNIONS the schemas; rows from a
    * file missing a column get null there — the union-by-name merge a
    * real archive ingest hits on day one. Schema inference is one extra
    * sampling pass; at 100 TB pass an explicit merged schema via
    * `spark.read.schema(...)` instead (same null-filling semantics,
    * no inference scan). */
  def readJsonUnion(spark: SparkSession, paths: String*): DataFrame =
    spark.read.json(paths: _*)

  /** S4 filesystem listing source: enumerate files under a directory as a
    * DataFrame(path, size, mtime). Driver-side Hadoop FS call (same as the
    * reference's py4j listStatus, :203-208) — listings are small. */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = if (fs.exists(p))
      fs.listStatus(p).toSeq.map(s =>
        (s.getPath.toString, s.getLen, s.getModificationTime, s.isDirectory))
    else Seq.empty
    rows.toDF("path", "size", "mtime_ms", "is_dir").orderBy("path")
  }

  /** S5 plain-text log scan: one row per line, trailing newline stripped
    * (readlines+rstrip, word2vec_dbscan_approach.ipynb:68-76). */
  def readTextLog(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(path).map(_.stripLineEnd.stripTrailing())
  }

  /** S6 JSON sink (fetch_issues.py:42-43). One file per partition; callers
    * coalesce(1) only for driver-local dumps. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S6′ CSV sink with header + full quoting/escaping (RFC-4180 via the
    * builtin Univocity writer) — the interchange format every external
    * consumer still asks for. Schema rides in the header; use
    * [[readCsv]] with an explicit schema for a lossless roundtrip of
    * primitive columns. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true)
      .option("quoteAll", true).option("escape", "\"")
      // the writer ALSO trims by default — lossless both directions
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .csv(path)

  /** CSV scan: explicit schema (header used for column NAMES only —
    * schema inference re-reads the data and guesses types; at 100 TB
    * that is a full extra pass that can still be wrong).
    *
    * `multiLine` is the newline contract: with it OFF (default) files
    * stay SPLITTABLE (a multiLine CSV file is one split), but a quoted
    * field containing an embedded newline is SPLIT MID-ROW — silently
    * corrupt, not an error. Data whose string columns can carry
    * newlines must either strip them before [[writeCsv]] (what
    * `s5_text_scan` does) or read back with `multiLine = true` and
    * accept one-split-per-file. SinkSpec pins both sides of the trade. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              multiLine: Boolean = false): DataFrame =
    spark.read.option("header", true).option("escape", "\"")
      .option("multiLine", multiLine)
      // the univocity defaults TRIM unquoted whitespace — lossless means
      // bytes out == bytes in
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      .schema(schema).csv(path)

  /** Bucketed-table sink — the co-located-join strategy at 100 TB: both
    * sides of a recurring equi-join written `bucketBy(n, key)` hash every
    * row into the same bucket scheme ONCE at write time, so every later
    * join/aggregation on that key plans with NO shuffle of either side
    * (the scan reports the bucket distribution; `sortBy` additionally
    * pre-orders within buckets for merge joins). `saveAsTable` with an
    * explicit path = external table: data at `path`, bucketing metadata
    * in the catalog — bucket info only flows through the catalog reader,
    * a bare `spark.read.parquet` would see plain files. */
  /** Bucketed parquet table write. The input is repartitioned on the
    * bucket column with EXACTLY `buckets` partitions before the write
    * (r20): `repartition(buckets, key)` is the same
    * `pmod(murmur3(key), buckets)` function the bucket-id assignment
    * uses, so each task owns exactly one bucket — the write runs
    * `buckets`-wide in parallel (a one-split input otherwise sorts and
    * writes ALL buckets in a single task) and emits exactly one file
    * per bucket instead of tasks × buckets (the small-file explosion a
    * many-task input produces, guide §6). Bucket contents and per-file
    * sortBy(key) order are identical either way — bucket membership is
    * a pure function of the key — so readers and the no-exchange
    * bucketed-join contract are unchanged. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(buckets, col(key))
      .write.mode("overwrite").option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
  }

  /** Partitioned parquet sink, file-count and file-size disciplined — the
    * layout that keeps a 100-TB table queryable:
    *  - `repartition(partCols)` BEFORE `partitionBy(partCols)`: without
    *    it every task holds rows of every partition value, so the job
    *    writes tasks × partitions files — the small-file problem at its
    *    worst. With it, each partition directory is written by the tasks
    *    that own that key.
    *  - `maxRecordsPerFile` bounds the other failure mode: a hot
    *    partition value producing one unsplittable giant file.
    * Directory-level partition pruning then serves every later query
    * that filters on the layout columns. */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partCols: Seq[String],
                              maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Morton (Z-order) code of two numeric columns: each value is
    * range-bucketed into `bits` bits (domain bounds passed as literals —
    * a global statistic, one tiny agg to obtain), then the bit strings
    * are interleaved. Rows close on the Z-curve are close in BOTH
    * dimensions, which is the whole point of [[writeZOrdered]]. Pure
    * per-row bit arithmetic — codegen'd, no shuffle, no UDF. */
  def mortonCode(a: org.apache.spark.sql.Column, loA: Double, hiA: Double,
                 b: org.apache.spark.sql.Column, loB: Double, hiB: Double,
                 bits: Int = 8): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val n = 1 << bits
    // width_bucket yields 1..n (and n+1 at v == hi); clamp to 0..n-1
    def bucket(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      least(greatest(width_bucket(c.cast("double"), lit(lo), lit(hi),
        lit(n)) - 1, lit(0L)), lit(n.toLong - 1))
    val ba = bucket(a, loA, hiA)
    val bb = bucket(b, loB, hiB)
    (0 until bits).map { i =>
      shiftleft(shiftright(ba, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order-clustered parquet sink: range-partition + locally sort the
    * rows by their Morton code over two filter dimensions, so every
    * output file (and row group) covers a NARROW min/max range in BOTH
    * columns at once.
    *
    * Why at 100 TB: parquet's reader prunes row groups whose column
    * min/max can't satisfy the pushed predicate. A single-column sort
    * gives perfect pruning on that column and none on any other; the
    * Z-curve spends the locality budget across both dimensions, so a
    * 2-D box predicate (the time-range + key-range shape of most
    * dashboard scans) skips most of the data — Delta/Iceberg `ZORDER BY`
    * is this exact layout. The write is one range exchange + local sort
    * (the same cost as any clustered write); the domain bounds come from
    * one tiny min/max agg. `blockBytes` bounds the row-group size so
    * pruning granularity tracks file count even on small fixtures. */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, colB: String,
                    nFiles: Int = 32, bits: Int = 8,
                    blockBytes: Long = 128L * 1024 * 1024): Unit = {
    val Array(loA, hiA, loB, hiB) = df
      .agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    df.withColumn("_z",
        mortonCode(col(colA), loA, hiA, col(colB), loB, hiB, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite")
      .option("parquet.block.size", blockBytes)
      .parquet(path)
  }

  /** S7 catalog listing. */
  def catalogTables(spark: SparkSession): DataFrame =
    spark.catalog.listTables().toDF().select("name", "tableType", "isTemporary")

  /** S8 collect-to-local bridge (`showDf`,
    * rucio_data_access_HDFS.ipynb:1262-1294): only the first `n` rows
    * cross to the driver. */
  def headLocal(df: DataFrame, n: Int): Array[org.apache.spark.sql.Row] =
    df.head(n)
}

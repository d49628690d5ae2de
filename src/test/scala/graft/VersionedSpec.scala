package graft

import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Snapshot-versioned table: publish / time travel / pointer / vacuum. */
class VersionedSpec extends SparkSuite {
  import spark.implicits._

  private def tmpTable(): String =
    tempDir("graft_vspec_") + "/tbl"

  test("publish assigns dense versions and read() time-travels exactly") {
    val dir = tmpTable()
    val v0 = Versioned.publish(Seq((1, "a"), (2, "b")).toDF("id", "s"), dir)
    val v1 = Versioned.publish(Seq((1, "a"), (2, "B"), (3, "c")).toDF("id", "s"), dir)
    assert(v0 == 0 && v1 == 1)
    assert(Versioned.currentVersion(spark, dir) == 1)
    assert(Versioned.versions(spark, dir) == Seq(0, 1))
    // time travel returns the OLD state bit-for-bit, current the new one
    val old = Versioned.read(spark, dir, v0).orderBy("id").collect().map(_.toSeq)
    assert(old.toSeq == Seq(Seq(1, "a"), Seq(2, "b")))
    val cur = Versioned.read(spark, dir).orderBy("id").collect().map(_.toSeq)
    assert(cur.toSeq == Seq(Seq(1, "a"), Seq(2, "B"), Seq(3, "c")))
  }

  test("snapshots are immutable: publishing never rewrites previous files") {
    val dir = tmpTable()
    Versioned.publish(Seq(1, 2, 3).toDF("id"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sig(v: Int) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v=$v"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sortBy(_._1).toSeq
    val before = sig(0)
    Versioned.publish(Seq(4, 5).toDF("id"), dir)
    assert(sig(0) == before) // v=0 untouched, name+len+mtime identical
  }

  test("vacuum drops only versions beyond the retention window, never current") {
    val dir = tmpTable()
    (0 until 4).foreach(i => Versioned.publish(Seq(i).toDF("id"), dir))
    val dropped = Versioned.vacuum(spark, dir, keepLast = 2)
    assert(dropped == Seq(0, 1))
    assert(Versioned.versions(spark, dir) == Seq(2, 3))
    assert(Versioned.currentVersion(spark, dir) == 3)
    // current still reads; a vacuumed version fails loudly, not empty
    assert(Versioned.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(3))
    val e = intercept[IllegalArgumentException](Versioned.read(spark, dir, 0))
    assert(e.getMessage.contains("vacuumed"))
    // keepLast < 1 would delete the current version — refused
    intercept[IllegalArgumentException](Versioned.vacuum(spark, dir, 0))
  }

  test("crashed publish (orphan dir, no commit marker) is invisible and swept") {
    val dir = tmpTable()
    Versioned.publish(Seq(1).toDF("id"), dir)
    Versioned.publish(Seq(2).toDF("id"), dir)
    // simulate a publish that died after writing data, before committing
    Seq(99).toDF("id").write.parquet(s"$dir/v=7")
    // readers never see it
    assert(Versioned.currentVersion(spark, dir) == 1)
    assert(Versioned.versions(spark, dir) == Seq(0, 1))
    intercept[IllegalArgumentException](Versioned.read(spark, dir, 7))
    // the next publish skips over the orphan instead of colliding
    val v = Versioned.publish(Seq(3).toDF("id"), dir)
    assert(v == 8)
    assert(Versioned.read(spark, dir).collect().map(_.getInt(0)).toSeq == Seq(3))
    // vacuum sweeps orphans below the newest committed version
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.vacuum(spark, dir, keepLast = 2)
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$dir/v=7")))
    assert(Versioned.versions(spark, dir) == Seq(1, 8))
  }

  test("commit meta survives orphan desync: replay guard keys on batchId, not version") {
    // the streaming-sink scenario: batch ids recorded in commit markers;
    // a crashed publish leaves an orphan dir, so version numbers skip
    // ahead of batch ids — the guard must still work
    val dir = tmpTable()
    def applied() = Versioned.commitMetas(spark, dir)
      .flatMap(_._2.toLongOption).maxOption.getOrElse(-1L)
    Versioned.publish(Seq(1).toDF("id"), dir, meta = Some("0"))
    assert(applied() == 0L)
    // batch 1's publish crashes after the data write, before the commit
    Seq(2).toDF("id").write.parquet(s"$dir/v=1")
    assert(applied() == 0L) // orphan contributes nothing
    // the replayed batch 1 IS unapplied and lands on version 2
    assert(applied() < 1L)
    val v = Versioned.publish(Seq(2).toDF("id"), dir, meta = Some("1"))
    assert(v == 2 && applied() == 1L)
    // a second replay of batch 1 is now recognizable as applied even
    // though currentVersion (2) != batchId (1)
    assert(applied() >= 1L && Versioned.currentVersion(spark, dir) == 2)
    assert(Versioned.commitMetas(spark, dir) == Seq(0 -> "0", 2 -> "1"))
  }

  test("empty table: currentVersion -1, read fails loudly") {
    val dir = tmpTable()
    assert(Versioned.currentVersion(spark, dir) == -1)
    assert(Versioned.versions(spark, dir).isEmpty)
    intercept[IllegalArgumentException](Versioned.read(spark, dir))
  }

  test("gated query shape: travel and current states differ only on updated keys") {
    val df = Versioned.timeTravelQuery(spark, sf)
    val rows = df.collect()
    assert(rows.length == 2)
    val Seq(r0, r1) = rows.toSeq.sortBy(_.getInt(0))
    assert(r0.getLong(1) == r1.getLong(1)) // upsert preserves row count
    assert(r0.getDouble(2) != r1.getDouble(2)) // doubled values move the total
  }
}

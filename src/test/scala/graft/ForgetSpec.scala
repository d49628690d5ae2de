package graft

import org.apache.spark.sql.functions._
import graft.sources.{Forget, Versioned}

/** Right-to-be-forgotten lifecycle: logical-now, physical-later, and
  * the exact boundary where time travel stops resurrecting the data. */
class ForgetSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable() = {
    val tmp = tempDir("graft_forget_spec_")
    Forget.setup(spark, sf, tmp)
  }

  test("merge-on-read hides every tombstoned user; compaction preserves that exactly") {
    val (table, tombstones) = freshTable()
    val optOut = tombstones.as[Long].collect().toSet
    assert(optOut.nonEmpty, "deterministic opt-out set must be non-empty at sf0.001")
    val mor = Forget.readForgotten(spark, table)
    assert(mor.filter($"user_id".isin(optOut.toSeq: _*)).count() == 0)
    val before = mor.collect().toSet
    Forget.compact(spark, table)
    assert(Versioned.read(spark, table).collect().toSet == before)
  }

  test("until vacuum, time travel can still see the pre-forget snapshot — after, it cannot") {
    val (table, tombstones) = freshTable()
    val optOut = tombstones.as[Long].collect().toSet
    val v1 = Forget.compact(spark, table)
    // retention window still open: v0 exists and CONTAINS the users —
    // this is why compaction alone does not complete a forget request
    val v0Rows = Versioned.read(spark, table, v1 - 1)
      .filter($"user_id".isin(optOut.toSeq: _*)).count()
    assert(v0Rows > 0, "pre-forget snapshot should still hold the opt-out rows")
    // vacuum to the compacted version: physical erasure
    assert(Versioned.vacuum(spark, table, keepLast = 1) == Seq(v1 - 1))
    intercept[IllegalArgumentException](Versioned.read(spark, table, v1 - 1))
    // and no retained version contains any opt-out row
    for (v <- Versioned.versions(spark, table))
      assert(Versioned.read(spark, table, v)
        .filter($"user_id".isin(optOut.toSeq: _*)).count() == 0)
  }

  test("merge-on-read plan: tombstone anti-join broadcasts, corpus never shuffles") {
    val (table, _) = freshTable()
    val q = Forget.readForgotten(spark, table)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan.take(600))
    // node-type walk, not a string match: ShuffleExchangeExec prints as
    // "Exchange hashpartitioning(...)" so a substring test can't see it
    val shuffles = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }
    assert(shuffles.isEmpty, "corpus must not shuffle for a KB tombstone list")
  }
}

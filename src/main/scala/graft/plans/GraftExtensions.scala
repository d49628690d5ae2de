package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the custom Catalyst expressions, so
  * `spark.sql` users get them too (not only the Column API):
  *
  *  - `dot_product(array<float|double>, array<float|double>) → double`
  *  - `minhash_sig(array<bigint>) → array<bigint>` (64 hashes)
  *  - `sorted_intersect_size(array<string>, array<string>) → int`
  *  - `sorted_shingles(array<string>) → array<string>` (3-gram, sorted, distinct)
  *  - `ngrams(array<string>, n, distinct) → array<string>`
  *  - `blocklist_counts(string, array<string> literal) → array<bigint>`
  *  - `hll_sketch(string) → struct<reg:int, rho:int>` — HLL register
  *    coordinates; `GROUP BY reg → MAX(rho)` builds/merges the sketch
  *  - `ddsketch_bin(numeric) → int` — DDSketch log-γ bin index;
  *    `GROUP BY bin → COUNT(*)` builds, bin-wise `+` merges
  *
  * Two registration paths, matching how Spark libraries ship:
  * [[GraftFunctions.register]] for an existing session (temp
  * functions), and [[GraftExtensions]] for
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  * (cluster-wide, survives new sessions).
  */
object GraftFunctions {

  /** One-argument SQL-macro builder: the template is parsed once per
    * call site and `__arg` is substituted with the caller's expression
    * — the function registry's output is then resolved by the normal
    * analyzer pass (the nested builtins stay Spark's own codegen'd
    * implementations). Used for the sketch scalars, whose math is a
    * composition of builtins rather than a new Catalyst expression;
    * SqlSurfaceSpec pins the SQL form against the Scala Column form. */
  private def sqlMacro(template: String)(es: Seq[Expression]): Expression = {
    require(es.length == 1, "expected exactly one argument")
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(template).transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.name == "__arg" => es.head
      }
  }

  /** `hll_sketch(tok)` — [[graft.functions.Hll.sketchCol]]'s math as a
    * SQL macro: register = first 2 md5 hex chars, ρ = leading-zero
    * bits of the 60-bit tail + 1 via string arithmetic. */
  private val hllSketchTemplate: String = {
    val tail = "trim(LEADING '0' FROM substring(md5(concat('hll|', __arg)), 3, 15))"
    s"""named_struct(
       |  'reg', cast(conv(substring(md5(concat('hll|', __arg)), 1, 2), 16, 10) as int),
       |  'rho', cast(CASE WHEN length($tail) = 0 THEN 61
       |    ELSE (15 - length($tail)) * 4
       |         + (CASE WHEN substring($tail, 1, 1) = '1' THEN 3
       |                 WHEN substring($tail, 1, 1) IN ('2', '3') THEN 2
       |                 WHEN substring($tail, 1, 1) IN ('4', '5', '6', '7') THEN 1
       |                 ELSE 0 END) + 1 END as int))""".stripMargin
  }

  /** `ddsketch_bin(x)` — bin(x) = ⌈ln x / ln γ⌉ with the shared
    * round-trip γ literal ([[graft.functions.DdSketch.binCol]]). */
  private val ddsketchBinTemplate: String =
    s"cast(ceil(ln(cast(__arg as double)) / ${java.lang.Double.toString(graft.functions.DdSketch.LnGamma)}D) as int)"

  /** The graft SQL functions, shared by both registration paths:
    * name, the class its `ExpressionInfo` names, builder. */
  private[graft] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    ("minhash_sig", classOf[MinHashSignature], es => MinHashSignature(es.head, 64)),
    ("sorted_intersect_size", classOf[SortedIntersectSize],
      es => SortedIntersectSize(es(0), es(1))),
    ("sorted_shingles", classOf[SortedShingles], es => SortedShingles(es.head)),
    ("ngrams", classOf[NGrams], NGrams.fromSql _),
    ("blocklist_counts", classOf[BlocklistCounts], BlocklistCounts.fromSql _),
    ("hll_sketch", graft.functions.Hll.getClass, sqlMacro(hllSketchTemplate) _),
    ("ddsketch_bin", graft.functions.DdSketch.getClass, sqlMacro(ddsketchBinTemplate) _))

  /** Register as session temp functions (idempotent). */
  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.fns.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}

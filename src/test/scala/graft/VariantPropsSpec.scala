package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** The VARIANT twin must be a drop-in for the string-path extraction —
  * same values on clean data (the shared oracle pins that), same
  * NULL degradation on dirty data (this spec pins that, running the
  * queries' OWN shared extraction expressions: try_parse_json degrades
  * malformed JSON to NULL where parse_json would throw, and
  * try_variant_get / try_cast degrade a parseable-but-mistyped value
  * ({"k":"abc"}) to NULL where the plain forms would throw under
  * Spark 4's default ANSI mode). */
class VariantPropsSpec extends SparkSuite {
  import spark.implicits._

  test("variant and string-path extraction agree, incl. malformed JSON and mistyped values") {
    val rows = Seq(
      ("""{"k": 7}""", "clean"),
      ("""{"k": 7, "extra": [1,2]}""", "clean_extra"),
      ("""not json at all""", "malformed"),
      ("""{"k": """, "truncated"),
      ("""{"other": 1}""", "missing_key"),
      ("""{"k": "abc"}""", "mistyped_string"),
      ("""{"k": [1, 2]}""", "mistyped_array"),
      (null.asInstanceOf[String], "null_props"))
      .toDF("props", "tag")
    // the queries' own expressions — parity here IS parity on the gate
    val got = rows.select($"tag",
      Analytics.propsKString($"props").as("s_k"),
      Analytics.propsKVariant($"props").as("v_k"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    got.foreach { case (tag, s, v) =>
      assert(s == v, s"row '$tag': string-path $s != variant $v")
    }
    assert(got.collectFirst { case ("clean", s, _) => s }.flatten.contains(7))
    assert(got.collectFirst { case ("malformed", s, _) => s }.flatten.isEmpty)
    assert(got.collectFirst { case ("mistyped_string", s, _) => s }.flatten.isEmpty,
      "{\"k\":\"abc\"} must degrade to NULL, not throw or coerce")
  }

  test("VARIANT columns round-trip parquet storage") {
    // Spark 4.1 writes VariantType as the parquet variant logical type
    // (shredded binary metadata+value). A curation pipeline that stages
    // semi-structured props as VARIANT must get identical extractions
    // after a write/read hop — otherwise staging silently changes
    // semantics vs. the in-memory path.
    val dir = tempDir("graft_variant_rt") + "/t"
    val rows = Seq(
      """{"k": 7, "nest": {"a": [1, 2, 3]}, "s": "x"}""",
      """{"k": -2, "nest": {"a": []}, "s": ""}""",
      """not json""",
      null.asInstanceOf[String])
      .toDF("props")
      .select($"props", try_parse_json($"props").as("v"))
    rows.write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("v").dataType.typeName == "variant",
      s"variant column did not survive parquet: ${back.schema("v").dataType}")
    def extract(df: org.apache.spark.sql.DataFrame) = df.select(
      variant_get($"v", "$.k", "int").as("k"),
      variant_get($"v", "$.nest.a[1]", "int").as("a1"),
      variant_get($"v", "$.s", "string").as("s"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2))))
      .toSet
    assert(extract(back) == extract(rows), "extraction drift across the parquet hop")
    assert(extract(back).contains((Some(7), Some(2), Some("x"))))
  }

  test("gated twin queries return identical frames at sf0.001") {
    val sfDir = "/root/testdata/sf0.001"
    val a = Analytics.eventProps(spark, sfDir).collect().toSeq
    val b = Analytics.eventPropsVariant(spark, sfDir).collect().toSeq
    assert(a == b, s"twin drift:\n $a\n $b")
    assert(a.nonEmpty)
  }
}

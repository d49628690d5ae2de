package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Exact}

/** Property-style checks on the semantics-hazard expressions (SURVEY §5:
  * hash stability, order-independence, custom-vs-builtin equivalence).
  * Seeded generation (fixed seed → reproducible failures); each case
  * materializes one small DataFrame. */
class PropertySpec extends SparkSuite {

  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("sumExact is bit-identical under any partitioning (order independence)") {
    (1 to 5).foreach { _ =>
      val xs = List.fill(200)(math.rint(rnd.between(-1e6, 1e6) * 1e4) / 1e4)
      val df = xs.toDF("v")
      val a = df.repartition(1).agg(Exact.sumExact($"v")).collect().head.getDouble(0)
      val b = df.repartition(13).agg(Exact.sumExact($"v")).collect().head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
    }
  }

  test("DotProduct equals the higher-order aggregate/zip_with formulation bit-for-bit") {
    (1 to 8).foreach { _ =>
      val a = Array.fill(16)(rnd.between(-10.0f, 10.0f))
      val b = Array.fill(16)(rnd.between(-10.0f, 10.0f))
      val df = Seq((a, b)).toDF("a", "b")
      val custom = df.select(graft.plans.VectorExpressions.dotProduct($"a", $"b"))
        .collect().head.getDouble(0)
      val hof = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v)).collect().head.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(custom) == java.lang.Double.doubleToLongBits(hof))
    }
  }

  test("SortedIntersectSize equals size(array_intersect) on sorted distinct arrays") {
    (1 to 8).foreach { _ =>
      def arr() = List.fill(rnd.nextInt(20))(
        List.fill(rnd.nextInt(5) + 1)(('a' + rnd.nextInt(4)).toChar).mkString)
        .distinct.sorted.toArray
      val (a, b) = (arr(), arr())
      val df = Seq((a, b)).toDF("a", "b")
      val custom = df.select(graft.plans.ArrayExpressions.sortedIntersectSize($"a", $"b"))
        .collect().head.getInt(0)
      val builtin = df.select(size(array_intersect($"a", $"b"))).collect().head.getInt(0)
      assert(custom == builtin, s"a=${a.toList} b=${b.toList}")
    }
  }

  test("NGrams equals the interpreted transform/array_distinct chains, both modes") {
    (1 to 8).foreach { _ =>
      val n = rnd.nextInt(4) + 2
      // small alphabet so repeats (and thus live dedup) actually occur
      val toks = Array.fill(rnd.nextInt(25))(('a' + rnd.nextInt(3)).toChar.toString)
      val df = Seq(Tuple1(toks)).toDF("t")
      val hofPositional = df.select(expr(
        s"CASE WHEN size(t) < $n THEN array() " +
        s"ELSE transform(sequence(1, size(t) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice(t, i, $n))) END").as("g"))
        .collect().head.getSeq[String](0)
      val positional = df.select(
        graft.plans.ShingleExpression.ngrams($"t", n, distinct = false).as("g"))
        .collect().head.getSeq[String](0)
      assert(positional == hofPositional, s"n=$n toks=${toks.toList}")
      val distinctG = df.select(
        graft.plans.ShingleExpression.ngrams($"t", n, distinct = true).as("g"))
        .collect().head.getSeq[String](0)
      assert(distinctG == hofPositional.distinct, s"n=$n toks=${toks.toList}")
    }
    // SQL surface: the session registers the graft functions
    val viaSql = spark.sql(
      "SELECT ngrams(array('a','b','a','b'), 2, true) AS g")
      .collect().head.getSeq[String](0)
    assert(viaSql == Seq("a b", "b a"))
  }

  test("shingles: count == max(0, tokens-2) for distinct tokens; hash60 in [0, 2^60)") {
    (0 to 8).foreach { n =>
      // n distinct tokens → exactly max(0, n-2) distinct shingles
      val words = (0 until n).map(i => s"w$i")
      val text = words.mkString(" ")
      val df = Seq(text).toDF("text")
      val sh = df.select(size(Dedup.shingles($"text"))).collect().head.getInt(0)
      assert(sh == math.max(0, n - 2), s"n=$n")
      val h = df.select(Dedup.hash60(lit("x" + text))).collect().head.getLong(0)
      assert(h >= 0L && h < (1L << 60))
    }
  }

  test("MinHashSignature: componentwise min under concatenation (mergeability)") {
    (1 to 5).foreach { _ =>
      val xs = Array.fill(12)(rnd.nextLong())
      val ys = Array.fill(12)(rnd.nextLong())
      def sig(zs: Array[Long]): Seq[Long] =
        Seq(zs).toDF("h")
          .select(graft.plans.MinHashExpression.minhashSig($"h", 16))
          .collect().head.getSeq[Long](0)
      val merged = sig(xs ++ ys)
      val piecewise = sig(xs).zip(sig(ys)).map { case (p, q) => math.min(p, q) }
      assert(merged == piecewise) // the property LSH banding relies on
    }
  }

  test("AsOfJoinExec tolerance: differential vs rank-then-filter composition") {
    import org.apache.spark.sql.expressions.Window
    (1 to 3).foreach { round =>
      val left = (0 until 120).map { i =>
        (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(60).toLong)
      }.toDF("id", "k", "t")
      val right = (0 until 5).flatMap(k =>
          List.fill(12)((k.toLong, rnd.nextInt(50).toLong)))
        .map { case (k, t) => (k, t, k * 10000 + t) }
        .toDF("rk", "rt", "payload")
        .groupBy("rk", "rt").agg(min($"payload").as("payload"))
      val tol = rnd.nextInt(15).toLong // 0 is legal: exact-time matches only
      val native = graft.plans.AsOfJoinNative.asofJoin(
          left, right, "k", "rk", "t", "rt", tolerance = tol)
        .select($"id", $"rt", $"payload")
      // pandas semantics: rank FIRST, tolerance on the nearest match —
      // filter-then-rank would wrongly fall back to older rows
      val w = Window.partitionBy($"id").orderBy($"rt".desc)
      val composed = left.join(right, $"k" === $"rk" && $"rt" <= $"t")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .filter($"t" - $"rt" <= tol)
        .select($"id", $"rt", $"payload")
      assert(native.exceptAll(composed).count() == 0, s"round $round tol=$tol: extra")
      assert(composed.exceptAll(native).count() == 0, s"round $round tol=$tol: missing")
      // outer stays total; its matched subset is exactly the inner set
      val outer = graft.plans.AsOfJoinNative.asofJoin(
        left, right, "k", "rk", "t", "rt", "left_outer", tol)
      assert(outer.count() == left.count(), s"round $round: outer not total")
      assert(outer.filter($"rt".isNotNull).count() == native.count(), s"round $round")
      // unbounded tolerance must equal the tolerance-free walk
      val unbounded = graft.plans.AsOfJoinNative.asofJoin(
          left, right, "k", "rk", "t", "rt")
        .select($"id", $"rt", $"payload")
      val neg = graft.plans.AsOfJoinNative.asofJoin(
          left, right, "k", "rk", "t", "rt", tolerance = -1L)
        .select($"id", $"rt", $"payload")
      assert(neg.exceptAll(unbounded).count() == 0 &&
        unbounded.exceptAll(neg).count() == 0)
    }
  }

  test("AsOfJoinExec: randomized differential vs window composition, inner and outer") {
    import org.apache.spark.sql.expressions.Window
    // skewed key space (key 0 is hot) + duplicate left times + keys with
    // an empty right side — the shapes the merge walk must survive.
    // Right (key, time) pairs are made UNIQUE (the operator's
    // determinism contract).
    (1 to 4).foreach { round =>
      val nL = 150 + rnd.nextInt(100)
      val left = (0 until nL).map { i =>
        val k = if (rnd.nextBoolean()) 0L else rnd.nextInt(8).toLong
        // same small range as the right side: exercises exact-equality
        // boundaries (t == rt) and left-of-all-matches rows
        (i.toLong, k, rnd.nextInt(60).toLong)
      }.toDF("id", "k", "t")
      // times drawn from a SMALL pool so equal timestamps occur across
      // adjacent keys in the sorted right side (the merge walk's tie
      // path), and per-key duplicates occur (made unique by the
      // groupBy, which is therefore live, not decorative)
      val right = (0 until 6).flatMap(k =>
          List.fill(15)((k.toLong, rnd.nextInt(50).toLong)))
        .map { case (k, t) => (k, t, k * 10000 + t) }
        .toDF("rk", "rt", "payload")
        .groupBy("rk", "rt").agg(min($"payload").as("payload")) // unique (rk, rt)
      val native = graft.plans.AsOfJoinNative.asofJoin(
        left, right, "k", "rk", "t", "rt").select($"id", $"rt", $"payload")
      val w = Window.partitionBy($"id").orderBy($"rt".desc)
      val composed = left.join(right, $"k" === $"rk" && $"rt" <= $"t")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"id", $"rt", $"payload")
      assert(native.exceptAll(composed).count() == 0, s"round $round: extra rows")
      assert(composed.exceptAll(native).count() == 0, s"round $round: missing rows")
      // outer: total on the left, matched subset == inner
      val outer = graft.plans.AsOfJoinNative.asofJoin(
        left, right, "k", "rk", "t", "rt", "left_outer")
      assert(outer.count() == left.count(), s"round $round: outer not total")
      assert(outer.filter($"rk".isNotNull).count() == native.count(), s"round $round")
    }
  }
}

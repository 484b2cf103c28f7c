package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHashExpr

/** Property-style checks (seeded, deterministic) for the engine's
  * exactness-critical primitives: the decimal-exact aggregation
  * contract (order independence — the property plain double SUM lacks
  * and the whole oracle-parity scheme rests on) and the rolling-hash
  * fingerprint.
  */
class PropertySpec extends AnyFunSuite {
  import TestSession._

  private val rng = new scala.util.Random(42)

  test("dsum is permutation/partitioning-invariant and decimal-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 5).foreach { _ =>
      // adversarial magnitudes: 2-decimal "prices" spanning 9 orders
      // of magnitude — naive double accumulation differs on reorder
      val xs = List.fill(200)((rng.nextLong().abs % 99999999999L + 1) / 100.0)
      val a = xs.toDF("v").repartition(7)
        .agg(graft.functions.Exact.dsum(col("v"))).head.getDouble(0)
      val b = xs.reverse.toDF("v").repartition(3)
        .agg(graft.functions.Exact.dsum(col("v"))).head.getDouble(0)
      val exact = xs.map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      assert(a == b)
      assert(a == exact.toDouble)
      // the naive double fold genuinely disagrees with itself under
      // reordering for at least some draws — proving dsum is load-bearing
      val naiveFwd = xs.foldLeft(0.0)(_ + _)
      val naiveRev = xs.reverse.foldLeft(0.0)(_ + _)
      if (naiveFwd != naiveRev) assert(a == exact.toDouble) // dsum unaffected
    }
  }

  test("clusterBySpec: lossless, narrows per-partition bounds, zorder narrows BOTH columns") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 3).foreach { _ =>
      val n = 4000
      val xs = List.fill(n)((rng.nextLong().abs % 100000L, rng.nextLong().abs % 100000L,
        rng.alphanumeric.take(6).mkString))
      val df = xs.toDF("a", "b", "s").repartition(8)
      def spans(clustered: org.apache.spark.sql.DataFrame, c: String): Double = {
        val rows = clustered
          .select(spark_partition_id().as("p"), col(c))
          .groupBy(col("p")).agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
          .collect().filter(r => !r.isNullAt(1))
        rows.map(r => (r.getLong(2) - r.getLong(1)).toDouble).sum / rows.length
      }
      val domain = 100000.0
      // 64 partitions so the z-curve consumes 3 interleaved bits per
      // dimension (8 partitions would split `a` only once — the
      // narrowing is log2(P)/2 bits per column)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        // range spec: multiset preserved, per-partition span on the
        // lead column far below the full domain (random ≈ domain)
        val ranged = graft.sources.Sources.clusterBySpec(df, "a")
        assert(ranged.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
          df.collect().map(_.toSeq).sortBy(_.toString).toSeq)
        assert(spans(ranged, "a") < domain / 8,
          s"range cluster left wide spans: ${spans(ranged, "a")}")
        // zorder spec: lossless AND both columns' spans narrow
        val zed = graft.sources.Sources.clusterBySpec(df, "zorder(a, b)")
        assert(zed.count() == n)
        assert(spans(zed, "a") < domain / 4 && spans(zed, "b") < domain / 4,
          s"zorder spans: a=${spans(zed, "a")} b=${spans(zed, "b")}")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      // empty batch: both specs are no-ops, not crashes
      assert(graft.sources.Sources.clusterBySpec(df.limit(0), "a").count() == 0)
      assert(graft.sources.Sources.clusterBySpec(df.limit(0), "zorder(a, b)").count() == 0)
      // unknown column / malformed spec: loud
      intercept[IllegalArgumentException] {
        graft.sources.Sources.clusterBySpec(df, "nope") }
      intercept[IllegalArgumentException] {
        graft.sources.Sources.clusterBySpec(df, "zorder(a, nope)") }
    }
  }

  test("rolling hash: deterministic, utf8-byte-sensitive, concat-composable") {
    (1 to 50).foreach { _ =>
      val s1 = rng.alphanumeric.take(rng.nextInt(40)).mkString
      val s2 = rng.alphanumeric.take(rng.nextInt(40)).mkString
      val h1 = RollingHashExpr.hash(UTF8String.fromString(s1))
      assert(h1 == RollingHashExpr.hash(UTF8String.fromString(s1))) // deterministic
      // polynomial composition: hash(s1+s2) derivable from hash(s1)
      var h = h1
      s2.getBytes("UTF-8").foreach { b => h = 31L * h + b }
      assert(h == RollingHashExpr.hash(UTF8String.fromString(s1 + s2)))
      // byte sensitivity: flipping one char moves the hash
      if (s1.nonEmpty) {
        val flipped = (s1.head + 1).toChar +: s1.tail
        assert(h1 != RollingHashExpr.hash(UTF8String.fromString(flipped.mkString)))
      }
    }
  }

  test("merge is idempotent and delete-merge partitions the key space") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 3).foreach { _ =>
      val tKeys = List.fill(60)(rng.nextInt(40).toLong).distinct
      val sKeys = List.fill(40)(rng.nextInt(60).toLong).distinct
      val target = tKeys.map(k => (k, s"t$k")).toDF("k", "s")
      val source = sKeys.map(k => (k, s"s$k")).toDF("k", "s")
      val once = graft.operators.Merge.upsert(target, source, Seq("k"))
      // idempotence: re-merging the same source changes nothing
      val twice = graft.operators.Merge.upsert(once, source, Seq("k"))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m(once) == m(twice))
      // union-of-keys, source-wins
      assert(m(once).keySet == tKeys.toSet ++ sKeys.toSet)
      sKeys.foreach(k => assert(m(once)(k) == s"s$k"))
      // delete-merge: every source key with the delete mark vanishes,
      // every other key is exactly what plain upsert produces
      val delKeys = sKeys.filter(_ % 3 == 0).toSet
      val marked = sKeys.map(k =>
        (k, if (delKeys(k)) "__DEL__" else s"s$k")).toDF("k", "s")
      val withDel = m(graft.operators.Merge.upsert(target, marked, Seq("k"),
        deleteWhen = Some(col("s") === "__DEL__")))
      assert(withDel.keySet == (tKeys.toSet ++ sKeys.toSet) -- delKeys)
      withDel.foreach { case (k, v) =>
        assert(v == (if (sKeys.contains(k)) s"s$k" else s"t$k"))
      }
    }
  }

  test("pct/ratio guard division by zero to NULL, never NaN/Infinity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 0L), (2L, 4L), (0L, 0L)).toDF("num", "den")
      .select(
        graft.functions.Exact.pct(col("num"), col("den")).as("p"),
        graft.functions.Exact.ratio(col("num"), col("den")).as("r"))
    val rows = df.collect()
    rows.foreach { r =>
      Seq(0, 1).foreach { i =>
        if (!r.isNullAt(i)) {
          val v = r.getDouble(i)
          assert(!v.isNaN && !v.isInfinity)
        }
      }
    }
    assert(rows.count(_.isNullAt(0)) == 2) // both zero-den rows are NULL
  }

  test("collect_capped keeps exactly a df-prune's groups under any partitioning") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import spark.implicits._
    // random key→values with group sizes straddling the cap
    val rows = List.fill(2000)((rng.nextInt(40), rng.nextLong().abs))
    val cap = 51
    (1 to 8 by 3).foreach { parts =>
      val df = rows.toDF("k", "v").repartition(parts)
      val survivors = df.groupBy(col("k"))
        .agg(GraftFunctions.collectCapped(col("v"), cap).as("docs"))
        .filter(size(col("docs")) <= cap - 1)
        .select(col("k"), explode(col("docs")).as("v"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      // ground truth: the two-pass df-prune (count first, then keep)
      val counts = rows.groupBy(_._1).view.mapValues(_.size).toMap
      val expected = rows.filter { case (k, _) => counts(k) <= cap - 1 }.toSet
      assert(survivors == expected,
        s"capped prune diverged from df-prune at $parts partitions")
    }
  }

  test("bottom_k equals the window-sort formulation under any partitioning") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    import spark.implicits._
    val k = 5
    // collisions on the sort key exercise the payload tiebreak
    val rows = List.tabulate(3000)(i =>
      (rng.nextInt(20), rng.nextLong().abs % 400, i.toLong))
    // ground truth: sort each group by (key, payload), take k
    val expected = rows.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3)).sorted.take(k)).toMap
    (1 to 8 by 3).foreach { parts =>
      val got = rows.toDF("g", "h", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(GraftFunctions.bottomK(col("h"), col("id"), k).as("s"))
        .select(col("g"), explode(col("s")).as("s"))
        .select(col("g"), col("s.k"), col("s.v"))
        .collect()
        .groupBy(_.getInt(0)).view
        .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toList.sorted).toMap
      assert(got == expected,
        s"bottom_k diverged from window sort at $parts partitions")
    }
  }
}

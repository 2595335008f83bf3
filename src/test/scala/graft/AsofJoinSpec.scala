package graft

import graft.plans.AsofJoinNative
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** merge_asof semantics (reference core/reshape/merge.py:644) of the
  * native merge-walk: backward match, exact-timestamp matches allowed,
  * tolerance nulls out stale matches, unmatched left rows survive with
  * NULL. Hand-valued fixtures pin the cases directly; the events and
  * keyless fixtures are checked row by row against the brute-force
  * [[AsofReference]].
  */
class AsofJoinSpec extends SparkSpec {

  private def ts(s: Long) = s * 1000000L

  test("backward as-of with by-keys, exact matches, tolerance") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(100), "a"), (1L, ts(200), "b"), (1L, ts(50), "c"),
      (2L, ts(100), "d"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq(
      (1L, ts(100), 1.0), (1L, ts(150), 2.0), (2L, ts(90), 3.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val out = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap

    assert(out("a").contains(1.0)) // exact-timestamp match allowed
    assert(out("b").contains(2.0)) // latest at/before 200 is 150
    assert(out("c").isEmpty)       // nothing at/before 50
    assert(out("d").contains(3.0)) // by-key separation

    val tol = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceUs = Some(ts(20)))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap

    assert(tol("a").contains(1.0)) // age 0 <= 20s
    assert(tol("b").isEmpty)       // age 50s > 20s -> nulled
    assert(tol("d").contains(3.0)) // age 10s <= 20s
  }

  test("forward and nearest directions") {
    import spark.implicits._
    val left = Seq((1L, ts(100), "a"), (1L, ts(120), "b"), (1L, ts(300), "c"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(100), 1.0), (1L, ts(130), 2.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val fwd = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v"),
        direction = "forward")
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(fwd("a").contains(1.0)) // exact forward match
    assert(fwd("b").contains(2.0)) // next at 130
    assert(fwd("c").isEmpty)       // nothing after 300

    val near = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v"),
        direction = "nearest")
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(near("a").contains(1.0)) // dist 0
    assert(near("b").contains(2.0)) // 10s fwd beats 20s back
    assert(near("c").contains(2.0)) // only backward exists

    // tie: left at 115 is 15s from both 100 and 130 -> backward wins
    val tie = Seq((1L, ts(115), "t")).toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val tieOut = AsofJoinNative.join(spark, tie, right, Seq("k"), "t", "t", Seq("v"),
        direction = "nearest")
      .select($"v").as[Option[Double]].collect()
    assert(tieOut.head.contains(1.0))
  }

  test("NULL right values propagate from the matched row (no fallthrough)") {
    import spark.implicits._
    val left = Seq((1L, ts(200), "a"), (1L, ts(300), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    // matched row at 150 has v=NULL, w=20: pandas returns THAT row's
    // NaN for v — not the older row's 1.0 — and both value columns
    // must come from the same matched row
    val right = Seq(
      (1L, ts(100), Some(1.0), Some(10.0)),
      (1L, ts(150), None: Option[Double], Some(20.0)),
      (1L, ts(250), Some(3.0), None: Option[Double]))
      .toDF("k", "tsm", "v", "w")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val out = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v", "w"))
      .select($"tag", $"v", $"w")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("a") == (None, Some(20.0)))   // matched row 150 as-is
    assert(out("b") == (Some(3.0), None))    // matched row 250 as-is

    val fwd = AsofJoinNative.join(spark, left, right, Seq("k"), "t", "t", Seq("v", "w"),
        direction = "forward")
      .select($"tag", $"v", $"w")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(fwd("a") == (Some(3.0), None))    // next row 250 as-is
  }

  test("native operator rejects null merge keys like pandas") {
    import spark.implicits._
    val left = Seq((Some(1L), ts(100), "a"), (None: Option[Long], ts(200), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(50), 1.0)).toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val ex = intercept[Exception] {
      AsofJoinNative.join(spark, left, right,
        Seq("k"), "t", "t", Seq("v")).collect()
    }
    assert(ex.getMessage != null)
  }

  /** sf0.001 events: clicks (left) and the two right sides the
    * `join_asof_*` queries use — purchases, and ALL events (every click
    * then has an exact-ts candidate: itself). */
  private def events: (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val ev = Tables(spark, sf(), "events")
    (ev.filter($"event_type" === "click").select($"user_id", $"event_id", $"ts"),
     ev.filter($"event_type" === "purchase").select($"user_id", $"ts", $"value"),
     ev.select($"user_id", $"ts", $"value"))
  }

  /** native as-of of clicks to `right` == the brute-force reference on
    * every click; returns the native result (event_id -> value) */
  private def nativeMatchesReference(clicks: DataFrame, right: DataFrame,
      direction: String = "backward", toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): Map[Long, Option[Double]] = {
    import spark.implicits._
    val got = AsofJoinNative.join(spark, clicks, right, Seq("user_id"),
        "ts", "ts", Seq("value"), direction, toleranceUs, allowExactMatches)
      .select($"event_id", $"value").as[(Long, Option[Double])]
      .collect().toMap
    val ref = new AsofReference(
      right.select($"user_id", unix_micros($"ts"), $"value")
        .as[(Long, Long, Option[Double])].collect().toSeq)
    assert(ref.uniqueRight) // sf0.001 events: 1000 distinct (user_id, ts)
    val want = clicks.select($"event_id", $"user_id", unix_micros($"ts"))
      .as[(Long, Long, Long)].collect().map { case (id, u, t) =>
        id -> ref(u, t, direction, toleranceUs, allowExactMatches).flatten
      }.toMap
    assert(got.size == want.size)
    assert(got == want,
      s"$direction tol=$toleranceUs exact=$allowExactMatches")
    got
  }

  test("native operator matches brute force on events") {
    val (clicks, purchases, _) = events
    val got = nativeMatchesReference(clicks, purchases)
    assert(got.values.exists(_.isDefined) && got.values.exists(_.isEmpty))
  }

  test("native forward/nearest/tolerance/strict match brute force on events") {
    val (clicks, purchases, all) = events
    val hour = Some(3600000000L)
    nativeMatchesReference(clicks, purchases, direction = "forward")
    // nearest (ties -> backward)
    nativeMatchesReference(clicks, purchases, direction = "nearest")
    nativeMatchesReference(clicks, purchases, toleranceUs = hour)
    nativeMatchesReference(clicks, purchases, direction = "nearest",
      toleranceUs = hour)
    // strict backward against ALL events: the exact-ts self-candidate
    // must be skipped for the current row yet stay available as the
    // backward match of later rows — the consumed-candidate subtlety
    nativeMatchesReference(clicks, all, allowExactMatches = false)
    // strict forward
    nativeMatchesReference(clicks, all, direction = "forward",
      allowExactMatches = false)
  }

  test("native operator handles empty right side and exact matches") {
    import spark.implicits._
    val left = Seq((1L, ts(100), "a"), (2L, ts(50), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(100), 7.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val out = AsofJoinNative.join(spark, left, right,
        Seq("k"), "t", "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(out("a").contains(7.0)) // exact ts match allowed
    assert(out("b").isEmpty)       // key with no right rows
  }

  /** One keyless fixture three ways, each as tag -> v: the native
    * keyless path (range buckets + boundary carry), the native keyed
    * walk over a constant key (one partition, no carry), and the
    * brute-force reference. Timestamps are micros; the reference
    * resolves an equal-ts right pair in fixture order, as pandas does. */
  private def keylessThreeWays(left: Seq[(Long, String)],
      right: Seq[(Long, Double)], direction: String,
      toleranceUs: Option[Long] = None, allowExactMatches: Boolean = true)
      : (Map[String, Option[Double]], Map[String, Option[Double]],
         Map[String, Option[Double]]) = {
    import spark.implicits._
    val l = left.toDF("tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val r = right.toDF("tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    def run(l: DataFrame, r: DataFrame, by: Seq[String]) =
      AsofJoinNative.join(spark, l, r, by, "t", "t", Seq("v"), direction,
          toleranceUs, allowExactMatches)
        .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    val ref = new AsofReference(right.map { case (t, v) => ((), t, v) })
    (run(l, r, Nil),
     run(l.withColumn("k", lit(1)), r.withColumn("k", lit(1)), Seq("k")),
     left.map { case (t, tag) =>
       tag -> ref((), t, direction, toleranceUs, allowExactMatches) }.toMap)
  }

  test("globalBackward matches the keyed rewrite on a constant key") {
    // enough rows to span several range partitions; values chosen so
    // matches cross partition boundaries (the carry handoff path)
    val left = (1L to 500L).map(i => (i * 10, s"L$i"))
    val right = (1L to 100L).map(i => (i * 47 + 3, i.toDouble))
    assert(right.map(_._1).distinct.size == right.size)

    val (global, keyed, brute) = keylessThreeWays(left, right, "backward")
    assert(global.size == 500 && global == keyed && global == brute)
    assert(global("L1").isEmpty) // ts=10 before first right row at 50

    val (tol, tolKeyed, tolBrute) = keylessThreeWays(left, right, "backward",
      toleranceUs = Some(5L))
    assert(tol == tolKeyed && tol == tolBrute)

    val (strict, strictKeyed, strictBrute) = keylessThreeWays(left, right,
      "backward", allowExactMatches = false)
    assert(strict == strictKeyed && strict == strictBrute)
  }

  test("globalForward matches the keyed forward on a constant key") {
    val left = (1L to 400L).map(i => (i * 11, s"L$i"))
    val right = (1L to 80L).map(i => (i * 53 + 1, i.toDouble))
    assert(right.map(_._1).distinct.size == right.size)

    val (global, keyed, brute) = keylessThreeWays(left, right, "forward",
      toleranceUs = Some(30L))
    assert(global.size == 400 && global == keyed && global == brute)
  }

  test("globalNearest matches the keyed nearest on a constant key") {
    // primes keep left/right timestamps interleaved and distinct; one
    // engineered exact-ts collision (160) exercises tie handling. The
    // right side's 160 is its ONE repeated ts (i=3 and 999.0): the
    // pandas tie order makes 999.0 the backward match at 160 and 3.0
    // the forward one
    val left = (1L to 400L).map(i => (i * 11, s"L$i")) :+ ((160L, "Lx"))
    val right = (1L to 80L).map(i => (i * 53 + 1, i.toDouble)) :+ ((160L, 999.0))
    assert(right.map(_._1).diff(right.map(_._1).distinct) == Seq(160L))

    val (global, keyed, brute) = keylessThreeWays(left, right, "nearest")
    assert(global.size == 401 && global == keyed && global == brute)
    assert(global("Lx").contains(999.0)) // exact match, distance 0

    // strict mode: the exact-ts candidate must be skipped BOTH ways
    val (strict, strictKeyed, strictBrute) = keylessThreeWays(left, right,
      "nearest", allowExactMatches = false)
    assert(strict == strictKeyed && strict == strictBrute)
    assert(!strict("Lx").contains(999.0))

    val (tol, tolKeyed, tolBrute) = keylessThreeWays(left, right, "nearest",
      toleranceUs = Some(7L))
    assert(tol == tolKeyed && tol == tolBrute)
  }
}

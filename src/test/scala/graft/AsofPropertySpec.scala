package graft

import graft.plans.AsofJoinNative
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Brute-force in-memory pandas `merge_asof` (core/reshape/merge.py:644
  * `_AsOfMerge`): the reference the as-of specs check the native
  * merge-walk against. For a left row (key, lts) it scans that key's
  * right rows directly:
  *
  *   - backward: the latest right row with rts <= lts (rts < lts when
  *     allowExactMatches=false);
  *   - forward: the earliest right row with rts >= lts (rts > lts when
  *     strict);
  *   - nearest: the closer of the two, backward winning ties;
  *   - tolerance: a candidate farther than it from lts does not match.
  *
  * The matched row's value is returned as-is (a null inside it stays
  * null). Keyless inputs use one constant key. Right rows sharing a
  * (key, ts) resolve like pandas on the given row order — backward
  * takes the last, forward the first — but a distributed engine keeps
  * no row order, so a fixture must have unique right (key, ts)
  * (`uniqueRight`) unless its test pins such a tie on purpose.
  */
final class AsofReference[K, V](right: Seq[(K, Long, V)]) {
  val uniqueRight: Boolean =
    right.map(r => (r._1, r._2)).distinct.size == right.size

  // stable sort: equal-ts rows keep the given order
  private val byKey: Map[K, Seq[(Long, V)]] = right.groupBy(_._1).map {
    case (k, rs) => k -> rs.map(r => (r._2, r._3)).sortBy(_._1)
  }

  def apply(key: K, lts: Long, direction: String, toleranceUs: Option[Long],
      allowExactMatches: Boolean): Option[V] = {
    val tol = toleranceUs.getOrElse(Long.MaxValue)
    val rows = byKey.getOrElse(key, Nil)
    val back = rows.filter { case (rts, _) =>
      (rts < lts || (allowExactMatches && rts == lts)) && lts - rts <= tol
    }.lastOption
    val fwd = rows.find { case (rts, _) =>
      (rts > lts || (allowExactMatches && rts == lts)) && rts - lts <= tol
    }
    val hit = direction match {
      case "backward" => back
      case "forward"  => fwd
      case "nearest"  => (back, fwd) match {
        case (Some(b), Some(f)) => if (lts - b._1 <= f._1 - lts) back else fwd
        case _ => back.orElse(fwd)
      }
    }
    hit.map(_._2)
  }
}

/** Property-based check (SURVEY §5 test plan item d): the distributed
  * as-of join agrees with the brute-force reference on random inputs —
  * keys, timestamps, and match gaps are generator-driven, seeded for
  * reproducibility.
  */
class AsofPropertySpec extends SparkSpec {

  private val rowsGen: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 40L)
      v <- Gen.choose(1, 999)
    } yield (k, t, v.toDouble))
  } yield rows.distinctBy(r => (r._1, r._2)) // unique (key, ts)

  private def sample(seed: Long): List[(Long, Long, Double)] =
    rowsGen.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  /** Native join of `lRows` to `rRows` (seconds) against the reference;
    * `keyed = false` ignores the key and joins on time alone. Left rows
    * carry their position as `id`, so left (key, ts) may repeat. */
  private def check(lRows: List[(Long, Long, Double)],
      rRows: List[(Long, Long, Double)], keyed: Boolean, direction: String,
      toleranceUs: Option[Long], allowExactMatches: Boolean,
      clue: String): Unit = {
    import spark.implicits._
    val left = lRows.zipWithIndex.map { case ((k, t, _), id) => (k, t, id) }
      .toDF("k", "tsm", "id")
      .withColumn("t", timestamp_micros($"tsm" * 1000000L)).drop("tsm")
    val right = rRows.toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm" * 1000000L)).drop("tsm")
    val by = if (keyed) Seq("k") else Nil

    val got = AsofJoinNative.join(spark, left, right, by, "t", "t", Seq("v"),
        direction, toleranceUs, allowExactMatches)
      .select($"id", $"v").as[(Int, Option[Double])].collect().toMap

    val keyOf: Long => Long = if (keyed) identity else _ => 0L
    val ref = new AsofReference(rRows.map { case (k, t, v) => (keyOf(k), t * 1000000L, v) })
    assert(ref.uniqueRight, clue)
    val want = lRows.zipWithIndex.map { case ((k, t, _), id) =>
      id -> ref(keyOf(k), t * 1000000L, direction, toleranceUs, allowExactMatches)
    }.toMap

    assert(got == want, s"$clue: left $lRows right $rRows")
  }

  test("backward as-of matches brute force on random data") {
    for (i <- 1 to 10) {
      val lRows = sample(1000 + i)
      val rRows = sample(2000 + i)
      if (lRows.nonEmpty)
        check(lRows, rRows, keyed = true, "backward", None,
          allowExactMatches = true, s"iteration $i")
    }
  }

  test("every direction, tolerance and strict mode matches brute force, keyed and keyless") {
    for {
      keyed <- Seq(true, false)
      direction <- Seq("backward", "forward", "nearest")
      toleranceUs <- Seq(None, Some(0L), Some(3000000L))
      exact <- Seq(true, false)
      i <- 1 to 10
    } {
      val lRows = sample(1000 + i)
      // keyless: right timestamps must be unique on their own
      val rRows = if (keyed) sample(2000 + i) else sample(2000 + i).distinctBy(_._2)
      if (lRows.nonEmpty)
        check(lRows, rRows, keyed, direction, toleranceUs, exact,
          s"keyed=$keyed $direction tol=$toleranceUs exact=$exact iteration $i")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

/** DotProduct (codegen'd) must be bit-identical to the HOF
  * aggregate(zip_with(...)) formulation it replaced — same widening,
  * product rounding, and left-to-right summation order. */
class VectorExprsSpec extends SparkSpec {

  test("graft_dot equals the HOF fold bit-for-bit on float arrays") {
    import spark.implicits._
    val df = Tables(spark, sf(), "embeddings").limit(200)
      .select($"vec_id", $"embedding".as("a"),
        reverse($"embedding").as("b"))
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diffs = df
      .select(call_function("graft_dot", $"a", $"b").as("fast"), hof.as("ref"))
      .filter($"fast" =!= $"ref") // exact double equality, not tolerance
      .count()
    assert(diffs == 0, s"$diffs rows differ between codegen dot and HOF fold")
  }

  test("graft_l2sq equals the HOF fold bit-for-bit on float arrays") {
    import spark.implicits._
    val df = Tables(spark, sf(), "embeddings").limit(200)
      .select($"embedding".as("a"), reverse($"embedding").as("b"))
    val hof = aggregate(
      zip_with($"a", $"b", (x, y) => {
        val dd = x.cast("double") - y.cast("double"); dd * dd
      }),
      lit(0.0), (acc, v) => acc + v)
    val diffs = df
      .select(call_function("graft_l2sq", $"a", $"b").as("fast"), hof.as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(diffs == 0, s"$diffs rows differ between codegen l2sq and HOF fold")
  }

  test("graft_dot handles double arrays and null inputs") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0, 1.0, 1.0))))
      .toDF("a", "b")
    val got = df.select(call_function("graft_dot", $"a", $"b")).collect()
    assert(got(0).getDouble(0) == 32.0)
    assert(got(1).isNullAt(0))
  }

  test("kernels mirror the HOF null contract: length mismatch and null elements -> NULL") {
    import spark.implicits._
    // length mismatch: zip_with null-pads -> fold poisoned -> NULL
    val mismatch = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(call_function("graft_dot", $"a", $"b").as("d"),
        call_function("graft_l2sq", $"a", $"b").as("l"))
      .collect()(0)
    assert(mismatch.isNullAt(0) && mismatch.isNullAt(1))
    // null element: same poisoning
    val nullElem = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))))
      .toDF("a", "b")
      .select(call_function("graft_dot", $"a", $"b").as("d"))
      .collect()(0)
    assert(nullElem.isNullAt(0))
  }

  test("dot/l2sq stay nullable on NON-nullable inputs (no Janino fallback, no bogus non-null schema)") {
    import spark.implicits._
    // array(lit...) children are non-nullable — before the nullable
    // override this path generated `false = true;` and fell back to
    // the interpreted evaluator with a schema promising non-null
    val df = Seq((1.0, 2.0)).toDF("x", "y")
      .select(array($"x", $"y").as("a"), array($"y").as("b"))
      .select(call_function("graft_dot", $"a", $"b").as("d"),
        call_function("graft_l2sq", $"a", $"b").as("l"))
    assert(df.schema("d").nullable && df.schema("l").nullable)
    val r = df.collect()(0) // length mismatch -> NULL through codegen
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_lsh_bucket maps a NULL embedding to bucket 0, matching the HOF form") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0f, -2.0f, 0.5f, 3.0f))),
      (2L, None: Option[Seq[Float]]))
      .toDF("id", "embedding")
      .select($"id",
        call_function("graft_lsh_bucket", $"embedding", lit(7), lit(8)).as("bkt"))
    assert(!df.schema("bkt").nullable)
    val rows = df.orderBy($"id").collect()
    assert(!rows(0).isNullAt(1)) // real embedding buckets normally
    assert(rows(1).getLong(1) == 0L) // null embedding -> bucket 0, not SQL NULL
  }
}

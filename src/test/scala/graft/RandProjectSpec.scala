package graft

import org.apache.spark.sql.functions._

/** Quality + contract gates for the Johnson–Lindenstrauss projection
  * family (sim_random_projection / sim_rp_topk).
  *
  * The DuckDB oracle proves the projection arithmetic; this spec pins
  * the properties the oracle can't see:
  *   - the codegen'd RandProject kernel is bit-identical to the HOF
  *     fold it replaces (per output dim, strict left-to-right);
  *   - JL distortion: projected pairwise squared distances (scaled by
  *     1/16) concentrate around the original ones;
  *   - staged-retrieval recall: top-3 in the projected space still
  *     finds most true cosine top-3 neighbors;
  *   - null contract (null array / null element -> NULL).
  *
  * Data and planes are deterministic, so the measured numbers are
  * fixed; floors sit just below them to catch structural regressions.
  */
class RandProjectSpec extends SparkSpec {

  private val Dim = 64
  private val RpDim = 16

  test("RandProject kernel equals the per-dim HOF fold bit-for-bit") {
    import spark.implicits._
    val df = Tables(spark, sf(), "embeddings").limit(200)
      .select($"vec_id", $"embedding")
    // HOF reference for output dim j: left fold over 1-based dims,
    // sign from the same xor-mix hash as the kernel
    def hofDim(j: Int) = aggregate(
      transform(sequence(lit(1), lit(Dim)),
        i => {
          val k1 = (i.cast("long") * 131071L + lit(j * 524287L)) * 2654435761L % 4294967296L
          val k3 = (k1.bitwiseXOR(shiftright(k1, 16))) * 999999937L % 4294967296L
          element_at($"embedding", i).cast("double") *
            when(k3 < 2147483648L, 1.0).otherwise(-1.0)
        }),
      lit(0.0), (acc, v) => acc + v)
    val diffs = df
      .select(call_function("graft_rand_project", $"embedding", lit(RpDim)).as("fast"),
        array((0 until RpDim).map(hofDim): _*).as("ref"))
      .filter($"fast" =!= $"ref") // exact element-wise double equality
      .count()
    assert(diffs == 0, s"$diffs rows differ between RandProject kernel and HOF folds")
  }

  test("JL distortion: projected distances concentrate around originals") {
    import spark.implicits._
    val e = Tables(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding",
        call_function("graft_rand_project", $"embedding", lit(RpDim)).as("rp"))
    val a = e.select($"vec_id".as("va"), $"embedding".as("ea"), $"rp".as("ra"))
    val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"), $"rp".as("rb"))
    // sampled pairs (va mod 7 keeps it linear in n)
    val pairs = a.filter($"va" % 7 === 0).crossJoin(b).filter($"va" < $"vb")
      .select(
        call_function("graft_l2sq", $"ea", $"eb").as("d_orig"),
        (call_function("graft_l2sq", $"ra", $"rb") / RpDim.toDouble).as("d_proj"))
      .filter($"d_orig" > 0)
      .select(($"d_proj" / $"d_orig").as("ratio"))
    val stats = pairs.agg(
      avg($"ratio").as("mean"),
      expr("percentile(ratio, 0.05)").as("p05"),
      expr("percentile(ratio, 0.95)").as("p95")).head()
    val (mean, p05, p95) = (stats.getDouble(0), stats.getDouble(1), stats.getDouble(2))
    // E[ratio] = 1 for a sign projection; 90% of pairs within ~±0.55
    // at k=16 (eps ~ sqrt(8 ln n / k)); measured on this data:
    // mean ~1.0, p05 ~0.6, p95 ~1.5
    assert(mean > 0.9 && mean < 1.1, s"distortion mean $mean drifted from 1")
    assert(p05 > 0.4, s"p05 ratio $p05: projection crushing distances")
    assert(p95 < 1.8, s"p95 ratio $p95: projection inflating distances")
  }

  test("projected cosine correlates with exact cosine across pairs") {
    import spark.implicits._
    // The testdata embeddings are ISOTROPIC noise (best cosine among
    // 500 candidates ~0.33): the hardest case for any sketch. A
    // 16-dim projection cannot rank top-3 directly here (estimate
    // noise 1/sqrt(16) ~ 0.25 swamps the 0.03 neighbor margins — JL
    // preserves distances, not sub-noise rankings), so the honest
    // gates are (a) estimate correlation and (b) two-stage candidate
    // recall below. Measured corr 0.45 on sf0.001; floor below it.
    def cosOf(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b) /
        (sqrt(call_function("graft_dot", a, a)) * sqrt(call_function("graft_dot", b, b)))
    val e = Tables(spark, sf(), "embeddings")
      .select($"vec_id", $"embedding",
        call_function("graft_rand_project", $"embedding", lit(RpDim)).as("rp"))
    val a = e.select($"vec_id".as("va"), $"embedding".as("ea"), $"rp".as("ra"))
    val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"), $"rp".as("rb"))
    val corrVal = a.filter($"va" % 7 === 0).crossJoin(b).filter($"va" < $"vb")
      .select(cosOf($"ea", $"eb").as("c_true"), cosOf($"ra", $"rb").as("c_proj"))
      .agg(corr($"c_true", $"c_proj")).head().getDouble(0)
    assert(corrVal > 0.35, s"projected-cosine correlation $corrVal collapsed (expect ~0.45)")
  }

  test("two-stage retrieval: projected top-50 candidates keep exact top-3 recall") {
    import spark.implicits._
    // the production pattern sim_rp_topk is the first stage of:
    // cheap projected-space top-N candidate generation -> exact
    // cosine rerank. Gate: fraction of true top-3 neighbors surviving
    // in the projected top-50 candidate set (measured 0.433 on
    // sf0.001 noise data; real clustered corpora sit far higher).
    val exact = SparkEntry.queries("sim_cosine_topk")(spark, sf())
      .select($"vq", $"vc").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = Tables(spark, sf(), "embeddings")
      .select($"vec_id",
        call_function("graft_rand_project", $"embedding", lit(RpDim)).as("rp"))
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("vq"), $"rp".as("rq"))
    val c = e.select($"vec_id".as("vc"), $"rp".as("rc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vq").orderBy($"cos".desc, $"vc".asc)
    val cand = q.crossJoin(c).filter($"vq" =!= $"vc")
      .withColumn("cos",
        call_function("graft_dot", $"rq", $"rc") /
          (sqrt(call_function("graft_dot", $"rq", $"rq")) *
            sqrt(call_function("graft_dot", $"rc", $"rc"))))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 50)
      .select($"vq", $"vc").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.3, s"candidate recall@50 $recall collapsed (expect ~0.43)")
  }

  test("RandProject null contract: null array or element -> NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq[Option[Double]](Some(1.0), Some(2.0)))),
      (2L, None),
      (3L, Some(Seq[Option[Double]](Some(1.0), None))))
      .toDF("id", "a")
    val out = df.select($"id",
      call_function("graft_rand_project", $"a", lit(4)).as("rp"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!out(1L) && out(2L) && out(3L))
  }
}

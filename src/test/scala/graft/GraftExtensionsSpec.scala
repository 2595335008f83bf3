package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class is the only registration path: it must give a
  * FRESH session every graft function the library calls and the native
  * as-of strategy — this is the `spark.sql.extensions=
  * graft.GraftExtensions` cluster path. Builds its own session (sharing
  * the JVM's SparkContext) by clearing the active/default session
  * around getOrCreate; the session gets the extensions from the shared
  * context's `spark.sql.extensions` conf alone (adding
  * `.withExtensions(new GraftExtensions)` would install every function
  * twice and log a "replaced a previously registered function" WARN
  * for each). */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    // force context creation first so the new session shares it
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .getOrCreate()
      assert(s ne base, "extensions test needs a fresh session")
      f(s)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("graft_* functions resolve with no manual registration") {
    withExtendedSession { s =>
      import s.implicits._
      val r = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .select(call_function("graft_dot", $"a", $"b").as("d"),
          call_function("graft_poly_hash", lit("abc")).as("h"),
          call_function("graft_canon", lit(" A!b  C ")).as("c"),
          size(call_function("graft_rand_project", $"a", lit(4))).as("rp"))
        .collect()(0)
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) == (((('a'.toInt * 31) + 'b') * 31 + 'c') % 1000000007L))
      assert(r.getString(2) == "ab c")
      assert(r.getInt(3) == 4)
    }
  }

  test("native as-of strategy is installed session-wide") {
    withExtendedSession { s =>
      import s.implicits._
      val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "ts")
      val right = Seq((1L, 5L, 1.5), (1L, 15L, 2.5)).toDF("k", "rts", "v")
      // the strategy comes from the extensions alone
      val installed = s.sessionState.planner.strategies
        .exists(_.getClass.getName.contains("AsofStrategy"))
      assert(installed, "AsofStrategy missing from planner strategies")
      val df = graft.plans.AsofJoinNative.join(s, left, right,
        by = Seq("k"), leftTs = "ts", rightTs = "rts", valueCols = Seq("v"))
      val got = df.orderBy("ts").collect().map(_.getDouble(2)).toSeq
      assert(got == Seq(1.5, 2.5))
    }
  }

  /** Every `graft_*` SQL function name the library calls, read from
    * its source: `call_function("graft_x", ...)` and `expr("graft_x(...)")`. */
  private def usedFunctionNames: Set[String] = {
    val call = "\"(graft_[a-z0-9_]+)\"|(graft_[a-z0-9_]+)\\(".r
    SourceLintSpec.scalaFiles("src/main/scala").flatMap { f =>
      call.findAllMatchIn(Files.readString(f))
        .map(m => Option(m.group(1)).getOrElse(m.group(2)))
    }.toSet
  }

  test("every graft_* function the library calls is installed by the extensions") {
    val used = usedFunctionNames
    assert(used.size >= 15, s"source scan found too few graft_* names: $used")
    withExtendedSession { s =>
      val missing = used.filterNot(n =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not installed by GraftExtensions: $missing")
    }
  }

  test("a session without the extensions fails at the first table load, with the fix") {
    // every session in this JVM inherits spark.sql.extensions from the
    // shared SparkContext's conf, so drop the probed function instead
    val s = SparkSpec.session.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    def assertFix(e: IllegalArgumentException): Unit = {
      assert(e.getMessage.contains("graft.EngineConf.configure(builder)"), e.getMessage)
      assert(e.getMessage.contains("--conf spark.sql.extensions=graft.GraftExtensions"),
        e.getMessage)
    }
    assertFix(intercept[IllegalArgumentException](
      Tables(s, "/root/testdata/sf0.001", "orders")))
    val df = s.range(2).toDF("ts")
    assertFix(intercept[IllegalArgumentException](
      graft.plans.AsofJoinNative.join(s, df, df, by = Nil, leftTs = "ts",
        rightTs = "ts", valueCols = Nil)))
  }
}

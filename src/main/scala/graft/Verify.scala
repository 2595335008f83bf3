package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings to run (local
    // iteration only; the driver always passes 2 args = full run).
    // A `-`-prefixed pattern EXCLUDES instead: "-kendall,-pairs" runs
    // everything whose name avoids both substrings (used by the sfN
    // differential to skip the guarded quadratic baselines in one pass).
    val nameFilter: String => Boolean =
      if (args.length > 2) {
        val (neg, pos) = args(2).split(",").toSeq.partition(_.startsWith("-"))
        val negPats = neg.map(_.drop(1))
        n => (pos.isEmpty || pos.exists(n.contains)) && !negPats.exists(n.contains)
      }
      else _ => true
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)
    val builder = EngineConf.local(cpus)
    // scaled differentials size shuffle parallelism with the DATA
    // (e.g. 256 at sf100), same knob as Bench — SCALE.md round-7
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // failures are also persisted to failed.json: a thrown query writes
    // no output dir, which a dir-driven compare would silently skip —
    // the sf1 streaming type bug hid exactly this way
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // repartition(1), NOT coalesce(1): coalesce collapses the whole
    // query into a single task when no shuffle separates it from the
    // write (a 6M-row cumsum ran one-threaded at sf1); repartition
    // keeps the computation parallel and only the file write serial.
    // SPARK_GRAFT_VERIFY_PARTS>1 fans the write out for the scaled
    // differentials (sfN outputs reach 10^7 rows and a single-file
    // write dominates wall time; check.py globs part files anyway).
    val outParts = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PARTS", "1").toInt
    // alphabetical order + per-query wall time on stderr: a scaled
    // differential that stalls is diagnosable mid-run (which query,
    // how long) instead of opaque until the end
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).repartition(outParts).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify-ok] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

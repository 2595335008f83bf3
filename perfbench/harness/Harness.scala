package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark client for the graft engine.
  *
  * One JVM, one client thread in a closed loop: the next query is built
  * only after the previous one's last row was collected or written. The
  * engine is driven through its public entry point only
  * (`graft.SparkEntry.queries(name)(spark, dir)`), inside a session built
  * the way a deployment builds it (`graft.EngineConf.configure`).
  *
  * Every line on stdout is one JSON object (`"kind"` says which); Spark
  * logs go to stderr. Lines: `ready` once set-up is done, one `query` per
  * timed execution, `cache` after each, then `done` (and, traced, `trace`).
  *
  * Usage (normally launched by perfbench/run.py):
  *   Harness --data DIR --sink collect|parquet --queries a,b,c
  *           --passes N --seed S --work DIR [--warmup Q --warmup-data DIR]
  *           [--trace]
  */
object Harness {

  final case class Opts(data: String, sink: String, queries: Seq[String],
                        passes: Int, seed: Long, work: String, warmup: String,
                        warmupData: String, cpus: Int, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "trace") { kv(k) = "1"; i += 1 }
      else { kv(k) = args(i + 1); i += 2 }
    }
    Opts(kv("data"), kv("sink"), kv.getOrElse("queries", "").split(",").toSeq.filter(_.nonEmpty),
      kv.getOrElse("passes", "1").toInt, kv.getOrElse("seed", "0").toLong, kv("work"),
      kv.getOrElse("warmup", "q1_groupby_agg"), kv.getOrElse("warmup-data", kv("data")),
      kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString).toInt,
      kv.contains("trace"))
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** The same session settings as the engine's own harnesses (Bench,
    * Verify), with every scratch location inside the run's work dir. */
  private def session(o: Opts): SparkSession = {
    val s = graft.EngineConf.configure(SparkSession.builder().master(s"local[${o.cpus}]"))
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM so far, from the kernel (`VmHWM`). */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Order-insensitive fingerprint of a collected result: row count plus
    * the sum of per-row hashes. Used only to check that repeated runs of
    * one query in one JVM agree; the oracle check reads the dumped rows. */
  private def fingerprint(rows: Array[Row]): String =
    s"${rows.length}:${rows.foldLeft(0L)((h, r) => h + MurmurHash3.stringHash(r.toString))}"

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = Paths.get(o.work, "out")
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionMs = ms(t0)
    val builders = graft.SparkEntry.queries
    val missing = (o.queries :+ o.warmup).filterNot(builders.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // the sink each timed query ends in: rows to the driver, or a parquet
    // directory per execution (kept until the oracle check has read it)
    def sink(df: DataFrame, dest: Path): Array[Row] = o.sink match {
      case "collect" => df.collect()
      case "parquet" => df.write.mode("overwrite").parquet(dest.toString); null
    }

    val sc = spark.sparkContext
    // builders cache intermediates and never unpersist them (their results
    // are lazy); drop Dataset caches and RDD persists so no later query
    // reads them
    def isolate(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val t1 = System.nanoTime()
    sink(builders(o.warmup)(spark, o.warmupData), out.resolve("_warmup"))
    deleteTree(out.resolve("_warmup"))
    isolate()
    Json.emit("ready", "session_ms" -> sessionMs, "warmup_ms" -> ms(t1))

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val rnd = new scala.util.Random(o.seed)
    // first execution of each query: its fingerprint, and (collect sink)
    // its rows, dumped after the timed loop for the oracle check
    val first = mutable.LinkedHashMap[String, (String, Array[Row], StructType)]()
    var seq = 0
    for (pass <- 0 until o.passes; name <- rnd.shuffle(o.queries)) {
      seq += 1
      val id = s"$seq"
      val dest = out.resolve(s"$name.$pass")
      sc.setLocalProperty(Tracer.QueryKey, id)
      tracer.foreach(_.before())
      val tq = System.nanoTime()
      var tBuilt = tq
      var schema: StructType = null
      val (ok, err, rows) =
        try {
          val df = builders(name)(spark, o.data)
          tBuilt = System.nanoTime()
          val r = sink(df, dest)
          schema = df.schema
          (true, "", r)
        } catch { case e: Throwable =>
          (false, s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300), null)
        }
      val tEnd = System.nanoTime()
      sc.setLocalProperty(Tracer.QueryKey, null)
      tracer.foreach(_.query(id, name, tq, tBuilt, tEnd, ok))
      // repeat executions must reproduce the first one's result
      var repeatOk = true
      if (ok && rows != null) {
        val fp = fingerprint(rows)
        first.get(name) match {
          case Some((fp0, _, _)) => repeatOk = fp == fp0
          case None => first(name) = (fp, rows, schema)
        }
      }
      Json.emit("query", "seq" -> seq, "name" -> name, "pass" -> pass,
        "ms" -> (tEnd - tq) / 1e6, "construct_ms" -> (tBuilt - tq) / 1e6,
        "sink_ms" -> (if (ok) (tEnd - tBuilt) / 1e6 else 0.0),
        "ok" -> ok, "repeat_ok" -> repeatOk, "error" -> err,
        "rows" -> (if (rows != null) rows.length.toLong else -1L),
        "output" -> (if (ok && o.sink == "parquet") dest.toString else ""))
      // untimed: record what the query left cached, then drop it
      val infos = sc.getRDDStorageInfo
      Json.emit("cache", "seq" -> seq, "rdds_left" -> sc.getPersistentRDDs.size,
        "bytes_left" -> infos.map(i => i.memSize + i.diskSize).sum)
      isolate()
    }
    val rss = peakRssMb()

    // untimed: collected results go to parquet for the oracle check
    if (o.sink == "collect") first.foreach { case (name, (_, rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(s"$name.check").toString)
    }
    Json.writeOracle(out.resolve("oracle_sql.json"),
      graft.SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) })
    tracer.foreach(t => Json.emit("trace", t.finish(Paths.get(o.work, "spans.jsonl")): _*))
    Json.emit("done", "peak_rss_mb" -> rss)
    spark.stop()
  }
}

package graft

/** Streaming-throughput benchmark (VERDICT r9 next-#8): drives the
  * stream_* queries over a scaled events/documents copy in REAL
  * micro-batches and reports rows/sec plus the state-store footprint —
  * the numbers that ground the streaming surface's 100 TB/day claim
  * (correctness is the oracle table's job; this main measures).
  *
  * Protocol: `SPARK_GRAFT_STREAM_MAX_FILES` (default 4 here) makes the
  * file source deliver N parquet files per trigger, so a 96-file
  * ScaleUp copy drives ~24 micro-batches — state carries across real
  * triggers instead of one all-available batch. Metrics come from the
  * query progress log (numInputRows, stateOperators.numRowsTotal /
  * numRowsRemoved), same instrumentation a production monitor reads.
  *
  * Usage: StreamBench <sfDir> [q1,q2,...]
  * Prints ONE JSON line:
  *   {"metric":"stream_total","value":SEC,"unit":"sec","sf":...,
  *    "queries":{name:{"secs":..,"input_rows":..,"rows_per_sec":..,
  *                     "batches":..,"state_rows_peak":..,
  *                     "state_rows_removed":..,"out_rows":..}}}
  */
object StreamBench {

  private val defaultQueries = Seq(
    "stream_curation",          // 2 chained stateful ops over documents
    "stream_dedup_watermark",   // watermarked dedup state over events
    "stream_tumbling_day",      // windowed agg, complete mode
    "stream_stateful_ewm")      // flatMapGroupsWithState recursion

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.length > 1) args(1).split(",").toSeq else defaultQueries
    // apply the documented default HERE (round-10 ADVICE: the doc said
    // "default 4" but nothing set it — an unset env var silently
    // degraded the run to one all-available batch). The env var still
    // overrides.
    graft.streaming.StreamQueries.maxFilesDefault = Some("4")
    val maxFiles = graft.streaming.StreamQueries.maxFilesOpt.get
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))
    val builder = EngineConf.local(cpus)
      // keep every micro-batch's progress so inputRows sums exactly
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val per = scala.collection.mutable.LinkedHashMap[String, String]()
    var total = 0.0
    names.foreach { name =>
      val t0 = System.nanoTime()
      val out = SparkEntry.queries(name)(spark, sfDir)
      val outRows = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      total += secs
      val m = graft.streaming.StreamQueries.lastRunMetrics.getOrElse(
        graft.streaming.StreamQueries.RunMetrics(0L, 0, 0L, 0L))
      val rps = if (secs > 0) (m.inputRows / secs).toLong else 0L
      per(name) = f"""{"secs":$secs%.1f,"input_rows":${m.inputRows},""" +
        s""""rows_per_sec":$rps,"batches":${m.batches},""" +
        s""""state_rows_peak":${m.stateRowsPeak},""" +
        s""""state_rows_removed":${m.stateRowsRemoved},"out_rows":$outRows}"""
      System.err.println(f"[stream-bench] $name $secs%.1f s " +
        f"${m.inputRows} rows (${rps} rows/s, ${m.batches} batches, " +
        f"state peak ${m.stateRowsPeak})")
    }
    val q = per.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val delay = graft.streaming.StreamQueries.dedupDelay
    println(f"""{"metric":"stream_total","value":$total%.1f,"unit":"sec","sf":"$sfDir","max_files":"$maxFiles","dedup_delay":"$delay","queries":{$q}}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Engine-level session settings, applied at session CONSTRUCTION —
  * the documented front door for confs the engine's physical plans
  * depend on, so no query builder ever mutates global session state
  * from inside a query (round-9 verdict #4). [[configure]] is what a
  * deployment applies; [[local]] is the one local-mode session every
  * in-repo main and the test suite build on top of it.
  *
  * The two layout settings exist for `sources.BucketedLayout`:
  *
  *  - `autoBucketedScan.enabled=false`: keep bucket-per-partition
  *    reads even when no operator above the scan declares a required
  *    distribution (the sorted-run EWM is a mapPartitions pass that
  *    depends on the run layout, which the auto-bucketed-scan rule
  *    would otherwise repack by file splits);
  *  - `legacy.bucketedTableScan.outputOrdering=true`: report the
  *    on-disk sort order from the scan. Off by default since Spark
  *    3.1 because it is only sound with ONE FILE PER BUCKET — exactly
  *    what BucketedLayout's repartition-to-bucket-count write
  *    guarantees; with it off, every window above a layout still
  *    plans the Sort the layout exists to eliminate.
  *
  * Both are scoped to the whole session deliberately: they change no
  * query RESULT, only whether bucketed scans expose their physical
  * properties, and they must be active when the DOWNSTREAM query
  * plans — a set/restore around the layout builder would silently
  * lose the layout's no-Exchange/no-Sort property at use sites.
  */
object EngineConf {

  /** Settings a cluster deployment passes as `--conf` pairs (or via
    * [[configure]]); `spark.sql.extensions=graft.GraftExtensions` is
    * the companion registration knob (GraftExtensions.scala). */
  val layoutSettings: Map[String, String] = Map(
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  /** Performance settings (round-14), applied by [[configure]] but NOT
    * required by [[requireLayoutSettings]] — a session missing them
    * degrades gracefully, never wrongly.
    *
    * canChangeCachedPlanOutputPartitioning=true lets AQE optimize the
    * build plan of CACHED frames (coalesce small shuffle partitions,
    * split skewed ones) instead of freezing the static
    * shuffle.partitions count into the cache. The dedup/curation
    * pipeline caches reused intermediates (sig0/reps/mapping/exact);
    * with the default `false`, every consumer of those caches runs one
    * task per static shuffle partition regardless of data size —
    * measured at sf0.1: pipe_curation 4.5 s → 1.9 s with AQE allowed
    * to size the cached partitions. At cluster scale the same setting
    * sizes cache partitions by AQE's advisory bytes rather than a
    * constant, which is the partitioning-follows-data behavior every
    * uncached stage already has. Values are unaffected (physical
    * partitioning only). */
  val perfSettings: Map[String, String] = Map(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** Fold the engine settings into a session builder — including the
    * extensions class, so every harness session carries the custom
    * strategy, the graft_* functions, and the optimizer rules exactly
    * as a cluster deployment would (`--conf spark.sql.extensions=
    * graft.GraftExtensions`). Applies only at session CREATION;
    * `getOrCreate` against an existing session keeps its extensions. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    (layoutSettings ++ perfSettings).foldLeft(
      b.config("spark.sql.extensions", "graft.GraftExtensions")) {
      case (bb, (k, v)) => bb.config(k, v)
    }

  /** A `local[cpus]` session: [[configure]] plus the settings every
    * local run shares. Shuffle parallelism defaults to the core count
    * (scaled runs override it, as a cluster job would size it). The
    * driver's testdata ships one parquet file per table, so 32 MiB
    * splits keep single-file scans parallel (a real cluster reads many
    * files and would use the 128 MiB default). Shuffle files are only
    * deleted when a GC collects their ShuffleDependency, and with a big
    * heap the ContextCleaner's default 30-min periodic GC lets spills
    * pile up on the one local disk (the sf100 disk-full event), hence
    * 60 s. Timestamp settings: see Tables.apply. */
  def local(cpus: Int): SparkSession.Builder =
    configure(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.cleaner.periodicGC.interval", "60s")

  /** Loud check used by Tables.apply and the as-of join: a session
    * built without GraftExtensions has none of the graft_* functions
    * or the as-of strategy, and would otherwise fail deep in analysis
    * or planning with an unresolved-function error. */
  def requireExtensions(s: SparkSession): Unit =
    require(s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_dot")),
      "graft session extensions are not installed — build the session with " +
        "graft.EngineConf.configure(builder), or pass " +
        "--conf spark.sql.extensions=graft.GraftExtensions")

  /** Loud check used by layout readers: a session missing the engine
    * settings would plan the Sort/Exchange the layout exists to
    * eliminate — fail with the fix rather than silently degrade. */
  def requireLayoutSettings(s: SparkSession): Unit =
    layoutSettings.foreach { case (k, v) =>
      require(s.conf.getOption(k).contains(v),
        s"BucketedLayout requires session conf $k=$v — apply " +
          "graft.EngineConf.configure(builder) at session construction " +
          "(see EngineConf.scala for why these are engine settings)")
    }
}

package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The engine's only session factory: library consumers, the perf
  * benchmark and every harness (Bench, Verify, Prof, Explain, the test
  * session) build from [[builder]], so the engine under test is the engine
  * that ships and the one that is benchmarked.
  *
  * Encodes the configuration this engine is designed against: AQE on
  * (runtime re-planning, skew-join splitting, partition coalescing),
  * shuffle partitions sized to the cluster (NOT the 200 default — pass
  * `defaultParallelism`), UTC session time (oracle/parquet parity), and
  * the engine's SQL extensions registered. On a real cluster only
  * `master`/`defaultParallelism` change; every operator in this library is
  * partitioning-aware by construction, so the same code runs unmodified
  * from `local[4]` to 1000 executors.
  *
  * The harnesses start through [[local]] and override only:
  *  - the test session: a temporary `spark.sql.warehouse.dir`;
  *  - Bench: `spark.sql.adaptive.enabled` (its `SPARK_GRAFT_AQE=0` switch);
  *  - Explain: log level ERROR, set on the running session.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      appName: String = "graft",
      defaultParallelism: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Let AQE re-coalesce the output partitioning of cached plans.
      // Spark's default (false) pins a persisted frame at the static
      // shuffle-partition count, so every affinity-scale cache (gr5's
      // 3.6k-row edge list, pr1's verified pairs) fans each downstream
      // stage out to `shuffle.partitions` near-empty tasks; task-launch
      // overhead then dominates the whole iterated-join family. The
      // partitioning of a cache is never a correctness contract in this
      // engine (operators re-shuffle on their own keys), so the only
      // observable effect is fewer, right-sized tasks. Measured on gr5
      // at sf0.1/local[32]: label rounds 3.5 s -> <1 s.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // engine-wide default: parquet TIMESTAMP(NANOS) columns decode as
      // raw longs (see Tables.t, which converts events.ts explicitly)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    defaultParallelism.foldLeft(b)((bb, n) =>
      bb.config("spark.sql.shuffle.partitions", n.toString))
  }

  /** A `local[cores]` session with one shuffle partition per core, the UI
    * off, log level WARN, and `conf` applied over [[builder]]'s settings.
    */
  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = builder(s"local[$cores]", defaultParallelism = Some(cores))
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

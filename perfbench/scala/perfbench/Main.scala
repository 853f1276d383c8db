package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.engine.{Caching, DictionaryTranslator, Pipelines}
import graft.sources.WorkbookSink

/** The benchmark's JVM side. It drives the engine only through public
  * entry points, times every call itself and writes raw records to
  * `<out>/result.json`; `perfbench/run.py` turns them into metrics and
  * checks the outputs.
  *
  * Usage: `perfbench.Main --workload W --data DIR --out DIR --seconds S
  * --trace 0|1`
  *
  * A run: set up once (JVM start to session ready with the inputs opened),
  * run one warm-up iteration whose outputs are dumped for the checks, then
  * run timed iterations until `--seconds` have passed and at least
  * [[Main.MinIterations]] have run. With `--trace 1` the iterations
  * alternate untraced and traced, starting and ending untraced, so one
  * process gives both the per-layer record and the tracing overhead.
  */
object Main {

  /** Cores of the local master. */
  val Cpus = 4

  /** Timed iterations per run at least, whatever `--seconds` says. The JIT
    * is still warming after the warm-up iteration: etl_star's iterations
    * shrink by about a tenth each for four or five iterations, and the
    * median has to sit past the steep part. An operator_mix pass takes
    * about 11 s, so two are what the benchmark's time budget carries.
    */
  val MinIterations = Map("etl_star" -> 6, "operator_mix" -> 2)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean)

  /** One operation: a call whose jobs run while `construct` builds the
    * result, and an action that materializes it.
    */
  final case class Op(name: String, family: String, construct: () => Any,
      action: Any => Unit, dump: (Any, String) => Unit)

  final case class OpRun(op: Op, t0: Long, t1: Long, t2: Long,
      ms0: Long, ms1: Long, ms2: Long, error: Option[String]) {
    def constructS: Double = (t1 - t0) / 1e9
    def actionS: Double = (t2 - t1) / 1e9
    def latencyS: Double = (t2 - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = session()
    val ops = workload(a, spark)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val chained = a.workload == "etl_star"

    val tracer = new Tracer
    if (a.trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    val warm = runIteration(spark, ops, chained, dump = Some(a.out + "/dumps"))
    Caching.releaseAll(spark)

    val iterations = ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def more: Boolean = iterations.size < MinIterations(a.workload) ||
      System.nanoTime() < deadline || (a.trace && iterations.size % 2 == 0)
    var outstanding = 0
    var heapAfterGcMb = 0.0
    while (more) {
      val traced = a.trace && iterations.size % 2 == 1
      if (traced) {
        // Events of the untraced iteration before must not count here.
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        tracer.reset()
        tracer.active = true
      }
      val runs = runIteration(spark, ops, chained, dump = None)
      val layers =
        if (traced) {
          org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
          tracer.active = false
          Layers.of(runs, tracer, Cpus)
        } else Map.empty[String, Double]
      Caching.releaseAll(spark) // includes a full GC
      outstanding = math.max(outstanding, Caching.outstanding)
      heapAfterGcMb = math.max(heapAfterGcMb,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
      iterations += Map("traced" -> traced, "ops" -> runs.map(opRecord),
        "layers" -> layers)
    }

    val result = Map(
      "workload" -> a.workload,
      "setup_s" -> setupS,
      "heap_after_gc_mb" -> heapAfterGcMb,
      "caching_outstanding" -> outstanding,
      "warm" -> warm.map(opRecord),
      "iterations" -> iterations.toSeq,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (n, _) =>
        ops.exists(_.name == n)
      },
      "etl_report" -> etlReport)
    json.writeValue(Paths.get(a.out, "result.json").toFile, result)
    spark.stop()
  }

  private def opRecord(r: OpRun): Map[String, Any] = Map(
    "name" -> r.op.name,
    "family" -> r.op.family,
    "construct_s" -> r.constructS,
    "action_s" -> r.actionS,
    "error" -> r.error)

  /** Runs every op once. Each phase carries its own job group, so the
    * tracer can attribute the jobs it submits; a chained workload stops
    * at its first failure, since later steps consume earlier results.
    */
  private def runIteration(spark: SparkSession, ops: Seq[Op], chained: Boolean,
      dump: Option[String]): Seq[OpRun] = {
    val sc = spark.sparkContext
    val runs = ArrayBuffer.empty[OpRun]
    var broken: Option[String] = None
    for (op <- ops) {
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      var (t1, ms1) = (t0, ms0)
      val err = broken.map(e => s"skipped after earlier failure: $e").orElse {
        try {
          sc.setJobGroup(s"perfbench:${op.name}:construct", s"${op.name} construct")
          val x = op.construct()
          t1 = System.nanoTime(); ms1 = System.currentTimeMillis()
          sc.setJobGroup(s"perfbench:${op.name}:action", s"${op.name} action")
          dump match {
            case Some(dir) => op.dump(x, s"$dir/${op.name}")
            case None => op.action(x)
          }
          None
        } catch {
          case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        } finally sc.clearJobGroup()
      }
      val (t2, ms2) = (System.nanoTime(), System.currentTimeMillis())
      if (t1 == t0) { t1 = t2; ms1 = ms2 }
      runs += OpRun(op, t0, t1, t2, ms0, ms1, ms2, err)
      if (chained && err.nonEmpty) broken = broken.orElse(err)
      if (!chained) Caching.releaseAll(spark, gc = false)
    }
    runs.toSeq
  }

  /** The bench session: the library's own bootstrap, with only the
    * scratch locations and the UI switched for the benchmark.
    */
  private def session(): SparkSession = {
    val work = Paths.get(sys.props("user.dir")).toAbsolutePath
    val s = GraftSession.builder(s"local[$Cpus]", "perfbench", Some(Cpus))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def parquetDump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  @volatile private var etlReport: Option[Map[String, Any]] = None

  /** Builds the workload's operations and opens its inputs: the files are
    * read for their schemas, the dictionary and destination schema parsed.
    */
  private def workload(a: Args, spark: SparkSession): Seq[Op] = a.workload match {
    case "etl_star" =>
      val translator = DictionaryTranslator.fromJson(s"${a.data}/dictionary.json")
      val dest = readSchema(s"${a.data}/dest_schema.json")
      val csv = s"${a.data}/source.csv"
      spark.read.option("header", "true").csv(csv).schema
      val sinkDir = s"${a.out}/sink"
      var ep1: graft.engine.Preprocess.CleanResult = null
      var ep2: Pipelines.TranslateReport = null
      var tables: Map[String, DataFrame] = null
      val none = (_: Any) => ()
      val sink = (_: Any) => WorkbookSink.save(tables, sinkDir)
      Seq(
        Op("ep1", "ep", () => { ep1 = Pipelines.cleanPipeline(spark, csv) }, none,
          (_, _) => ()),
        Op("ep2", "ep", () => {
          ep2 = Pipelines.translatePipeline(ep1.df, translator)
          etlReport = Some(Map(
            "translated_columns" -> ep2.translatedColumns,
            "language_labels" -> ep2.languageLabels,
            "column_labels" -> ep2.columnLabels))
        }, none, (_, _) => ()),
        Op("ep3", "ep", () => { tables = Pipelines.mapPipeline(ep2.df, dest) },
          none, (_, _) => ()),
        Op("sink", "sink", () => (), sink, (x, _) => sink(x)))
    case "operator_mix" =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").schema)
      val all = graft.SparkEntry.queries
      Sample.draw(all.keys.toSeq).map(n => queryOp(spark, a.data, n, all(n)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def queryOp(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Op =
    Op(name, Sample.family(name), () => fn(spark, dir),
      x => noop(x.asInstanceOf[DataFrame]),
      (x, path) => parquetDump(x.asInstanceOf[DataFrame], path))

  private def readSchema(path: String): Map[String, Seq[String]] = {
    val root = json.readTree(Files.readAllBytes(Paths.get(path)))
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m("trace") == "1")
  }
}

/** The queries `operator_mix` runs: the four composed pipelines (pipe1 to
  * pipe4) plus one query from each of the [[Families]] largest other
  * families.
  */
object Sample {

  /** Fixed seed of the draw and its run order. A per-seed draw swapped
    * heavy and light members of the same family and spread a pass's wall
    * time across seeds by far more than any bound; the run seed sets the
    * table contents only.
    */
  val DrawSeed = 20261017L

  /** Families drawn from, largest first: t, ev, q, sim, d, dd, mm, prof, ab
    * and lake hold 162 of the 227 queries outside the pipe family.
    */
  val Families = 10

  /** Family of a query: its leading letters ("q", "dd", "lake", ...). */
  def family(name: String): String = name.takeWhile(_.isLetter)

  /** The pipe family plus one name from each of the [[Families]] largest
    * other families (ties broken by family name); drawn and ordered with
    * [[DrawSeed]].
    */
  def draw(names: Seq[String]): Seq[String] = {
    val rnd = new scala.util.Random(DrawSeed)
    val (pipes, rest) = names.sorted.partition(family(_) == "pipe")
    val picked = rest.groupBy(family).toSeq
      .sortBy { case (f, ns) => (-ns.size, f) }
      .take(Families)
      .map { case (_, ns) => rnd.shuffle(ns).head }
    rnd.shuffle(pipes ++ picked)
  }
}

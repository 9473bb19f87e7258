package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gp.{GPClassifier, GPRegressionModel, GPRegressor}
import graft.gp.kernel.Kernels
import graft.tables.Tables

/**
 * Closed-loop benchmark client for graft: one driver thread issues one
 * operation at a time through graft's public entry points
 * (`SparkEntry.queries`, `Tables`, `GPRegressor`/`GPClassifier`).
 *
 * A run is set-up, a first pass over the workload's operations, then
 * warm passes until `--seconds` have been spent in passes. A query's
 * action collects its rows, so every output column is computed and
 * delivered; the first pass also writes those rows, outside timing, for
 * the DuckDB oracle compare. The GP scoring pass writes to Spark's
 * `noop` sink, which computes every column without shipping each
 * scored row to the driver. Raw per-operation timings (and, with
 * `--trace 1`, the tracer's spans) go to the `--out` JSON file;
 * `perfbench/run.py` turns them into metrics.
 *
 * Outside every timed region, the harness unpersists leftover RDDs
 * between operations and runs a GC between passes.
 */
object Harness {

  final case class Opts(workload: String, data: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, checkDir: String, ops: Seq[String], gpMaxIter: Int,
      gpClassify: Int)

  final case class OpRec(name: String, pass: Int, buildS: Double, actionS: Double,
      error: Option[String], extra: Map[String, Any] = Map.empty) {
    def wallS: Double = buildS + actionS
  }

  val TableAccessors: Seq[(String, Tables => DataFrame)] = Seq(
    "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
    "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events), "documents" -> (_.documents),
    "embeddings" -> (_.embeddings))
  val GpOps = Seq("gp_fit_reg", "gp_fit_clf", "gp_predict")

  /** `--key value` pairs. */
  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String, default: String = "0") = m.getOrElse(k, default)
    Opts(arg("workload", ""), arg("data", ""), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", m("out"), arg("check-dir", ""),
      arg("ops", "").split(",").filter(_.nonEmpty).toSeq, arg("gp-max-iter").toInt,
      arg("gp-classify").toInt)
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val loadStart = loadAvg()
    val unknown = o.ops.filterNot(n => GpOps.contains(n) || SparkEntry.queries.contains(n))
    require(unknown.isEmpty,
      s"operations missing from SparkEntry.queries: ${unknown.mkString(", ")}")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", System.getProperty("java.io.tmpdir") + "/warehouse")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "20000")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = if (o.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamListener)
    }
    val span = new Spans(tracer, sc)
    // Between operations, outside timing: drop the RDDs an operation left
    // cached, so no operation runs short of storage memory because of
    // the last one.
    def hygiene(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val gp = if (o.ops.exists(GpOps.contains)) Some(new GpOps(spark, o, span)) else None

    // The first pass keeps each query's rows and writes them, outside
    // timing, for the DuckDB oracle compare.
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def keepForCheck(name: String, df: DataFrame, rows: Array[Row]): Unit =
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${o.checkDir}/$name")
      catch { case e: Throwable => checks(name) = describe(e) }

    def runOp(name: String, pass: Int): OpRec = {
      var kept: Option[(DataFrame, Array[Row])] = None
      val rec = span("op", name) {
        if (GpOps.contains(name)) gp.get.run(name, pass)
        else {
          var buildS = 0.0
          val t0 = System.nanoTime()
          try {
            val df = span("build", name)(SparkEntry.queries(name)(spark, o.data))
            buildS = secondsSince(t0)
            val t1 = System.nanoTime()
            val rows = span("action", name)(df.collect())
            val rec = OpRec(name, pass, buildS, secondsSince(t1), None,
              Map("rows" -> rows.length))
            if (pass == 0) kept = Some((df, rows))
            rec
          } catch { case e: Throwable =>
            OpRec(name, pass, buildS, secondsSince(t0) - buildS, Some(describe(e)))
          }
        }
      }
      kept.foreach { case (df, rows) => keepForCheck(name, df, rows) }
      System.err.println(f"[harness] pass $pass%d ${rec.name} build ${rec.buildS}%.3f s" +
        f" action ${rec.actionS}%.3f s${rec.error.fold("")(" " + _)}")
      rec
    }

    // Traced runs time each table accessor once per pass, as its own
    // probe, outside the pass.
    def probeTables(pass: Int): Seq[Map[String, Any]] = span("probe", s"pass$pass") {
      val tables = Tables(spark, o.data)
      TableAccessors.map { case (t, open) =>
        val t0 = System.nanoTime()
        span("open", t)(open(tables))
        Map("table" -> t, "pass" -> pass, "open_s" -> secondsSince(t0))
      }
    }

    val runSpan = tracer.map(_.begin("run", o.workload, sc))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val records = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val probes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    new java.io.File(o.checkDir).mkdirs()
    val tPasses = System.nanoTime()
    // First pass, at least one warm pass, then more warm passes while
    // the next one (as long as the last) still ends within --seconds.
    var pass = 0
    var lastPassS = 0.0
    while (pass < 2 || secondsSince(tPasses) + lastPassS <= o.seconds) {
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(o.ops)
      var gcInOps = 0L
      val t0 = System.nanoTime()
      val recs = span("pass", s"pass$pass") {
        order.map { name =>
          val gc0 = gcMs()
          val r = runOp(name, pass)
          gcInOps += gcMs() - gc0
          hygiene()
          gp.fold(r)(_.evaluate(r))
        }
      }
      val wallS = secondsSince(t0)
      lastPassS = wallS
      records ++= recs
      if (o.trace) probes ++= probeTables(pass)
      passes += Map("pass" -> pass, "order" -> order, "ops_s" -> recs.map(_.wallS).sum,
        "wall_s" -> wallS, "gc_ms" -> gcInOps)
      // A full GC per pass, not per operation: it also clears Spark's
      // soft-referenced caches, which every operation would then rebuild.
      System.gc()
      pass += 1
    }
    val measuredS = secondsSince(tPasses)
    runSpan.foreach(s => tracer.get.end(s, sc))

    gp.foreach(g => checks ++= g.check())
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => o.ops.contains(k) }
    Files.writeString(Paths.get(o.checkDir, "oracle_sql.json"), json.writeValueAsString(oracle))

    // stop() delivers every queued listener event before the tracer reports
    spark.stop()
    val spans = tracer.map(_.report())
    var heap = usedHeap()
    var rounds = 0
    var falling = o.trace
    while (falling && rounds < 8) {
      System.gc()
      val h = usedHeap()
      falling = h < heap
      heap = h min heap
      rounds += 1
    }

    val env = Map[String, Any](
      "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "tmpfs_plane" -> false,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadAvg())
    val result = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "measured_s" -> measuredS, "setup_s" -> setupS,
      "env" -> env, "passes" -> passes.toSeq,
      "ops" -> records.toSeq.map(r => Map[String, Any]("name" -> r.name, "pass" -> r.pass,
        "build_s" -> r.buildS, "action_s" -> r.actionS, "wall_s" -> r.wallS,
        "error" -> r.error.orNull) ++ r.extra),
      "table_probes" -> probes.toSeq,
      "checks" -> checks.toMap,
      "heap_retained_mb" -> heap / 1048576.0,
      "heap_gc_rounds" -> rounds,
      "spans" -> spans.orNull)
    Files.writeString(Paths.get(o.out), json.writeValueAsString(result))
  }

  /** The artifact's encoder; NaN and infinities stay numbers, which
    * Python's `json` reads back. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
}

/** Opens and closes tracer spans around a body; a no-op when the run
  * is untraced. */
final class Spans(tracer: Option[Tracer], sc: SparkContext) {
  def apply[T](kind: String, name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val s = t.begin(kind, name, sc)
      try body finally t.end(s, sc)
  }
}

/** The gp workload's three operations over the generated one-file
  * inputs: a regression fit, a classification fit on `y > 0`, and a
  * scoring pass of the latest regression model. */
final class GpOps(spark: SparkSession, o: Harness.Opts, span: Spans) {
  import Harness.{describe, secondsSince, OpRec}

  private def read(f: String) = spark.read.parquet(s"${o.data}/$f")
  private val train = read("gp_train.parquet")
  private val test = read("gp_test.parquet")
  private val scoring = read("gp_predict.parquet")
  private val classify =
    train.limit(o.gpClassify).withColumn("label", (col("y") > 0).cast("double"))
  private val scoringRows = scoring.count()
  // the latest regression fit's model, which the scoring pass uses
  private var model: Option[GPRegressionModel] = None

  private def regressor: GPRegressor = new GPRegressor().setKernel(() => Kernels.rbf())
    .setExpertSize(100).setInducingSize(100).setMaxIter(o.gpMaxIter).setSeed(o.seed)
    .setLabelCol("y").setPredStdCol("std")

  def run(name: String, pass: Int): OpRec = {
    val t0 = System.nanoTime()
    try name match {
      case "gp_fit_reg" =>
        model = Some(span("fit", name)(regressor.fit(train)))
        OpRec(name, pass, 0.0, secondsSince(t0), None)
      case "gp_fit_clf" =>
        val clf = new GPClassifier().setKernel(() => Kernels.rbf())
          .setExpertSize(100).setInducingSize(100).setMaxIter(o.gpMaxIter).setSeed(o.seed)
          .setLabelCol("label")
        span("fit", name)(clf.fit(classify))
        OpRec(name, pass, 0.0, secondsSince(t0), None)
      case "gp_predict" =>
        val m = fitted()
        val t1 = System.nanoTime()
        span("action", name)(m.transform(scoring).write.format("noop").mode("overwrite").save())
        val s = secondsSince(t1)
        OpRec(name, pass, 0.0, s, None,
          Map("rows" -> scoringRows, "rows_per_s" -> scoringRows / s))
    } catch { case e: Throwable => OpRec(name, pass, 0.0, secondsSince(t0), Some(describe(e))) }
  }

  /** The latest model; a first pass that scores before it fits makes
    * one here, outside the operation's timing. */
  private def fitted(): GPRegressionModel = {
    if (model.isEmpty) model = Some(regressor.fit(train))
    model.get
  }

  private def rmse(m: GPRegressionModel): Double =
    m.transform(test).agg(sqrt(avg(pow(col("prediction") - col("y"), 2)))).head().getDouble(0)

  /** Outside timing: the held-out RMSE of the model a fit just made. */
  def evaluate(r: OpRec): OpRec =
    if (r.name == "gp_fit_reg" && r.error.isEmpty)
      r.copy(extra = Map("fit_rmse" -> rmse(fitted())))
    else r

  /** Outside timing: finite predictions and std on the held-out set,
    * and the held-out RMSE of the latest model. */
  def check(): Map[String, Any] = {
    val m = fitted()
    val bad = m.transform(test)
      .where(isnan(col("prediction")) || isnan(col("std")) ||
        col("prediction").isin(Double.PositiveInfinity, Double.NegativeInfinity))
      .count()
    Map("gp_nonfinite_predictions" -> bad, "gp_check_rmse" -> rmse(m))
  }
}

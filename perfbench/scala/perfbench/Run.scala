package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM: set-up, the cold job, warm jobs for
 * `--seconds`, and with `--trace 1` one more job with layer spans.
 * Prints one line `PERFBENCH <json>` with raw samples; `run.py` turns
 * them into the reported metrics.
 *
 *   java -cp <classes>:<spark jars> perfbench.Run --workload corpus_split
 *     --seed 1 --seconds 10 --trace 0 --work <dir> --cpus 4
 *     [--data <catalog tables> --rows <catalog rows>] [--inject-failure]
 */
object Run {

  /** Input sizes, fixed per workload; the seed varies content only. */
  val PlanetNodes = 20000
  val SplitDocs = 20000L
  val AreasDocs = 1500000L

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // ready = the extension's functions resolve in this session
    require(s.catalog.functionExists("h3lite_encode"), "GraftExtensions not installed")
    s
  }

  private def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val injectFailure = argv.contains("--inject-failure")

    // set-up, five times: the first from JVM start, the others as a
    // fresh session in the warm JVM
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 5) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      setups += (if (i == 0) ManagementFactory.getRuntimeMXBean.getUptime / 1e3
                 else (System.nanoTime() - t0) / 1e9)
    }
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)

    val w: Workload = workload match {
      case "osm_planet" => new PlanetWorkload(spark, work, seed, PlanetNodes, cpus)
      case "corpus_split" =>
        new CorpusWorkload(spark, work, seed, SplitDocs, 25, "dist", 2 * cpus)
      case "corpus_areas" =>
        new CorpusWorkload(spark, work, seed, AreasDocs, 200, "split", 2 * cpus)
      case "catalog" =>
        new CatalogWorkload(spark, opts("data"), opts("rows").toLong, injectFailure)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepare = Window.of(spark) {
      w.prepare()
      // inputs reach the disk, and their garbage is gone, before any
      // timing starts
      new ProcessBuilder("sync").inheritIO().start().waitFor()
      JvmStats.oldGenAfterGcMb()
    }._2.seconds
    var checkSeconds = 0d

    val jobs = mutable.ArrayBuffer.empty[Json]
    val errors = mutable.ArrayBuffer.empty[String]
    var heapPeak = 0d
    var failedJobs = 0
    def runJob(i: Int): Double = {
      val out = s"$work/out/job-$i"
      val (ops, win) = Window.of(spark)(w.job(out, first = i == 0))
      // a failed operation is counted as such; only finished jobs are checked
      val (errs, cw) = Window.of(spark)(if (ops.forall(_.ok)) w.check(out) else Nil)
      checkSeconds += cw.seconds
      if (errs.nonEmpty || !ops.exists(_.ok)) failedJobs += 1
      // the cold catalog pass keeps its results for the oracle check
      if (!(i == 0 && w.isInstanceOf[CatalogWorkload])) deleteTree(Paths.get(out))
      errors ++= errs.map(e => s"job $i: $e")
      heapPeak = math.max(heapPeak, JvmStats.oldGenAfterGcMb())
      jobs += Json.obj(
        "out" -> Json.str(out),
        "seconds" -> Json.num(win.seconds),
        "checked_ok" -> Json.bool(errs.isEmpty),
        "shuffle_write_mb" -> Json.num(listener.tasksIn(win).map(_.shuffleWriteBytes).sum / 1e6),
        "ops" -> Json.arr(ops.map(o =>
          Json.arr(Seq(Json.str(o.name), Json.num(o.seconds), Json.bool(o.ok))))))
      win.seconds
    }

    runJob(0)
    var measured = 0d
    var n = 1
    // a workload that keeps failing stops early
    while ((measured < seconds || n <= w.minWarmJobs) && failedJobs < 3) {
      measured += runJob(n)
      n += 1
    }

    val traceJson = if (!trace) Json.obj() else {
      val tr = new Tracer(spark, listener)
      val gc0 = JvmStats.gcSeconds()
      val (_, win) = Window.of(spark)(w.traced(s"$work/out/traced", tr))
      val gc = JvmStats.gcSeconds() - gc0
      val tasks = listener.tasksIn(win)
      val stages = listener.stagesIn(win)
      // skew of the stage that keeps the cores busiest
      val skew = tasks.groupBy(_.stageId).values.toSeq.sortBy(-_.map(_.runMs).sum)
        .headOption.map { ts =>
          val d = ts.map(_.runMs.toDouble).sorted
          d.last / math.max(d(d.size / 2), 1d)
        }.getOrElse(1d)
      tr.count("spark.exchanges", stages.count(_.shuffleMap).toDouble)
      tr.count("spark.fetch_wait_s", tasks.map(_.fetchWaitMs).sum / 1e3)
      tr.count("spark.spill_mb", tasks.map(_.spillBytes).sum / 1e6)
      tr.count("spark.gc_s", gc)
      tr.count("spark.task_skew", skew)
      tr.count("spark.failed_tasks", listener.failedTasks.toDouble)
      tr.count("codegen.max_method_bytes", org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax.toDouble)
      tr.count("traced_total_s", win.seconds)
      Json.obj(tr.values.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
    }
    spark.stop()

    val result = Json.obj(
      "setups" -> Json.arr(setups.map(Json.num).toSeq),
      "input_rows" -> Json.num(w.inputRows.toDouble),
      "prepare_s" -> Json.num(prepare),
      "check_s" -> Json.num(checkSeconds),
      "heap_peak_mb" -> Json.num(heapPeak),
      "jobs" -> Json.arr(jobs.toSeq),
      "errors" -> Json.arr(errors.map(Json.str).toSeq),
      "trace" -> traceJson,
      "oracles" -> (w match { case c: CatalogWorkload => c.oracles; case _ => Json.obj() }))
    println("PERFBENCH " + result.text)
  }
}

/** Just enough JSON to print the run's samples. */
final case class Json(text: String)

object Json {
  def num(v: Double): Json =
    Json(if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v))
  def bool(b: Boolean): Json = Json(b.toString)
  def str(s: String): Json = Json("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def arr(xs: Seq[Json]): Json = Json(xs.map(_.text).mkString("[", ",", "]"))
  def obj(kvs: (String, Json)*): Json =
    Json(kvs.map { case (k, v) => str(k).text + ":" + v.text }.mkString("{", ",", "}"))
}

package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload run in one JVM.
  *
  * {{{
  * Main --workload <tpcdi_batch1|ops_corpus>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> --trace-dir <dir>
  * }}}
  *
  * Prints a `settings` line and then, as the last line of stdout, the
  * result object `{"correct", "attempted", "failed", "metrics"}`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the run times one step with the tracer on and prints the per-layer
  * metrics, every workload printing the full list (zero for a layer the
  * workload never enters); the spans go to a JSON file under
  * `--trace-dir`. Exits 1 when any check fails or any
  * timed call throws, 2 on a malformed argument.
  */
object Main {

  val Workloads = Seq("tpcdi_batch1", "ops_corpus")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "step_s" -> "s")

  private val counterUnits = Seq("s" -> "s", "jobs" -> "count",
    "driver_gap_s" -> "s", "task_cpu_s" -> "s", "shuffle_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] =
    Seq("bronze", "silver", "gold").flatMap(l =>
      (counterUnits :+ ("gc_s" -> "s")).map { case (c, u) => s"$l.$c" -> u }) ++
    Tpcdi.HeavyModels.map(m => s"${Tpcdi.layerOf(m)}.$m.s" -> "s") ++
    Seq("dag.build_s" -> "s", "dag.critical_path_s" -> "s", "dag.overlap" -> "ratio") ++
    Seq("incr.batch2", "incr.batch3").flatMap(b =>
      (counterUnits ++ Seq("spill_mb" -> "MiB", "gc_s" -> "s", "peak_storage_mb" -> "MiB",
        "models_rewritten" -> "count", "write_amp" -> "ratio"))
        .map { case (c, u) => s"$b.$c" -> u }) ++
    Seq("substr.build", "substr.append", "substr.spans", "substr.screen",
      "dedup.minhash", "dedup.components", "ann.build", "ann.append_delete",
      "ann.query").flatMap(s =>
      (counterUnits ++ Seq("gc_s" -> "s", "peak_storage_mb" -> "MiB"))
        .map { case (c, u) => s"$s.$c" -> u }) ++
    Seq("ann.build", "ann.append_delete", "ann.query")
      .map(s => s"$s.retained_storage_mb" -> "MiB") ++
    Seq("ann.query.jobs_per_batch" -> "count", "ann.query.visited_per_query" -> "count",
      "ann.query.recall_at_10" -> "ratio", "dedup.minhash.pair_precision" -> "ratio",
      "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MiB", "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, traceDir: String)

  def parse(args: Array[String]): Either[String, Args] = {
    val keys = Seq("--workload", "--seed", "--seconds", "--trace", "--work", "--trace-dir")
    if (args.length != 2 * keys.size) return Left(s"expected ${keys.mkString(" ")} each with a value")
    val pairs = args.grouped(2).map(a => a(0) -> a(1)).toSeq
    val unknown = pairs.map(_._1).filterNot(keys.contains)
    if (unknown.nonEmpty) return Left(s"unknown argument ${unknown.head}")
    if (pairs.map(_._1).distinct.size != pairs.size) return Left("repeated argument")
    val m = pairs.toMap
    def int(k: String, lo: Long, hi: Long): Either[String, Long] =
      m(k).toLongOption.filter(v => v >= lo && v <= hi)
        .toRight(s"$k must be an integer in [$lo, $hi], got '${m(k)}'")
    for {
      w <- Either.cond(Workloads.contains(m("--workload")), m("--workload"),
        s"--workload must be one of ${Workloads.mkString(", ")}, got '${m("--workload")}'")
      seed <- int("--seed", 0, Int.MaxValue)
      secs <- int("--seconds", 1, 600)
      trace <- int("--trace", 0, 1)
      work <- Either.cond(m("--work").nonEmpty, m("--work"), "--work is empty")
      tdir <- Either.cond(m("--trace-dir").nonEmpty, m("--trace-dir"), "--trace-dir is empty")
    } yield Args(w, seed, secs.toInt, trace == 1, work, tdir)
  }

  private def json(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) => a
      case Left(err) =>
        System.err.println(s"perfbench: $err")
        sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupStart = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.hadoop.util.NativeCodeLoader", org.apache.logging.log4j.Level.ERROR)
    val cores = Runtime.getRuntime.availableProcessors()
    val workDir = new java.io.File(args.work)
    Run.deleteRecursively(workDir)
    workDir.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runId = java.util.UUID.randomUUID().toString
    val tracer = new Tracer(spark, runId, args.trace)
    val run = new Run(spark, tracer, args.work, args.seconds, cores)
    val conf = spark.conf
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
      .foreach(k => run.settings(k) = conf.get(k))
    run.settings ++= Seq("workload" -> args.workload, "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0"),
      "run_id" -> runId, "cores" -> cores.toString, "dag_parallelism" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))

    if (args.trace) tracer.start()
    val ok = try {
      args.workload match {
        case "tpcdi_batch1" => Tpcdi.batch1(run, args.seed, setupStart)
        case "ops_corpus" => OpsCorpus.run(run, args.seed, setupStart)
      }
      true
    } catch {
      case e: Exception =>
        e.printStackTrace()
        System.err.println(s"perfbench: ${args.workload} aborted: $e")
        false
    } finally tracer.stop()
    if (args.trace) {
      run.metric("jvm.gc_s", tracer.gcMillis / 1e3, "s")
      run.metric("jvm.peak_heap_mb", tracer.peakHeapMb, "MiB")
      val path = s"${args.traceDir}/${args.workload}-seed${args.seed}-$runId.json"
      tracer.writeJson(path, run.settings)
      System.err.println(s"perfbench: spans written to $path")
    }
    spark.stop()
    Run.deleteRecursively(workDir)

    val wanted = if (args.trace) PerLayer else EndToEnd
    val missing = EndToEnd.map(_._1).filterNot(run.metrics.contains)
    missing.foreach(m => System.err.println(s"perfbench: no value for $m"))
    val correct = ok && run.failed == 0 && missing.isEmpty
    val attempted = math.max(1, run.attempted)
    val failed = if (correct) 0 else math.min(attempted, math.max(1, run.failed))
    val metricsJson = wanted.map { case (name, unit) =>
      val v = run.metrics.get(name).map(_._1).getOrElse(0.0)
      s"${json(name)}: {${json("value")}: $v, ${json("unit")}: ${json(unit)}}"
    }.mkString(", ")
    println("perfbench settings " + run.settings.map { case (k, v) =>
      s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}"))
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metricsJson}}""")
    // exit explicitly: a lingering non-daemon thread must not hold the
    // JVM open after the result is printed
    sys.exit(if (correct) 0 else 1)
  }
}

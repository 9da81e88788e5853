package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Sources
import graft.models.{CustomerXml, Dag, Loader, Warehouse}

/** The warehouse workload, `tpcdi_batch1`: the DAG-parallel 44-model
  * build of a generated Batch1 (`Loader` -> `Silver`/`Gold` through
  * `Dag.runParallel`), plus, in the traced run, the serial build and
  * `Warehouse.applyBatch` of a Batch2 and a chained Batch3 delta.
  */
object Tpcdi {

  /** Batch1 scale: customers and trades. Each delta adds 2% of the
    * trades (see [[Gen.tpcdi]]).
    */
  val Customers = 2000
  val Trades = 20000

  /** The models whose serial self time is reported on its own: the five
    * heaviest non-bronze models of the reference's published SF=10 run
    * (BASELINE.md).
    */
  val HeavyModels = Seq("trades_history", "fact_trade", "fact_holdings",
    "fact_market_history", "trades")

  private val bronze: Set[String] = Dag.sourceModel.values.toSet

  def layerOf(model: String): String =
    if (bronze(model)) "bronze"
    else if (model.startsWith("dim_") || model.startsWith("fact_")) "gold"
    else "silver"

  val models: Seq[String] = Dag.nodes(Map.empty).map(_.name)

  /** Generate the three batches under `<work>/input` and record their
    * sizes in the run's settings. Returns the directory and the rows
    * per file.
    */
  def generate(run: Run, seed: Long): (String, Gen.Sizes) = {
    val dir = s"${run.work}/input"
    val sizes = Gen.tpcdi(dir, seed, Customers, Trades)
    run.settings("customers") = Customers.toString
    run.settings("trades") = Trades.toString
    Seq("batch1", "batch2", "batch3").foreach { b =>
      val rows = sizes.filter(_._1.startsWith(b + "/")).toSeq.sorted
        .map { case (k, v) => s"${k.stripPrefix(b + "/")}=$v" }.mkString(",")
      run.settings(s"$b.rows") = rows
      run.settings(s"$b.mb_on_disk") =
        f"${Run.bytesOnDisk(s"$dir/$b") / 1048576.0}%.2f"
    }
    Seq("batch2", "batch3").foreach { b =>
      run.settings(s"$b.delta_rows") = sizes.filter(_._1.startsWith(b + "/")).values.sum.toString
      run.settings(s"$b.trades") = sizes(s"$b/Trade.txt").toString
    }
    (dir, sizes)
  }

  /** The delta sources present in a Batch2/3 directory, in the shapes
    * `Loader.loadAll` gives Batch1's.
    */
  def loadDelta(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Loader.delimitedSources.collect {
      case (k, (file, schema)) if new File(s"$dir/$file").exists =>
        k -> Sources.delimited(spark, s"$dir/$file", schema)
    } + ("customer_mgmt" -> CustomerXml.customerMgmt(spark, s"$dir/CustomerMgmt.xml"))

  private def writeRead(spark: SparkSession, dir: String, df: DataFrame): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Serial build through the `Warehouse` materialization hook: one
    * span per model (`<layer>.<model>`), so per-model self times do not
    * overlap. Returns every model, read back from parquet.
    */
  def serialBuild(run: Run, sources: Map[String, DataFrame],
                  out: String): Map[String, DataFrame] = {
    val wh = new Warehouse(sources, (name, df) =>
      run.tracer.span(s"${layerOf(name)}.$name")(
        writeRead(run.spark, s"$out/$name", df)))
    wh.all.toMap
  }

  def parallelBuild(run: Run, sources: Map[String, DataFrame], out: String): Unit =
    Dag.runParallel(run.spark, sources, out, parallelism = run.cores)

  /** Every model under `dir`, read with the schemas of `like` (a read
    * without a schema costs a schema-inference job per model).
    */
  private def readAs(run: Run, dir: String, like: Map[String, DataFrame])
      : Map[String, DataFrame] =
    models.map(m => m -> run.spark.read.schema(like(m).schema).parquet(s"$dir/$m")).toMap

  /** Rows of every model under `dir`, from the parquet footers (no Spark
    * job).
    */
  private def footerRows(run: Run, dir: String): Map[String, Long] = {
    val conf = run.spark.sparkContext.hadoopConfiguration
    models.map { m =>
      val files = Option(new File(s"$dir/$m").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      m -> files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }.toMap
  }

  /** Per-model digests of several warehouses, in one Spark action. */
  def digests(warehouses: Map[String, DataFrame]*): Seq[Map[String, (Long, Long, Long)]] = {
    val all = Run.digests(warehouses.zipWithIndex.flatMap { case (t, i) =>
      models.map(m => s"$i/$m" -> t(m)) })
    warehouses.indices.map(i => models.map(m => m -> all(s"$i/$m")).toMap)
  }

  private def checkEqual(run: Run, what: String,
                         expected: Map[String, (Long, Long, Long)],
                         got: Map[String, (Long, Long, Long)]): Unit =
    models.foreach(m => run.check(expected(m) == got(m),
      s"$what: $m digest ${got(m)} != ${expected(m)}"))

  /** The reference's one dbt test (`fact_trade__unique_trade`) and one
    * fact row per trade.
    */
  private def checkFacts(run: Run, what: String, factTrade: DataFrame,
                         trades: Long): Unit = {
    val r = factTrade.agg(count(lit(1)), count_distinct(col("sk_trade_id"))).head()
    val dup = r.getLong(0) - r.getLong(1)
    run.check(dup == 0, s"$what: unique_trade_violations = $dup")
    run.check(r.getLong(0) == trades, s"$what: fact_trade rows ${r.getLong(0)} != trades $trades")
  }

  /** Sum of per-model serial self times along the longest dependency
    * chain of the DAG.
    */
  def criticalPath(self: Map[String, Double]): Double = {
    val nodes = Dag.nodes(Map.empty)
    val finish = mutable.Map.empty[String, Double]
    nodes.foreach { n => // Dag.nodes lists every model after its deps
      finish(n.name) = self.getOrElse(n.name, 0.0) +
        (n.deps.map(finish).maxOption.getOrElse(0.0))
    }
    finish.values.max
  }

  private def layerMetrics(run: Run, layer: String): Unit = {
    val spans = run.tracer.all(layer + ".")
    val cs = spans.map(run.tracer.counters)
    run.metric(s"$layer.s", spans.map(_.seconds).sum, "s")
    run.metric(s"$layer.jobs", cs.map(_.jobs).sum, "count")
    run.metric(s"$layer.driver_gap_s", cs.map(_.driverGapS).sum, "s")
    run.metric(s"$layer.task_cpu_s", cs.map(_.taskCpuS).sum, "s")
    run.metric(s"$layer.shuffle_mb", cs.map(_.shuffleMb).sum, "MiB")
    run.metric(s"$layer.gc_s", spans.map(s => (s.gc1 - s.gc0) / 1e3).sum, "s")
  }

  /** Apply `delta` to a materialized warehouse, writing into `out` every
    * model the delta reaches. Returns the refreshed warehouse with every
    * model backed by parquet, and the names written (models and the
    * intermediate frames `applyBatch` materializes).
    */
  def applyAndWrite(run: Run, existing: Warehouse, delta: Map[String, DataFrame],
                    out: String): (Warehouse, Set[String]) = {
    val written = mutable.LinkedHashSet.empty[String]
    val wh = Warehouse.applyBatch(existing, delta, (name, df) => {
      written += name
      writeRead(run.spark, s"$out/$name", df)
    })
    val reached = Dag.downstream(delta.keySet.map(Dag.sourceModel))
    val refreshed = wh.all.map { case (n, df) =>
      if (reached(n) && !written(n)) {
        written += n
        n -> writeRead(run.spark, s"$out/$n", df)
      } else n -> df
    }
    (new Warehouse(wh.sources, overrides = refreshed.toMap), written.toSet)
  }

  /** `tpcdi_batch1`. Set-up generates the three batches; the timed step
    * (span `build.parallel`) is the DAG-parallel build of Batch1, the
    * first Spark work of the JVM, as a scheduled batch build runs it. Its
    * output is checked (fact grain unique, one fact row per trade, every
    * bronze model holding exactly its source file's rows).
    *
    * The traced run then records, one call at a time: a serial build
    * through the `Warehouse` materialization hook (a span per model),
    * and `Warehouse.applyBatch` of Batch2 and then Batch3 over the timed
    * build's warehouse. The serial build must equal the parallel one
    * model for model, and the chained refresh must equal a full rebuild
    * over Batch1 ∪ Batch2 ∪ Batch3.
    */
  def batch1(run: Run, seed: Long, setupStart: Long): Unit = {
    val spark = run.spark
    val (input, sizes) = generate(run, seed)
    val b1 = Loader.loadAll(spark, s"$input/batch1")
    run.metric("setup_s", (System.nanoTime() - setupStart) / 1e9, "s")
    val built = mutable.ArrayBuffer.empty[String]
    val steps = run.timedSteps { i =>
      val dir = s"${run.work}/par$i"
      val (_, s) = run.time(run.tracer.span("build.parallel")(parallelBuild(run, b1, dir)))
      built += dir
      Map("build_s" -> s)
    }
    run.log("checks")
    // the bronze model of each delimited source holds exactly its rows
    val sourceRows = Loader.delimitedSources.map { case (src, (file, _)) =>
      Dag.sourceModel(src) -> sizes(s"batch1/$file")
    }
    built.zipWithIndex.foreach { case (dir, i) =>
      val rows = footerRows(run, dir)
      models.foreach(m => run.check(rows(m) > 0, s"parallel build $i: $m is empty"))
      sourceRows.foreach { case (m, n) =>
        run.check(rows(m) == n, s"parallel build $i: $m has ${rows(m)} rows, source has $n") }
      checkFacts(run, s"parallel build $i", spark.read.parquet(s"$dir/fact_trade"), Trades)
    }
    if (steps.nonEmpty) {
      run.metric("step_s", Run.median(steps.map(_("build_s"))), "s")
      if (run.tracer.enabled) traced(run, input, b1, built.head)
    }
  }

  private def traced(run: Run, input: String, b1: Map[String, DataFrame],
                     b1Dir: String): Unit = {
    val spark = run.spark
    val tr = run.tracer
    val b2 = loadDelta(spark, s"$input/batch2")
    val b3 = loadDelta(spark, s"$input/batch3")
    run.log("traced builds and refreshes")
    val serial = tr.span("build.serial")(serialBuild(run, b1, s"${run.work}/serial"))
    val wh1 = new Warehouse(b1, overrides = readAs(run, b1Dir, serial))
    val (wh2, w2) = tr.span("incr.batch2")(applyAndWrite(run, wh1, b2, s"${run.work}/b2"))
    val (wh3, w3) = tr.span("incr.batch3")(applyAndWrite(run, wh2, b3, s"${run.work}/b3"))
    val chained = wh3.all.toMap
    run.log("full rebuild and checks")
    val all3 = b1.map { case (k, v) =>
      k -> Seq(b2, b3).flatMap(_.get(k)).foldLeft(v)(_.unionByName(_))
    }
    parallelBuild(run, all3, s"${run.work}/full3")
    val full = readAs(run, s"${run.work}/full3", serial)
    val Seq(parallelD, serialD, fullD, chainedD) =
      digests(readAs(run, b1Dir, serial), serial, full, chained)
    checkEqual(run, "serial build vs parallel build", parallelD, serialD)
    checkEqual(run, "Batch3 chained refresh vs full rebuild", fullD, chainedD)
    val trades = Trades + run.settings("batch2.trades").toLong + run.settings("batch3.trades").toLong
    checkFacts(run, "full rebuild", full("fact_trade"), trades)
    checkFacts(run, "Batch3 chained refresh", chained("fact_trade"), trades)

    val self = models.map(m => m -> tr.get(s"${layerOf(m)}.$m").seconds).toMap
    Seq("bronze", "silver", "gold").foreach(layerMetrics(run, _))
    HeavyModels.foreach(m => run.metric(s"${layerOf(m)}.$m.s", self(m), "s"))
    val parWall = tr.get("build.parallel").seconds
    run.metric("dag.build_s", parWall, "s")
    run.metric("dag.critical_path_s", criticalPath(self), "s")
    run.metric("dag.overlap", self.values.sum / parWall, "ratio")
    run.metric("trace.overhead_s", tr.overheadSeconds, "s")
    Seq(("incr.batch2", w2, "batch2"), ("incr.batch3", w3, "batch3")).foreach {
      case (name, written, batch) =>
        val sp = tr.get(name)
        val c = tr.counters(sp)
        run.metric(s"$name.s", sp.seconds, "s")
        run.metric(s"$name.jobs", c.jobs, "count")
        run.metric(s"$name.driver_gap_s", c.driverGapS, "s")
        run.metric(s"$name.task_cpu_s", c.taskCpuS, "s")
        run.metric(s"$name.shuffle_mb", c.shuffleMb, "MiB")
        run.metric(s"$name.spill_mb", c.spillMb, "MiB")
        run.metric(s"$name.gc_s", (sp.gc1 - sp.gc0) / 1e3, "s")
        run.metric(s"$name.peak_storage_mb", sp.peakStorage / 1048576.0, "MiB")
        run.metric(s"$name.models_rewritten", written.count(models.contains), "count")
        run.metric(s"$name.write_amp",
          c.rowsWritten / run.settings(s"$batch.delta_rows").toDouble, "ratio")
    }
  }
}

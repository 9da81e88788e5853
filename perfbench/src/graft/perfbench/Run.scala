package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run shares with its workload code: the session,
  * the tracer, the work directory, the measured steps and the outcome
  * of every correctness check.
  */
final class Run(val spark: SparkSession, val tracer: Tracer,
                val work: String, val seconds: Int, val cores: Int) {

  /** Metric name -> (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Settings recorded next to the result (sizes, config, seed, ...). */
  val settings = mutable.LinkedHashMap.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  def failed: Int = failures.size

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record a check: one attempted operation, failed when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  /** Run timed steps until `seconds` have passed (at least one; exactly
    * one in a traced run, so each layer span occurs once). Each step
    * returns its phase timings (name -> seconds); a step that throws
    * counts as failed and records no time. Returns the phase timings of
    * the steps that completed.
    */
  def timedSteps(step: Int => Map[String, Double]): Seq[Map[String, Double]] = {
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    while (i == 0 || (!tracer.enabled && (System.nanoTime() - t0) / 1e9 < seconds)) {
      attempted += 1
      log(s"step $i")
      try done += step(i)
      catch {
        case e: Exception =>
          failures += s"step $i threw ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
      i += 1
    }
    done.toSeq
  }

  private val born = System.nanoTime()

  /** Log a progress line to stderr with the seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%8.2f s  $msg")

  /** Time `body` in seconds. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Run {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-insensitive digest of a relation: row count, XOR of the
    * rows' xxhash64 and the sum of the hashes' high 32 bits (the sum
    * catches duplicated rows the XOR cancels). Columns are taken in
    * sorted name order, so two relations with the same rows and columns
    * in another order digest the same.
    */
  def digest(df: DataFrame): (Long, Long, Long) = digests(Seq("" -> df))("")

  /** [[digest]] of several relations in one Spark action. */
  def digests(named: Seq[(String, DataFrame)]): Map[String, (Long, Long, Long)] =
    named.map { case (name, df) =>
      df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
        .agg(count(lit(1)).as("n"), coalesce(bit_xor(col("h")), lit(0L)).as("x"),
          coalesce(sum(shiftright(col("h"), 32)), lit(0L)).as("s"))
        .select(lit(name).as("name"), col("n"), col("x"), col("s"))
    }.reduce(_.unionByName(_)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  /** Size in bytes of every regular file under `dir`. */
  def bytesOnDisk(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans recorded by the benchmark around each call into a layer.
  *
  * A span has a name, start, end, parent and the run's id. Unless the
  * tracer was started, [[Tracer.span]] only runs its body. Once it is, a
  * SparkListener records every job (start, end, stages) and every
  * task's CPU, shuffle and spill, a sampler thread records storage
  * memory (cached plus checkpointed RDD blocks) every 50 ms, and each span takes the JVM's GarbageCollectorMXBean total at
  * both ends. Counters are attributed to a span by time: a job belongs
  * to every open span it started in, which is exact because traced
  * spans run one at a time on the driver thread (the parallel DAG build
  * is one span, never split). Everything stays in memory until
  * [[Tracer.writeJson]].
  */
final class Tracer(spark: SparkSession, val runId: String,
                   val enabled: Boolean) {
  import Tracer._

  private final case class Job(start: Long, stages: Seq[Int],
                               var end: Long = -1L)
  private final class StageAgg {
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var rowsWritten = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  @volatile private var storageNow = 0L
  @volatile private var stopSampler = false
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.end = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        s.synchronized {
          s.cpuNs += m.executorCpuTime
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.rowsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  /** Bytes held in storage by cached and checkpointed RDD blocks. */
  def storageBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  private val sampler = new Thread(() => {
    while (!stopSampler) {
      storageNow = storageBytes()
      open.synchronized(open.foreach(s =>
        s.peakStorage = math.max(s.peakStorage, storageNow)))
      Thread.sleep(50)
    }
  }, "perfbench-sampler")

  @volatile private var active = false
  private var overheadNs = 0L

  /** Driver-thread time the tracer itself spent at span boundaries
    * (draining the listener bus, reading GC and storage totals): the
    * tracing overhead the traced run's layer times include.
    */
  def overheadSeconds: Double = overheadNs / 1e9

  /** Attach the listener and the sampler; spans opened from now on are
    * recorded. Called once, at the start of a traced run.
    */
  def start(): Unit = {
    require(enabled && !active, "tracing is off or already started")
    spark.sparkContext.addSparkListener(listener)
    sampler.setDaemon(true)
    sampler.start()
    active = true
  }

  /** Stop recording and detach the listener and the sampler. */
  def stop(): Unit = if (active) {
    active = false
    stopSampler = true
    sampler.join()
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  private def drain(): Unit =
    org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)

  /** Run `body` inside a span named `name` (a child of the innermost
    * open span). Returns the body's value; spans are recorded only when
    * tracing is on.
    */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val storage0 = storageBytes()
      val s = new Span(spans.size, name, parent, System.currentTimeMillis(),
        System.nanoTime(), gcMillis)
      s.peakStorage = storage0
      open.synchronized { spans += s; open.push(s) }
      overheadNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        s.gc1 = gcMillis
        s.retainedStorage = storageBytes()
        s.peakStorage = math.max(s.peakStorage, s.retainedStorage)
        open.synchronized(open.pop())
        overheadNs += System.nanoTime() - t1
      }
    }

  /** The single recorded span called `name` (tracing must be on). */
  def get(name: String): Span = {
    val found = spans.filter(_.name == name)
    require(found.size == 1, s"expected one span named $name, found ${found.size}")
    found.head
  }

  def all(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  /** Jobs started inside `s`, the wall inside `s` with no job running,
    * and the task CPU, shuffle, spill and rows written of those jobs'
    * stages.
    */
  def counters(s: Span): Counters = {
    val js = jobs.values().asScala.toSeq
      .filter(j => j.start >= s.startMs && j.start <= s.endMs)
    var covered = 0L
    var cursor = s.startMs
    js.sortBy(_.start).foreach { j =>
      val end = math.min(if (j.end < 0) s.endMs else j.end, s.endMs)
      val from = math.max(j.start, cursor)
      if (end > from) { covered += end - from; cursor = end }
    }
    val aggs = js.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    Counters(js.size,
      math.max(0.0, (s.endMs - s.startMs - covered) / 1e3),
      aggs.map(_.cpuNs).sum / 1e9,
      aggs.map(_.shuffleBytes).sum / 1048576.0,
      aggs.map(_.spillBytes).sum / 1048576.0,
      aggs.map(_.rowsWritten).sum)
  }

  /** Sum of the heap pools' peak use since the JVM started. */
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Every span as one JSON document: run id, the run's settings, then
    * per span its id, name, parent id (-1 for a root), start/end in
    * epoch ms, seconds, GC seconds, storage and the job counters.
    */
  def writeJson(path: String, settings: collection.Map[String, String]): Unit = {
    val body = spans.map { s =>
      val c = counters(s)
      f"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}%.6f,"gc_s":${(s.gc1 - s.gc0) / 1e3}%.3f,"jobs":${c.jobs},"driver_gap_s":${c.driverGapS}%.3f,"task_cpu_s":${c.taskCpuS}%.3f,"shuffle_mb":${c.shuffleMb}%.3f,"spill_mb":${c.spillMb}%.3f,"peak_storage_mb":${s.peakStorage / 1048576.0}%.3f,"retained_storage_mb":${s.retainedStorage / 1048576.0}%.3f}"""
    }.mkString(",\n  ")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    val conf = settings.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    try w.write(s"""{"run_id":${q(runId)},"settings":$conf,"spans":[\n  $body\n]}\n""")
    finally w.close()
  }
}

object Tracer {
  final class Span(val id: Int, val name: String, val parent: Int,
                   val startMs: Long, val startNs: Long, val gc0: Long) {
    var endMs = 0L
    var endNs = 0L
    var gc1 = 0L
    var peakStorage = 0L
    var retainedStorage = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Counters(jobs: Int, driverGapS: Double, taskCpuS: Double,
                            shuffleMb: Double, spillMb: Double, rowsWritten: Long)
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Epoch nanoseconds from the monotonic clock, so benchmark spans and
  * Spark's epoch-millisecond event times share one axis.
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + base
}

/** One traced interval. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer {
  private val ids   = new AtomicLong(0)
  val spans         = ArrayBuffer.empty[Span]
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spans += s }
}

/** Records Spark jobs, stages and task statistics. Jobs are tied to the
  * benchmark span that caused them through the job group, which the
  * benchmark sets to that span's id.
  */
final class StageListener extends SparkListener {
  final class JobRec(val jobId: Int, val group: String, val startMs: Long,
                     val stageIds: Seq[Int]) { var endMs = -1L }
  final class StageRec(val stageId: Int) {
    var attempt = 0; var name = ""; var numTasks = 0
    var submitMs = -1L; var endMs = -1L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var fetchWaitMs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
    val taskMs   = ArrayBuffer.empty[Long]
    var schedMs  = 0L
    var failed   = 0
  }
  val jobs   = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs += new JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s  = stage(e.stageId)
    val ti = e.taskInfo
    s.taskMs += ti.duration
    if (ti.failed || ti.killed) s.failed += 1
    val m = e.taskMetrics
    if (m != null)
      s.schedMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.attempt = i.attemptNumber(); s.name = i.name; s.numTasks = i.numTasks
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
    val m = i.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gcMs = m.jvmGCTime
      s.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime
      s.shuffleReadB = m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB = m.shuffleWriteMetrics.bytesWritten
      s.spillB = m.diskBytesSpilled
    }
  }

  /** Every recorded job with its completed stages. The listener is only
    * registered around traced calls, so these are the traced jobs.
    */
  def records: Seq[Map[String, Any]] = synchronized {
    jobs.map { j =>
      val st = j.stageIds.flatMap(stages.get).filter(_.submitMs >= 0).map { s =>
        val sorted = s.taskMs.sorted
        Map[String, Any]("stage_id" -> s.stageId, "name" -> s.name, "tasks" -> s.numTasks,
          "start_ms" -> s.submitMs, "end_ms" -> s.endMs, "run_ms" -> s.runMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "fetch_wait_ms" -> s.fetchWaitMs,
          "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
          "spill_b" -> s.spillB, "sched_ms" -> s.schedMs, "failed_tasks" -> s.failed,
          "task_ms_max" -> sorted.lastOption.getOrElse(0L),
          "task_ms_median" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
      }
      Map[String, Any]("job_id" -> j.jobId, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> st)
    }.toSeq
  }
}

/** Live heap: old-generation usage right after a full collection, read
  * through the memory pool's collection-usage counter. `peakDuring` forces
  * those collections from a sampler thread while graft's calls run, so the
  * reading includes the in-flight working set of jobs and queries (task
  * buffers, shuffle blocks, state store), not only the idle heap. Readings
  * after the JVM's own young collections are not taken, since they still
  * count dead objects in old regions.
  */
object HeapProbe {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
    p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))
  }

  private def usedAfterGc(): Long = {
    System.gc()
    oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
  }

  /** Runs `body` while full collections are forced every `everyMs`, and
    * returns its result with the largest old-generation usage read after
    * one, in MB, and the number of readings.
    */
  def peakDuring[A](everyMs: Long)(body: => A): (A, Double, Int) = {
    @volatile var running = true
    var peak    = 0L
    var samples = 0
    val sampler = new Thread(() => {
      while (running) {
        peak = math.max(peak, usedAfterGc())
        samples += 1
        Thread.sleep(everyMs)
      }
    }, "perfbench-heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
    val a =
      try body
      finally {
        running = false
        sampler.join()
      }
    (a, peak / 1048576.0, samples)
  }

  def poolName: String = oldGen.map(_.getName).getOrElse("none")
}

package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** What one timed call returned, judged against the reference answer. */
final case class Outcome(attempted: Long, failed: Long, recall: Double, relErr: Double,
                         note: String = "")

/** One timed call into a graft public function, and its check. */
final case class Call(name: String, run: () => Any, check: Any => Outcome)

/** Per-run state a workload sees: the session, and the tracer and listener
  * when the run is traced.
  */
final class Ctx(val opts: Main.Opts, val spark: SparkSession, val tracer: Option[Tracer],
                val listener: StageListener, val rootSpan: Long) {
  def traced: Boolean = tracer.isDefined
  def cpus: Int = Main.Cpus
}

trait Workload {
  def name: String
  /** Writes the seeded input under `dir`; timed as the sources layer. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  def load(spark: SparkSession, dir: String): Unit
  def warmUp(ctx: Ctx): Unit
  /** The work live_heap_peak_mb is read over: it runs before `prepare`, so
    * the benchmark's reference answers are not in the heap yet, and its
    * answers are checked in `measure`.
    */
  def heapPass(ctx: Ctx): Unit
  /** Reference answers and the input fingerprint, outside every timing. */
  def prepare(ctx: Ctx, seed: Long): Map[String, Any]
  /** The measured part: runs for `seconds` and returns the raw samples. */
  def measure(ctx: Ctx, seconds: Double): Map[String, Any]
  /** Layer probes for the traced run, outside the measured part. */
  def layers(ctx: Ctx): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tokens_topk"    => new TokensTopK
    case "events_windows" => new EventsWindows
    case "stream_sliding" => new StreamSliding
    case "docs_minhash"   => new DocsMinhash
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timeNs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a  = f
    (a, System.nanoTime() - t0)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Wall time of a single-threaded loop, in ns per operation: the median
    * of `reps` passes after one untimed pass.
    */
  def nsPerOp(ops: Long, reps: Int = 5)(body: => Unit): Double = {
    body
    Inputs.median((1 to reps).map(_ => timeNs(body)._2.toDouble / ops))
  }
}

/** A workload made of repeated calls whose answers are checked one by one. */
abstract class BatchWorkload extends Workload {
  def calls: Seq[Call]

  def warmUp(ctx: Ctx): Unit = calls.foreach(_.run())

  private var heapResults: Seq[(Call, Any)] = Nil

  def heapPass(ctx: Ctx): Unit =
    heapResults = calls.map(c => c -> c.run())

  private def outcome(c: Call, res: Any, ns: Long): Map[String, Any] = {
    val o = c.check(res)
    Map("call" -> c.name, "wall_ns" -> ns, "attempted" -> o.attempted, "failed" -> o.failed,
      "recall" -> o.recall, "rel_err" -> o.relErr, "note" -> o.note)
  }

  def measure(ctx: Ctx, seconds: Double): Map[String, Any] = {
    val sc       = ctx.spark.sparkContext
    val iters    = ArrayBuffer.empty[Map[String, Any]]
    // untimed settling: the JIT is still compiling the calls' hot paths
    // after the set-ups, and the first timed iterations would trend down
    val settle   = System.nanoTime() + (seconds * 0.2e9).toLong
    while (System.nanoTime() < settle) calls.foreach(_.run())
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i        = 0
    while (i < 3 || System.nanoTime() < deadline) {
      // in a traced run every other iteration runs without the listener,
      // so the tracing overhead is measured inside the same run
      val traced = ctx.traced && i % 2 == 0
      if (traced) sc.addSparkListener(ctx.listener)
      val done = calls.map { c =>
        val id = ctx.tracer.map(_.newId()).getOrElse(0L)
        if (traced) sc.setJobGroup(id.toString, c.name, interruptOnCancel = false)
        val t0  = Clock.nowNs
        val res = c.run()
        val t1  = Clock.nowNs
        if (traced) {
          sc.clearJobGroup()
          ctx.tracer.foreach(_.add(Span(id, ctx.rootSpan, "job", c.name, t0, t1)))
        }
        (c, res, t1 - t0)
      }
      if (traced) {
        PerfbenchAccess.drainListeners(sc)
        sc.removeSparkListener(ctx.listener)
      }
      val outs = done.map { case (c, res, ns) => outcome(c, res, ns) }
      iters += Map("traced" -> traced, "wall_ns" -> done.map(_._3).sum, "calls" -> outs)
      i += 1
    }
    Map("iterations" -> iters.toSeq,
      "heap_checks" -> heapResults.map { case (c, res) => outcome(c, res, 0L) })
  }
}

/** Runs one workload: set-ups, heap pass, reference, measured loop, layers. */
final class Runner(o: Main.Opts, wl: Workload, seed: Long) {
  /** Pause between the heap pass's forced collections. */
  val HeapEveryMs = 150L

  def run(): Map[String, Any] = {
    val setupS     = ArrayBuffer.empty[Double]
    val setupParts = ArrayBuffer.empty[Map[String, Double]]
    val tracer = if (o.trace) Some(new Tracer) else None
    val root   = tracer.map(_.newId()).getOrElse(0L)
    val rootT0 = Clock.nowNs
    val listener = new StageListener
    var spark: SparkSession = null
    var ctx: Ctx = null
    // each set-up starts a fresh session, generates the input and warms the
    // calls up; stopping the previous session first also removes its
    // shuffle files and blocks, which would otherwise be cleaned up
    // asynchronously while later work is timed
    for (r <- 0 until Main.Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0  = System.nanoTime()
      spark = Main.session(o)
      val tSession = System.nanoTime()
      val dir = new File(o.work, s"input/${wl.name}-$r")
      Workload.deleteTree(dir)
      val (_, g) = Workload.timeNs(wl.generate(spark, seed, dir.getPath))
      wl.load(spark, dir.getPath)
      ctx = new Ctx(o, spark, tracer, listener, root)
      val tWarm = System.nanoTime()
      wl.warmUp(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
      setupParts += Map("session" -> (tSession - t0) / 1e9, "generate" -> g / 1e9,
        "warm_up" -> (System.nanoTime() - tWarm) / 1e9)
    }
    val (((), heapMb, heapSamples), heapNs) =
      Workload.timeNs(HeapProbe.peakDuring(HeapEveryMs)(wl.heapPass(ctx)))
    val (input, prepNs) = Workload.timeNs(wl.prepare(ctx, seed))
    val (measured, measNs) = Workload.timeNs(wl.measure(ctx, o.seconds))
    val (layers, layerNs) =
      Workload.timeNs(if (o.trace) wl.layers(ctx) else Map.empty[String, Double])
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spans = tracer.toSeq.flatMap { t =>
      t.add(Span(root, 0L, "workload", wl.name, rootT0, Clock.nowNs))
      t.spans.map(_.toMap)
    }
    Map("seed" -> seed, "setup_s" -> setupS.toSeq, "setup_parts" -> setupParts.toSeq,
      "input" -> input,
      "measured" -> measured, "heap_peak_mb" -> heapMb, "heap_samples" -> heapSamples,
      "layers" -> layers,
      "spans" -> spans, "spark_jobs" -> listener.records,
      "phase_s" -> Map("setup" -> setupS.sum, "heap" -> heapNs / 1e9, "prepare" -> prepNs / 1e9,
        "measure" -> measNs / 1e9, "layers" -> layerNs / 1e9))
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{SlidingConfig, SlidingSketch}
import graft.streaming.{SlidingStreamCodec, SlidingStreamState, TickTopK, TopKStreams}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Open-loop sliding-window top-K stream. The built-in `rate` source emits
  * row v at its due time, start + v/rate seconds, whatever the engine is
  * doing; each row maps to (key, item, weight) by a seeded hash of v, and
  * its event time is that due time on the stream's own clock. A short
  * ladder of rates runs one query each into a foreachBatch sink owned by
  * the benchmark, which stamps every emitted (key, tick) with its wall time.
  */
final class StreamSliding extends Workload {
  val name        = "stream_sliding"
  val Keys        = 256
  val Vocab       = 2000
  val TickMs      = 1000L
  val WindowTicks = 4
  val EmitK       = 5
  val cfg         = SlidingConfig.withDefaults(10, WindowTicks, width = 64, depth = 3)
  /** Event-time origin of the stream clock; a whole number of ticks, so a
    * tick is exactly one of the source's one-second release steps.
    */
  val Base        = 1700000000000L
  /** The ladder of rates (rows/s), nominal rate first. */
  val Rates       = Seq(1000, 8000)
  private var seed = 0L
  private var work = ""

  def generate(spark: SparkSession, s: Long, d: String): Unit = seed = s
  def load(spark: SparkSession, d: String): Unit = work = new File(d).getParent

  /** (key, ts, item, weight) of rate row `value`, a pure function of the seed. */
  def mapRows(df: DataFrame, rate: Int): DataFrame = {
    val u = pmod(xxhash64(lit(seed + 1), col("value")), lit(1L << 30)).cast("double") / (1L << 30)
    df.select(
      concat(lit("k"), pmod(xxhash64(lit(seed), col("value")), lit(Keys.toLong)).cast("string"))
        .as("key"),
      expr(s"timestamp_millis($Base + (value * 1000) div $rate)").as("ts"),
      concat(lit("i"), floor(pow(u, 3.0) * Vocab).cast("string")).as("item"),
      (pmod(xxhash64(lit(seed + 2), col("value")), lit(3L)) + 1L).as("weight"))
  }

  /** Seconds of the nominal-rate rung the heap is sampled on. */
  val HeapSeconds = 5.0
  private var heapRung: (Map[String, Any], () => Map[String, Any]) = _

  def warmUp(ctx: Ctx): Unit = rung(ctx, Rates.head, 1.5, "warmup", traced = false)

  def heapPass(ctx: Ctx): Unit =
    heapRung = rung(ctx, Rates.head, HeapSeconds, "heap", traced = false)

  def prepare(ctx: Ctx, s: Long): Map[String, Any] = {
    val (n, fp) = Inputs.fingerprint(mapRows(ctx.spark.range(65536).toDF("value"), Rates.head))
    Map("rows" -> n, "fingerprint" -> fp, "bytes" -> 0L, "row_unit" -> "event",
      "fingerprint_of" -> "rows 0..65535 at the nominal rate")
  }

  def measure(ctx: Ctx, seconds: Double): Map[String, Any] = {
    // 55% of the run at the nominal rate, the rest shared by the higher
    // rungs; a traced run adds a traced copy of the nominal rung, so the
    // tracing overhead is measured inside one run
    val shares = 0.55 +: Seq.fill(Rates.size - 1)(0.45 / (Rates.size - 1))
    def judged(r: (Map[String, Any], () => Map[String, Any])) = r._1 + ("verdict" -> r._2())
    val rungs = Rates.zip(shares).zipWithIndex.map { case ((r, sh), i) =>
      judged(rung(ctx, r, seconds * sh, s"rung$i", traced = ctx.traced && i > 0))
    }
    val tracedNominal =
      if (ctx.traced) Seq(judged(rung(ctx, Rates.head, seconds * shares.head, "rung0t",
        traced = true)))
      else Nil
    Map("rungs" -> rungs, "traced_nominal" -> tracedNominal, "heap_rung" -> judged(heapRung),
      "nominal_rate" -> Rates.head)
  }

  private def creationMs(ckpt: String): Long = {
    // the rate source logs its start time as offset 0 of its metadata log
    val f = new File(ckpt, "sources/0/0")
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.last.trim.toLong
  }

  /** Runs one query at `rate` for `seconds` and returns its raw record
    * and the check of its answers, which runs when called.
    */
  private def rung(ctx: Ctx, rate: Int, seconds: Double, tag: String,
                   traced: Boolean): (Map[String, Any], () => Map[String, Any]) = {
    val spark = ctx.spark
    val sc    = spark.sparkContext
    val ckpt  = s"$work/stream/$tag"
    Workload.deleteTree(new File(ckpt))
    val accIn  = sc.longAccumulator("reduce_in")
    val accOut = sc.longAccumulator("reduce_out")
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Array[TickTopK])]()
    val src = spark.readStream.format("rate").option("rowsPerSecond", rate.toLong)
      .option("numPartitions", ctx.cpus.toLong).load()
    val spanId = if (traced) ctx.tracer.map(_.newId()).getOrElse(0L) else 0L
    if (traced) sc.addSparkListener(ctx.listener)
    val t0 = Clock.nowNs
    // one micro-batch per one-second release: without the extra no-data
    // batch after each watermark step the engine is far from saturation at
    // the nominal rate, and a tick emits with the next release's batch
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = TopKStreams.sliding(mapRows(src, rate), TickMs, "0 seconds", cfg, EmitK,
        Some((accIn, accOut)))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: Dataset[TickTopK], id: Long) =>
        val rows = ds.collect()
        emitted.add((id, Clock.nowNs, rows))
        ()
      }
      .start()
    // the rung's time starts once the query runs: its first batch has
    // created the source and planned the stateful operator
    val ready = System.nanoTime() + 60000000000L
    while (q.lastProgress == null && q.isActive && System.nanoTime() < ready) Thread.sleep(20)
    require(q.lastProgress != null, s"stream query made no progress: ${q.exception}")
    Thread.sleep((seconds * 1000).toLong)
    q.stop()
    val t1 = Clock.nowNs
    if (traced) {
      PerfbenchAccess.drainListeners(sc)
      sc.removeSparkListener(ctx.listener)
    }
    val created  = creationMs(ckpt)
    val progress = q.recentProgress.toSeq
    val batches = progress.map { p =>
      val st = p.stateOperators.headOption
      Map[String, Any](
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
        "late_rows" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
    }
    val consumed = progress.map(_.numInputRows).sum
    val emits    = emitted.asScala.toSeq.sortBy(_._1)
    val firstEmit = mutable.LinkedHashMap.empty[(String, Long), Long]
    val dupes = emits.iterator.flatMap { case (_, ns, rows) =>
      rows.map(r => (r.key, r.tick)).distinct.map(kt => (kt, ns))
    }.count { case (kt, ns) =>
      firstEmit.contains(kt) || { firstEmit(kt) = ns; false }
    }
    val tickSec = Base / TickMs
    val latencies = firstEmit.map { case ((_, t), ns) =>
      ns / 1e6 - (created + (t - tickSec + 1) * TickMs)
    }.toSeq
    if (traced) ctx.tracer.foreach { tr =>
      tr.add(Span(spanId, ctx.rootSpan, "job", s"TopKStreams.sliding@$rate", t0, t1))
    }
    Map[String, Any]("rate" -> rate, "tick_ms" -> TickMs, "seconds" -> seconds,
      "created_ms" -> created, "start_ns" -> t0, "stop_ns" -> t1, "consumed_rows" -> consumed,
      "batches" -> batches, "latency_ms" -> latencies, "emitted_key_ticks" -> firstEmit.size,
      "reduce_in" -> accIn.sum, "reduce_out" -> accOut.sum, "span_id" -> spanId,
      "run_id" -> q.runId.toString, "traced" -> traced) ->
      (() => judge(spark, consumed, rate, emits, dupes))
  }

  /** Exact windowed counts per (key, tick), recomputed from the consumed
    * rate values 0..n-1, judged against what the query emitted. Each
    * (key, tick) whose exact window holds data, and each one emitted, comes
    * back as [tick since the stream clock's origin, emitted, bad, recall]:
    * an emission is bad when its window holds no data or a count exceeds the
    * exact one. Which unemitted ones count as missed depends on how far the
    * watermark got, which harness.stream_verdict works out from the batches.
    */
  private def judge(spark: SparkSession, n: Long, rate: Int,
                    emits: Seq[(Long, Long, Array[TickTopK])], dupes: Int): Map[String, Any] = {
    val exact = mutable.HashMap.empty[String, mutable.HashMap[Long, mutable.HashMap[String, Long]]]
    mapRows(spark.range(n).toDF("value"), rate)
      .select(col("key"), floor(unix_millis(col("ts")) / TickMs).as("tick"), col("item"),
        col("weight"))
      .groupBy("key", "tick", "item").agg(sum("weight"))
      .collect().foreach { r =>
        exact.getOrElseUpdate(r.getString(0), mutable.HashMap.empty)
          .getOrElseUpdate(r.getLong(1), mutable.HashMap.empty)(r.getString(2)) = r.getLong(3)
      }
    def window(key: String, t: Long): Map[String, Long] = {
      val ticks = exact.getOrElse(key, mutable.HashMap.empty)
      ((t - WindowTicks + 1) to t).flatMap(ticks.get).flatten
        .groupMapReduce(_._1)(_._2)(_ + _)
    }
    val rows     = emits.flatMap(_._3).groupBy(r => (r.key, r.tick))
    val withData = exact.toSeq.flatMap { case (k, ticks) =>
      ticks.keys.flatMap(d => d until d + WindowTicks).map(t => (k, t))
    }.toSet
    val tick0 = Base / TickMs
    val notes = mutable.ArrayBuffer.empty[String]
    val keyTicks = (withData ++ rows.keySet).toSeq.sortBy(kt => (kt._2, kt._1)).map {
      case kt @ (k, t) =>
        val w = window(k, t)
        rows.get(kt).map(_.map(r => r.item -> r.count)) match {
          case None => Seq[Any](t - tick0, 0, 0, 0.0)
          case Some(got) if w.isEmpty || got.exists { case (i, c) => c > w.getOrElse(i, 0L) } =>
            if (notes.size < 3) notes += s"$k@${t - tick0} got=${got.take(3)} exact=${w.toSeq.take(3)}"
            Seq[Any](t - tick0, 1, 1, 0.0)
          case Some(got) =>
            val m   = math.min(EmitK, w.size)
            val kth = w.values.toSeq.sorted(Ordering[Long].reverse)(m - 1)
            Seq[Any](t - tick0, 1, 0, got.count { case (i, _) => w.getOrElse(i, 0L) >= kth }.min(m)
              .toDouble / m)
        }
    }
    Map("dupes" -> dupes, "key_ticks" -> keyTicks, "notes" -> notes.toSeq)
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val rows = mapRows(ctx.spark.range(200000).toDF("value"), Rates.head)
      .select("key", "item", "weight").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val items = rows.map(_._2)
    val ws    = rows.map(_._3)
    val perTick = Rates.head / Keys * 50 // adds between ticks in the add loop
    val addNs = Workload.nsPerOp(items.length) {
      val s = new SlidingSketch(cfg)
      var i = 0
      while (i < items.length) {
        s.add(items(i), ws(i))
        i += 1
        if (i % perTick == 0) s.tick()
      }
    }
    val loaded = new SlidingSketch(cfg)
    items.indices.foreach(i => loaded.add(items(i), ws(i)))
    val tickNs = Workload.nsPerOp(1, 200)(loaded.tick())
    // one key's state after a full window of its own rows, as the state
    // store holds it between batches
    val key = rows.head._1
    val st  = SlidingStreamState.fresh(cfg, key)
    rows.filter(_._1 == key).grouped(8).take(WindowTicks).foreach { g =>
      g.foreach { case (_, i, w) => st.sketch.add(i, w) }
      st.sketch.tick()
    }
    st.pending ++= rows.filter(_._1 == key).take(8).map { case (_, i, w) => (0L, i, w) }
    val codecNs = Workload.nsPerOp(1, 200)(SlidingStreamCodec.decode(SlidingStreamCodec.encode(st)))
    Map("core.sliding_add_ns" -> addNs, "core.tick_us" -> tickNs / 1e3,
      "streaming.state_codec_us" -> codecNs / 1e3)
  }
}

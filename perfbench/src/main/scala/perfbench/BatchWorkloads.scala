package perfbench

import graft.core.{Sketch, SketchCodec, SketchConfig}
import graft.operators.{Dedup, SessionTopK, SlidingTopK, TopK}
import graft.plans.{LongIntersectCount, TopKAggregates}
import graft.sources.{ScaleCorpus, TokenTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

object Inputs {
  /** Parquet files per generated input. The session scans each file as one
    * task (Main.session), so every seed gives the same task count: two
    * waves on the benchmark's cores.
    */
  val Files: Int = 2 * Main.Cpus

  /** Row count plus an order-independent hash of every column: two runs
    * with equal fingerprints read the same rows.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)"))).head()
    val s = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), (s & ((BigInt(1) << 64) - 1)).toString(16))
  }

  def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum

  def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  /** Codec layer probes on two partial blobs of the workload's own data:
    * merge of the decoded pair, encode and decode of the first.
    */
  def codec(a: Array[Byte], b: Array[Byte]): Map[String, Double] = {
    val mergeNs = median((1 to 20).map { _ =>
      val (x, y) = (SketchCodec.decode(a), SketchCodec.decode(b))
      Workload.timeNs(x.merge(y))._2.toDouble
    })
    val sk = SketchCodec.decode(a)
    Map("core.merge_us" -> mergeNs / 1e3,
      "core.encode_us" -> Workload.nsPerOp(1, 20)(SketchCodec.encode(sk)) / 1e3,
      "core.decode_us" -> Workload.nsPerOp(1, 20)(SketchCodec.decode(a)) / 1e3,
      "core.blob_bytes" -> a.length.toDouble)
  }

  /** Median wall ns of `reps` runs of a Spark action, after one warm run. */
  def actionNs(reps: Int = 3)(body: => Unit): Double = {
    body
    median((1 to reps).map(_ => Workload.timeNs(body)._2.toDouble))
  }
}

/** Global token top-K over a seeded synthetic sequence table: the
  * HeavyKeeper update loop is the largest part of the job (README,
  * Traffic), with a few dozen partial blobs merged.
  */
final class TokensTopK extends BatchWorkload {
  val name  = "tokens_topk"
  val Docs  = 10000L
  val Vocab = 50000
  val K     = 100
  val cfg   = SketchConfig.withDefaults(K, width = 8192, depth = 4)
  private var df: DataFrame = _
  private var exact: Map[String, Long] = Map.empty
  private var exactTop: Array[(String, Long)] = Array.empty
  private var dir = ""

  def generate(spark: SparkSession, seed: Long, d: String): Unit =
    TokenTables.synthetic(spark, Docs, vocab = Vocab, seed = seed,
      numPartitions = Inputs.Files)
      .write.parquet(d)

  def load(spark: SparkSession, d: String): Unit = { dir = d; df = spark.read.parquet(d) }

  def prepare(ctx: Ctx, seed: Long): Map[String, Any] = {
    exact = TopK.exact(TokenTables.tokenUpdates(df), col("item"), col("weight"), Vocab + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exactTop = exact.toArray.sortBy { case (i, c) => (-c, i) }.take(K)
    val (n, fp) = Inputs.fingerprint(df)
    Map("rows" -> exact.values.sum, "docs" -> n, "fingerprint" -> fp,
      "bytes" -> Inputs.dirBytes(dir), "row_unit" -> "token")
  }

  def calls: Seq[Call] = Seq(Call("TopK.tokensArray",
    () => TopK.tokensArray(df, col("tokens"), cfg).collect().map(r => (r.getString(0), r.getLong(1))),
    res => check(res.asInstanceOf[Array[(String, Long)]])))

  private def check(top: Array[(String, Long)]): Outcome = {
    val over  = top.filter { case (i, c) => c > exact.getOrElse(i, 0L) }
    val order = top.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    val kth   = exactTop.last._2
    val hits  = top.count { case (i, _) => exact.getOrElse(i, 0L) >= kth }
    val got   = top.toMap
    val err   = exactTop.map { case (i, c) => math.abs(c - got.getOrElse(i, 0L)).toDouble / c }.max
    val bad   = top.length != K || over.nonEmpty || !order
    Outcome(1, if (bad) 1 else 0, hits.toDouble / K, err,
      if (bad) s"rows=${top.length} overestimates=${over.take(3).mkString(",")} ordered=$order" else "")
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val rows   = exact.values.sum.toDouble
    val sample = df.select(explode(col("tokens"))).limit(1000000).collect().map(_.getInt(0))
    var hits   = 0L
    val addNs  = Workload.nsPerOp(sample.length) {
      val s = new Sketch(cfg)
      hits = 0L
      var i = 0
      while (i < sample.length) { if (s.addToken(sample(i), 1L)) hits += 1; i += 1 }
    }
    val half  = sample.length / 2
    def build(from: Int, until: Int): Array[Byte] = {
      val s = new Sketch(cfg)
      var i = from
      while (i < until) { s.addToken(sample(i), 1L); i += 1 }
      SketchCodec.encode(s)
    }
    val bufCfg   = cfg.copy(k = cfg.k * 4)
    val one      = df.coalesce(1)
    val floorNs  = Inputs.actionNs()(one.agg(sum(size(col("tokens")))).collect())
    val aggNs    = Inputs.actionNs()(one.agg(TopKAggregates.tokensTopK(col("tokens"), bufCfg, K)).collect())
    val scanNs   = Inputs.actionNs()(df.agg(sum(size(col("tokens")))).collect())
    Inputs.codec(build(0, half), build(half, sample.length)) ++ Map(
      "sources.scan_ns_per_row" -> scanNs / rows,
      "core.add_ns" -> addNs, "core.add_heap_hit_ratio" -> hits.toDouble / sample.length,
      "plans.agg_ns_per_row" -> (aggNs - floorNs) / rows)
  }
}

/** Hourly sliding windows and gap sessions over seeded user events: many
  * groups, N-fold blob fan-out, codec decode and merge, adaptive buffers.
  * Twenty event types on a 1024-wide sketch collide in no row, so every
  * answer must equal the exact one.
  */
final class EventsWindows extends BatchWorkload {
  val name        = "events_windows"
  val Users       = 5000L
  val PerUser     = 40
  val WindowTicks = 6
  val GapSeconds  = 3600L
  val K           = 20
  val cfg         = SketchConfig.withDefaults(32, width = 1024, depth = 3)
  private var df: DataFrame = _
  private var dir = ""
  private var refTick: (Long, String) = _
  private var refSess: (Long, String) = _
  private var refTickDf: DataFrame = _
  private var refSessDf: DataFrame = _

  private def tickCol = floor(unix_millis(col("ts")) / 3600000L).cast("long")

  def generate(spark: SparkSession, seed: Long, d: String): Unit =
    ScaleCorpus.events(spark, Users, PerUser, seed, numPartitions = Inputs.Files)
      .write.parquet(d)

  def load(spark: SparkSession, d: String): Unit = { dir = d; df = spark.read.parquet(d) }

  private def tickView(out: DataFrame): DataFrame =
    out.select(col("tick").cast("long"), col("item").cast("string"), col("count").cast("long"))

  private def sessView(out: DataFrame): DataFrame =
    out.select(col("key").cast("long"), col("session_start"), col("session_end"),
      col("item").cast("string"), col("count").cast("long"))

  /** Exact answers, computed on the driver from the collected events:
    * per-tick window counts over present ticks, and gap sessions that
    * continue when the gap equals `GapSeconds`.
    */
  def prepare(ctx: Ctx, seed: Long): Map[String, Any] = {
    val spark  = ctx.spark
    val events = df.select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getString(2)))
    val perTick = events.groupMapReduce(e => (Math.floorDiv(e._2, 3600000L), e._3))(_ => 1L)(_ + _)
    val ticks   = perTick.keys.map(_._1).toSeq.distinct.sorted
    val items   = perTick.keys.map(_._2).toSeq.distinct
    val tickRows = for {
      t <- ticks; i <- items
      c = ((t - WindowTicks + 1) to t).map(u => perTick.getOrElse((u, i), 0L)).sum
      if c > 0
    } yield (t, i, c)
    val gapMs = GapSeconds * 1000L
    val sessRows = events.groupBy(_._1).toSeq.flatMap { case (user, evs) =>
      val sorted   = evs.sortBy(_._2)
      val sessions = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer(sorted.head))
      sorted.tail.foreach { e =>
        if (e._2 > sessions.last.last._2 + gapMs) sessions += scala.collection.mutable.ArrayBuffer(e)
        else sessions.last += e
      }
      sessions.toSeq.flatMap { ss =>
        val (start, end) = (new java.sql.Timestamp(ss.head._2), new java.sql.Timestamp(ss.last._2 + gapMs))
        ss.groupMapReduce(_._3)(_ => 1L)(_ + _).map { case (i, c) => (user, start, end, i, c) }
      }
    }
    import spark.implicits._
    refTickDf = tickView(tickRows.toDF("tick", "item", "count"))
    refSessDf = sessView(sessRows.toDF("key", "session_start", "session_end", "item", "count"))
    refTick = Inputs.fingerprint(refTickDf)
    refSess = Inputs.fingerprint(refSessDf)
    val (n, fp) = Inputs.fingerprint(df)
    Map("rows" -> n, "fingerprint" -> fp, "bytes" -> Inputs.dirBytes(dir), "row_unit" -> "event",
      "ref_tick_rows" -> refTick._1, "ref_session_rows" -> refSess._1)
  }

  private def perTick: DataFrame = tickView(SlidingTopK.perTick(df, tickCol, col("event_type"),
    lit(1L), WindowTicks, cfg, K))

  private def sessions: DataFrame = sessView(SessionTopK.aggregateGap(df, col("user_id"),
    col("ts"), GapSeconds, col("event_type"), lit(1L), cfg.copy(k = K)))

  /** Equal digests mean equal row multisets; otherwise recall is the share
    * of reference rows found, computed outside the timing.
    */
  private def judge(got: (Long, String), ref: (Long, String), out: => DataFrame,
                    refDf: DataFrame): Outcome =
    if (got == ref) Outcome(1, 0, 1.0, 0.0)
    else {
      val found = out.intersectAll(refDf).count()
      Outcome(1, 1, found.toDouble / ref._1, 1.0, s"digest $got != reference $ref")
    }

  def calls: Seq[Call] = Seq(
    Call("SlidingTopK.perTick", () => Inputs.fingerprint(perTick),
      r => judge(r.asInstanceOf[(Long, String)], refTick, perTick, refTickDf)),
    Call("SessionTopK.aggregateGap", () => Inputs.fingerprint(sessions),
      r => judge(r.asInstanceOf[(Long, String)], refSess, sessions, refSessDf)))

  def layers(ctx: Ctx): Map[String, Double] = {
    val items  = df.select(col("event_type")).limit(1000000).collect().map(_.getString(0))
    val rows   = items.length.toDouble
    var hits   = 0L
    val addNs  = Workload.nsPerOp(items.length) {
      val s = new Sketch(cfg)
      hits = 0L
      var i = 0
      while (i < items.length) { if (s.add(items(i), 1L)) hits += 1; i += 1 }
    }
    // one blob per hourly tick, as perTick's partial aggregate builds them
    val perTickBlobs = df.groupBy(tickCol.as("tick"))
      .agg(TopKAggregates.sketchBytes(col("event_type"), lit(1L), cfg).as("b"))
      .collect().map(_.getAs[Array[Byte]](1))
    val one      = df.coalesce(1)
    val nRows    = df.count().toDouble
    val floorNs  = Inputs.actionNs()(one.agg(count(col("event_type"))).collect())
    val aggNs    = Inputs.actionNs()(one.agg(TopKAggregates.itemsTopK(col("event_type"), lit(1L),
      cfg, K)).collect())
    val scanNs   = Inputs.actionNs()(df.agg(count(col("event_type"))).collect())
    Inputs.codec(perTickBlobs(0), perTickBlobs(1)) ++ Map(
      "sources.scan_ns_per_row" -> scanNs / nRows,
      "core.add_ns" -> addNs, "core.add_heap_hit_ratio" -> hits / rows,
      "plans.items_agg_ns_per_row" -> (aggNs - floorNs) / nRows)
  }
}

/** MinHash LSH candidates and exact-Jaccard verification at 0.8 over a
  * seeded corpus with planted near-duplicates. No sketch code runs.
  */
final class DocsMinhash extends BatchWorkload {
  val name      = "docs_minhash"
  val Docs      = 3000L
  val Threshold = 0.8
  val Shingle   = 5
  private var df: DataFrame = _
  private var dir = ""
  private var shingles: Array[Array[Long]] = Array.empty
  private var refPairs: Set[(Long, Long)] = Set.empty

  def generate(spark: SparkSession, seed: Long, d: String): Unit =
    ScaleCorpus.documents(spark, Docs, seed, numPartitions = Inputs.Files)
      .write.parquet(d)

  def load(spark: SparkSession, d: String): Unit = { dir = d; df = spark.read.parquet(d) }

  /** Distinct character 5-shingles, each packed exactly into a long. */
  private def shingleSet(text: String): Array[Long] = {
    require(text.forall(_ < 256), "reference shingles pack 8-bit characters only")
    val out = new Array[Long](math.max(0, text.length - Shingle + 1))
    var i = 0
    while (i < out.length) {
      var v = 0L
      var j = 0
      while (j < Shingle) { v = (v << 8) | text.charAt(i + j); j += 1 }
      out(i) = v
      i += 1
    }
    out.distinct.sorted
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  def prepare(ctx: Ctx, seed: Long): Map[String, Any] = {
    shingles = new Array[Array[Long]](Docs.toInt)
    df.select(col("doc_id"), col("text")).collect().foreach { r =>
      shingles(r.getLong(0).toInt) = shingleSet(r.getString(1))
    }
    // ScaleCorpus plants ordinals 10m, 10m+1 and 10m+2 as one cluster;
    // all other documents are independent draws
    refPairs = (0L until Docs by 10).flatMap { m =>
      Seq((m, m + 1), (m, m + 2), (m + 1, m + 2))
    }.filter { case (a, b) => b < Docs && jaccard(shingles(a.toInt), shingles(b.toInt)) >= Threshold }
      .toSet
    val (n, fp) = Inputs.fingerprint(df)
    Map("rows" -> n, "fingerprint" -> fp, "bytes" -> Inputs.dirBytes(dir), "row_unit" -> "doc",
      "ref_pairs" -> refPairs.size)
  }

  private def candidates: DataFrame = Dedup.minhashLshPairs(df, col("doc_id"), col("text"),
    shingleSize = Shingle, threshold = 0.6, sizeFilter = Some(Threshold))

  private def verified(cands: DataFrame): DataFrame =
    Dedup.exactJaccard(cands.select("a", "b"), df, shingleSize = Shingle)
      .where(col("jaccard") >= Threshold)

  def calls: Seq[Call] = Seq(Call("Dedup.minhashLshPairs+exactJaccard",
    () => verified(candidates).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
    res => check(res.asInstanceOf[Array[(Long, Long, Double)]])))

  private def check(pairs: Array[(Long, Long, Double)]): Outcome = {
    val wrong = pairs.filter { case (a, b, j) =>
      val mine = jaccard(shingles(a.toInt), shingles(b.toInt))
      a >= b || mine < Threshold || math.abs(mine - j) > 0.01
    }
    val got   = pairs.map(p => (p._1, p._2)).toSet
    val dupes = pairs.length - got.size
    val found = refPairs.count(got.contains)
    val bad   = wrong.nonEmpty || dupes > 0
    Outcome(1, if (bad) 1 else 0, found.toDouble / math.max(1, refPairs.size), 0.0,
      if (bad) s"wrong=${wrong.take(3).mkString(",")} duplicates=$dupes" else "")
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val cands = candidates.localCheckpoint(eager = false)
    val (nCand, candNs) = Workload.timeNs(cands.count())
    val (nVer, verNs)   = Workload.timeNs(verified(cands).count())
    val pairs = refPairs.toArray.take(2000).map { case (a, b) =>
      (UnsafeArrayData.fromPrimitiveArray(shingles(a.toInt)),
        UnsafeArrayData.fromPrimitiveArray(shingles(b.toInt)))
    }
    val interNs = Workload.nsPerOp(pairs.length, 20) {
      var i = 0
      while (i < pairs.length) { LongIntersectCount.count(pairs(i)._1, pairs(i)._2); i += 1 }
    }
    val nRows  = Docs.toDouble
    val scanNs = Inputs.actionNs()(df.agg(sum(length(col("text")))).collect())
    Map("sources.scan_ns_per_row" -> scanNs / nRows,
      "plans.intersect_ns_per_pair" -> interNs,
      "operators.dedup_candidates" -> nCand.toDouble, "operators.dedup_verified" -> nVer.toDouble,
      "operators.dedup_useful_ratio" -> nVer.toDouble / math.max(1L, nCand),
      "operators.dedup_candidate_s" -> candNs / 1e9, "operators.dedup_verify_s" -> verNs / 1e9)
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It builds each workload's input from the seed
  * it is given, times calls into graft's public functions from outside,
  * checks every answer, and writes the raw samples as one JSON file;
  * run.py turns them into metrics.
  *
  * Arguments: --workload name:seed (repeatable) --seconds S --trace 0|1
  * --work DIR --out FILE
  */
object Main {

  /** Spark runs at local[Cpus]: at most four cores, and never more than the box has. */
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Set-ups per workload; setup_s is their median. */
  val Setups = 3

  final case class Opts(workloads: Seq[(String, Long)], seconds: Double, trace: Boolean,
                        work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val ws = ArrayBuffer.empty[(String, Long)]
    var o  = Opts(Nil, 10, trace = false, "", "")
    args.grouped(2).foreach {
      case Array("--workload", v) =>
        val Array(n, s) = v.split(":", 2)
        ws += n -> s.toLong
      case Array("--seconds", v) => o = o.copy(seconds = v.toDouble)
      case Array("--trace", v)   => o = o.copy(trace = v == "1")
      case Array("--work", v)    => o = o.copy(work = v)
      case Array("--out", v)     => o = o.copy(out = v)
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    require(ws.nonEmpty && o.work.nonEmpty && o.out.nonEmpty, "need --workload, --work and --out")
    require(o.seconds > 0, s"bad options $o")
    o.copy(workloads = ws.toSeq)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one scan task per input file: with the open cost at the split size
      // no two files share a task, and the inputs are far below it, so the
      // task count is the file count, whatever the seed's file sizes
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.files.openCostInBytes", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    new File(o.work).mkdirs()
    val results = o.workloads.map { case (name, seed) =>
      val wl = Workload(name)
      name -> new Runner(o, wl, seed).run()
    }
    val host = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> Cpus,
      "master" -> s"local[$Cpus]",
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "old_gen_pool" -> HeapProbe.poolName)
    val doc = Map[String, Any]("host" -> host, "workloads" -> results.toMap)
    Files.write(new File(o.out).toPath, Json.write(doc).getBytes(StandardCharsets.UTF_8))
  }
}

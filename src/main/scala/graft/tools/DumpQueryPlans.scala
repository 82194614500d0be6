package graft.tools

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named SparkEntry queries (plus
  * the bench token jobs) to `<outDir>/<name>_<suffix>.txt` — the
  * before/after plan evidence for optimization rounds. Uses Bench's exact
  * session confs; executes each query first so the FINAL adaptive plan
  * (AQE join choices, ReusedExchange) is what gets dumped.
  *
  * Usage: runMain graft.tools.DumpQueryPlans <sfDir> <outDir> <suffix> <name...>
  */
object DumpQueryPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: DumpQueryPlans <sfDir> <outDir> <suffix> <name...>")
    val sfDir  = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names  = args.drop(3).toSeq
    val spark  = graft.BenchSession.create()
    Files.createDirectories(Paths.get(outDir))

    import org.apache.spark.sql.DataFrame
    lazy val benchDir = graft.Bench.ensureBenchTable(spark)._1
    def tokenDf(name: String): Option[DataFrame] = name match {
      case "tokens_exact_top100" => Some(graft.operators.TopK.exact(
        graft.sources.TokenTables.tokenUpdates(spark.read.parquet(benchDir)),
        org.apache.spark.sql.functions.col("item"),
        org.apache.spark.sql.functions.col("weight"), 100))
      case "tokens_topk_k10_w1024_d3" => Some(graft.operators.TopK.tokensArray(
        spark.read.parquet(benchDir), org.apache.spark.sql.functions.col("tokens"),
        graft.Bench.cfgLight))
      case "tokens_topk_k100_w8192_d4" => Some(graft.operators.TopK.tokensArray(
        spark.read.parquet(benchDir), org.apache.spark.sql.functions.col("tokens"),
        graft.Bench.cfgHeavy))
      case _ => None
    }

    names.foreach { name =>
      val df = tokenDf(name).getOrElse {
        graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'"))(spark, sfDir)
      }
      df.collect() // final adaptive plan
      val bos = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(bos)) { df.explain("formatted") }
      val path = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.writeString(path, bos.toString)
      println(s"[dumpplans] wrote $path (${bos.size()} bytes)")
    }
    spark.stop()
  }
}

package graft.tools

/** Isolated re-measure of named SparkEntry queries with Bench's exact confs —
  * the tool to run before believing (or disbelieving) any BENCH_rN.json
  * number: `runMain graft.tools.TimeQuery <sfDir> <reps> <name> [name ...]`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQuery <sfDir> <reps> <name> [name ...]")
    val sfDir = args(0)
    val reps  = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.BenchSession.create()
    // the four tokens_* bench jobs run on the synthetic bench table, so the
    // full BENCH_LOCAL_BASELINE key set regenerates from this one tool
    lazy val benchDir = graft.Bench.ensureBenchTable(spark)._1
    val tokenJobs: Map[String, () => Unit] = Map(
      "tokens_topk_k10_w1024_d3"  -> (() => { graft.Bench.tokenTopK(spark, benchDir, graft.Bench.cfgLight); () }),
      "tokens_topk_k100_w8192_d4" -> (() => { graft.Bench.tokenTopK(spark, benchDir, graft.Bench.cfgHeavy); () }),
      "tokens_topk_explode_path"  -> (() => { graft.Bench.tokenTopKExplode(spark, benchDir, graft.Bench.cfgLight); () }),
      "tokens_exact_top100"       -> (() => { graft.Bench.tokenExact(spark, benchDir, 100); () }))
    val runs: Seq[(String, () => Unit)] = names.map { name =>
      name -> (tokenJobs.get(name) match {
        case Some(job) => job
        case None =>
          val fn = graft.SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query '$name'; known: ${(graft.SparkEntry.queries.keys ++ tokenJobs.keys).toSeq.sorted.mkString(", ")}"))
          () => { fn(spark, sfDir).collect(); () }
      })
    }
    // warmup every query first (JIT/codegen/footers), then time with reps
    // INTERLEAVED ACROSS QUERIES — back-to-back reps of one query all land
    // inside one co-tenant contention window (the round-3 bench failure
    // mode), and this tool's minima become the floor-guard baseline, where
    // an inflated floor silently disarms the guard
    runs.foreach { case (name, run) =>
      if (tokenJobs.contains(name)) run()
      else graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
    }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; (name, run) <- runs)
      samples(name) ::= graft.Bench.time(run())._2
    runs.foreach { case (name, _) =>
      val times = samples(name).reverse
      println(f"[timequery] $name%-28s min=${times.min}%.2f s  all=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

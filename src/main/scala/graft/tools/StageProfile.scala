package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage wall/task-time attribution for a named SparkEntry query (or
  * bench token job): which stages a query's seconds actually go to — the
  * local stand-in for the Spark UI's stage table (guide §7.1; UI is disabled
  * in bench sessions).
  *
  * Usage: runMain graft.tools.StageProfile <sfDir> <reps> <name>
  */
object StageProfile {
  final case class StageRow(id: Int, name: String, wallMs: Long, taskMs: Long,
                            tasks: Int, shuffleReadMB: Double, shuffleWriteMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StageProfile <sfDir> <reps> <name>")
    val sfDir = args(0)
    val reps  = args(1).toInt
    val name  = args(2)
    val spark = graft.BenchSession.create()

    lazy val benchDir = graft.Bench.ensureBenchTable(spark)._1
    val run: () => Unit = name match {
      case "tokens_exact_top100" => () => { graft.Bench.tokenExact(spark, benchDir, 100); () }
      case "tokens_topk_k100_w8192_d4" => () => { graft.Bench.tokenTopK(spark, benchDir, graft.Bench.cfgHeavy); () }
      case "tokens_topk_explode_path" => () => { graft.Bench.tokenTopKExplode(spark, benchDir, graft.Bench.cfgLight); () }
      case _ =>
        val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
        () => { fn(spark, sfDir).collect(); () }
    }

    // warmup on the tiny SF (JIT/codegen), as Bench does
    if (graft.SparkEntry.queries.contains(name))
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
    else run()

    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.synchronized {
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorRunTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    }

    for (rep <- 1 to reps) {
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val (_, sec) = graft.Bench.time(run())
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"%n[stageprof] $name rep$rep total=$sec%.2f s, ${stages.size} stages")
      println(f"[stageprof] ${"id"}%4s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%5s ${"shR_MB"}%7s ${"shW_MB"}%7s  name")
      stages.sortBy(-_.wallMs).foreach { s =>
        println(f"[stageprof] ${s.id}%4d ${s.wallMs}%8d ${s.taskMs}%8d ${s.tasks}%5d ${s.shuffleReadMB}%7.1f ${s.shuffleWriteMB}%7.1f  ${s.name}")
      }
    }
    spark.stop()
  }
}

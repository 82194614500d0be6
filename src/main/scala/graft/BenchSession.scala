package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the bench and of the tools that re-measure its
  * numbers (`Bench`, `tools.TimeQuery`, `tools.StageProfile`,
  * `tools.DumpQueryPlans`): `local[SPARK_GRAFT_CPUS]` (default 32) with the
  * bench's confs, so a tool's timing or plan is the bench's.
  */
object BenchSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // the bench table is small but many-filed; size scan splits for full
      // parallelism (at 100 TB the defaults already yield thousands of splits)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      // engine-recommended (see SessionTopK): keep many-small-groups
      // aggregations in object-hash mode
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

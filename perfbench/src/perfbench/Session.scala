package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession: a key-for-key copy of the conf that
  * `graft.Bench` builds (with its environment overrides unset), so the
  * plans timed here are the plans `graft.Bench` times. The JVM flags that
  * `tools/run.sh` adds (UTC session zone, UI off, 512m code cache) are set
  * by `perfbench/run.py` on the java command line, as run.sh does.
  *
  * This is a copy to retire once the repository has one session factory
  * (ROADMAP D1, `GraftSession.build`): then call that instead. */
object Session {
  def build(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1500")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

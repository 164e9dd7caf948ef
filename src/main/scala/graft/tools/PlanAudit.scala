package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: dump formatted plans for scan/join-strategy auditing. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSet else Set[String]()
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, dir)
          // SPARK_GRAFT_PLAN_EXEC=true: run the query and print the FINAL
          // adaptive plan — the only place ReusedExchange/AQEShuffleRead
          // are visible (the formatted initial plan expands duplicate
          // subtrees that AQE deduplicates at runtime)
          if (sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("true")) {
            val qe = df.queryExecution
            qe.toRdd.foreach(_ => ())
            println(qe.executedPlan.toString)
          } else println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}

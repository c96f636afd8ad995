package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time named queries in isolation.
  * Usage: runMain graft.TimeOne <sfDir> <query>[,query...] [reps]
  * Warms each query at sf0.001 first (JIT), then times `reps` runs.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-timeone")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, "/root/testdata/sf0.001").count() // warm
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[timeone] $n%-24s min=${times.min}%8.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

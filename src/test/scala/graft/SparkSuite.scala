package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites (spark_guide.md:
  * one SparkSession per suite, getOrCreate shares across the forked test
  * JVM).
  */
trait SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Number of Spark jobs `f` launches on this thread (tagged by job group). */
  def jobsOf(group: String)(f: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
    Thread.sleep(300) // status tracker is fed asynchronously
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  /** Number of Spark tasks (over all stages of all jobs) `f` launches. */
  def tasksOf(group: String)(f: => Unit): Int = {
    jobsOf(group)(f)
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo).flatMap(_.stageIds)
      .flatMap(st.getStageInfo).map(_.numTasks).sum
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole ScalaTest run (suites are sequential
  * in the forked test JVM; a session per suite would dominate runtime).
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  /** `body`'s result and the Spark jobs it ran, each named by its first
    * stage. The listener bus is drained on both sides, so earlier jobs
    * never leak in.
    */
  def jobsDuring[A](body: => A): (A, List[String]) = {
    val sc = spark.sparkContext
    def drain(): Unit =
      org.apache.spark.graftshim.CoreShims.drainListenerBus(sc)
    val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs ++= e.stageInfos.map(_.name).take(1)
        }
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val out = body
      drain()
      (out, jobs.synchronized(jobs.toList))
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the Dataset actions it ran (`count`,
    * `collect`, `save`, …), named as a `QueryExecutionListener` sees
    * them. A job-name filter cannot stand in for this: under adaptive
    * execution most jobs are named after an executor thread, not the
    * action.
    */
  def actionsDuring[A](body: => A): (A, List[String]) = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        actions.synchronized { actions += funcName }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.graftshim.CoreShims
        .drainListenerBus(spark.sparkContext)
      (out, actions.synchronized(actions.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}

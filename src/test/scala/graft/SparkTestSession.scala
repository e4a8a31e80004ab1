package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide; suites run in one fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs `body` starts on this thread, counted by a listener. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, seen) = during(spark)(body)
    (out, seen.jobs)
  }

  /** What `body` starts on this thread: its job count and the stages it
    * completed.
    */
  final case class Seen(jobs: Int, stages: Seq[StageInfo])

  /** Jobs and completed stages `body` starts on this thread, seen by a
    * listener. A barrier job after `body` proves the listener has seen
    * every earlier event.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seen) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    def groupOf(p: java.util.Properties): String =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.incrementAndGet(); ()
        case g if g == group + "-barrier" => barrier.countDown()
        case _ => ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) ours.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId)) stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobGroup(group + "-barrier", "barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the barrier job")
      (out, Seen(jobs.get, stages.asScala.toSeq))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

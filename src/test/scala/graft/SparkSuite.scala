package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSuite extends AnyFunSuite {
  /** The session the mains run, at 4 cores whatever
    * SPARK_GRAFT_CPUS says, so plan gates see 4 shuffle partitions.
    */
  lazy val spark: SparkSession = GraftSession.build(cores = 4)

  val sfDir = "/root/testdata/sf0.001"

  def sc = { spark.sparkContext.setLogLevel("WARN"); spark }

  /** Runs `body` under a job group of its own and returns what it made
    * Spark launch: the stages of its jobs and the type of every task
    * that ran (`ShuffleMapTask` or `ResultTask`). A stage that ran is
    * reported as its submitted attempt, which carries the stage's task
    * metrics; a stage a job skipped (its shuffle output already there)
    * has null `taskMetrics`. Listener delivery is asynchronous, so a
    * marker job in another group runs after `body`; once its start is
    * delivered, every event `body` caused has been too.
    */
  def launched[A](body: => A): (A, Seq[org.apache.spark.scheduler.StageInfo], Seq[String]) = {
    import org.apache.spark.scheduler._
    val ctx = spark.sparkContext
    val group = s"launched-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageInfo]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageInfos.foreach(s => stages.put(s.stageId, s))
          case Some(`marker`) => flushed.countDown()
          case _ => ()
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (stages.containsKey(e.stageInfo.stageId)) stages.put(e.stageInfo.stageId, e.stageInfo)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.containsKey(e.stageId)) tasks.add(e.taskType)
    }
    ctx.addSparkListener(listener)
    try {
      ctx.setJobGroup(group, group)
      val result = try body finally ctx.clearJobGroup()
      ctx.setJobGroup(marker, marker)
      try ctx.parallelize(Seq(1), 1).count() finally ctx.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      import scala.jdk.CollectionConverters._
      (result, stages.values.asScala.toSeq.sortBy(_.stageId), tasks.asScala.toSeq)
    } finally ctx.removeSparkListener(listener)
  }

  /** Runs `body` with the log4j2 logger `logger` at WARN and returns
    * its result plus the messages of every WARN or worse that logger
    * emitted meanwhile.
    */
  def warnsLogged[A](logger: String)(body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"warns-${java.util.UUID.randomUUID}", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = LogManager.getLogger(logger).asInstanceOf[Logger]
    val level = log.getLevel
    log.addAppender(appender)
    log.setLevel(Level.WARN)
    val result =
      try body
      finally {
        log.removeAppender(appender)
        log.setLevel(level)
        appender.stop()
      }
    (result, warns.asScala.toSeq)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (Spark startup is ~2s;
  * per-suite sessions would dominate test time), on the same
  * [[GraftSession]] profile the mains run, pinned to four cores. */
object TestSpark {
  val Cores = 4
  lazy val spark: SparkSession = {
    val s = GraftSession.start(Cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One Spark job: its id, its job tags and the task count of each of its
  * stages (a job that reads a shuffle has more than one stage). */
final case class SeenJob(id: Int, tags: Seq[String], stageTasks: Seq[Int])

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.jdk.CollectionConverters._

  /** Tiny employees fixture with a NULL department row — exercises the
    * Mongo null semantics paths (SURVEY.md §7.4.1). */
  lazy val employees: DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("emp_id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("age", DoubleType, nullable = true),
      StructField("department", StringType, nullable = true),
      StructField("salary", DoubleType, nullable = true),
      StructField("experience_years", DoubleType, nullable = true)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "Ada", 35.0, "engineering", 90000.0, 12.0),
      org.apache.spark.sql.Row(2L, "Bob", 28.0, "sales", 50000.0, 4.0),
      org.apache.spark.sql.Row(3L, "Cat", 45.0, "marketing", 70000.0, 20.0),
      org.apache.spark.sql.Row(4L, "Dan", 35.0, null, 50000.0, 8.0),
      org.apache.spark.sql.Row(5L, "Eve", 52.0, "hr", 120000.0, 30.0))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Run `body` with SQL confs toggled, restoring each key's prior value
    * (or unsetting it) afterwards, so a scoped toggle never overrides the
    * [[GraftSession]] profile for the suites that run after it. */
  def withConf[T](pairs: (String, String)*)(body: => T): T =
    GraftSession.withConf(spark, pairs: _*)(body)

  def ids(df: DataFrame): Seq[Long] =
    df.select("emp_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Every Spark job started while `body` ran. The listener bus is
    * asynchronous but ordered, so once a sentinel job submitted after
    * `body` is seen, every earlier job has been too. */
  def jobsDuring(body: => Unit): Seq[SeenJob] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SeenJob]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(SeenJob(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSeq).getOrElse(Nil),
          e.stageInfos.map(_.numTasks))): Unit
    }
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      body
      sc.addJobTag(sentinel)
      try spark.range(1).count() finally sc.removeJobTag(sentinel)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_.tags.contains(sentinel)) &&
             System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    seen.asScala.filterNot(_.tags.contains(sentinel)).toSeq
  }
}

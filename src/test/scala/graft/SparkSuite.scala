package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sbt forks once). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` launches. A marker job flushes the listener bus
    * first, so every job of `body` is counted before this returns. */
  protected def jobsDuring(body: => Unit): Int = {
    val marker = "graft-jobs-during-flush"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
        else if (flushed.getCount > 0) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never flushed")
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Run `body` with session conf `key` set to `value` (None: as
    * configured), restored afterwards. A stream copies the session conf
    * when it starts, so the setting covers every stream `body` starts. */
  protected def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val old = spark.conf.getOption(key)
    value.foreach(spark.conf.set(key, _))
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** [[withConf]] for `spark.sql.autoBroadcastJoinThreshold`, the bound
    * under which a foreachBatch sink reads its micro-batch as driver rows
    * (`Streams.batchFrame`). -1 puts every micro-batch of every sink over
    * the bound, on the persisted path. */
  protected def withBroadcastThreshold[T](value: Option[String])(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", value)(body)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}

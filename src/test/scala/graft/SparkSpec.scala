package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Run `body` with the given SQL confs set, restoring prior values
    * after (the shared session outlives each spec). */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Each job `body` runs on this thread: its description (None if
    * none was set) and its stage names. Only the job group marks
    * `body`'s jobs; the description is left as the code under test sets
    * it. A fence job run after `body` bounds the listener events to
    * wait for. */
  def jobsOf(body: => Unit): Seq[SparkSpec.Job] = {
    val sc = spark.sparkContext
    val group = "jobsOf-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkSpec.Job)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add((prop("spark.jobGroup.id").orNull,
          SparkSpec.Job(prop("spark.job.description"), e.stageInfos.map(_.name))))
      }
    }
    def inGroup(g: String)(run: => Unit): Unit = {
      sc.setLocalProperty("spark.jobGroup.id", g)
      try run finally sc.setLocalProperty("spark.jobGroup.id", null)
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(group + "-fence")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(_._1 == group + "-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    seen.asScala.collect { case (g, job) if g == group => job }.toSeq
  }

  private var tempRoot: Option[java.nio.file.Path] = None

  /** A new directory under this suite's own temp directory, which
    * `afterAll` deletes with everything in it. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try synchronized(tempRoot.foreach(r => org.apache.commons.io.FileUtils.deleteDirectory(r.toFile)))
    finally super.afterAll()
}

object SparkSpec {
  /** A Spark job as [[SparkSpec#jobsOf]] saw it. */
  final case class Job(description: Option[String], stages: Seq[String])

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

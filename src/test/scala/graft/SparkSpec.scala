package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** shared local SparkSession fixture, plus temp dirs the suite deletes
  * when it ends */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** a fresh dir in the system temp dir, deleted with everything under
    * it after the suite's last test */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => SparkSpec.deleteRecursively(d.toFile))
    finally super.afterAll()
}

/** records the start properties and outcome of every Spark job while
  * registered. The listener bus delivers asynchronously but in order,
  * so [[flush]] runs a marker job and waits for its end event: every
  * job that started before it has been recorded by then.
  */
final class JobRecorder(spark: SparkSession)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val sc = spark.sparkContext
  val started =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, java.util.Properties)]()
  val ended =
    new java.util.concurrent.ConcurrentHashMap[Int, JobResult]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started.add((e.jobId, e.properties))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ended.put(e.jobId, e.jobResult)

  private def group(p: java.util.Properties): String =
    Option(p).map(_.getProperty("spark.jobGroup.id")).orNull

  /** (job id, properties) of the jobs started under `jobGroup` */
  def jobsOf(jobGroup: String): Seq[(Int, java.util.Properties)] = {
    import scala.jdk.CollectionConverters._
    started.asScala.toSeq.filter(j => group(j._2) == jobGroup)
  }

  def flush(): Unit = {
    val marker = s"flush-${java.util.UUID.randomUUID}"
    val t = new Thread(() => {
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
    })
    t.start(); t.join()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobsOf(marker).exists(j => ended.containsKey(j._1))) {
      require(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(5)
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object SparkSpec {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every executed test doubles as a codegen-compile gate: a
      // janino failure throws instead of silently interpreting the
      // stage (the r13 PQ ADC fold fell back unnoticed for 2 rounds)
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

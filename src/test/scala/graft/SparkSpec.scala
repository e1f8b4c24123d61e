package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite, lazy), and the one owner
  * of a suite's scratch dirs: [[scratchDir]] registers each dir it makes and
  * `afterAll` deletes them when the suite ends.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh empty `graft-<name>*` dir under the JVM temp dir, deleted
    * with everything in it when the suite ends.
    */
  protected def scratchDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toString
    scratchDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try scratchDirs.forEach(d => graft.io.MetaIO.deleteRecursively(d))
    finally super.afterAll()
}

object SparkSpec {
  /** Names of the `graft-*` entries under the JVM temp dir. */
  def graftDirs(): Set[String] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft-")).toSet
    } finally s.close()
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the config-driven extension path: the whole suite runs with
      // GraftExtensions active, so its injections (SQL function + planner
      // strategy) are exercised the way a production cluster enables them
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

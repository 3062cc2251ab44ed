package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests run on the sf0.001 fixtures).
  */
object SparkSuite {
  val sf: String = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // VERDICT r19 task 6: the suite exercises the same whitelisted global
    // windows as the mains; without the filter the `sbt test` tail is pure
    // WindowExec "No Partition Defined" spam. The filter is message-exact
    // (Harness.scala), so WindowLintSpec remains the proof the silenced
    // warnings are benign while every other window WARN still surfaces.
    Harness.quietBenignWindowWarns()
    s
  }

  /** The session every main runs on: [[Harness.session]], so
    * GraftExtensions' native functions and top-k rewrite are installed.
    * It is built beside the stock `spark`, which stays the reference side
    * of every comparison and the JVM's default and active session.
    */
  lazy val graft: SparkSession = {
    val stock = spark
    val s = Harness.session(4)
    SparkSession.setDefaultSession(stock)
    SparkSession.setActiveSession(stock)
    s
  }

  /** One scratch root per test JVM, deleted when the JVM exits. */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft-suite-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh scratch directory under the suite's temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  val sf: String = SparkSuite.sf
}

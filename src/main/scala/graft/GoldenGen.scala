package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Regenerates the sf0.001 golden checksums (SURVEY §5.2) consumed by
  * GoldenSpec: one line per declared query, `name<TAB>rows<TAB>md5` of the
  * sorted row strings. Run after intentionally changing query semantics:
  * `sbt "runMain graft.GoldenGen"`.
  */
object GoldenGen {
  val goldenPath = "src/test/resources/goldens_sf0.001.tsv"

  def checksum(rows: Array[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val sf = "/root/testdata/sf0.001"
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val rows = fn(spark, sf).collect().map(_.toString)
      s"$name\t${rows.length}\t${checksum(rows)}"
    }
    Files.createDirectories(Paths.get("src/test/resources"))
    Files.writeString(Paths.get(goldenPath), lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} goldens to $goldenPath")
    spark.stop()
  }
}

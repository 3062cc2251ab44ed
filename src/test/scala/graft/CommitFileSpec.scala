package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.sources.HFileOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** The store-file commit rule every graft.sources writer goes through
  * ([[HFileOps.commitFile]]): a destination becomes visible only whole,
  * a failed write or rename leaves no temp file, and a failed rename
  * names both paths.
  */
class CommitFileSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def tmpDir(tag: String): Path =
    SparkSuite.tempDir(s"graft-commit-$tag")

  private def commit(dir: Path, name: String, content: String): Unit =
    HFileOps.commitFile(new HPath(dir.toUri), name, conf)(
      _.write(content.getBytes(UTF_8)))

  private def tmpLeftovers(dir: Path): Seq[String] =
    dir.toFile.list().toSeq.filter(_.contains(".tmp"))

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("a throwing writer leaves no temp file and the old destination intact") {
    val dir = tmpDir("throw")
    commit(dir, "f.hfile", "old")
    val boom = new IllegalStateException("writer failed")
    val ex = intercept[IllegalStateException] {
      HFileOps.commitFile(new HPath(dir.toUri), "f.hfile", conf) { os =>
        os.write("partial".getBytes(UTF_8))
        throw boom
      }
    }
    assert(ex eq boom, "the writer's own exception must reach the caller")
    assert(tmpLeftovers(dir).isEmpty, tmpLeftovers(dir).mkString(", "))
    assert(read(dir.resolve("f.hfile")) == "old")
  }

  test("a rename onto a non-empty directory names the temp path and the destination") {
    val dir = tmpDir("rename")
    Files.createDirectories(dir.resolve("f.hfile"))
    Files.write(dir.resolve("f.hfile").resolve("keep"), Array[Byte](1))
    val d = new HPath(dir.toUri)
    val ex = intercept[java.io.IOException](commit(dir, "f.hfile", "new"))
    val msg = ex.getMessage
    assert(msg.contains(s"${new HPath(d, ".f.hfile")}.") && msg.contains(".tmp"),
      s"temp path missing from: $msg")
    assert(msg.contains(new HPath(d, "f.hfile").toString),
      s"destination missing from: $msg")
    assert(tmpLeftovers(dir).isEmpty, tmpLeftovers(dir).mkString(", "))
  }

  test("committing twice to one name leaves one file with the second content") {
    val dir = tmpDir("twice")
    commit(dir, "f.hfile", "first")
    commit(dir, "f.hfile", "second")
    assert(dir.toFile.list().toSeq.filterNot(_.startsWith(".")) == Seq("f.hfile"))
    assert(tmpLeftovers(dir).isEmpty, tmpLeftovers(dir).mkString(", "))
    assert(read(dir.resolve("f.hfile")) == "second")
  }
}

package graft

import java.io.File

/** GraftSession is the one place a graft SparkSession is configured:
  * the shared test session runs exactly the engine's conf, and no other
  * source file builds a session of its own. */
class GraftSessionSpec extends SparkSuite {

  test("the shared test session carries every conf GraftSession.builder sets") {
    val actual = spark.conf.getAll
    val diffs = GraftSession.conf("graft-test", 4).toSeq.sorted.collect {
      case (k, v) if !actual.get(k).contains(v) => s"$k: want $v, got ${actual.get(k)}"
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("no source file but GraftSession.scala builds a SparkSession itself") {
    def scalaFiles(dir: File): Seq[File] = {
      val fs = Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      fs.filter(_.getName.endsWith(".scala")) ++ fs.filter(_.isDirectory).flatMap(scalaFiles)
    }
    val root = new File("src")
    assert(root.isDirectory, "the scan must run from the repo root")
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "GraftSession.scala"))
    val needle = "SparkSession" + ".builder()"
    val offenders = files.filter { f =>
      f.getName != "GraftSession.scala" &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(needle)
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession: ${offenders.mkString(", ")}")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's pure parts, and the guard that keeps it the
  * only session factory. */
class GraftSessionSpec extends AnyFunSuite {

  test("parseConf: key=value entries, trimmed, in order; '=' allowed in values") {
    assert(GraftSession.parseConf(" a.b = 1 ;c=x=y;d=") ==
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
  }

  test("parseConf: empty and blank input set nothing") {
    assert(GraftSession.parseConf("").isEmpty)
    assert(GraftSession.parseConf(" ; ;").isEmpty)
  }

  test("parseConf: an entry with no '=' or an empty key is rejected by name") {
    val noEq = intercept[IllegalArgumentException](
      GraftSession.parseConf("spark.sql.shuffle.partitions=4;spark.graft.layout.enabled:true"))
    assert(noEq.getMessage.contains("'spark.graft.layout.enabled:true'"))
    val noKey = intercept[IllegalArgumentException](GraftSession.parseConf(" =true"))
    assert(noKey.getMessage.contains("' =true'"))
  }

  test("SparkSession builders appear under src/ only in GraftSession.scala") {
    val needle = "SparkSession" + ".builder" // split so this file does not match itself
    val root = new java.io.File("src")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "GraftSession.scala"))
    val offenders = files.filter(f => f.getName != "GraftSession.scala" &&
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(needle))
    assert(offenders.isEmpty, s"build sessions with GraftSession instead: ${offenders.mkString(", ")}")
  }
}

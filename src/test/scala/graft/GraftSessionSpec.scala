package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("Bench and Verify keep the exact settings they built by hand (cpus=32)") {
    assert(GraftSession.localConf(32).toMap == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.extensions" -> "graft.sql.GraftExtensions"))
  }

  test("the test session keeps its settings, and the live session carries them") {
    assert(TestSpark.conf.toMap == Map(
      "spark.master" -> "local[4]",
      "spark.app.name" -> "graft-test",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.extensions" -> "graft.sql.GraftExtensions"))
    GraftSession.resultConf.foreach { case (k, v) =>
      assert(TestSpark.spark.conf.get(k) == v, k)
    }
  }

  private def code(src: String): String = SourceCode.withoutComments(src)

  test("only GraftSession builds a SparkSession (comments aside)") {
    val Builder = """SparkSession\s*\.\s*builder\b""".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    def calls(f: java.io.File): Boolean = Builder.findFirstIn(code(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))).isDefined
    val factory = new java.io.File("src/main/scala/graft/GraftSession.scala")
    assert(calls(factory)) // the scan sees real calls
    val files = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.size > 100)
    val offenders = files.filter(f => f.getCanonicalPath != factory.getCanonicalPath && calls(f))
    assert(offenders.isEmpty, offenders.mkString(", "))
    // comments do not count; code after a "//" inside a string does
    val call = "SparkSession" + ".builder()"
    assert(Builder.findFirstIn(code(s"// $call\n/* /* $call */ $call */")).isEmpty)
    assert(Builder.findFirstIn(code("val u = \"file://x\"; " + call)).isDefined)
  }
}

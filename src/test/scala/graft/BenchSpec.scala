package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s ANN recall readout, and the guard that keeps it and
  * `Verify` the library's only entry points (perfbench measures the
  * engine; a third harness beside them would drift from both).
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("only Verify and Bench define a main under src/main/scala") {
    import scala.jdk.CollectionConverters._
    val mains = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))) {
      _.iterator.asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .filter(f => java.nio.file.Files.readAllLines(f).asScala
          .exists(_.contains("def main(")))
        .map(_.getFileName.toString).sorted
    }
    assert(mains == Seq("Bench.scala", "Verify.scala"), mains.mkString(", "))
  }

  test("ann recall fails on an empty embeddings table instead of 0.0") {
    val dir = java.nio.file.Files.createTempDirectory("bench_empty_emb")
    Tables.embeddings(spark, "/root/testdata/sf0.001").limit(0)
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException](Bench.annRecall(spark,
      dir.toString))
    assert(e.getMessage.contains("no exact top-k rows"), e.getMessage)
  }
}

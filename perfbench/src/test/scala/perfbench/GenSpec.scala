package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def events(seed: Long): Seq[String] = {
    val g = new EventGen(seed)
    g.bootstrap() +: (1 to 5).map(g.batch) :+ g.violators.toString
  }

  test("medallion_cdc inputs are byte-identical for a seed and differ across seeds") {
    assert(events(7) == events(7))
    assert(events(7) != events(8))
    val g = new EventGen(7)
    val boot = g.bootstrap().split('\n')
    assert(boot.head == MedallionCdc.Header)
    assert(boot.length == MedallionCdc.BootstrapRows + 1)
    val batch = g.batch(1).split('\n')
    assert(batch.length == MedallionCdc.BatchRows + 1)
    assert(g.violators > 0)
  }

  test("lake_point_mixed rows are a pure function of seed, key and version") {
    val k = LakePointMixed.KeyBase + 17
    assert(LakePointMixed.order(3, k, 0) == LakePointMixed.order(3, k, 0))
    assert(LakePointMixed.order(3, k, 0) != LakePointMixed.order(4, k, 0))
    // a later version changes the measures but never the order date
    assert(LakePointMixed.order(3, k, 5).day == LakePointMixed.order(3, k, 0).day)
  }

  test("lake_point_mixed input files are byte-identical for a seed") {
    val spark = SparkSession.builder().master("local[2]").appName("GenSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      def written(seed: Long, name: String): Seq[Seq[Byte]] = {
        val p = dir.resolve(name)
        LakePointMixed.input(spark, seed).write.parquet(p.toString)
        Files.list(p).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString.take(10))
          .map(f => Files.readAllBytes(f).toSeq)
      }
      val a = written(5, "a")
      assert(a.size == 4)
      assert(a == written(5, "b"))
      assert(a != written(6, "c"))
    } finally {
      spark.stop()
      Main.deleteTree(dir)
    }
  }
}

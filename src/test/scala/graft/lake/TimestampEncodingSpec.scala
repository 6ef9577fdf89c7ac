package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.LakeTable.ZonePred

/** Every lake file — data, change images, copy-on-write and OPTIMIZE
 *  rewrites — encodes timestamps as INT64 TIMESTAMP(MICROS), whatever the
 *  session's `spark.sql.parquet.outputTimestampType` says, and the session
 *  value is never modified: the encoding is pinned per write job, so a
 *  plain `df.write.parquet` running beside lake writes keeps the session's
 *  own INT96. */
class TimestampEncodingSpec extends SparkSpec {
  import spark.implicits._

  private val TsKey = "spark.sql.parquet.outputTimestampType"
  private val Micros = "INT64_MICROS"

  /** Physical encoding of column `ts` in one parquet file, e.g.
   *  `INT64_MICROS` or `INT96`. */
  private def tsEncoding(f: Path): String = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), spark.sessionState.newHadoopConf()))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      val t = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType
      t.getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation => s"${t.getPrimitiveTypeName}_${a.getUnit}"
        case _ => t.getPrimitiveTypeName.toString
      }
    } finally r.close()
  }

  /** `ts` encoding of every parquet file under `dir`, by path. */
  private def encodings(dir: Path): Map[String, String] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> tsEncoding(p)).toMap

  /** At least `minFiles` files under `root/sub`, every one INT64 micros. */
  private def assertMicros(root: String, sub: String, minFiles: Int): Unit = {
    val enc = encodings(Paths.get(root, sub))
    assert(enc.size >= minFiles, s"$sub: expected >= $minFiles files, got $enc")
    assert(enc.values.forall(_ == Micros), s"$sub: $enc")
  }

  /** Distributed (non-local) rows: id, ts, partition tag p, value v. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"),
      (col("id") % 2).cast("string").as("p"), (col("id") * 1.5).as("v"))

  private def table(prefix: String, pcol: Option[String] = None,
      cdf: Boolean = false): (LakeTable, String) = {
    val root = tmpDir(prefix)
    val t = LakeTable(spark, root)
    t.create(rows(0, 0).schema, partitionBy = pcol, enableChangeFeed = cdf,
      statsColumns = Seq("id", "ts"))
    (t, root)
  }

  test("appends: unpartitioned, partitioned and the driver-local path") {
    // the session default stays INT96, so every shape here proves the pin
    assert(spark.conf.getOption(TsKey).forall(_ == "INT96"))
    val (t, root) = table("enc_append")
    t.append(rows(1, 40))
    t.append(Seq((41L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "1", 0.5))
      .toDF("id", "ts", "p", "v"))
    assertMicros(root, "data", 2)
    val (tp, rootP) = table("enc_append_p", pcol = Some("p"))
    tp.append(rows(1, 40))
    assertMicros(rootP, "data", 2)
    assert(t.read.count() == 41 && tp.read.count() == 40)
  }

  test("merges: one-pass CDF merge and a partitioned CDF merge's change images") {
    val (t, root) = table("enc_merge", cdf = true)
    t.append(rows(1, 40))
    t.merge(rows(30, 50).withColumn("v", lit(-1.0)), Seq("id"))
    assertMicros(root, "data", 2)
    assertMicros(root, "_changes", 1)
    val (tp, rootP) = table("enc_merge_p", pcol = Some("p"), cdf = true)
    tp.append(rows(1, 40))
    tp.merge(rows(30, 50).withColumn("v", lit(-1.0)), Seq("p", "id"))
    assertMicros(rootP, "data", 2)
    assertMicros(rootP, "_changes", 1)
    assert(t.read.filter(col("v") === -1.0).count() == 21)
    assert(tp.read.filter(col("v") === -1.0).count() == 21)
  }

  test("change images of deleteWhere, updateWhere, overwriteWhere and " +
      "overwritePartitions") {
    val (t, root) = table("enc_dv", cdf = true)
    t.append(rows(1, 40))
    assert(t.deleteWhere("id < 5") == 4)
    assert(t.updateWhere("id BETWEEN 10 AND 12", Map("v" -> lit(0.0))) == 3)
    assert(t.overwriteWhere("id >= 35", rows(35, 45)) == 6)
    assertMicros(root, "_changes", 3)
    assertMicros(root, "data", 3)
    val (tp, rootP) = table("enc_dv_p", pcol = Some("p"), cdf = true)
    tp.append(rows(1, 40))
    tp.overwritePartitions(Seq(ZonePred.eq("p", "1")),
      rows(1, 20).filter(col("p") === "1"))
    assertMicros(rootP, "_changes", 1)
    assert(tp.read.count() == 30)
  }

  test("copy-on-write update/delete and optimizeCompact/z-order rewrites") {
    val (t, root) = table("enc_cow", cdf = true)
    Seq((1L, 10L), (11L, 20L), (21L, 30L)).foreach { case (lo, hi) =>
      t.append(rows(lo, hi).coalesce(1)) }
    assert(t.update(Seq(ZonePred.between("id", "2", "3")), Map("v" -> lit(9.0))) == 2)
    assert(t.delete(Seq(ZonePred.eq("id", "25"))) == 1)
    assertMicros(root, "_changes", 2)
    t.optimizeCompact()
    t.compactZOrder(Seq("id", "ts"), targetFiles = 2)
    assertMicros(root, "data", 6)
    val (tp, rootP) = table("enc_cow_p", pcol = Some("p"))
    tp.append(rows(1, 30))
    assert(tp.delete(Seq(ZonePred.eq("id", "7"))) == 1)
    tp.optimizeCompact()
    assertMicros(rootP, "data", 3)
    assert(t.read.count() == 29 && tp.read.count() == 29)
  }

  test("concurrent lake writes leave the session INT96 and plain writes INT96") {
    val prev = spark.conf.getOption(TsKey)
    spark.conf.set(TsKey, "INT96")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val plainRoot = tmpDir("enc_plain")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit): Thread = {
      val th = new Thread(() => try body catch { case e: Throwable => failures.add(e); () })
      th.setDaemon(true); th.start(); th
    }
    try {
      val sampler = thread {
        while (!done.get()) { seen.add(spark.conf.get(TsKey)); Thread.sleep(1) }
      }
      val plain = thread {
        var i = 0
        while (!done.get() || i < 3) {
          spark.range(0, 20).select(timestamp_seconds(col("id")).as("ts"))
            .write.parquet(s"$plainRoot/w$i")
          i += 1
        }
      }
      val lakes = (0 until 3).map { k =>
        val (t, root) = table(s"enc_conc$k", cdf = true)
        root -> thread {
          (0 until 3).foreach { j =>
            t.append(rows(j * 10L + 1, j * 10L + 10))
            t.merge(rows(j * 10L + 5, j * 10L + 12).withColumn("v", lit(-1.0)),
              Seq("id"))
          }
        }
      }
      lakes.foreach(_._2.join())
      done.set(true)
      plain.join(); sampler.join()
      assert(failures.isEmpty, failures)
      lakes.foreach { case (root, _) =>
        assertMicros(root, "data", 6)
        assertMicros(root, "_changes", 3)
      }
      val plainEnc = encodings(Paths.get(plainRoot))
      assert(plainEnc.nonEmpty && plainEnc.values.forall(_ == "INT96"), plainEnc)
      assert(seen.asScala.toSet == Set("INT96"), seen)
    } finally {
      done.set(true)
      prev match {
        case Some(v) => spark.conf.set(TsKey, v)
        case None => spark.conf.unset(TsKey)
      }
    }
  }
}

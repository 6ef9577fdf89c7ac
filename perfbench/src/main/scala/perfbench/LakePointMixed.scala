package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gold.{FactConfig, FactDim, GoldBuilder}
import graft.lake.{LakeSql, LakeTable}
import graft.lake.LakeTable.ZonePred

/**
 * `lake_point_mixed`: one orders fact table — bloom index on `o_orderkey`,
 * liquid-clustered by `o_orderdate`, auto-compaction on — bootstrapped the
 * way the gold layer builds facts (a customer dimension minted with
 * surrogate keys, then `GoldBuilder.buildFact` merging the generated orders
 * into the declared table), then driven by a seeded mix of about 80% reads and 20% writes. Reads are point
 * lookups through `LakeSql.select` and date-range `readWhere` scans; writes
 * are small keyed merges, point deletes that leave deletion vectors, and
 * small appends. Every read is checked against a model of the writes
 * applied so far. File pruning decides read latency here, so a write path
 * that leaves more files or deletion vectors shows as slower reads.
 */
final class LakePointMixed(run: Run) extends Workload {
  import LakePointMixed._
  import run.{seed, spark}

  private var table: LakeTable = _
  private var inBytes = 0L
  /** Rows changed since the base load; `None` is a deleted key. */
  private val changed = mutable.Map[Long, Option[Order]]()
  /** Live rows per order day, for range-read checks. */
  private val perDay = new Array[Long](Days)
  private var nextKey = KeyBase + BaseRows
  private var setupVersion = 0L
  /** Table version and data files before the first traced write; the
   *  table keeps replaced files until vacuum, so the file count only grows. */
  private var first: Option[(Long, Long)] = None
  private val traced = mutable.Map[String, Double]().withDefaultValue(0.0)

  def setup(dir: Path): Double = {
    val path = dir.resolve("input").resolve("orders")
    input(spark, seed).write.parquet(path.toString)
    inBytes = Gen.bytesUnder(path)
    (0L until BaseRows).foreach(i => perDay(order(seed, KeyBase + i, 0).day) += 1)
    val customers = spark.range(1, Customers + 1).select(col("id").as("c_custkey"),
      concat(lit("segment-"), (col("id") % 5).cast("string")).as("c_segment"))
    val build = Main.timedS {
      val dim = LakeTable(spark, dir.resolve("dim_customer").toString)
      run.span("gold.mint")(dim.overwrite(
        GoldBuilder.mintSurrogateKeys(customers, Seq("c_custkey"), "cust_sk")))
      table = LakeTable(spark, dir.resolve("orders").toString)
        .create(FactSchema, statsColumns = Seq("o_orderkey", "o_orderdate"),
          bloomFilterColumns = Seq("o_orderkey"))
      table.setTableProperties(Map(
        LakeTable.AutoCompactProp -> "true",
        LakeTable.AutoCompactMinFilesProp -> CompactMinFiles.toString,
        LakeTable.AutoCompactTargetBytesProp -> CompactTargetBytes.toString))
      table.setClusterBy(Seq("o_orderdate"))
      run.span("gold.build_fact")(GoldBuilder(spark).buildFact(FactConfig(table.root,
        dims = Seq(FactDim(dim, Seq("o_custkey" -> "c_custkey"), "cust_sk")),
        payloadCols = Columns, factKeys = Seq("o_orderkey"), cdcCol = "o_orderdate"),
        spark.read.parquet(path.toString)))
      run.span("lake.optimize")(table.optimizeClustered(Seq("o_orderdate"), ClusterFileBytes))
      LakeSql.register(TableName, table)
    }._2
    setupVersion = table.currentVersion
    build
  }

  /** Steps follow a fixed cycle, so every seed runs the same mix; the seed
   *  picks keys, dates and values. */
  def step(i: Int): Unit = Cycle(i % Cycle.length) match {
    case 'P' => pointRead(i)
    case 'R' => rangeRead(i)
    case 'M' => merge(i)
    case 'D' => delete(i)
    case 'A' => append(i)
  }

  private def live(k: Long): Option[Order] =
    changed.getOrElse(k, if (k >= KeyBase && k < KeyBase + BaseRows) Some(order(seed, k, 0)) else None)

  private def pointRead(i: Int): Unit = {
    val k = KeyBase + Gen.below(seed, 501, i, nextKey - KeyBase)
    val (rows, sec) = Main.timedS(run.span("op.read") {
      val df = run.span("sql.plan")(LakeSql.select(spark,
        s"SELECT ${FactSchema.fieldNames.mkString(", ")} FROM $TableName WHERE o_orderkey = $k"))
      run.span("sql.exec")(df.collect())
    })
    run.read(sec, "point")
    kept(Seq(ZonePred.eq("o_orderkey", k.toString)))
    val got = rows.map(Order.of).toSeq
    run.verify(got == live(k).toSeq, s"point read of $k gave $got, expected ${live(k)}")
  }

  private def rangeRead(i: Int): Unit = {
    val d0 = Gen.below(seed, 502, i, Days - RangeDays + 1).toInt
    val preds = Seq(ZonePred.between("o_orderdate",
      s"${Day0.plusDays(d0)} 00:00:00", s"${Day0.plusDays(d0 + RangeDays - 1L)} 00:00:00"))
    val (n, sec) = Main.timedS(run.span("op.read")(
      run.span("lake.read")(table.readWhere(preds).count())))
    run.read(sec, "range")
    kept(preds)
    val expected = perDay.slice(d0, d0 + RangeDays).sum
    run.verify(n == expected, s"range read from day $d0 counted $n, expected $expected")
  }

  private def merge(i: Int): Unit = {
    val updates = (0 until MergeUpdates).map { j =>
      val k = KeyBase + Gen.below(seed, 503, i * 100L + j, nextKey - KeyBase)
      order(seed, k, i + 1)
    }.distinctBy(_.key)
    val inserts = (0 until MergeInserts).map(j => order(seed, nextKey + j, i + 1))
    val src = rows(updates ++ inserts)
    write("lake.merge", updates.size + inserts.size)(table.merge(src, Seq("o_orderkey")))
    // a deleted key no longer matches, so the merge inserts it again
    (updates ++ inserts).foreach(put)
    nextKey += MergeInserts
  }

  /** Delete [[WriteRows]] consecutive keys; live ones leave a deletion vector. */
  private def delete(i: Int): Unit = {
    val k = KeyBase + Gen.below(seed, 504, i, nextKey - KeyBase - WriteRows)
    val keys = k until k + WriteRows
    val expected = keys.flatMap(live)
    val n = write("lake.delete", expected.size)(table.deleteWhere(
      Seq(ZonePred.between("o_orderkey", k.toString, (k + WriteRows - 1).toString))))
    run.verify(n == expected.size, s"delete of keys from $k removed $n rows, expected ${expected.size}")
    expected.foreach(o => perDay(o.day) -= 1)
    keys.foreach(changed(_) = None)
  }

  private def append(i: Int): Unit = {
    val add = (0 until WriteRows).map(j => order(seed, nextKey + j, i + 1))
    val src = rows(add)
    write("lake.append", WriteRows)(table.append(src))
    add.foreach(put)
    nextKey += WriteRows
  }

  /** Time one write; traced writes are counted. */
  private def write[A](name: String, rows: Int)(body: => A): A = {
    if (run.traced && first.isEmpty) first = Some((table.currentVersion, dataFiles()))
    val (a, sec) = Main.timedS(run.span("op.write")(run.span(name)(body)))
    run.write(sec, name, rows)
    if (run.traced) traced("writes") += 1
    a
  }

  /** Files kept by pruning for `preds`, counted for traced reads. Sampled
   *  after the timed read, so that it does not warm the table's manifest
   *  cache for it. */
  private def kept(preds: Seq[ZonePred]): Unit = if (run.traced) {
    val (k, skipped) = table.skippingStats(preds)
    traced("files_kept") += k
    traced("files_total") += k + skipped
  }

  private def put(o: Order): Unit = {
    live(o.key).foreach(old => perDay(old.day) -= 1)
    changed(o.key) = Some(o)
    perDay(o.day) += 1
  }

  private def dataFiles(): Long = {
    val s = Files.walk(java.nio.file.Paths.get(table.root))
    try s.filter(_.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  private def rows(os: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(os.map(_.factRow): _*), FactSchema)

  /** The whole table against the model: base rows the loop did not touch
   *  plus the model's live changed rows, by count and checksum. */
  def check(): Unit = {
    val s = seed
    val touched = spark.sparkContext.broadcast(changed.keySet.toSet)
    val untouched = spark.createDataFrame(spark.sparkContext.range(0L, BaseRows, 1L, 4)
      .map(i => KeyBase + i).filter(k => !touched.value.contains(k))
      .map(k => order(s, k, 0).factRow), FactSchema)
    val expected = untouched.unionByName(rows(changed.values.flatten.toSeq))
    val (en, es) = checksum(expected)
    val (gn, gs) = checksum(table.read)
    run.check(en == gn && es == gs && en == perDay.sum,
      s"table ($gn rows, checksum $gs) != model ($en rows, checksum $es)")
  }

  private def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(FactSchema.fieldNames.map(col).toSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def tables: Seq[LakeTable] = Seq(table)

  def inputBytes: Long = inBytes

  /** Through the first append, so every kind of step has run once. */
  def warmUpSteps: Int = Cycle.indexOf('A') + 1

  def cycleSteps: Int = Cycle.length

  def counts: Map[String, Double] = {
    val (commits, added) = first.fold((0.0, 0.0)) { case (v, f) =>
      ((table.currentVersion - v).toDouble, (dataFiles() - f).toDouble) }
    Map(
      "lake.commits" -> commits / math.max(1.0, traced("writes")),
      "lake.files_added_per_commit" -> (if (commits == 0) 0.0 else added / commits),
      "lake.files_kept_ratio" ->
        (if (traced("files_total") == 0) 0.0 else traced("files_kept") / traced("files_total")),
      "lake.compactions" -> table.historyDetail.count { case (v, op, _) =>
        v > setupVersion && op == "optimize" }.toDouble)
  }
}

/** One orders row; `day` indexes days from [[LakePointMixed.Day0]], and the
 *  order date is that day's midnight UTC, a timestamp as in TPC-H data.
 *  Customer keys are dense from 1, so the minted surrogate key equals the
 *  customer key. */
final case class Order(key: Long, cust: Long, status: String, cents: Long, day: Int,
    priority: String) {
  private def date =
    Timestamp.from(LakePointMixed.Day0.plusDays(day.toLong).atStartOfDay(ZoneOffset.UTC).toInstant)
  /** The row as generated input. */
  def row: Row = Row(key, cust, status, cents / 100.0, date, priority)
  /** The row as it sits in the fact table. */
  def factRow: Row = Row(cust, key, cust, status, cents / 100.0, date, priority)
}

object Order {
  def of(r: Row): Order = {
    require(r.getLong(0) == r.getLong(2), s"surrogate key ${r.getLong(0)} for customer ${r.getLong(2)}")
    Order(r.getLong(1), r.getLong(2), r.getString(3), math.round(r.getDouble(4) * 100),
      (r.getTimestamp(5).toInstant.getEpochSecond / 86400 - LakePointMixed.Day0.toEpochDay).toInt,
      r.getString(6))
  }
}

object LakePointMixed {
  /** Twenty steps: eleven point reads, five range reads, one merge, two
   *  deletes and one append. The loop runs whole cycles, so every run has
   *  the same mix, and the write median falls among the deletes. */
  val Cycle = "PRPMPRPDPRPAPRPDPRPP"
  val BaseRows = 100000L
  val KeyBase = 1000000L
  val Customers = 15000
  val Days = 2400
  val RangeDays = 7
  /** Rows per write: each merge updates 16 keys and inserts 4, each
   *  delete covers 20 keys, each append adds 20 rows. */
  val WriteRows = 20
  val MergeUpdates = 16
  val MergeInserts = 4
  val CompactMinFiles = 8
  val ClusterFileBytes: Long = 512L * 1024
  val CompactTargetBytes: Long = 512L * 1024
  val Day0: LocalDate = LocalDate.of(1992, 1, 1)
  val TableName = "perfbench_orders"
  val Statuses = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val InputSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val FactSchema: StructType = StructType(StructField("cust_sk", LongType) +: InputSchema.fields)

  /** The generated orders input: [[BaseRows]] rows in four slices. */
  def input(spark: SparkSession, seed: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0L, BaseRows, 1L, 4)
      .map(i => order(seed, KeyBase + i, 0).row), InputSchema)

  /** Order `key` as written by version `v` of the workload (0 = base load). */
  def order(seed: Long, key: Long, v: Int): Order = {
    val x = Gen.h(seed, 600L + v, key)
    Order(key, 1 + java.lang.Math.floorMod(x, Customers.toLong),
      Statuses(java.lang.Math.floorMod(x >>> 17, 3L).toInt),
      java.lang.Math.floorMod(x >>> 21, 50000000L),
      Gen.below(seed, 601, key, Days).toInt,
      Priorities(java.lang.Math.floorMod(x >>> 51, 5L).toInt))
  }
}

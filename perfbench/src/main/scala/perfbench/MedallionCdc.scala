package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gold.GoldBuilder
import graft.ingest.BronzeIngest
import graft.lake.{LakeSql, LakeTable}
import graft.pipeline.{Pipeline, PipelineSql}

/**
 * `medallion_cdc`: the reference pipeline's own traffic. CSV batches land
 * in a directory; each loop step ingests the new batch into bronze
 * (`BronzeIngest.run`), refreshes the pipeline incrementally — a silver
 * SCD1 `autoCdcFlow` with expectations and change feed, a
 * `streamingJoinTable` business table, and a gold materialized view
 * declared through `PipelineSql` — then reads gold once through
 * `LakeSql`, the first read of the refreshed gold.
 * Batches are small, so per-commit cost and driver-side planning dominate.
 */
final class MedallionCdc(run: Run) extends Workload {
  import MedallionCdc._
  import run.{seed, spark}

  private var root: Path = _
  private var landing: Path = _
  private var pipe: Pipeline = _
  private var batch = 0
  private val gen = new EventGen(seed)
  private var inBytes = 0L
  /** Rows that failed an expectation, as the engine counted them. */
  private var violations = 0L
  private var bootstrapRunId = 0L
  private var refreshes = 0
  /** [[versions]] before the first traced step, -1 until then. */
  private var firstVersions = -1L
  private val traced = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def bronzeRoot = root.resolve("bronze").toString
  private def checkpoint = root.resolve("checkpoint").toString

  def setup(dir: Path): Double = {
    root = dir
    landing = dir.resolve("landing")
    inBytes += Gen.land(landing, "events-000000.csv", gen.bootstrap())
    val users = spark.createDataFrame(
      java.util.Arrays.asList((1 to Users).map(u =>
        Row(u, Segments(Gen.below(seed, 7, u, Segments.length).toInt))): _*),
      StructType(Seq(StructField("user_id", IntegerType), StructField("segment", StringType))))

    val build = Main.timedS {
      run.span("ingest.run")(BronzeIngest.run(spark, landing.toString, bronzeRoot, checkpoint))
      val dimUser = LakeTable(spark, dir.resolve("dim_user").toString)
      run.span("gold.mint")(dimUser.overwrite(
        GoldBuilder.mintSurrogateKeys(users, Seq("user_id"), "user_sk")))

      pipe = new Pipeline(spark, dir.resolve("pipeline").toString)
      pipe.inputTable("bronze", LakeTable(spark, bronzeRoot))
      pipe.streamingView("bronze_clean", "bronze")(_.drop(BronzeIngest.RescueCol))
      pipe.streamingTable("silver", enableChangeFeed = true)
      pipe.expectations("silver", Rules)
      pipe.autoCdcFlow("silver", "bronze_clean", Seq("event_id"), "ts_us")
      pipe.view("users")(dimUser.read.select("user_id", "user_sk", "segment"))
      pipe.streamingJoinTable("business", "silver", Seq("event_id"), "ts_us")(
        _.join(pipe.read("users"), Seq("user_id"), "left"))
      run.span("pipeline.script")(PipelineSql.script(pipe, GoldSql))
      run.span("pipeline.refresh")(pipe.runIncremental())
      countViolations()
      LakeSql.register(GoldName, pipe.table("gold"))
      readGold()
    }._2
    bootstrapRunId = maxRunId()
    build
  }

  def step(i: Int): Unit = {
    batch += 1
    val csv = gen.batch(batch)
    if (run.traced && firstVersions < 0) firstVersions = versions()
    inBytes += Gen.land(landing, f"events-$batch%06d.csv", csv)
    val (ingested, write) = Main.timedS(run.span("op.refresh") {
      val n = run.span("ingest.run")(BronzeIngest.run(spark, landing.toString, bronzeRoot, checkpoint))
      run.span("pipeline.refresh")(pipe.runIncremental())
      n
    })
    run.write(write, "refresh", ingested)
    val (_, read) = Main.timedS(run.span("op.read")(readGold()))
    run.read(read, "gold")
    run.verify(ingested == BatchRows, s"batch $batch ingested $ingested of $BatchRows rows")
    refreshes += 1
    countViolations()
    if (run.traced) {
      traced("steps") += 1
      traced("ingest.rows") += ingested
      traced("ingest.files") += 1
    }
  }

  private def readGold(): Array[Row] = {
    val df = run.span("sql.plan")(LakeSql.select(spark,
      s"SELECT event_type, n, total FROM $GoldName"))
    run.span("sql.exec")(df.collect())
  }

  /** Version advances over every pipeline table, the event log included. */
  private def versions(): Long =
    (Seq("silver", "business", "gold").map(pipe.table) :+
      LakeTable(spark, root.resolve("pipeline/__event_log").toString))
      .map(t => if (t.exists) t.currentVersion else 0L).sum

  private def countViolations(): Unit =
    violations += pipe.lastGate("silver").fold(0L)(_.violations.values.sum)

  private def maxRunId(): Long =
    pipe.eventLog.agg(max(col("run_id"))).head().getLong(0)

  def check(): Unit = {
    val raw = spark.read.schema(CsvSchema).option("header", "true")
      .csv(landing.resolve("*.csv").toString)
    val valid = raw.filter(expr(Rules.values.mkString(" AND ")))
    val latest = valid.withColumn("rn", row_number().over(
        Window.partitionBy("event_id").orderBy(col("ts_us").desc)))
      .filter(col("rn") === 1)
    val expected = latest.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = readGold().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    run.check(got.keySet == expected.keySet &&
      got.forall { case (k, (n, t)) =>
        val (en, et) = expected(k)
        n == en && math.abs(t - et) <= 1e-6 * math.max(1.0, math.abs(et))
      }, s"gold $got != plain-Spark recomputation $expected")
    run.check(violations == gen.violators,
      s"expectations dropped $violations rows, generated ${gen.violators} violators")
    val keys = latest.count()
    run.check(pipe.read("silver").count() == keys, s"silver rows != $keys live keys")
    run.check(pipe.read("business").count() == keys, s"business rows != $keys live keys")
  }

  def tables: Seq[LakeTable] =
    LakeTable(spark, bronzeRoot) +: Seq("silver", "business", "gold").map(pipe.table)

  def inputBytes: Long = inBytes

  def warmUpSteps: Int = 1

  def cycleSteps: Int = 1

  def counts: Map[String, Double] = {
    val steps = math.max(1.0, traced("steps"))
    val commits = if (firstVersions < 0) 0L else versions() - firstVersions
    val flowRows = pipe.eventLog
      .filter(col("event_type") === "flow_progress" && col("run_id") > bootstrapRunId)
      .agg(sum("rows")).head()
    Map(
      "pipeline.commits" -> commits / steps,
      "pipeline.flow_rows" ->
        (if (flowRows.isNullAt(0)) 0.0 else flowRows.getLong(0).toDouble / math.max(1, refreshes)),
      "ingest.rows" -> traced("ingest.rows") / steps,
      "ingest.files" -> traced("ingest.files") / steps)
  }
}

object MedallionCdc {
  val BootstrapRows = 10000L
  val BatchRows = 200L
  val Users = 2000
  val T0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in microseconds
  val Types = Array("click", "view", "purchase", "signup", "share", "logout")
  val Segments = Array("consumer", "business", "partner")
  val Header = "event_id,ts_us,user_id,event_type,value,props"
  val CsvSchema: StructType = StructType(Seq(
    StructField("event_id", IntegerType), StructField("ts_us", LongType),
    StructField("user_id", IntegerType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val Rules = Map("valid_id" -> "event_id IS NOT NULL", "valid_value" -> "value >= 0")
  val GoldName = "perfbench_gold"
  val GoldSql =
    """CREATE OR REFRESH MATERIALIZED VIEW gold AS
      |  SELECT event_type, COUNT(*) AS n, SUM(value) AS total
      |  FROM silver GROUP BY event_type""".stripMargin
}

/** The CSV text of `medallion_cdc`'s bootstrap and batches under `seed`:
 *  columns as in the events table, `ts_us` the CDC sequence. */
final class EventGen(seed: Long) {
  import MedallionCdc._

  private var nextId = 0L
  /** Rows generated so far that fail an expectation. */
  var violators = 0L

  /** One CSV row; an empty `id` is a null key. */
  private def line(stream: Long, j: Long, id: String, ts: Long, negative: Boolean): String = {
    val x = Gen.h(seed, stream, j)
    val user = 1 + java.lang.Math.floorMod(x, Users.toLong)
    val typ = Types(java.lang.Math.floorMod(x >>> 13, Types.length.toLong).toInt)
    val cents = java.lang.Math.floorMod(x >>> 23, 100000L)
    val prop = java.lang.Math.floorMod(x >>> 43, 97L)
    s"$id,$ts,$user,$typ,${Gen.money(if (negative) -(cents + 1) else cents)},k=$prop"
  }

  /** [[BootstrapRows]] rows with ids 0 until [[BootstrapRows]]; 3% fail an
   *  expectation. */
  def bootstrap(): String = {
    val sb = new StringBuilder(Header).append('\n')
    (0L until BootstrapRows).foreach { j =>
      val r = Gen.below(seed, 1, j, 100)
      if (r < 3) violators += 1
      sb ++= line(1, j, if (r < 2) "" else j.toString, T0 + j, negative = r == 2) += '\n'
    }
    nextId = BootstrapRows
    sb.toString
  }

  /** Batch `b` of [[BatchRows]] rows: about half new keys, a third updates,
   *  some rows with an older sequence value than their key already has,
   *  and a few rows that fail an expectation. */
  def batch(b: Int): String = {
    val sb = new StringBuilder(Header).append('\n')
    val stream = 1000L + b
    (0L until BatchRows).foreach { j =>
      val r = Gen.below(seed, stream, j, 100)
      val fresh = T0 + b * 1000000000L + j
      def existing = Gen.below(seed, stream + 1, j, nextId).toString
      val l =
        if (r < 50) { nextId += 1; line(stream, j, (nextId - 1).toString, fresh, negative = false) }
        else if (r < 85) line(stream, j, existing, fresh, negative = false)
        else if (r < 93) line(stream, j, Gen.below(seed, stream + 1, j, BootstrapRows).toString,
          T0 - 1 - b * BatchRows - j, negative = false)
        else if (r < 96) { violators += 1; line(stream, j, "", fresh, negative = false) }
        else { violators += 1; line(stream, j, existing, fresh, negative = true) }
      sb ++= l += '\n'
    }
    sb.toString
  }
}

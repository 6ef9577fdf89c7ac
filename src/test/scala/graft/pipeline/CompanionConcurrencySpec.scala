package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.LakeTable

/** The round-19 concurrent companion phase: a refresh whose MV carries
 *  SEVERAL companion tables (extreme top-K and COUNT(DISTINCT) multisets)
 *  launches every companion merge together (`Pipeline.awaitAll`) and only
 *  then probes them. These tests pin the exactness contract of that path
 *  under the widest companion fan-out the detector produces — four
 *  independent merges in one window — including retractions that must
 *  flow through the floor-gated extreme companions while the distinct
 *  multisets shrink. */
class CompanionConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("FOUR companion merges in one window (MIN, MAX, two COUNT " +
      "DISTINCT) land concurrently and stay exact through inserts and a " +
      "mid-band retraction — panel ≡ recompute, all ledgers advance " +
      "together") {
    val root = tmpDir("pl_companion_conc")
    val src = LakeTable(spark, s"$root/src")
    val seed = Seq(
      (1L, "a", 5.0, "u1", "x1"), (2L, "a", 9.0, "u2", "x1"),
      (3L, "a", 1.0, "u1", "x2"), (4L, "b", 7.0, "u3", "x3"),
      (5L, "b", 3.0, "u4", "x3")).toDF("k", "g", "v", "u", "x")
    src.create(seed.schema, enableChangeFeed = true)
    src.append(seed)
    val p = new Pipeline(spark, s"$root/pipe")
    p.inputTable("src", src)
    PipelineSql(p, """CREATE OR REFRESH MATERIALIZED VIEW panel AS
      SELECT g, MIN(v) AS mn, MAX(v) AS mx,
             COUNT(DISTINCT u) AS du, COUNT(DISTINCT x) AS dx,
             COUNT(*) AS n
      FROM src GROUP BY g""")
    p.run() // bootstrap: builds all four companions
    def ev = p.eventLog.filter(col("dataset") === "panel")
      .orderBy("run_id").select("message").as[String].collect().toSeq

    // window 2: new rows for both groups AND a retraction that hits the
    // companion bands — k=3 is group a's CURRENT MINIMUM (v=1.0), so the
    // MIN companion must retract its top value and re-expose 5.0, while
    // u1 keeps another supporting row (distinct count stays) and x2
    // loses its only row (distinct count drops)
    src.append(Seq((6L, "a", 6.0, "u5", "x1"), (7L, "b", 8.0, "u3", "x4"))
      .toDF("k", "g", "v", "u", "x"))
    src.deleteWhere("k = 3")
    p.run()
    assert(ev.last.contains("incremental"), ev)

    def panel = p.read("panel").orderBy("g")
      .as[(String, Double, Double, Long, Long, Long)].collect().toSeq
    def recompute = src.read.groupBy("g")
      .agg(min("v").as("mn"), max("v").as("mx"),
        countDistinct("u").as("du"), countDistinct("x").as("dx"),
        count(lit(1)).as("n"))
      .orderBy("g")
      .as[(String, Double, Double, Long, Long, Long)].collect().toSeq
    assert(panel == recompute, s"panel $panel vs recompute $recompute")
    assert(panel == Seq(
      ("a", 5.0, 9.0, 3L, 1L, 3L),
      ("b", 3.0, 8.0, 2L, 2L, 3L)), panel)

    // every companion's ledger advanced to the SAME window version as the
    // MV's — no merge was skipped or left behind by the parallel launch
    val srcV = src.currentVersion
    Seq(("ext", "mn"), ("ext", "mx"), ("dist", "du"), ("dist", "dx"))
      .foreach { case (fam, alias) =>
        val t = LakeTable(spark, s"$root/pipe/panel__${fam}_$alias")
        assert(t.exists, s"companion ${fam}_$alias missing")
        assert(t.lastTxnVersion(s"graft.aggmv.panel.$fam.$alias")
          .contains(srcV),
          s"companion ${fam}_$alias ledger not at window $srcV")
      }

    // window 3 keeps maintaining (the parallel phase left consistent
    // state): another insert-only window
    src.append(Seq((8L, "a", 0.5, "u6", "x9")).toDF("k", "g", "v", "u", "x"))
    p.run()
    assert(ev.last.contains("incremental"), ev)
    assert(panel == recompute, s"panel $panel vs recompute $recompute")
    assert(panel.head == (("a", 0.5, 9.0, 4L, 2L, 4L)), panel)
  }

  test("awaitAll: a failing body surfaces its own exception and every " +
      "body still completes or fails independently") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new IllegalStateException("companion failed")
    val thrown = intercept[IllegalStateException] {
      Pipeline.awaitAll(Seq(
        () => { ran.incrementAndGet(); () },
        () => throw boom,
        // finishes well after the failure: awaitAll must join it before
        // rethrowing
        () => { Thread.sleep(300); ran.incrementAndGet(); () }))
    }
    assert(thrown eq boom)
    assert(ran.get() == 2) // every body was joined, none cancelled
    // single body runs inline (no thread)
    val t0 = Thread.currentThread()
    var seen: Thread = null
    Pipeline.awaitAll(Seq(() => { seen = Thread.currentThread() }))
    assert(seen eq t0)
  }
}

package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** FILE-PRUNED unpartitioned MERGE: a keyed merge into a large table joins
  * only the files whose zone maps admit a source key and re-references the
  * rest by hard link — O(files that may match + new data), not O(table).
  * These specs drop the scale gate to exercise the path on small fixtures
  * and prove (a) results identical to the full-rewrite merge, (b) untouched
  * files are the SAME physical files (inode equality), (c) the change feed
  * and txn ledger behave identically, and (d) the documented bail-outs
  * (null-safe NULL keys, full-span sources, below-threshold tables) keep
  * the full-rewrite path.
  */
class MergePruneSpec extends SparkSpec {
  import spark.implicits._

  private val PruneKey = "spark.graft.merge.pruneMinBytes"

  private def withPruneThreshold[A](bytes: Long)(f: => A): A = {
    val prev = spark.conf.getOption(PruneKey)
    spark.conf.set(PruneKey, bytes.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(PruneKey, v)
      case None => spark.conf.unset(PruneKey)
    }
  }

  /** Three single-file appends with disjoint SPARSE id ranges (multiples
    * of 10), zone maps on id — gaps leave room for inserts whose keys stay
    * inside one file's range. */
  private def ranged(cdf: Boolean = false): LakeTable = {
    val t = LakeTable(spark, tmpDir("mgp"))
    val schema = Seq((0L, "", 0.0)).toDF("id", "tag", "v").schema
    t.create(schema, statsColumns = Seq("id"), enableChangeFeed = cdf)
    def batch(ids: Range, tag: String) =
      ids.map(i => (i.toLong * 10, tag, i * 1.0)).toDF("id", "tag", "v").coalesce(1)
    t.append(batch(1 to 100, "a"))    // ids 10..1000
    t.append(batch(101 to 200, "b"))  // ids 1010..2000
    t.append(batch(201 to 300, "c"))  // ids 2010..3000
    t
  }

  /** file name → inode of every live data file. */
  private def inodes(t: LakeTable): Map[String, Long] =
    t.read.select(input_file_name()).distinct().as[String].collect().map { f =>
      val p = Paths.get(f.stripPrefix("file:"))
      p.getFileName.toString ->
        Files.getAttribute(p, "unix:ino").asInstanceOf[Long]
    }.toMap

  // two updates of existing B-range ids + one insert whose key sits in a
  // B-range GAP — the source's [1500, 1605] span admits only the b file
  private def src() = Seq(
    (1500L, "B", 1.5), (1600L, "B", 1.6), (1605L, "N", 3.01)
  ).toDF("id", "tag", "v")

  test("pruned merge rewrites only the admitting file; results and feed " +
      "match the full-rewrite merge; untouched files keep their inodes") {
    val pruned = ranged(cdf = true)
    val full = ranged(cdf = true)
    val before = inodes(pruned)
    val vBefore = pruned.currentVersion

    withPruneThreshold(1L) {
      pruned.merge(src(), Seq("id"), txn = Some("mgp.app" -> 7L))
    }
    full.merge(src(), Seq("id"), txn = Some("mgp.app" -> 7L))

    // identical logical results
    val a = pruned.read.orderBy("id").collect().toSeq
    val b = full.read.orderBy("id").collect().toSeq
    assert(a == b)
    assert(pruned.read.count() == 301)
    // identical change rows (2 updates = pre+post, 1 insert)
    val v = pruned.currentVersion
    val feed = pruned.readChangeFeed(v, Some(v))
      .select("id", "tag", "v", "_change_type").orderBy("id", "_change_type")
      .collect().toSeq
    val feedFull = full.readChangeFeed(v, Some(v))
      .select("id", "tag", "v", "_change_type").orderBy("id", "_change_type")
      .collect().toSeq
    assert(feed == feedFull)
    assert(feed.size == 5)
    // the a-range and c-range files were NOT rewritten: same physical files
    val after = inodes(pruned)
    val kept = before.filter { case (name, ino) => after.get(name).contains(ino) }
    assert(kept.size == 2,
      s"expected exactly the two non-admitting files kept, got $kept")
    // ledger advanced atomically with the pruned commit
    assert(pruned.lastTxnVersion("mgp.app").contains(7L))
    // a replay of the same txn is a no-op on the pruned path too
    withPruneThreshold(1L) {
      pruned.merge(src().withColumn("v", lit(9.9)), Seq("id"),
        txn = Some("mgp.app" -> 7L))
    }
    assert(pruned.read.filter(col("v") === 9.9).count() == 0)
    assert(pruned.currentVersion == v)
    assert(vBefore < v)
  }

  test("zone stats updated by the pruned commit keep pruning reads correctly") {
    val t = ranged()
    withPruneThreshold(1L) {
      t.merge(src(), Seq("id"))
    }
    // point reads through zone maps still see every row exactly once
    assert(t.readWhere(Seq(LakeTable.ZonePred.eq("id", "1500")))
      .collect().map(_.getString(1)).toSeq == Seq("B"))
    assert(t.readWhere(Seq(LakeTable.ZonePred.eq("id", "50")))
      .collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(t.readWhere(Seq(LakeTable.ZonePred.eq("id", "1605")))
      .collect().map(_.getString(1)).toSeq == Seq("N"))
  }

  test("full-span sources, sub-threshold tables and null-safe NULL keys " +
      "keep the full-rewrite path (single data entry, correct rows)") {
    // full-span source: every file admits — plan reports no win, the
    // full rewrite collapses the table to one dir
    val t1 = ranged()
    withPruneThreshold(1L) {
      t1.merge(Seq((10L, "x", 0.1), (3000L, "y", 3.0)).toDF("id", "tag", "v"),
        Seq("id"))
    }
    assert(t1.read.count() == 300)
    assert(t1.read.filter(col("tag") === "x").count() == 1)
    // below the byte threshold: full rewrite even for a selective source
    val t2 = ranged()
    val i2 = inodes(t2)
    t2.merge(src(), Seq("id")) // default 64 MB threshold ≫ fixture
    assert(inodes(t2).keySet.intersect(i2.keySet).isEmpty)
    assert(t2.read.count() == 301)
    // null-safe matching with a NULL source key must see NULL target rows
    // wherever they hide — the pruned path bails, rows stay correct
    val t3 = LakeTable(spark, tmpDir("mgp"))
    t3.create(Seq((Option(0L), 0.0)).toDF("k", "v").schema,
      statsColumns = Seq("k"))
    t3.append(Seq((Option(1L), 1.0), (Option.empty[Long], 5.0)).toDF("k", "v")
      .coalesce(1))
    t3.append(Seq((Option(2L), 2.0)).toDF("k", "v").coalesce(1))
    withPruneThreshold(1L) {
      t3.merge(Seq((Option.empty[Long], 50.0)).toDF("k", "v"), Seq("k"),
        nullSafeKeys = true)
    }
    assert(t3.read.filter(col("k").isNull).collect()
      .map(_.getDouble(1)).toSeq == Seq(50.0))
    assert(t3.read.count() == 3)
  }

  test("a source key of another dtype never prunes: an INT source key 7 " +
      "updates the STRING target key '07' instead of re-inserting it") {
    def mk(): LakeTable = {
      val t = LakeTable(spark, tmpDir("mgp_dtype"))
      t.create(Seq(("", "")).toDF("id", "tag").schema, statsColumns = Seq("id"))
      Seq(Seq("05", "07"), Seq("50", "59"), Seq("90", "99")).foreach { ids =>
        t.append(ids.map(i => (i, "old")).toDF("id", "tag").coalesce(1)) }
      t
    }
    val src = Seq((7, "new")).toDF("id", "tag")
    val pruned = mk()
    withPruneThreshold(0L) { pruned.merge(src, Seq("id")) }
    val full = mk()
    full.merge(src, Seq("id"))
    def rows(t: LakeTable) = t.read.select(col("id").cast("string"), col("tag"))
      .as[(String, String)].collect().toSet
    assert(rows(pruned) == rows(full))
    assert(pruned.read.count() == 6, rows(pruned))
    assert(pruned.read.filter(col("tag") === "new").count() == 1, rows(pruned))
  }
}

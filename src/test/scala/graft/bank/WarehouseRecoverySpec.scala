package graft.bank

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The write-new → swap crash window, executed rather than documented:
  * [[Warehouse.recover]] must restore a table stranded at `<name>.tmp`
  * (crash between the delete and the move), leave healthy tables
  * untouched, and drop a stale tmp beside a healthy table (an aborted
  * write that never reached the delete — the live dir is the committed
  * version). */
class WarehouseRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("recover: stranded tmp restored, healthy table untouched, stale tmp dropped") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_recover").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))

    // healthy table, no tmp: no-op
    assert(!wh.recover("t"))
    assert(wh.read("t").count() == 2)

    // simulate a crash between delete and move: table gone, tmp present
    Files.move(Paths.get(root, "t"), Paths.get(root, "t.tmp"))
    assert(!wh.exists("t"))
    assert(wh.recover("t"))
    assert(wh.exists("t") && wh.read("t").count() == 2)
    assert(!Files.exists(Paths.get(root, "t.tmp")))

    // stale tmp beside a healthy table (aborted write before the
    // delete): recovery keeps the live version and drops the tmp
    Files.createDirectories(Paths.get(root, "t.tmp"))
    Files.writeString(Paths.get(root, "t.tmp", "junk"), "aborted")
    assert(!wh.recover("t"))
    assert(wh.read("t").count() == 2)
    assert(!Files.exists(Paths.get(root, "t.tmp")))

    // tagged swap crash: the tag travels with the recovered version
    wh.overwriteTagged("d", Seq((1, "x")).toDF("k", "v"),
      Map("_stream_batch" -> "cp 7"))
    Files.move(Paths.get(root, "d"), Paths.get(root, "d.tmp"))
    assert(wh.recover("d"))
    assert(wh.readTag("d", "_stream_batch").contains("cp 7"))
  }

  test("readTag heals: a tagged version stranded at its tmp keeps its tag") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_readtag").toString
    val wh = new Warehouse(spark, root)
    wh.overwriteTagged("d", Seq((1, "x")).toDF("k", "v"),
      Map("_stream_batch" -> "cp 7"))
    // crash between the swap's delete and move, and no recover call: the
    // replay guard's first read is the tag
    Files.move(Paths.get(root, "d"), Paths.get(root, "d.tmp"))
    assert(wh.readTag("d", "_stream_batch").contains("cp 7"))
    assert(!Files.exists(Paths.get(root, "d.tmp")))
  }

  test("recover: COMMITTED tmp beside a (possibly partial) table rolls FORWARD") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_recover_fwd").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite("t", Seq((1, "old")).toDF("k", "v"))
    // rebuild the crash-mid-delete shape: a NEW version fully written
    // and marked at t.tmp (past the commit point), live dir possibly
    // half-deleted — recovery must take the marked tmp, never keep the
    // live dir (it may be partial) and never drop the only complete copy
    val tmpWh = new Warehouse(spark, root)
    tmpWh.overwrite("t.tmp_build", Seq((1, "new"), (2, "new")).toDF("k", "v"))
    Files.move(Paths.get(root, "t.tmp_build"), Paths.get(root, "t.tmp"))
    Files.writeString(Paths.get(root, "t.tmp", "_COMMITTED"), "")
    assert(wh.recover("t"))
    val vs = wh.read("t").select("v").collect().map(_.getString(0)).toSet
    assert(vs == Set("new") && wh.read("t").count() == 2)
    assert(!Files.exists(Paths.get(root, "t.tmp")))
  }

  test("write paths self-heal: append after a crashed compact cannot be lost") {
    import spark.implicits._
    // The round-11 hazard: compact crashes in its marker→delete window
    // (marked tmp AND intact live dir), a batch append then lands on the
    // live dir, and a later recover() rolls forward to the stale tmp —
    // silently discarding the append. heal-at-entry closes it: append()
    // itself rolls the marked tmp forward FIRST, so the new rows land on
    // the committed version and survive every later recover call.
    val root = Files.createTempDirectory("wh_heal").toString
    val wh = new Warehouse(spark, root)
    wh.overwrite("t", Seq((1, "a")).toDF("k", "v"))
    // crashed compact: committed tmp beside the intact live dir
    val build = new Warehouse(spark, root)
    build.overwrite("t.tmp_build", Seq((1, "a")).toDF("k", "v"))
    Files.move(Paths.get(root, "t.tmp_build"), Paths.get(root, "t.tmp"))
    Files.writeString(Paths.get(root, "t.tmp", "_COMMITTED"), "")
    // the append heals first, then lands on the rolled-forward version
    wh.append("t", Seq((2, "b")).toDF("k", "v"))
    assert(!Files.exists(Paths.get(root, "t.tmp")))
    assert(wh.read("t").count() == 2)
    // a recover AFTER the append (the old data-loss trigger) is a no-op
    assert(!wh.recover("t"))
    assert(wh.read("t").count() == 2)
  }

  test("partitionValues: directory-listing metadata read (ADVICE r14)") {
    import spark.implicits._
    val root = Files.createTempDirectory("wh_parts").toString
    val wh = new Warehouse(spark, root)
    // absent table: empty, no crash
    assert(wh.partitionValues("f", "dt").isEmpty)
    wh.overwritePartitions("f", Seq(1, 3).toDF("k"), "dt" -> "2021-01-02")
    wh.overwritePartitions("f", Seq(2).toDF("k"), "dt" -> "2021-01-01")
    assert(wh.partitionValues("f", "dt").sorted ==
      Seq("2021-01-01", "2021-01-02"))
    // a later partition write extends the listing; wrong column name:
    // empty
    wh.overwritePartitions("f", Seq(4).toDF("k"), "dt" -> "2021-01-03")
    assert(wh.partitionValues("f", "dt").sorted ==
      Seq("2021-01-01", "2021-01-02", "2021-01-03"))
    assert(wh.partitionValues("f", "nope").isEmpty)
    // values needing URL decoding round-trip (space in the value)
    wh.overwritePartitions("g", Seq(1).toDF("k"), "dt" -> "a b")
    assert(wh.partitionValues("g", "dt") == Seq("a b"))
  }

  test("logMeta: a count above Int.MaxValue fails before any row is written") {
    val wh = new Warehouse(spark,
      Files.createTempDirectory("wh_meta").toString)
    val day = java.sql.Date.valueOf("2021-03-01")
    wh.logMeta(Seq(Warehouse.Meta("stg_transactions", day, Int.MaxValue)))
    val ex = intercept[ArithmeticException] {
      wh.logMeta(Seq(Warehouse.Meta("stg_terminals", day, 1),
        Warehouse.Meta("stg_transactions", day, 1L << 31)))
    }
    assert(ex.getMessage.contains("overflow"), ex.getMessage)
    assert(wh.read(Pipeline.MetaLoading).collect().map(r =>
      (r.getString(0), r.getInt(2))).toSeq ==
      Seq(("stg_transactions", Int.MaxValue)))
  }
}

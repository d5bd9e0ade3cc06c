package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LakeCatalog, LakeTable}

class LakeTableSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val root = s"${operators.Lakehouse.scratch}/spec_laketable"

  test("create/read round trip") {
    val p = s"$root/t1"
    LakeTable.create(spark, p, spark.range(100).toDF("id"))
    assert(LakeTable.read(spark, p).count() == 100)
    assert(LakeTable.currentVersion(spark, p).contains(0L))
  }

  test("append adds a file group and bumps the version") {
    val p = s"$root/t2"
    LakeTable.create(spark, p, spark.range(10).toDF("id"))
    LakeTable.append(spark, p, spark.range(10, 25).toDF("id"))
    assert(LakeTable.currentVersion(spark, p).contains(1L))
    assert(LakeTable.read(spark, p).count() == 25)
    assert(LakeTable.read(spark, p, Some(0L)).count() == 10) // old snapshot intact
  }

  test("merge upserts matched keys and inserts new ones") {
    val p = s"$root/t3"
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    LakeTable.merge(spark, p, Seq((2L, "B"), (9L, "Z")).toDF("k", "v"), "k")
    val got = LakeTable.read(spark, p).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "Z"))
    // pre-merge snapshot unchanged
    assert(LakeTable.read(spark, p, Some(0L)).as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("DML is file-group granular: untouched groups survive verbatim, pruned no-ops move no data") {
    val p = s"$root/t_granular"
    // two disjoint key ranges in two file groups
    LakeTable.create(spark, p, spark.range(0, 100).toDF("k").withColumn("v", lit("lo")))
    LakeTable.append(spark, p, spark.range(1000, 1100).toDF("k").withColumn("v", lit("hi")))
    val dirsBefore = LakeTable.readCommit(spark, p, 1L).dirs
    assert(dirsBefore.size == 2)
    val loDir = dirsBefore.head // group with keys 0..99

    // keyed MERGE confined to the hi range: the lo group's dir must
    // ride the commit forward verbatim — no rewrite of 0..99.
    LakeTable.merge(spark, p, Seq((1050L, "HI"), (2000L, "NEW")).toDF("k", "v"), "k")
    val afterMerge = LakeTable.readCommit(spark, p, 2L).dirs
    assert(afterMerge.contains(loDir), s"lo group rewritten: $afterMerge")
    assert(!afterMerge.contains(dirsBefore(1)), "hi group should have been rewritten")
    val got = LakeTable.read(spark, p).as[(Long, String)].collect().toMap
    assert(got.size == 201 && got(1050L) == "HI" && got(2000L) == "NEW" && got(5L) == "lo")

    // DELETE whose bounds miss every group: pure metadata commit, dirs unchanged.
    val before = LakeTable.readCommit(spark, p, 3L - 1).dirs
    LakeTable.delete(spark, p, col("k") >= 50000L)
    assert(LakeTable.readCommit(spark, p, 3L).dirs == before)
    assert(LakeTable.read(spark, p).count() == 201)

    // UPDATE confined to the lo range keeps every other group verbatim.
    LakeTable.update(spark, p, col("k") < 100L, Map("v" -> lit("LO")))
    val afterUpd = LakeTable.readCommit(spark, p, 4L).dirs
    assert(before.filter(_ != loDir).forall(afterUpd.contains), s"hi groups rewritten: $afterUpd")
    assert(!afterUpd.contains(loDir))
    val m = LakeTable.read(spark, p).as[(Long, String)].collect().toMap
    assert(m(5L) == "LO" && m(1050L) == "HI" && m(1001L) == "hi")

    // DELETE bounded to one group deletes exactly there.
    LakeTable.delete(spark, p, col("k") >= 1000L && col("k") < 1010L)
    assert(LakeTable.read(spark, p).count() == 201 - 10)
    assert(LakeTable.read(spark, p).where(col("v") === "LO").count() == 100)
  }

  test("compaction shrinks file count, keeps data identical") {
    val p = s"$root/t4"
    LakeTable.create(spark, p, spark.range(1000).toDF("id").repartition(32))
    val before = LakeTable.dataFiles(spark, p).size
    LakeTable.compact(spark, p, 2)
    val after = LakeTable.dataFiles(spark, p).size
    assert(before >= 30 && after <= 2, s"$before -> $after")
    assert(LakeTable.read(spark, p).agg(sum("id")).head().getLong(0) == 499500L)
  }

  test("schema evolution: merged read nulls the missing column") {
    val p = s"$root/t5"
    LakeTable.create(spark, p, Seq((1L, 10L)).toDF("id", "x"))
    LakeTable.append(spark, p, Seq((2L, 20L, "new")).toDF("id", "x", "tag"))
    val df = LakeTable.read(spark, p)
    assert(df.columns.toSet == Set("id", "x", "tag"))
    assert(df.where(col("tag").isNull).count() == 1)
  }

  test("catalog lists tables with versions and file counts") {
    val croot = s"$root/cat"
    val cat = new LakeCatalog(spark, croot)
    cat.createTable("alpha", spark.range(5).toDF("id"))
    cat.createTable("beta", spark.range(5).toDF("id"))
    LakeTable.append(spark, s"$croot/beta", spark.range(5).toDF("id"))
    val rows = cat.listTables().orderBy("table_name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("alpha", "beta"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1L))
    assert(cat.table("beta").count() == 10)
  }

  test("delete/update DML and vacuum retention") {
    val p = s"$root/dml"
    LakeTable.create(spark, p, Seq((1L, 10.0), (2L, -5.0), (3L, 7.0)).toDF("k", "v"))
    LakeTable.delete(spark, p, col("v") < 0)                      // v1
    LakeTable.update(spark, p, col("k") === 1L, Map("v" -> lit(99.0))) // v2
    val got = LakeTable.read(spark, p).as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 99.0, 3L -> 7.0))
    assert(LakeTable.read(spark, p, Some(0L)).count() == 3) // time travel intact
    LakeTable.vacuum(spark, p, retainFrom = 2L)
    assert(LakeTable.read(spark, p).as[(Long, Double)].collect().toMap == got)
    intercept[Exception] { LakeTable.read(spark, p, Some(0L)).collect() } // horizon dropped
  }

  test("commit-log checkpoint: 200-commit log resolves from hint + bounded tail, not a full listing") {
    import spark.implicits._
    val p = s"$root/ckpt200"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    // 200 further commits. Data content is irrelevant to LOG resolution
    // cost, so the commits reference the v0 group directly instead of
    // paying 200 parquet writes.
    val d0 = LakeTable.readCommit(spark, p, 0L).dirs
    (1L to 200L).foreach(v => LakeTable.writeCommit(spark, p, LakeTable.Commit(v, "append", d0)))

    LakeTable.logOps.reset()
    assert(LakeTable.currentVersion(spark, p).contains(200L))
    val resolveOps = LakeTable.logOps.sum()
    assert(resolveOps <= LakeTable.CheckpointInterval + 4,
      s"currentVersion cost $resolveOps file ops over a 200-commit log")

    LakeTable.logOps.reset()
    assert(LakeTable.read(spark, p).count() == 1L) // snapshot read end-to-end
    val readOps = LakeTable.logOps.sum()
    assert(readOps <= LakeTable.CheckpointInterval + 6,
      s"snapshot resolution cost $readOps file ops over a 200-commit log")

    // The hint is advisory: with it gone, resolution falls back to the
    // full listing and still answers correctly.
    val ckpt = new org.apache.hadoop.fs.Path(s"$p/_graft_log/_checkpoint.json")
    ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ckpt, false)
    LakeTable.logOps.reset()
    assert(LakeTable.currentVersion(spark, p).contains(200L))
    assert(LakeTable.logOps.sum() > 100, "listing fallback should touch the whole log")

    // vacuum refreshes the hint before dropping old commits
    LakeTable.vacuum(spark, p, retainFrom = 195L)
    LakeTable.logOps.reset()
    assert(LakeTable.currentVersion(spark, p).contains(200L))
    assert(LakeTable.logOps.sum() <= LakeTable.CheckpointInterval + 4)
  }

  test("version claim is exclusive (one publisher per version); blind appends rebase") {
    val p = s"$root/race"
    LakeTable.create(spark, p, spark.range(5).toDF("id"))
    // Two writers race to commit v1 (rename is the commit point).
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = Seq(10, 20).map { n =>
      new Thread(() =>
        try { LakeTable.append(spark, p, spark.range(n).toDF("id")); results.add(true) }
        catch { case _: IllegalStateException => results.add(false) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // Blind appends read nothing, so the claim-race loser REBASES its
    // already-staged group onto the winner and lands at the next
    // version — both succeed, no data is written twice.
    assert(results.size == 2 && !results.contains(false))
    assert(LakeTable.currentVersion(spark, p).contains(2L))
    assert(LakeTable.read(spark, p).count() == 35) // 5 + 10 + 20
    // Deterministic exactly-one-winner: a second commit of an ALREADY
    // committed version must be rejected (local-FS rename would have
    // silently replaced it — the exclusive claim is what rejects it).
    val cur = LakeTable.currentVersion(spark, p).get
    val before = LakeTable.read(spark, p).count()
    intercept[IllegalStateException] {
      LakeTable.writeCommit(spark, p, LakeTable.Commit(cur, "append", Seq("bogus")))
    }
    assert(LakeTable.read(spark, p).count() == before) // commit intact
  }

  test("racing data-reading DML: one wins, the loser aborts typed, the table stays consistent") {
    import scala.jdk.CollectionConverters._
    val p = s"$root/race_dml"
    LakeTable.create(spark, p,
      spark.range(0, 100).toDF("k").withColumn("v", lit(1L)))
    // Two updates race from the same base snapshot. A data-reading
    // verb must NOT blind-rebase (its rewrite could drop the winner's
    // changes): exactly one claims the version, the other surfaces the
    // typed race/conflict signal.
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(10L, 20L).map { bump =>
      new Thread(() =>
        try {
          LakeTable.update(spark, p, col("k") < 50, Map("v" -> (col("v") + bump)))
          outcomes.add("ok")
        } catch {
          case _: LakeTable.CommitRaceLostException => outcomes.add("race")
          case _: LakeTable.ConcurrentWriteException => outcomes.add("conflict")
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val os = outcomes.asScala.toSeq.sorted
    assert(os.count(_ == "ok") >= 1, os.toString)
    // whichever subset landed, the table equals SOME serial application
    val sums = LakeTable.read(spark, p).where(col("k") < 50)
      .agg(sum("v")).head().getLong(0)
    val serial = Set(50L * 11, 50L * 21, 50L * 31) // one, the other, or both in sequence
    assert(serial.contains(sums), s"v-sum $sums not a serial outcome; outcomes=$os")
  }

  test("an appender fleet all lands: each rebase is metadata-only (one group per appender)") {
    import scala.jdk.CollectionConverters._
    val p = s"$root/race_fleet"
    LakeTable.create(spark, p, spark.range(0).toDF("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() =>
        try LakeTable.append(spark, p, spark.range(i * 100L, i * 100L + i).toDF("id"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"no appender may fail: ${errs.asScala.map(_.getMessage)}")
    assert(LakeTable.currentVersion(spark, p).contains(6L))
    assert(LakeTable.read(spark, p).count() == (1 to 6).sum)
    // exactly one data group per appender — losers re-commit, never re-write
    val c = LakeTable.readCommit(spark, p, 6L)
    assert(c.dirs.length == 7) // d0 (empty create) + 6 appended groups
  }

  test("overwriteWhere swaps a predicate region in one commit; untouched groups survive; CDC records the swap") {
    val p = s"$root/replace"
    LakeTable.create(spark, p, spark.range(0, 50).toDF("k").withColumn("v", lit("lo")))
    LakeTable.append(spark, p, spark.range(1000, 1050).toDF("k").withColumn("v", lit("hi")))
    LakeTable.enableCdc(spark, p, "k")
    val loDir = LakeTable.readCommit(spark, p, 1L).dirs.head
    // replace the hi region with a shrunken recomputation
    val repl = spark.range(1000, 1010).toDF("k").withColumn("v", lit("HI2"))
    val v = LakeTable.overwriteWhere(spark, p, col("k") >= 1000L, repl)
    assert(v == 3L)
    val dirs = LakeTable.readCommit(spark, p, 3L).dirs
    assert(dirs.contains(loDir), s"lo group rewritten: $dirs") // untouched carried
    val m = LakeTable.read(spark, p).as[(Long, String)].collect().toMap
    assert(m.size == 60 && m(5L) == "lo" && m(1005L) == "HI2" && !m.contains(1040L))
    // one commit, and the feed shows deletes for the dropped 40 keys +
    // updates for the kept 10 — consumable like any other DML
    val feed = LakeTable.readChangeFeed(spark, p, fromExclusive = 1L)
    val byType = feed.groupBy("change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("delete" -> 40L,
      "update_preimage" -> 10L, "update_postimage" -> 10L), byType)
  }

  test("TIMESTAMP AS OF: versionAt resolves the newest commit at or before the timestamp") {
    val p = s"$root/tstravel"
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(15)
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "v"))
    val cur = LakeTable.state(spark, p).version
    assert(LakeTable.versionAt(spark, p, t1, cur).contains(0L))
    assert(LakeTable.versionAt(spark, p, System.currentTimeMillis(), cur).contains(1L))
    // before the table existed
    val c0 = LakeTable.readCommit(spark, p, 0L)
    assert(LakeTable.versionAt(spark, p, c0.ts - 1, cur).isEmpty)
    // the resolved snapshot reads the right content
    val v0 = LakeTable.versionAt(spark, p, t1, cur).get
    assert(LakeTable.read(spark, p, Some(v0)).count() == 1L)
  }

  test("DML on a partitioned table preserves the partitioned layout (pruning survives rewrites)") {
    val p = s"$root/part_dml"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p,
      spark.range(100).toDF("k").withColumn("g", (col("k") % 4).cast("string")),
      partitionBy = Seq("g"))
    LakeTable.update(spark, p, col("k") >= 0L, Map("k" -> (col("k") + 1000L)))
    LakeTable.delete(spark, p, col("k") === 1005L)
    val df = LakeTable.read(spark, p).where(col("g") === "2")
    assert(df.count() == 25)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("g"), plan)
    val pruned = df.select(input_file_name()).distinct().count()
    val all = LakeTable.read(spark, p).select(input_file_name()).distinct().count()
    assert(pruned < all, s"partition pruning lost after DML: $pruned vs $all")
  }

  test("partition values prune DML groups and point/range reads (no footer stats needed)") {
    val p = s"$root/part_prune"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    def batch(lo: Int, hi: Int, g: String) =
      spark.range(lo, hi).toDF("k").withColumn("g", lit(g))
    // Two partitioned groups with DISJOINT partition values.
    LakeTable.create(spark, p, batch(0, 50, "a").union(batch(50, 100, "b")),
      partitionBy = Seq("g"))
    LakeTable.append(spark, p, batch(100, 150, "c").union(batch(150, 200, "d")),
      partitionBy = Seq("g"))
    val before = LakeTable.readCommit(spark, p,
      LakeTable.currentVersion(spark, p).get)
    // DELETE on the PARTITION column: only the group holding g='a'
    // can match; the c/d group must carry forward verbatim.
    LakeTable.delete(spark, p, col("g") === "a")
    val after = LakeTable.readCommit(spark, p,
      LakeTable.currentVersion(spark, p).get)
    assert(after.dirs.contains(before.dirs.last),
      s"partition-value pruning failed: ${before.dirs.last} was rewritten (${after.dirs})")
    assert(!after.dirs.contains(before.dirs.head), "touched group must rewrite")
    assert(LakeTable.read(spark, p).count() === 150)
    assert(LakeTable.read(spark, p).where(col("g") === "a").count() === 0)
    // Point read on the partition column: partition columns are
    // recovered (basePath) and only matching-partition files open.
    val pointDf = LakeTable.readPoint(spark, p, "g", "c")
    assert(pointDf.count() === 50)
    assert(pointDf.select(min("k"), max("k")).as[(Long, Long)].head() === ((100L, 149L)))
    val opened = pointDf.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(opened.forall(_.contains("g=c")), s"opened non-matching files: ${opened.toSeq}")
    // Range read on the DATA column still prunes by footer stats
    // inside partitioned groups and keeps the partition column.
    val r = LakeTable.readRange(spark, p, "k", 160, 170)
    assert(r.count() === 11)
    assert(r.select("g").distinct().as[String].collect().toSeq === Seq("d"))
  }

  test("partition-SUBDIR granular DML: untouched partitions of a touched group carry forward as entries") {
    val p = s"$root/part_subdir"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    // ONE group holding four partitions — the group-granular split
    // can't skip it, the partition-granular one rewrites 1/4 of it.
    LakeTable.create(spark, p,
      spark.range(400).select(($"id" % 100).as("k"), (($"id" / 100).cast("int")).cast("string").as("g"), $"id".as("v")),
      partitionBy = Seq("g"))
    LakeTable.delete(spark, p, col("g") === "1" && col("k") < 50)
    val c = LakeTable.readCommit(spark, p, LakeTable.currentVersion(spark, p).get)
    // Commit = three untouched partition subdir entries + the rewrite.
    val subdirEntries = c.dirs.filter(_.contains("="))
    assert(subdirEntries.toSet.map((e: String) => e.substring(e.indexOf('=') + 1)) === Set("0", "2", "3"),
      s"expected g=0/2/3 carried as subdir entries: ${c.dirs}")
    assert(c.dirs.exists(d => !d.contains("=")), s"rewrite group missing: ${c.dirs}")
    // Data correct, partition column intact.
    assert(LakeTable.read(spark, p).count() === 350)
    assert(LakeTable.read(spark, p).where($"g" === "1").count() === 50)
    assert(LakeTable.read(spark, p).groupBy("g").count().count() === 4)
    // Second DML over subdir entries: still correct, still granular.
    LakeTable.update(spark, p, col("g") === "2", Map("v" -> (col("v") + 10000L)))
    val c2 = LakeTable.readCommit(spark, p, LakeTable.currentVersion(spark, p).get)
    assert(c2.dirs.exists(_.endsWith("g=0")), s"g=0 must survive verbatim: ${c2.dirs}")
    assert(LakeTable.read(spark, p).where($"g" === "2" && $"v" >= 10000L).count() === 100)
    assert(LakeTable.read(spark, p).count() === 350)
    // Vacuum keeps whole groups any retained commit slices into.
    LakeTable.vacuum(spark, p, LakeTable.currentVersion(spark, p).get)
    assert(LakeTable.read(spark, p).count() === 350)
    // Stats pruning still works through subdir entries (k lives in footers).
    val few = LakeTable.readRange(spark, p, "k", 10, 12)
    assert(few.count() === 4 * 3 - 3) // g=1 lost k<50: 3 ks × 4 gs − 3
  }

  test("property: random granular-DML sequences equal the in-memory model (pruning never loses rows)") {
    // The granular rewrite has many paths (touched/untouched splits,
    // metadata-only no-ops, bound extraction, partial groups). Drive a
    // seeded random mutation sequence against a plain Map model and
    // require exact table equality after every step.
    val rnd = new scala.util.Random(4242L)
    val p = s"$root/prop_dml"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    var model = (0L until 40L).map(k => k -> s"v$k").toMap
    LakeTable.create(spark, p, model.toSeq.toDF("k", "v"))
    for (step <- 1 to 12) {
      rnd.nextInt(5) match {
        case 0 => // append a fresh disjoint range
          val base = 1000L * step
          val rows = (base until base + rnd.nextInt(5) + 1L).map(k => k -> s"a$k")
          model ++= rows
          LakeTable.append(spark, p, rows.toDF("k", "v"))
        case 1 => // keyed merge: updates + inserts across ranges
          val keys = Seq.fill(rnd.nextInt(4) + 1)(
            if (rnd.nextBoolean()) rnd.nextInt(40).toLong else 1000L + rnd.nextInt(3000))
          val rows = keys.distinct.map(k => k -> s"m$step-$k")
          model ++= rows
          LakeTable.merge(spark, p, rows.toDF("k", "v"), "k")
        case 2 => // bounded delete
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(500)
          model = model.filter { case (k, _) => k < lo || k > hi }
          LakeTable.delete(spark, p, col("k") >= lo && col("k") <= hi)
        case 3 => // bounded update
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(500)
          model = model.map { case (k, v) =>
            k -> (if (k >= lo && k <= hi) s"u$step" else v) }
          LakeTable.update(spark, p, col("k") >= lo && col("k") <= hi,
            Map("v" -> lit(s"u$step")))
        case 4 => // predicate-scoped overwrite of a narrow region
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(200)
          val repl = (lo to lo.min(hi)).map(k => k -> s"r$step-$k")
          model = model.filter { case (k, _) => k < lo || k > hi } ++ repl
          LakeTable.overwriteWhere(spark, p, col("k") >= lo && col("k") <= hi,
            repl.toDF("k", "v"))
      }
      val got = LakeTable.read(spark, p).as[(Long, String)].collect().toMap
      assert(got == model, s"divergence at step $step: " +
        s"extra=${(got.toSet -- model.toSet).take(5)} missing=${(model.toSet -- got.toSet).take(5)}")
    }
  }

  test("property: random MOR+COW mutation interleavings equal the in-memory model") {
    // Deletion vectors add states the COW fuzz never reaches: vectors
    // stacking per group, COW rewrites over vectored groups, update
    // images getting vectored by LATER deletes, compaction purges.
    // Same contract: exact table == model after every step.
    for (seed <- Seq(7777L, 20260813L)) {
    val rnd = new scala.util.Random(seed)
    val p = s"$root/prop_mor_$seed"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    var model = (0L until 60L).map(k => k -> k * 2.0).toMap
    LakeTable.create(spark, p, model.toSeq.toDF("k", "v"))
    for (step <- 1 to 14) {
      rnd.nextInt(6) match {
        case 0 => // append a fresh disjoint range
          val base = 1000L * step
          val rows = (base until base + rnd.nextInt(5) + 1L).map(k => k -> k * 1.0)
          model ++= rows
          LakeTable.append(spark, p, rows.toDF("k", "v"))
        case 1 => // MOR delete of a bounded range
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(600)
          model = model.filter { case (k, _) => k < lo || k > hi }
          LakeTable.deleteMor(spark, p, col("k") >= lo && col("k") <= hi)
        case 2 => // MOR update of a bounded range
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(600)
          val add = step * 10000.0
          model = model.map { case (k, v) =>
            k -> (if (k >= lo && k <= hi) v + add else v) }
          LakeTable.updateMor(spark, p, col("k") >= lo && col("k") <= hi,
            Map("v" -> (col("v") + lit(add))))
        case 3 => // COW delete over possibly-vectored groups
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(300)
          model = model.filter { case (k, _) => k < lo || k > hi }
          LakeTable.delete(spark, p, col("k") >= lo && col("k") <= hi)
        case 4 => // COW keyed merge (updates + inserts)
          val keys = Seq.fill(rnd.nextInt(4) + 1)(
            if (rnd.nextBoolean()) rnd.nextInt(60).toLong else 1000L + rnd.nextInt(3000))
          val rows = keys.distinct.map(k => k -> (step * 100000.0 + k))
          model ++= rows
          LakeTable.merge(spark, p, rows.toDF("k", "v"), "k")
        case 5 => // compaction purges every vector, data unchanged
          LakeTable.compact(spark, p, 2)
      }
      val got = LakeTable.read(spark, p).as[(Long, Double)].collect().toMap
      assert(got == model, s"divergence at step $step (seed $seed): " +
        s"extra=${(got.toSet -- model.toSet).take(5)} missing=${(model.toSet -- got.toSet).take(5)}")
    }
    }
  }

  test("property: random granular DML over a PARTITIONED table equals the model (subdir entries included)") {
    // Same model-equivalence drive as the flat property test, but the
    // table is partitioned and predicates alternate between the
    // PARTITION column (exercising partition-value pruning and
    // subdir-entry splits) and the data column (footer stats through
    // subdir entries). Every step must leave table == model.
    val rnd = new scala.util.Random(20260813L)
    val p = s"$root/prop_dml_part"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    def gOf(k: Long) = (k % 4).toString
    var model = (0L until 60L).map(k => k -> s"v$k").toMap
    def df(rows: Seq[(Long, String)]) =
      rows.toDF("k", "v").withColumn("g", (col("k") % 4).cast("string"))
    LakeTable.create(spark, p, df(model.toSeq), partitionBy = Seq("g"))
    for (step <- 1 to 12) {
      rnd.nextInt(5) match {
        case 0 => // append
          val base = 1000L * step
          val rows = (base until base + rnd.nextInt(6) + 1L).map(k => k -> s"a$k")
          model ++= rows
          LakeTable.append(spark, p, df(rows), partitionBy = Seq("g"))
        case 1 => // keyed merge on the data column
          val keys = Seq.fill(rnd.nextInt(4) + 1)(
            if (rnd.nextBoolean()) rnd.nextInt(60).toLong else 1000L + rnd.nextInt(3000))
          val rows = keys.distinct.map(k => k -> s"m$step-$k")
          model ++= rows
          LakeTable.merge(spark, p, df(rows), "k")
        case 2 => // delete on the PARTITION column (+ data bound half the time)
          val g = rnd.nextInt(4).toString
          if (rnd.nextBoolean()) {
            model = model.filter { case (k, _) => gOf(k) != g }
            LakeTable.delete(spark, p, col("g") === g)
          } else {
            val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(800)
            model = model.filter { case (k, _) => gOf(k) != g || k < lo || k > hi }
            LakeTable.delete(spark, p, col("g") === g && col("k") >= lo && col("k") <= hi)
          }
        case 3 => // update on the partition column
          val g = rnd.nextInt(4).toString
          model = model.map { case (k, v) =>
            k -> (if (gOf(k) == g) s"u$step" else v) }
          LakeTable.update(spark, p, col("g") === g, Map("v" -> lit(s"u$step")))
        case 4 => // bounded delete on the data column only
          val lo = rnd.nextInt(4000).toLong; val hi = lo + rnd.nextInt(400)
          model = model.filter { case (k, _) => k < lo || k > hi }
          LakeTable.delete(spark, p, col("k") >= lo && col("k") <= hi)
      }
      val got = LakeTable.read(spark, p).select("k", "v")
        .as[(Long, String)].collect().toMap
      assert(got == model, s"divergence at step $step: " +
        s"extra=${(got.toSet -- model.toSet).take(5)} missing=${(model.toSet -- got.toSet).take(5)}")
      // Partition column always reconstructs from the layout.
      val badG = LakeTable.read(spark, p)
        .where(col("g") =!= (col("k") % 4).cast("string")).count()
      assert(badG === 0L, s"partition column diverged at step $step")
    }
  }

  test("SQL TVFs: graft_history and graft_changes expose log + CDC feed to pure SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.tvf")
    spark.sql("DROP TABLE IF EXISTS graft_cat.tvf.t")
    spark.sql("CREATE TABLE graft_cat.tvf.t AS SELECT id AS k, id * 10 AS v FROM range(5)")
    val root = GraftSession.catalogRoot + "/tvf/t"
    LakeTable.enableCdc(spark, root, "k")
    spark.sql("INSERT INTO graft_cat.tvf.t VALUES (100, 1000)")
    spark.sql("UPDATE graft_cat.tvf.t SET v = 0 WHERE k = 2")
    // History: newest-first, actions named, by catalog name OR path.
    // CTAS is two commits: the catalog's empty create + the data append;
    // enabling the feed is a meta commit.
    val hist = spark.sql("SELECT version, action FROM graft_history('tvf.t')")
      .as[(Long, String)].collect().toSeq
    assert(hist === Seq((4L, "update"), (3L, "append"), (2L, "meta"), (1L, "append"),
      (0L, "create")), hist.toString)
    assert(spark.sql(s"SELECT count(*) FROM graft_history('$root')")
      .as[Long].head() === 5L)
    // Change feed: the UPDATE's preimage/postimage + the INSERT.
    val ch = spark.sql(
      """SELECT change_type, k, v FROM graft_changes('tvf.t')
        |ORDER BY _commit_version, change_type, k""".stripMargin)
      .as[(String, Long, Long)].collect().toSeq
    assert(ch === Seq(
      ("insert", 100L, 1000L),
      ("update_postimage", 2L, 0L), ("update_preimage", 2L, 20L)), ch.toString)
    // Version-range slice: (3, 4] = the UPDATE's two records only.
    assert(spark.sql("SELECT count(*) FROM graft_changes('tvf.t', 3, 4)")
      .as[Long].head() === 2L)

    // graft_files: the live-file inventory, metadata-only. Every row
    // carries real listed bytes; no file is DV-masked yet.
    val files = spark.sql(
      "SELECT file_group, file, bytes, has_deletes FROM graft_files('tvf.t')")
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(files.nonEmpty && files.forall(_._3 > 0L), files.toString)
    assert(files.forall(!_._4), files.toString)
    // A MOR delete marks exactly the hit files as carrying deletes.
    spark.sql("CALL graft_cat.system.delete_mor('tvf.t', 'k = 100')")
    val after = spark.sql(
      "SELECT has_deletes, count(*) FROM graft_files('tvf.t') GROUP BY 1")
      .as[(Boolean, Long)].collect().toMap
    assert(after.getOrElse(true, 0L) >= 1L, after.toString)
    assert(after.getOrElse(false, 0L) >= 1L, after.toString)
  }

  test("appendOnce: replayed batches are no-ops, concurrent twin replays land exactly once") {
    val p = s"$root/append_once"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, spark.range(0).toDF("id"))
    val app = "stream-query-7"
    // Batch 0 commits; its replay (same app version) is a no-op.
    assert(LakeTable.appendOnce(spark, p, spark.range(10).toDF("id"), app, 0L))
    assert(!LakeTable.appendOnce(spark, p, spark.range(10).toDF("id"), app, 0L))
    assert(LakeTable.read(spark, p).count() === 10)
    // Batch 1 commits; stale batch-0 replay after it still a no-op.
    assert(LakeTable.appendOnce(spark, p, spark.range(10, 15).toDF("id"), app, 1L))
    assert(!LakeTable.appendOnce(spark, p, spark.range(10).toDF("id"), app, 0L))
    assert(LakeTable.read(spark, p).count() === 15)
    assert(LakeTable.txnVersion(spark, p, app) === Some(1L))
    // A DIFFERENT app's versions are independent.
    assert(LakeTable.appendOnce(spark, p, spark.range(15, 18).toDF("id"), "other-app", 0L))
    assert(LakeTable.read(spark, p).count() === 18)
    // Concurrent twin replays of one batch: exactly one commits.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => results.add(
        LakeTable.appendOnce(spark, p, spark.range(18, 20).toDF("id"), app, 2L)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(b => b) === 1, results.asScala.toSeq.toString)
    assert(LakeTable.read(spark, p).count() === 20)
  }

  test("appendOnce marks survive vacuum: a later replay is still a no-op") {
    val p = s"$root/append_once_vacuum"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, Seq(1L).toDF("id"))
    assert(LakeTable.appendOnce(spark, p, Seq(2L).toDF("id"), "app", 5L))
    LakeTable.append(spark, p, Seq(3L).toDF("id"))
    LakeTable.vacuum(spark, p, LakeTable.currentVersion(spark, p).get)
    // the commit that recorded (app, 5) is gone; the head carries it
    assert(LakeTable.txnVersion(spark, p, "app") === Some(5L))
    assert(!LakeTable.appendOnce(spark, p, Seq(2L).toDF("id"), "app", 5L))
    assert(LakeTable.read(spark, p).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("native streaming sink: restart replay of an unacknowledged epoch lands exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val lake = s"$root/native_sink"
    val ckpt = s"$root/native_sink_ckpt"
    val src = s"$root/native_sink_src"
    Seq(lake, ckpt, src).foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p)))
    spark.range(100).toDF("id").coalesce(1).write.parquet(src)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType().add("id", "long"))
        .parquet(src)
        .writeStream.format("graft")
        .option("path", lake).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(LakeTable.read(spark, lake).count() === 100)
    val v1 = LakeTable.currentVersion(spark, lake).get
    // Crash-after-write-before-ack: the sink committed to the lake but
    // the checkpoint never recorded the epoch — delete the checkpoint's
    // commit log so the restart REPLAYS the micro-batch with the same
    // queryId + epochId. The (queryId, epochId) txn marker must make
    // the replayed epoch a no-op: same rows, same version, no dup.
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$ckpt/commits"))
    runOnce()
    assert(LakeTable.read(spark, lake).count() === 100,
      "replayed epoch duplicated rows")
    assert(LakeTable.currentVersion(spark, lake).get === v1,
      "replayed epoch produced a new commit")
    // New data still flows after the replay (epoch ids advance).
    spark.range(100, 120).toDF("id").coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(LakeTable.read(spark, lake).count() === 120)
  }

  test("native partitioned write clusters rows by partition column: files-per-write ∝ partitions") {
    // Without the requested clustered distribution every task writes a
    // file into every partition it sees (tasks × partitions small
    // files at cluster scale). With it, each partition's rows land on
    // one task → one file per partition per write.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.clus")
    spark.sql("CREATE TABLE graft_cat.pdb.clus (id BIGINT, g STRING) PARTITIONED BY (g)")
    // 8 input partitions × 3 table partitions
    spark.range(0, 300, 1, 8).selectExpr("id", "CAST(id % 3 AS STRING) AS g")
      .createOrReplaceTempView("clus_src")
    spark.sql("INSERT INTO graft_cat.pdb.clus SELECT id, g FROM clus_src")
    val root = GraftSession.catalogRoot + "/pdb/clus"
    val c = LakeTable.readCommit(spark, root, LakeTable.currentVersion(spark, root).get)
    val groupDir = new org.apache.hadoop.fs.Path(root, c.dirs.last)
    val fs = groupDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = fs.listFiles(groupDir, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString }
      b.result()
    }
    // 3 partitions → exactly 3 files (one task per partition), not 8×3.
    assert(files.length === 3, files.mkString("\n"))
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.clus").as[Long].head() === 300L)
    // Missing partition column fails at planning with a clear message.
    val e = intercept[Exception] {
      spark.range(5).toDF("id").write.format("graft").mode("append").save(root)
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("CDC feed stays correct across a native dynamic partition overwrite") {
    import org.apache.spark.sql.functions.when
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.cdcdyn")
    spark.sql("CREATE TABLE graft_cat.pdb.cdcdyn (id BIGINT, g STRING) PARTITIONED BY (g)")
    val root = GraftSession.catalogRoot + "/pdb/cdcdyn"
    LakeTable.enableCdc(spark, root, "id")
    spark.sql("INSERT INTO graft_cat.pdb.cdcdyn SELECT id, CAST(id % 2 AS STRING) FROM range(10)")
    val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // Replace only g='0' (ids 100..104); g='1' untouched.
      spark.sql("INSERT OVERWRITE graft_cat.pdb.cdcdyn SELECT id, '0' FROM range(100, 105)")
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // Folding the signed change feed reproduces the table state — the
    // CDC contract under partition replacement.
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1).otherwise(-1)
    val folded = LakeTable.readChangeFeed(spark, root)
      .groupBy("id").agg(sum(sign).as("net"))
      .where(col("net") > 0).select("id")
      .as[Long].collect().toSet
    val direct = spark.sql("SELECT id FROM graft_cat.pdb.cdcdyn").as[Long].collect().toSet
    assert(folded === direct, s"folded=$folded direct=$direct")
    assert(direct === (Set(1L, 3L, 5L, 7L, 9L) ++ (100L to 104L)), direct.toString)
  }

  test("write.sort.by: native writes land range-disjoint files; point reads open one file") {
    val p = s"$root/sorted_write"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    // v0 seeds the table; the recorded sort order shapes the NEXT write
    LakeTable.create(spark, p,
      spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"))
    LakeTable.setSortBy(spark, p, Seq("k"))
    // deliberately scrambled input over 8 partitions: without the
    // ordered distribution every file would span the whole key range.
    // A tiny advisory size (the target-file-size knob) keeps AQE from
    // coalescing this small write shuffle into one file; the 1 MB
    // minPartitionSize floor must shrink too or it merges everything
    // at toy scale (at real scale partitions dwarf both).
    spark.conf.set("spark.graft.write.advisoryPartitionBytes", "2048")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1024")
    try {
      spark.range(10, 4010).selectExpr("(10 + (id * 2654435761) % 4000) AS k", "id AS v")
        .repartition(8)
        .write.format("graft").mode("append").save(p)
    } finally {
      spark.conf.unset("spark.graft.write.advisoryPartitionBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
    // every appended file's [min,max] on k must be pairwise disjoint
    val c = LakeTable.readCommit(spark, p, LakeTable.currentVersion(spark, p).get)
    val newDir = c.dirs.last
    val ranges = spark.read.parquet(s"$p/$newDir")
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(ranges.length > 1, "expected multiple range-partitioned files")
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"overlapping files: $a vs $b")
    }
    // footer-stats pruning: a point read opens exactly one of the new files
    val touched = LakeTable.readRange(spark, p, "k", 2000L, 2000L)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .filter(_.contains(newDir))
    assert(touched.length <= 1, touched.mkString("\n"))
    // correctness unaffected: the shuffled write lost nothing
    assert(LakeTable.read(spark, p).count() === 4010)
    // ALTER-style schema meta updates must not erase the sort order
    LakeTable.updateSchemaMeta(spark, p, LakeTable.tableSchema(spark, p))
    assert(LakeTable.meta(spark, p).sortBy === Seq("k"))
    // SORT compaction: the pre-order v0 file (full-range) plus the
    // sorted appends rewrite into range-disjoint files table-wide
    LakeTable.compact(spark, p, 4)
    val all = spark.read.parquet(
      s"$p/${LakeTable.readCommit(spark, p, LakeTable.currentVersion(spark, p).get).dirs.head}")
    val cRanges = all.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(cRanges.length === 4, cRanges.mkString(","))
    cRanges.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._1, s"overlapping compacted files: $a vs $b")
    }
    assert(LakeTable.read(spark, p).count() === 4010)
  }

  test("deletion vectors: MOR delete rewrites nothing; reads, time travel, SQL, compact, vacuum agree") {
    val p = s"$root/mor"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p,
      spark.range(0, 1000).selectExpr("id AS k", "id % 10 AS g").repartition(4))
    val v0 = LakeTable.currentVersion(spark, p).get
    val d0 = LakeTable.readCommit(spark, p, v0).dirs

    // MOR delete: commit re-references the SAME dirs — zero rewrite
    val v1 = LakeTable.deleteMor(spark, p, col("k") % 2 === 0)
    assert(LakeTable.readCommit(spark, p, v1).dirs === d0)
    val after1 = LakeTable.read(spark, p)
    assert(after1.count() === 500)
    assert(after1.where(col("k") % 2 === 0).count() === 0)

    // cumulative second delete over the same groups
    val v2 = LakeTable.deleteMor(spark, p, col("k") < 100)
    assert(LakeTable.read(spark, p).count() === 450)

    // time travel reads pre-delete state by version
    assert(LakeTable.read(spark, p, Some(v0)).count() === 1000)
    assert(LakeTable.read(spark, p, Some(v1)).count() === 500)

    // no-match delete = pure metadata commit
    val v3 = LakeTable.deleteMor(spark, p, col("k") === 999999L)
    assert(LakeTable.readCommit(spark, p, v3).dirs === d0)
    assert(LakeTable.read(spark, p).count() === 450)

    // the DSv2 path (format("graft") / catalog SQL) applies the vectors
    assert(spark.read.format("graft").load(p).count() === 450)
    assert(spark.read.format("graft").load(p).where(col("k") === 50).count() === 0)

    // stats-path point reads stay correct while vectors exist
    assert(LakeTable.readRange(spark, p, "k", 50L, 50L).count() === 0)
    assert(LakeTable.readRange(spark, p, "k", 101L, 101L).count() === 1)

    // compact purges: rewritten group carries no vectors, fast path back
    val v4 = LakeTable.compact(spark, p, 2)
    val newDirs = LakeTable.readCommit(spark, p, v4).dirs
    assert(LakeTable.dvFor(spark, p, v4, newDirs).isEmpty)
    assert(LakeTable.read(spark, p).count() === 450)
    assert(spark.read.format("graft").load(p).count() === 450)

    // vacuum to the purged version drops every DV file
    LakeTable.vacuum(spark, p, v4)
    val dvDir = new org.apache.hadoop.fs.Path(p, "_dv")
    val fs = dvDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty)
    assert(LakeTable.read(spark, p).count() === 450)
  }

  test("MOR update: old positions vectored out, new images appended, one atomic commit") {
    val p = s"$root/mor_upd"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p,
      spark.range(0, 200).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v").repartition(3))
    val d0 = LakeTable.readCommit(spark, p, 0L).dirs
    val v1 = LakeTable.updateMor(spark, p, col("k") < 50,
      Map("v" -> (col("v") + 9.0)))
    val c1 = LakeTable.readCommit(spark, p, v1)
    // every original dir survives + exactly one appended update group
    assert(c1.dirs.take(d0.length) === d0 && c1.dirs.length === d0.length + 1)
    assert(c1.dvFiles.nonEmpty)
    val t = LakeTable.read(spark, p)
    assert(t.count() === 200)
    assert(t.where(col("v") === 10.0).count() === 50)
    assert(t.where(col("v") === 1.0).count() === 150)
    // no double-vision: each key exactly once
    assert(t.groupBy("k").count().where(col("count") =!= 1).count() === 0)
    // time travel sees the pre-update values
    assert(LakeTable.read(spark, p, Some(0L)).where(col("v") === 10.0).count() === 0)
    // chained MOR update over the DV'd snapshot composes
    LakeTable.updateMor(spark, p, col("k") < 10, Map("v" -> lit(99.0)))
    val t2 = LakeTable.read(spark, p)
    assert(t2.count() === 200)
    assert(t2.where(col("v") === 99.0).count() === 10)
    assert(t2.where(col("v") === 10.0).count() === 40)
  }

  test("scoped compaction rewrites only intersecting groups; untouched keep dirs and vectors") {
    val p = s"$root/compact_where"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    // two disjoint-key groups, each multi-file
    LakeTable.create(spark, p,
      spark.range(0, 500).selectExpr("id AS k", "id * 1.0 AS v").repartition(4))
    LakeTable.append(spark, p,
      spark.range(10000, 10500).selectExpr("id AS k", "id * 1.0 AS v").repartition(4))
    // vector some high-range rows: the untouched group must KEEP them
    LakeTable.deleteMor(spark, p, col("k") >= 10400)
    val before = LakeTable.readCommit(spark, p,
      LakeTable.currentVersion(spark, p).get).dirs
    val v = LakeTable.compactWhere(spark, p, 1, col("k") < 500)
    val after = LakeTable.readCommit(spark, p, v)
    // high-key group dir carried verbatim; low-key group replaced by ONE new dir
    assert(after.dirs.contains(before.last), after.dirs.toString)
    assert(!after.dirs.contains(before.head), after.dirs.toString)
    assert(after.dirs.length === 2)
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val newDir = after.dirs.filterNot(before.contains).head
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(p, newDir))
      .count(_.getPath.getName.endsWith(".parquet")) === 1)
    // data intact: low range compacted, high range still vector-filtered
    val t = LakeTable.read(spark, p)
    assert(t.count() === 900)
    assert(t.where(col("k") >= 10400).count() === 0)
    // a no-intersection predicate is a pure metadata commit
    val v2 = LakeTable.compactWhere(spark, p, 1, col("k") === 999999L)
    assert(LakeTable.readCommit(spark, p, v2).dirs === after.dirs)
  }

  test("RESTORE rolls back to an older snapshot as a new commit; DV state pins correctly") {
    val p = s"$root/restore"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))
    LakeTable.append(spark, p, spark.range(100, 200).selectExpr("id AS k", "id * 2 AS v"))
    val v1 = LakeTable.currentVersion(spark, p).get // 200 rows, no vectors
    val v2 = LakeTable.deleteMor(spark, p, col("k") < 50) // 150 live
    LakeTable.update(spark, p, col("k") >= 150, Map("v" -> lit(0L))) // COW v3
    assert(LakeTable.read(spark, p).where(col("v") === 0L).count() === 50)

    // restore to v1: vectored rows come BACK, COW update rolls back
    val v4 = LakeTable.restore(spark, p, v1)
    assert(LakeTable.readCommit(spark, p, v4).action === "restore")
    val t4 = LakeTable.read(spark, p)
    assert(t4.count() === 200)
    assert(t4.where(col("v") === 0L).count() === 1) // k=0 only (update rolled back)
    // history preserved: the rolled-back state is still time-travelable
    assert(LakeTable.read(spark, p, Some(v2)).count() === 150)

    // restore to the DV'd v2: interim state gone, vectors pinned
    LakeTable.restore(spark, p, v2)
    val t5 = LakeTable.read(spark, p)
    assert(t5.count() === 150)
    assert(t5.where(col("k") < 50).count() === 0)
    assert(t5.where(col("v") === 0L).count() === 0)
  }

  test("MOR delete/update on a PARTITIONED table: per-leaf positions resolve, layout intact") {
    val p = s"$root/mor_part"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p,
      spark.range(0, 600).selectExpr("id AS k", "id % 3 AS g", "CAST(1.0 AS DOUBLE) AS v"),
      partitionBy = Seq("g"))
    LakeTable.append(spark, p,
      spark.range(600, 900).selectExpr("id AS k", "id % 3 AS g", "CAST(2.0 AS DOUBLE) AS v"))
    val d0 = LakeTable.readCommit(spark, p,
      LakeTable.currentVersion(spark, p).get).dirs

    val v1 = LakeTable.deleteMor(spark, p, col("k") % 2 === 0)
    assert(LakeTable.readCommit(spark, p, v1).dirs === d0)
    val t1 = LakeTable.read(spark, p)
    assert(t1.count() === 450)
    assert(t1.where(col("k") % 2 === 0).count() === 0)
    // partition pruning still works over the DV'd read
    assert(t1.where(col("g") === 1).count() === 150)

    LakeTable.updateMor(spark, p, col("k") === 1L, Map("v" -> lit(42.0)))
    val t2 = LakeTable.read(spark, p)
    assert(t2.count() === 450)
    assert(t2.where(col("v") === 42.0).select("k").as[Long].collect().toSeq === Seq(1L))
    assert(t2.groupBy("k").count().where(col("count") =!= 1).count() === 0)
    // compact purges and the partitioned layout survives
    LakeTable.compact(spark, p, 2)
    val t3 = LakeTable.read(spark, p)
    assert(t3.count() === 450)
    assert(t3.where(col("g") === 2).count() === 150)
    assert(t3.where(col("v") === 42.0).count() === 1)
  }

  test("MOR delete feeds CDC: matched rows become delete records") {
    val p = s"$root/mor_cdc"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p,
      spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))
    LakeTable.enableCdc(spark, p, "k")
    val v = LakeTable.deleteMor(spark, p, col("k") >= 90)
    val feed = LakeTable.readChangeFeed(spark, p, v - 1, v)
    assert(feed.where(col("change_type") === "delete").count() === 10)
    assert(feed.where(col("change_type") === "delete")
      .agg(min("k")).head().getLong(0) === 90L)
  }

  test("DESCRIBE HISTORY lists retained commits newest-first with actions and CDC flags") {
    val p = s"$root/history"
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    LakeTable.enableCdc(spark, p, "k")
    LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "v"))
    LakeTable.merge(spark, p, Seq((2L, "B")).toDF("k", "v"), "k")
    LakeTable.compact(spark, p, 1)
    val h = LakeTable.history(spark, p)
      .select("version", "action", "has_change_data")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(h == Seq((4L, "compact", false), (3L, "merge", true),
      (2L, "append", true), (1L, "meta", false), (0L, "create", false)), h)
    // timestamps are monotone non-decreasing oldest→newest
    val ts = LakeTable.history(spark, p).orderBy("version")
      .select("timestamp").as[java.sql.Timestamp].collect()
    assert(ts.sliding(2).forall(w => !w(1).before(w(0))))
  }

  test("DELETE keeps rows whose predicate evaluates to NULL") {
    val p = s"$root/delnull"
    LakeTable.create(spark, p,
      Seq((1L, Option(5.0)), (2L, Option.empty[Double]), (3L, Option(-1.0))).toDF("k", "v"))
    LakeTable.delete(spark, p, col("v") < 0) // NULL predicate row must survive
    val kept = LakeTable.read(spark, p).select("k").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("perGroupRanked equals the row_number window on ties, short groups, and rank order") {
    import org.apache.spark.sql.expressions.Window
    // 40 groups of uneven size with many exact order-value ties (v has
    // only 7 distinct values) — rank must break ties by id exactly as
    // the window does, and a group smaller than k must emit all rows.
    val df = spark.range(500).toDF("id")
      .withColumn("g", col("id") % 40)
      .withColumn("v", (col("id") * 13 % 7).cast("double"))
      .where(col("g") =!= 3 || col("id") < 120) // group 3 has 3 rows < k
      .repartition(8)
    val got = graft.plans.TopK.perGroupRanked(df, Seq("g"), "v", "id", 5)
      .select("g", "rn", "id").as[(Long, Long, Long)].collect().toSet
    val w = Window.partitionBy("g").orderBy(desc("v"), col("id"))
    val exp = df.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select("g", "rn", "id").as[(Long, Long, Long)].collect().toSet
    assert(got == exp, s"diff=${(got -- exp) ++ (exp -- got)}")
  }

  test("top-k past the per-partition group cap: pass-through + spill fallback, results unchanged") {
    import org.apache.spark.sql.expressions.Window
    // 60 distinct groups against a cap of 7: every partition overflows
    // the local heap map (rows pass through), and the final phase
    // spills overflow groups to disk and recurses (60/7 → 9 passes) —
    // the high-cardinality-group-key memory bound. Results must be
    // IDENTICAL to the uncapped window answer.
    val key = graft.plans.TopKStrategy.MaxGroupsKey
    spark.conf.set(key, "7")
    try {
      val df = spark.range(3000).toDF("id")
        .withColumn("g", col("id") % 60)
        .withColumn("v", (col("id") * 13 % 7).cast("double"))
        .repartition(8)
      val got = graft.plans.TopK.perGroupRanked(df, Seq("g"), "v", "id", 4)
        .select("g", "rn", "id").as[(Long, Long, Long)].collect().toSet
      val w = Window.partitionBy("g").orderBy(desc("v"), col("id"))
      val exp = df.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 4)
        .select("g", "rn", "id").as[(Long, Long, Long)].collect().toSet
      assert(got == exp, s"diff=${(got -- exp) ++ (exp -- got)}")
    } finally spark.conf.unset(key)
  }

  test("global (ungrouped) top-k returns exactly k rows") {
    val df = spark.range(1000).toDF("id")
      .withColumn("v", (col("id") * 37 % 101).cast("double"))
      .repartition(8)
    val got = graft.plans.TopK.perGroup(df, Nil, "v", "id", 5).collect()
    assert(got.length == 5)
    // matches the window-equivalent answer
    val exp = df.orderBy(desc("v"), col("id")).limit(5)
      .select("id").as[Long].collect().toSet
    assert(got.map(_.getLong(0)).toSet == exp)
  }

  test("top-k skips NULL order values until needed (NULLS LAST)") {
    val df = Seq((1L, Some(3.0), "g"), (2L, None, "g"), (3L, Some(9.0), "g"))
      .toDF("id", "v", "g")
    val top2 = graft.plans.TopK.perGroup(df, Seq("g"), "v", "id", 2)
      .select("id").as[Long].collect().toSet
    assert(top2 == Set(1L, 3L)) // non-null values beat the NULL row
    val top3 = graft.plans.TopK.perGroup(df, Seq("g"), "v", "id", 3).count()
    assert(top3 == 3) // NULL row still fills when k exceeds non-nulls
  }

  test("graft format: save modes and version option (time travel)") {
    val p = s"$root/fmt"
    spark.range(10).toDF("id").write.format("graft").mode("overwrite").save(p)
    spark.range(10, 30).toDF("id").write.format("graft").mode("append").save(p)
    assert(spark.read.format("graft").load(p).count() == 30)
    assert(spark.read.format("graft").option("version", "0").load(p).count() == 10)
    assert(spark.read.format("graft").load(p)
      .where(col("id") >= 25).count() == 5) // filter through the relation
    // V2 contract: path-based writes accept only append/overwrite —
    // Spark rejects errorifexists before reaching the source.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).toDF("id").write.format("graft")
        .mode("errorifexists").save(p)
    }
  }

  test("graft format scans through the V2 parquet path with pushdown") {
    val p = s"$root/fmt_v2"
    spark.range(100).toDF("id").withColumn("x", col("id") * 2)
      .write.format("graft").mode("overwrite").save(p)
    val df = spark.read.format("graft").load(p).where(col("id") > 90).select("x")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a V2 BatchScan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)"), plan)
    assert(!plan.contains("ExistingRDD"), s"V1 Row-RDD boundary resurfaced:\n$plan")
    assert(df.count() == 9)
  }

  test("catalog plugin: SQL DDL/CTAS/SELECT/DROP against graft_cat") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.specdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.specdb.t1")
    spark.range(50).toDF("id").createOrReplaceTempView("cat_src")
    spark.sql("CREATE TABLE graft_cat.specdb.t1 AS SELECT id, id % 5 AS g FROM cat_src")
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.specdb.t1").head().getLong(0) == 50)
    // INSERT INTO appends a new LakeTable version through the catalog.
    spark.sql("INSERT INTO graft_cat.specdb.t1 SELECT id + 100, id % 5 FROM cat_src")
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.specdb.t1").head().getLong(0) == 100)
    assert(spark.sql("SHOW TABLES IN graft_cat.specdb").collect()
      .map(_.getString(1)).contains("t1"))
    // the catalog is just the LakeTable directory — visible to the API too
    assert(LakeTable.currentVersion(spark,
      s"${GraftSession.catalogRoot}/specdb/t1").exists(_ >= 1L))
    spark.sql("DROP TABLE graft_cat.specdb.t1")
    assert(spark.sql("SHOW TABLES IN graft_cat.specdb").isEmpty)
  }

  test("catalog SQL: INSERT INTO a PARTITIONED BY table writes partitioned, pruned groups") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.pt")
    spark.sql("CREATE TABLE graft_cat.pdb.pt (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("pt_src")
    spark.sql("INSERT INTO graft_cat.pdb.pt SELECT id, g FROM pt_src")
    val df = spark.sql("SELECT * FROM graft_cat.pdb.pt WHERE g = '2'")
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("g"), plan)
    val pruned = df.select(input_file_name()).distinct().count()
    val all = spark.sql("SELECT * FROM graft_cat.pdb.pt")
      .select(input_file_name()).distinct().count()
    assert(pruned < all, s"partitioned INSERT not pruned: $pruned vs $all")
  }

  test("catalog SQL: a MULTI-GROUP partitioned table scans as one plan with partition pruning") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.ptm")
    spark.sql("CREATE TABLE graft_cat.pdb.ptm (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("ptm_src1")
    spark.range(40, 80).selectExpr("id", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("ptm_src2")
    // Two separate INSERTs = two partitioned file groups: Spark's own
    // partition discovery cannot span them (single-base-path limit) —
    // the explicit-PartitionSpec index makes it one scan.
    spark.sql("INSERT INTO graft_cat.pdb.ptm SELECT id, g FROM ptm_src1")
    spark.sql("INSERT INTO graft_cat.pdb.ptm SELECT id, g FROM ptm_src2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.ptm").as[Long].head() === 80L)
    val df = spark.sql("SELECT * FROM graft_cat.pdb.ptm WHERE g = '2'")
    assert(df.count() === 20)
    // Partition pruning: only g=2 leaf dirs open, across BOTH groups.
    val opened = df.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(opened.nonEmpty && opened.forall(_.contains("g=2")), opened.toSeq.toString)
    assert(opened.map(_.replaceAll("/g=.*", "")).distinct.length === 2,
      s"expected files from both groups: ${opened.toSeq}")
    // The API read path unions the groups under per-dir basePaths.
    val root = GraftSession.catalogRoot + "/pdb/ptm"
    assert(LakeTable.read(spark, root).count() === 80)
    assert(LakeTable.read(spark, root).where(col("g") === "3").count() === 20)
  }

  test("catalog SQL: INSERT OVERWRITE — static PARTITION scope and dynamic mode replace granularly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.ow")
    spark.sql("CREATE TABLE graft_cat.pdb.ow (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("ow_src")
    spark.sql("INSERT INTO graft_cat.pdb.ow SELECT id, g FROM ow_src")
    val root = GraftSession.catalogRoot + "/pdb/ow"

    // STATIC partition overwrite: only g='1' is replaced; the other
    // partitions carry forward (subdir entries — not rewritten).
    spark.sql("INSERT OVERWRITE graft_cat.pdb.ow PARTITION (g='1') VALUES (100), (101)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.ow").as[Long].head() === 32L)
    assert(spark.sql("SELECT sum(id) FROM graft_cat.pdb.ow WHERE g = '1'")
      .as[Long].head() === 201L)
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.ow WHERE g = '0'")
      .as[Long].head() === 10L)
    val c1 = LakeTable.readCommit(spark, root, LakeTable.currentVersion(spark, root).get)
    assert(c1.action === "replace", c1.toString)
    assert(c1.dirs.exists(_.endsWith("g=0")), s"g=0 should ride as a subdir entry: ${c1.dirs}")

    // A range-predicate overwrite through the same path: replace the
    // slice WHERE g='2' in one atomic commit (replaceWhere semantics).
    spark.sql("INSERT OVERWRITE graft_cat.pdb.ow PARTITION (g='2') VALUES (200)")
    val rows = spark.sql("SELECT g, count(*) AS n FROM graft_cat.pdb.ow GROUP BY g ORDER BY g")
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("0", 10L), ("1", 2L), ("2", 1L), ("3", 10L)), rows.toString)
    // Plain INSERT OVERWRITE (no partition scope) truncates + reloads.
    spark.sql("INSERT OVERWRITE graft_cat.pdb.ow SELECT id, CAST(id % 2 AS STRING) FROM range(6)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.ow").as[Long].head() === 6L)
    // DYNAMIC partition overwrite (native DSv2 BatchWrite — the V1
    // fallback had to reject this): replace exactly the partitions
    // present in the data; untouched partitions carry forward.
    spark.sql("INSERT INTO graft_cat.pdb.ow VALUES (900, '9')") // must survive
    val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE graft_cat.pdb.ow SELECT id, CAST(id % 2 AS STRING) FROM range(4)")
      val dyn = spark.sql("SELECT g, count(*) AS n, sum(id) AS s FROM graft_cat.pdb.ow GROUP BY g ORDER BY g")
        .as[(String, Long, Long)].collect().toSeq
      // g=0 → {0,2}, g=1 → {1,3} replaced; g=9 untouched.
      assert(dyn === Seq(("0", 2L, 2L), ("1", 2L, 4L), ("9", 1L, 900L)), dyn.toString)
      val cd = LakeTable.readCommit(spark, root, LakeTable.currentVersion(spark, root).get)
      assert(cd.action === "replace", cd.toString)
      // Granularity pin: the g=9 group (no replaced partitions) carries
      // forward AS AN ENTRY — dynamic overwrite added exactly one new
      // group and dropped the fully-replaced one, no rewrite of
      // untouched data.
      assert(cd.dirs.length === 2, cd.dirs.toString)
      // Time travel still sees the pre-dynamic state (history preserved).
      val prev = LakeTable.currentVersion(spark, root).get - 1
      assert(LakeTable.read(spark, root, Some(prev)).count() === 7L)
    } finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("catalog SQL: SHOW PARTITIONS lists live partitions; DROP PARTITION deletes granularly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.ptp")
    spark.sql("CREATE TABLE graft_cat.pdb.ptp (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(30).selectExpr("id", "CAST(id % 3 AS STRING) AS g")
      .createOrReplaceTempView("ptp_src")
    spark.sql("INSERT INTO graft_cat.pdb.ptp SELECT id, g FROM ptp_src")
    val parts = spark.sql("SHOW PARTITIONS graft_cat.pdb.ptp")
      .as[String].collect().toSeq.sorted
    assert(parts === Seq("g=0", "g=1", "g=2"))
    spark.sql("ALTER TABLE graft_cat.pdb.ptp DROP PARTITION (g='1')")
    assert(spark.sql("SHOW PARTITIONS graft_cat.pdb.ptp")
      .as[String].collect().toSeq.sorted === Seq("g=0", "g=2"))
    assert(spark.sql("SELECT count(*) FROM graft_cat.pdb.ptp").as[Long].head() === 20L)
    // Time travel still sees the dropped partition (COW, not purge).
    val root = GraftSession.catalogRoot + "/pdb/ptp"
    val vPrev = LakeTable.currentVersion(spark, root).get - 1
    assert(LakeTable.read(spark, root, Some(vPrev))
      .where(col("g") === "1").count() === 10)
  }

  test("commit-log stream over a PARTITIONED table carries partition columns across groups") {
    val p = s"$root/part_stream"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    def batch(lo: Int, hi: Int, g: String) =
      spark.range(lo, hi).toDF("k").withColumn("g", lit(g))
    LakeTable.create(spark, p, batch(0, 10, "a"), partitionBy = Seq("g"))
    LakeTable.append(spark, p, batch(10, 30, "b"), partitionBy = Seq("g"))
    LakeTable.append(spark, p, batch(30, 60, "c"), partitionBy = Seq("g"))
    val out = s"$root/part_stream_out"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    val q = spark.readStream.format("graft").load(p)
      .groupBy("g").count()
      .writeStream.format("memory").queryName("part_stream_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("part_stream_sink")
      .orderBy("g").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("a", 10L), ("b", 20L), ("c", 30L)))
  }

  test("storage-partitioned join: same-key partitioned tables join with NO exchange") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.spj")
    spark.sql("DROP TABLE IF EXISTS graft_cat.spj.a")
    spark.sql("DROP TABLE IF EXISTS graft_cat.spj.b")
    spark.sql("CREATE TABLE graft_cat.spj.a (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql("CREATE TABLE graft_cat.spj.b (v BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("spj_a")
    spark.range(20).selectExpr("id AS v", "CAST(id % 4 AS STRING) AS g")
      .createOrReplaceTempView("spj_b")
    spark.sql("INSERT INTO graft_cat.spj.a SELECT * FROM spj_a")
    spark.sql("INSERT INTO graft_cat.spj.b SELECT * FROM spj_b")
    // These test tables are tiny, so since graft scans report
    // statistics (B52) the planner rightly prefers a broadcast join;
    // disable auto-broadcast to exercise the SPJ machinery itself
    // (the 100 TB case: both sides too big to broadcast).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.sql("""
        SELECT a.g, a.id, b.v
        FROM graft_cat.spj.a a JOIN graft_cat.spj.b b ON a.g = b.g""")
      assert(joined.count() === 4L * 10 * 5) // 4 groups × 10 × 5 rows
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join still shuffles:\n${plan.toString.take(3000)}")
      assert(plan.toString.contains("SortMergeJoin"), plan.toString.take(2000))
      // Values stay correct per partition.
      assert(joined.where(col("g") === "2").count() === 50)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // The reported layout also serves aggregation: GROUP BY the
    // partition key plans with no exchange before the aggregate.
    val agg = spark.sql(
      "SELECT g, count(*) AS n, sum(id) AS s FROM graft_cat.spj.a GROUP BY g")
    val aggShuffles = agg.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(aggShuffles.isEmpty,
      s"partition-key aggregate still shuffles:\n${agg.queryExecution.executedPlan.toString.take(2000)}")
    assert(agg.count() === 4L)
  }

  test("catalog SQL: DELETE FROM routes through granular COW delete") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ddb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ddb.t")
    spark.range(20).selectExpr("id", "id % 4 AS g").createOrReplaceTempView("del_src")
    spark.sql("CREATE TABLE graft_cat.ddb.t AS SELECT id, g FROM del_src")
    spark.sql("DELETE FROM graft_cat.ddb.t WHERE id >= 15 OR g = 0")
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.ddb.t").head().getLong(0) == 11)
    assert(spark.sql("SELECT min(id) AS m FROM graft_cat.ddb.t").head().getLong(0) == 1)
    // time travel still sees the pre-delete snapshot (COW, not purge)
    val vs = spark.sql("SELECT count(*) AS c FROM graft_cat.ddb.t VERSION AS OF 1")
    assert(vs.head().getLong(0) == 20)
  }

  test("catalog SQL: ALTER TABLE ADD COLUMNS is metadata-only and reads back NULL then data") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.adb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.adb.t")
    spark.range(5).toDF("id").createOrReplaceTempView("alter_src")
    spark.sql("CREATE TABLE graft_cat.adb.t AS SELECT id FROM alter_src")
    val filesBefore = spark.sql("SELECT * FROM graft_cat.adb.t")
      .select(input_file_name()).distinct().count()
    spark.sql("ALTER TABLE graft_cat.adb.t ADD COLUMNS (note STRING)")
    // metadata-only: same files, new column reads NULL
    val df = spark.sql("SELECT id, note FROM graft_cat.adb.t")
    assert(df.count() == 5 && df.where(col("note").isNull).count() == 5)
    assert(df.select(input_file_name()).distinct().count() == filesBefore)
    // data with the new column lands and coexists with old files
    spark.sql("INSERT INTO graft_cat.adb.t SELECT CAST(100 AS BIGINT) AS id, 'x' AS note")
    val all = spark.sql("SELECT id, note FROM graft_cat.adb.t")
    assert(all.count() == 6 && all.where(col("note") === "x").count() == 1)
    // RENAME/DROP COLUMN are metadata-only too (B58/B59 — see
    // ColumnRenameSpec); changes outside the metadata-only set reject
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.adb.t ALTER COLUMN id TYPE INT")
    }
    spark.sql("ALTER TABLE graft_cat.adb.t RENAME COLUMN id TO id2")
    assert(spark.sql("SELECT sum(id2) FROM graft_cat.adb.t").head().getLong(0) == 110L)
  }

  test("catalog SQL: column DEFAULT values fill omitted INSERT columns; SET/DROP DEFAULT are metadata-only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.defdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.defdb.t")
    spark.sql("CREATE TABLE graft_cat.defdb.t (k BIGINT, status STRING DEFAULT 'new', score BIGINT DEFAULT 100) USING graft")
    spark.sql("INSERT INTO graft_cat.defdb.t (k) VALUES (1)")
    spark.sql("INSERT INTO graft_cat.defdb.t VALUES (2, 'done', 7)")
    spark.sql("INSERT INTO graft_cat.defdb.t (k, status) VALUES (3, DEFAULT)")
    def rows() = spark.sql("SELECT k, status, score FROM graft_cat.defdb.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows() == Seq((1L, "new", 100L), (2L, "done", 7L), (3L, "new", 100L)))
    // SET DEFAULT affects future inserts only; stored rows keep values
    spark.sql("ALTER TABLE graft_cat.defdb.t ALTER COLUMN status SET DEFAULT 'queued'")
    spark.sql("INSERT INTO graft_cat.defdb.t (k) VALUES (4)")
    assert(rows().find(_._1 == 4L).get._2 == "queued")
    assert(rows().find(_._1 == 1L).get._2 == "new")
    // DROP DEFAULT: omitted column becomes NULL
    spark.sql("ALTER TABLE graft_cat.defdb.t ALTER COLUMN status DROP DEFAULT")
    spark.sql("INSERT INTO graft_cat.defdb.t (k) VALUES (5)")
    assert(spark.sql("SELECT status FROM graft_cat.defdb.t WHERE k = 5")
      .collect()(0).isNullAt(0))
    // ADD COLUMN with DEFAULT rejects (existing rows would read NULL,
    // not the default — the merged-read contract)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.defdb.t ADD COLUMN flag STRING DEFAULT 'x'")
    }
    // column comments are metadata-only and survive the round trip
    spark.sql("ALTER TABLE graft_cat.defdb.t ALTER COLUMN score COMMENT 'points earned'")
    val described = spark.sql("DESCRIBE TABLE graft_cat.defdb.t")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(described("score") == "points earned", described.toString)
  }

  test("catalog SQL time travel: VERSION AS OF pins a snapshot") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ttdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ttdb.t")
    spark.range(10).toDF("id").createOrReplaceTempView("tt_src")
    spark.sql("CREATE TABLE graft_cat.ttdb.t AS SELECT id FROM tt_src")
    spark.sql("INSERT INTO graft_cat.ttdb.t SELECT id + 100 FROM tt_src")
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.ttdb.t").head().getLong(0) == 20)
    // v1 = the CTAS write (v0 is the empty create)
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.ttdb.t VERSION AS OF 1")
      .head().getLong(0) == 10)
    // TIMESTAMP AS OF: a wall-clock cut at the CTAS commit resolves
    // the v1 snapshot (commit times live in the log; UTC ISO literal
    // sidesteps session-vs-JVM timezone drift).
    val tablePath = s"${GraftSession.catalogRoot}/ttdb/t"
    val tCut = java.time.Instant.ofEpochMilli(
      LakeTable.readCommit(spark, tablePath, 1L).ts).toString
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft_cat.ttdb.t TIMESTAMP AS OF '$tCut'")
      .head().getLong(0) == 10)
  }

  test("z-order clustering enables multi-column file skipping") {
    import SharedSpark.sf
    val p = s"$root/zorder"
    LakeTable.create(spark,
      p, Tables(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity").repartition(8))
    LakeTable.clusterBy(spark, p, Seq("l_orderkey", "l_partkey"), 8)
    val total = LakeTable.dataFiles(spark, p).size
    val touched = LakeTable.read(spark, p)
      .where(col("l_orderkey") < 500 && col("l_partkey") < 200)
      .select(input_file_name()).distinct().count()
    assert(touched < total, s"touched $touched of $total files")
    // identical data after rewrite
    assert(LakeTable.read(spark, p).agg(sum("l_quantity")).head().getDouble(0) ==
      LakeTable.read(spark, p, Some(0L)).agg(sum("l_quantity")).head().getDouble(0))
  }

  test("incremental clustering rewrites only post-cluster file groups") {
    import SharedSpark.sf
    val p = s"$root/zorder_inc"
    val li = Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    LakeTable.create(spark, p, li.where(col("l_orderkey") % 2 === 0).repartition(4))
    LakeTable.clusterBy(spark, p, Seq("l_orderkey", "l_partkey"), 4)
    val v1 = LakeTable.currentVersion(spark, p).get
    val clusteredDirs = LakeTable.readCommit(spark, p, v1).dirs
    def mtimes(files: Seq[String]): Map[String, Long] = files.map { f =>
      val hp = new org.apache.hadoop.fs.Path(f)
      f -> hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).getModificationTime
    }.toMap
    val clusteredFiles = mtimes(LakeTable.dataFiles(spark, p, Some(v1)))
    LakeTable.append(spark, p, li.where(col("l_orderkey") % 2 === 1).repartition(4))
    val v3 = LakeTable.clusterByIncremental(spark, p, Seq("l_orderkey", "l_partkey"), 4)
    val head = LakeTable.readCommit(spark, p, v3)
    // The first rewrite's group rides forward VERBATIM (same dir entry,
    // same physical files, untouched mtimes): cost ∝ new data only.
    assert(head.action == "cluster")
    assert(clusteredDirs.forall(head.dirs.contains), s"${head.dirs} vs $clusteredDirs")
    assert(head.dirs.size == clusteredDirs.size + 1, head.dirs)
    val after = mtimes(LakeTable.dataFiles(spark, p, Some(v3)))
    clusteredFiles.foreach { case (f, mt) =>
      assert(after.get(f).contains(mt), s"clustered file rewritten: $f")
    }
    // Contents stay exact across the incremental rewrite.
    val got = LakeTable.read(spark, p)
      .agg(count(lit(1)).cast("long"), round(sum("l_quantity"), 2)).head()
    val want = li.agg(count(lit(1)).cast("long"), round(sum("l_quantity"), 2)).head()
    assert(got == want, s"$got vs $want")
    // No new data since: the follow-up publishes a marker commit (the
    // next incremental walk finds it in O(1)) and rewrites nothing.
    val v4 = LakeTable.clusterByIncremental(spark, p, Seq("l_orderkey", "l_partkey"), 4)
    assert(LakeTable.readCommit(spark, p, v4).dirs.toSet == head.dirs.toSet)
    assert(mtimes(LakeTable.dataFiles(spark, p, Some(v4))) == after)
  }

  test("incremental clustering interleaves with DML and compaction losslessly") {
    import spark.implicits._
    val p = s"$root/zinc_interleave"
    val rnd = new scala.util.Random(42)
    val model = scala.collection.mutable.Map.empty[Long, Long]
    def df(m: Iterable[(Long, Long)]) = m.toSeq.toDF("k", "v")
    val init = (0L until 200L).map(k => k -> k * 10)
    model ++= init
    LakeTable.create(spark, p, df(init).repartition(4))
    var nextK = 200L
    def check(tag: String): Unit = {
      val rows = LakeTable.read(spark, p).as[(Long, Long)].collect()
      assert(rows.length == model.size, s"$tag: duplicate or lost rows " +
        s"(${rows.length} rows vs ${model.size} keys)")
      val got = rows.toMap
      assert(got == model.toMap,
        s"$tag: missing=${(model.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- model.keySet).take(5)}")
    }
    for (i <- 1 to 18) {
      rnd.nextInt(5) match {
        case 0 => // append a fresh batch
          val batch = (nextK until nextK + 37L).map(k => k -> k * 10)
          nextK += 37L
          model ++= batch
          LakeTable.append(spark, p, df(batch).repartition(2))
        case 1 => // predicate delete
          val r = rnd.nextInt(7)
          LakeTable.delete(spark, p, pmod(col("k"), lit(7)) === r)
          model.filterInPlace((k, _) => k % 7 != r)
        case 2 => // keyed upsert over the EXISTING key domain (an
          // insert above nextK would later collide with a blind
          // append, which by design does not dedup)
          val ups = (0 until 23).map { _ =>
            val k = rnd.nextLong(nextK); k -> (k * 10 + 1)
          }.toMap
          model ++= ups
          LakeTable.merge(spark, p, df(ups), "k")
        case 3 =>
          LakeTable.clusterByIncremental(spark, p, Seq("k"), 2)
        case 4 =>
          LakeTable.compact(spark, p, 2)
      }
      if (i % 3 == 0) check(s"after op $i")
    }
    LakeTable.clusterByIncremental(spark, p, Seq("k"), 2)
    check("final")
    // and the clustered table still time-travels to the create
    assert(LakeTable.read(spark, p, Some(0L)).count() == 200L)
  }

  test("incremental clustering racing a blind append never loses rows") {
    import spark.implicits._
    val p = s"$root/zinc_race"
    val base = (0L until 100L).map(k => k -> k)
    LakeTable.create(spark, p, base.toDF("k", "v").repartition(2))
    LakeTable.clusterBy(spark, p, Seq("k"), 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      var appended = Vector.empty[(Long, Long)]
      for (i <- 1 to 3) {
        val batch = (1000L * i until 1000L * i + 50L).map(k => k -> k)
        val start = new java.util.concurrent.CountDownLatch(1)
        val appendF = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { start.await()
            // blind appends REBASE past claim losses (B60) — must land
            LakeTable.append(spark, p, batch.toDF("k", "v"))
          }
        })
        val clusterF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = { start.await()
            try { LakeTable.clusterByIncremental(spark, p, Seq("k"), 2); true }
            catch { // optimistic loser: typed, retryable — never silent
              case _: LakeTable.CommitRaceLostException => false
              case _: LakeTable.ConcurrentWriteException => false
            }
          }
        })
        start.countDown()
        appendF.get(); val clusteredOk = clusterF.get()
        appended ++= batch
        if (!clusteredOk) LakeTable.clusterByIncremental(spark, p, Seq("k"), 2)
        val want = (base ++ appended).toMap
        val got = LakeTable.read(spark, p).as[(Long, Long)].collect()
        assert(got.length == want.size, s"round $i: ${got.length} vs ${want.size}")
        assert(got.toMap == want, s"round $i: content diverged")
      }
    } finally pool.shutdown()
  }

  test("readRange skips files by footer stats and stays exact") {
    import SharedSpark.sf
    val p = s"$root/stats_skip"
    LakeTable.create(spark, p,
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey")))
    val total = LakeTable.dataFiles(spark, p).size
    val ranged = LakeTable.readRange(spark, p, "o_orderkey", 100L, 299L)
    val touched = ranged.select(input_file_name()).distinct().count()
    assert(touched < total, s"touched $touched of $total files")
    // exactness: pruned read == full read + filter
    val exact = LakeTable.read(spark, p)
      .where(col("o_orderkey").between(100, 299))
      .agg(count(lit(1)), sum("o_totalprice")).head()
    assert(ranged.agg(count(lit(1)), sum("o_totalprice")).head() == exact)
    // string-column stats also skip
    val p2 = s"$root/stats_str"
    LakeTable.create(spark, p2,
      Tables(spark, sf, "orders").select("o_orderpriority", "o_totalprice")
        .repartitionByRange(8, col("o_orderpriority")))
    val t2 = LakeTable.dataFiles(spark, p2).size
    val touched2 = LakeTable.readRange(spark, p2, "o_orderpriority", "1-URGENT", "1-URGENT")
      .select(input_file_name()).distinct().count()
    assert(touched2 < t2, s"touched $touched2 of $t2 files")
  }

  test("changes() emits the insert/update/delete diff between snapshots") {
    import spark.implicits._
    val p = s"$root/cdc"
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    LakeTable.delete(spark, p, col("k") === 1L)
    LakeTable.merge(spark, p, Seq((2L, "B"), (4L, "d")).toDF("k", "v"), "k")
    val ch = LakeTable.changes(spark, p, "k", 0L, 2L).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(ch.toSeq == Seq(("delete", 1L, "a"), ("update", 2L, "B"), ("insert", 4L, "d")), ch.toSeq)
    // an unchanged snapshot pair diffs to nothing
    assert(LakeTable.changes(spark, p, "k", 2L, 2L).count() == 0L)
    // update-to-NULL must surface the NULL, not resurrect the old value
    LakeTable.update(spark, p, col("k") === 3L, Map("v" -> lit(null).cast("string")))
    val ch2 = LakeTable.changes(spark, p, "k", 2L, 3L).collect()
    assert(ch2.length == 1 && ch2(0).getString(0) == "update" &&
      ch2(0).getLong(1) == 3L && ch2(0).isNullAt(2), ch2.toSeq)
    // preimage mode: updates emit old AND new; others stay single
    val pre = LakeTable.changes(spark, p, "k", 0L, 2L, preimages = true)
      .orderBy("k", "change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(pre.toSeq == Seq(
      ("delete", 1L, "a"),
      ("update_postimage", 2L, "B"), ("update_preimage", 2L, "b"),
      ("insert", 4L, "d")), pre.toSeq)
  }

  test("streamAppends resumes exactly-once across restarts: only new groups re-process") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = s"$root/stream_appends"
    val out = s"$root/stream_appends_out"
    val ckpt = s"$root/stream_appends_ckpt"
    // out/ckpt survive across sessions (scratch isn't wiped): a stale
    // checkpoint would make run 1 resume instead of start
    Seq(p, out, ckpt).foreach(dir =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir)))
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    def runOnce(): Unit = {
      val q = LakeTable.streamAppends(spark, p).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 3L)
    LakeTable.append(spark, p, Seq((4L, "d"), (5L, "e")).toDF("k", "v"))
    runOnce()
    // 5 total, not 8: the restarted stream processed ONLY the appended group
    assert(spark.read.parquet(out).count() == 5L)
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("commit-log streaming source: version offsets, exactly-once restart, rewrite rejection") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = s"$root/stream_v2"
    val out = s"$root/stream_v2_out"
    val ckpt = s"$root/stream_v2_ckpt"
    Seq(p, out, ckpt).foreach(dir =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir)))
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").load(p).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 3L)
    LakeTable.append(spark, p, Seq((4L, "d"), (5L, "e")).toDF("k", "v"))
    runOnce()
    // version offsets: the restarted stream planned ONLY v1's added group
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    // a COW rewrite must FAIL the stream, never replay rewritten rows
    LakeTable.merge(spark, p, Seq((2L, "B")).toDF("k", "v"), "k")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runOnce() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("non-append")), msgs(ex).mkString(" | "))
  }

  test("maxVersionsPerTrigger bounds each micro-batch; AvailableNow drains the captured head in steps") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = s"$root/stream_throttle"
    val out = s"$root/stream_throttle_out"
    val ckpt = s"$root/stream_throttle_ckpt"
    Seq(p, out, ckpt).foreach(dir =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir)))
    LakeTable.create(spark, p, Seq((0L, "r0")).toDF("k", "v")) // v0
    (1 to 4).foreach(i => LakeTable.append(spark, p, Seq((i.toLong, s"r$i")).toDF("k", "v")))
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(p)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all 5 versions drain, two per batch: offsets -1→1→3→4 = 3 batches
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq ==
      (0L to 4L))
    val batches = new java.io.File(s"$ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches == 3, s"expected 3 throttled batches, saw $batches")
  }

  test("startingVersion / startingTimestamp position a fresh checkpoint; latest tails only new commits") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = s"$root/stream_startat"
    val base = s"$root/stream_startat_io"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    LakeTable.create(spark, p, Seq((0L, "r0")).toDF("k", "v")) // v0
    LakeTable.append(spark, p, Seq((1L, "r1")).toDF("k", "v")) // v1
    Thread.sleep(25)
    val cut = System.currentTimeMillis()
    Thread.sleep(25)
    LakeTable.append(spark, p, Seq((2L, "r2")).toDF("k", "v")) // v2
    LakeTable.append(spark, p, Seq((3L, "r3")).toDF("k", "v")) // v3
    def drain(name: String, opts: Map[String, String]): Seq[Long] = {
      val out = s"$base/$name/out"; val ckpt = s"$base/$name/ckpt"
      val r = opts.foldLeft(spark.readStream.format("graft")) {
        case (b, (k, vv)) => b.option(k, vv)
      }
      val q = r.load(p).writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (!new java.io.File(out).exists()) Nil
      else spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq
    }
    assert(drain("v2", Map("startingVersion" -> "2")) == Seq(2L, 3L))
    assert(drain("ts", Map("startingTimestamp" ->
      new java.sql.Timestamp(cut).toString)) == Seq(2L, 3L))
    // latest: nothing historical; a post-start append flows
    assert(drain("latest", Map("startingVersion" -> "latest")) == Nil)
    LakeTable.append(spark, p, Seq((4L, "r4")).toDF("k", "v")) // v4
    assert(drain("latest", Map("startingVersion" -> "latest")) == Seq(4L))
  }

  test("CDC stream: change files publish with commits, version offsets resume exactly-once, rewrites stay silent") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val p = s"$root/stream_cdc"
    val out = s"$root/stream_cdc_out"
    val ckpt = s"$root/stream_cdc_ckpt"
    Seq(p, out, ckpt).foreach(dir =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir)))
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    LakeTable.enableCdc(spark, p, "k")
    LakeTable.merge(spark, p, Seq((2L, "B"), (4L, "d")).toDF("k", "v"), "k") // v2
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").option("readChangeFeed", "true").load(p)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    def rows() = spark.read.parquet(out)
      .select("change_type", "k", "v", "_commit_version")
      .as[(String, Long, String, Long)].collect().toSet
    // pre-enablement create (v0) and the enabling meta commit (v1) are
    // feed-invisible; unchanged keys emit nothing
    assert(rows() == Set(("update_preimage", 2L, "b", 2L),
      ("update_postimage", 2L, "B", 2L), ("insert", 4L, "d", 2L)), rows())
    // a layout rewrite is CDC-silent; a later delete emits only its own
    // records; the restarted stream resumes from v2, never replaying it
    LakeTable.compact(spark, p, 1)              // v3: no change records
    LakeTable.delete(spark, p, col("k") === 1L) // v4: one delete
    runOnce()
    assert(rows() == Set(("update_preimage", 2L, "b", 2L),
      ("update_postimage", 2L, "B", 2L), ("insert", 4L, "d", 2L),
      ("delete", 1L, "a", 4L)), rows())
    // batch read of the feed sees the same four records
    assert(LakeTable.readChangeFeed(spark, p).count() == 4L)
  }

  test("CDC on a key-only table: merge, delete and restore diff with no data columns") {
    val p = s"$root/cdc_keyonly"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, Seq(1L, 2L, 3L).toDF("k"))
    LakeTable.enableCdc(spark, p, "k")                     // v1
    LakeTable.merge(spark, p, Seq(3L, 4L).toDF("k"), "k")  // v2: 4 is new
    LakeTable.delete(spark, p, col("k") === 1L)            // v3
    LakeTable.restore(spark, p, 2L)                        // v4: 1 is back
    val feed = LakeTable.readChangeFeed(spark, p)
      .select("change_type", "k", "_commit_version").as[(String, Long, Long)].collect().toSet
    assert(feed == Set(("insert", 4L, 2L), ("delete", 1L, 3L), ("insert", 1L, 4L)), feed)
    assert(LakeTable.read(spark, p).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("batch change feed versions come from the commit log, not a d<v>-<id> segment of the root") {
    import org.apache.spark.sql.streaming.Trigger
    val base = s"$root/d7-0123abcd"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    val p = s"$base/cdc_versions"
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    LakeTable.enableCdc(spark, p, "k")                       // v1
    LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "v")) // v2
    LakeTable.append(spark, p, Seq((3L, "c")).toDF("k", "v")) // v3
    val batch = LakeTable.readChangeFeed(spark, p)
      .select("k", "_commit_version").as[(Long, Long)].collect().toSet
    assert(batch == Set((2L, 2L), (3L, 3L)), batch)
    val out = s"$base/out"
    spark.readStream.format("graft").option("readChangeFeed", "true").load(p)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("k", "_commit_version").as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("CDC table scan pushes filters and skips whole change-file dirs by _commit_version") {
    val p = s"$root/cdc_scan"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    LakeTable.enableCdc(spark, p, "k")
    (2L to 5L).foreach(i => LakeTable.append(spark, p, Seq((i, s"v$i")).toDF("k", "v")))
    val feed = spark.read.format("graft").option("readChangeFeed", "true").load(p)
    assert(feed.count() == 4L) // v2..v5 appends (v0 create, v1 enablement)
    // filter pushdown reaches the parquet scan of the change files
    val filtered = feed.where(col("change_type") === "insert" && col("k") >= 4L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("k >= 4"), plan)
    // appends write NO change files — the commit carries an @marker
    // and the feed synthesizes inserts from the data group directly
    assert(LakeTable.readCommit(spark, p, 2L).cdcDir.exists(_.startsWith("@")))
    assert(!new java.io.File(s"$p/_cdc").exists, "append must not duplicate its rows into _cdc")
    assert(filtered.count() == 2L)
    // a _commit_version range opens ONLY the matching dirs
    val late = feed.where(col("_commit_version") >= 4L)
    val files = late.select(input_file_name()).distinct().count()
    val all = feed.select(input_file_name()).distinct().count()
    assert(late.count() == 2L)
    assert(files < all, s"version range should skip change dirs: $files vs $all")
  }

  test("a CDC follower converges a downstream rollup across repeated base mutations") {
    import spark.implicits._
    val p = s"$root/cdc_follow"
    LakeTable.create(spark, p,
      Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "x", 30.0)).toDF("k", "g", "m"))
    // downstream state: g -> (cnt, sum), maintained ONLY from the feed
    // after the initial load (the version-polling consumer pattern —
    // the distributed equivalent is q_mv_cdc_refresh)
    var state = LakeTable.read(spark, p).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("m").as("sm"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    var seen = 0L
    def follow(): Unit = {
      val cur = LakeTable.currentVersion(spark, p).get
      if (cur > seen) {
        // changes columns: change_type, k, then data cols sorted (g, m)
        LakeTable.changes(spark, p, "k", seen, cur, preimages = true).collect().foreach { r =>
          val sgn = if (r.getString(0) == "insert" || r.getString(0) == "update_postimage") 1 else -1
          val (g, m) = (r.getString(2), r.getDouble(3))
          val (c0, s0) = state.getOrElse(g, (0L, 0.0))
          state = state.updated(g, (c0 + sgn, s0 + sgn * m))
        }
        seen = cur
      }
    }
    LakeTable.append(spark, p, Seq((4L, "y", 40.0)).toDF("k", "g", "m")); follow()
    LakeTable.update(spark, p, col("k") === 1L, Map("m" -> lit(15.0))); follow()
    LakeTable.delete(spark, p, col("k") === 2L); follow()
    val direct = LakeTable.read(spark, p).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("m").as("sm"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(state.filter(_._2._1 > 0L) == direct, s"$state vs $direct")
  }

  test("property: CDC fold equals the direct aggregate over random mutation sequences") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val p = s"$root/cdc_prop"
    var nextKey = 21L
    LakeTable.create(spark, p,
      (1L to 20L).map(k => (k, s"g${k % 3}", (k * 7 % 50).toDouble)).toDF("k", "g", "m"))
    def agg(): Map[String, (Long, Double)] =
      LakeTable.read(spark, p).groupBy("g")
        .agg(count(lit(1)).as("c"), sum("m").as("s")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    var state = agg()
    var seen = 0L
    def follow(): Unit = {
      val cur = LakeTable.currentVersion(spark, p).get
      LakeTable.changes(spark, p, "k", seen, cur, preimages = true).collect().foreach { r =>
        val sgn = if (r.getString(0) == "insert" || r.getString(0) == "update_postimage") 1 else -1
        val (g, m) = (r.getString(2), r.getDouble(3))
        val (c0, s0) = state.getOrElse(g, (0L, 0.0))
        state = state.updated(g, (c0 + sgn, s0 + sgn * m))
      }
      seen = cur
    }
    for (_ <- 1 to 6) {
      rnd.nextInt(3) match {
        case 0 => // append fresh keys
          val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
            val k = nextKey; nextKey += 1
            (k, s"g${rnd.nextInt(4)}", rnd.nextInt(100).toDouble)
          }
          LakeTable.append(spark, p, rows.toDF("k", "g", "m"))
        case 1 => // update a random key range's measure
          val lo = 1 + rnd.nextInt(nextKey.toInt)
          LakeTable.update(spark, p,
            col("k").between(lo, lo + rnd.nextInt(5)),
            Map("m" -> (col("m") + lit(rnd.nextInt(10).toDouble))))
        case 2 => // delete a random sliver
          val lo = 1 + rnd.nextInt(nextKey.toInt)
          LakeTable.delete(spark, p, col("k").between(lo, lo + rnd.nextInt(3)))
      }
      follow()
      val direct = agg()
      val folded = state.filter(_._2._1 > 0L)
        .map { case (g, (c, s)) => g -> (c, math.round(s * 1e6) / 1e6) }
      val directR = direct.map { case (g, (c, s)) => g -> (c, math.round(s * 1e6) / 1e6) }
      assert(folded == directR, s"diverged: $folded vs $directR")
    }
  }

  test("shallow clone shares file groups zero-copy and evolves independently") {
    import spark.implicits._
    val src = s"$root/clone_src"
    val dst = s"$root/clone_dst"
    LakeTable.create(spark, src, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    LakeTable.shallowClone(spark, src, dst)
    // the clone reads the SOURCE's files — nothing copied under dst
    assert(LakeTable.read(spark, dst).count() == 3L)
    assert(LakeTable.dataFiles(spark, dst).forall(_.contains("clone_src")))
    val dstLocal = new java.io.File(dst)
    assert(dstLocal.listFiles().map(_.getName).toSet == Set("_graft_log"))
    // clone evolves; source must not see it
    LakeTable.append(spark, dst, Seq((4L, "d")).toDF("k", "v"))
    assert(LakeTable.read(spark, dst).count() == 4L)
    assert(LakeTable.read(spark, src).count() == 3L)
    // clone vacuum never touches shared dirs under the source root
    LakeTable.vacuum(spark, dst, retainFrom = 1L)
    assert(LakeTable.read(spark, src).count() == 3L)
    assert(LakeTable.read(spark, dst).count() == 4L)
  }

  test("a shallow clone of a table under a path holding ',' reads and appends") {
    val src = s"$root/clone_src,1"
    val dst = s"$root/clone_dst,1"
    Seq(src, dst).foreach(p => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p)))
    LakeTable.create(spark, src, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    LakeTable.append(spark, src, Seq((3L, "c")).toDF("k", "v"))
    val base = LakeTable.shallowClone(spark, src, dst)
    assert(LakeTable.readCommit(spark, dst, base).dirs.forall(_.contains("clone_src,1")))
    assert(LakeTable.read(spark, dst).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    LakeTable.append(spark, dst, Seq((4L, "d")).toDF("k", "v"))
    assert(LakeTable.read(spark, dst).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(LakeTable.read(spark, src).count() === 3L)
  }

  test("numeric stats pruning stays exact past 2^53 (no double round-trip)") {
    import spark.implicits._
    val p = s"$root/bigint_stats"
    // 2^53+1 is not double-representable: the old double round-trip
    // stored min=max=2^53 in the sidecar, so an equality lookup on
    // 2^53+1 pruned the file that HOLDS the row
    val hot = 9007199254740993L
    LakeTable.create(spark, p, Seq((hot, "a")).toDF("k", "s"))
    LakeTable.append(spark, p, Seq((42L, "b")).toDF("k", "s"))
    val v = LakeTable.currentVersion(spark, p).get
    val dirs = LakeTable.readCommit(spark, p, v).dirs
    val (pruned, _) = LakeTable.pruneFilesByDir(spark, p,
      LakeTable.meta(spark, p).renames, dirs,
      Map("k" -> LakeTable.ColumnBounds(Some(hot), Some(hot))))
    val files = pruned.flatMap(_.files)
    assert(files.exists(_.kept), s"the file holding $hot must be kept: $files")
    assert(files.exists(!_.kept), s"the k=42 file must prune: $files")
    assert(LakeTable.read(spark, p).where(col("k") === hot).count() == 1L)
  }

  test("long-string stats truncate in sidecars; truncated bounds still prune soundly") {
    import spark.implicits._
    val p = s"$root/longstr_stats"
    // two range-disjoint files on a 200-char string column
    val a = (1 to 50).map(i => (i.toLong, "a" * 200 + f"$i%03d"))
    val b = (1 to 50).map(i => (100L + i, "z" * 200 + f"$i%03d"))
    LakeTable.create(spark, p,
      (a ++ b).toDF("k", "doc").repartitionByRange(2, col("doc")))
    // sidecar lines stay metadata-sized (no 200-char bounds recorded)
    val c = LakeTable.readCommit(spark, p, 0L)
    val statLines = c.dirs.flatMap { d =>
      val sp = new org.apache.hadoop.fs.Path(s"$p/$d", "_stats.tsv")
      val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(sp)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    assert(statLines.nonEmpty)
    statLines.foreach(l => assert(l.length < 400, s"unbounded stats line: ${l.take(120)}…"))
    assert(!statLines.exists(_.contains("a" * 100)), "full long string leaked into sidecar")
    // truncated bounds still separate the files: a 'z'-range query
    // skips the all-'a' file and stays exact
    val (pruned, _) = LakeTable.pruneFilesByDir(spark, p,
      LakeTable.meta(spark, p).renames, c.dirs,
      Map("doc" -> LakeTable.ColumnBounds(Some("z"), None)))
    val files = pruned.flatMap(_.files)
    assert(files.exists(!_.kept), s"the all-'a' file must prune: $files")
    assert(LakeTable.readRange(spark, p, "doc", "z", "").count() == 50L)
  }

  test("supplementary char straddling the stat cap keeps the max bound sound") {
    import spark.implicits._
    val p = s"$root/surrogate_stats"
    // 63 chars then an emoji: the 64-char cap would split the
    // surrogate pair; an unpaired (or bumped-into-surrogate) char
    // persists through the UTF-8 sidecar as '?', an UNSOUND smaller
    // max that used to prune the file containing the matching row.
    val v = "a" * 63 + "\uD83D\uDE00\uD83D\uDE00 tail to exceed the cap"
    LakeTable.create(spark, p, Seq((1L, v), (2L, "a" * 10)).toDF("k", "doc"))
    val c = LakeTable.readCommit(spark, p, 0L)
    val (pruned, _) = LakeTable.pruneFilesByDir(spark, p,
      LakeTable.meta(spark, p).renames, c.dirs,
      Map("doc" -> LakeTable.ColumnBounds(Some(v), None)))
    assert(pruned.flatMap(_.files).exists(_.kept),
      "the file holding the emoji row must survive a lo=value prune")
    assert(LakeTable.readRange(spark, p, "doc", v, v).count() == 1L)
    // and a lo just ABOVE the bumped bound still prunes (the bound was
    // not degenerately loosened to the whole domain)
    assert(LakeTable.readRange(spark, p, "doc", "b", "c").count() == 0L)
  }

  test("bloom sidecars skip files on an unclustered column where stats cannot") {
    import SharedSpark.sf
    val p = s"$root/bloom_skip"
    // laid out by DATE: every file's o_orderkey [min,max] spans the
    // domain, so footer stats keep all files for an orderkey point.
    LakeTable.create(spark, p,
      Tables(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate")))
    val total = LakeTable.dataFiles(spark, p).size
    val statsOnly = LakeTable.pointCandidateFiles(spark, p, "o_orderkey", 1000L).get
    assert(statsOnly.size == total, s"stats should not skip here: ${statsOnly.size} of $total")
    LakeTable.buildBlooms(spark, p, Seq("o_orderkey"))
    val withBloom = LakeTable.pointCandidateFiles(spark, p, "o_orderkey", 1000L).get
    assert(withBloom.size < total, s"bloom skipped nothing: ${withBloom.size} of $total")
    // exactness: the pruned point read equals full read + filter
    val got = LakeTable.readPoint(spark, p, "o_orderkey", 1000L)
      .select("o_orderkey", "o_totalprice").collect().toSeq
    val want = LakeTable.read(spark, p).where(col("o_orderkey") === 1000L)
      .select("o_orderkey", "o_totalprice").collect().toSeq
    assert(got == want && got.nonEmpty, s"$got vs $want")
    // a value absent from the table prunes every file
    val absent = LakeTable.pointCandidateFiles(spark, p, "o_orderkey", -5L).get
    assert(absent.isEmpty, s"absent key kept ${absent.size} files")
    assert(LakeTable.readPoint(spark, p, "o_orderkey", -5L).count() == 0L)
  }

  test("V2 scan prunes files from pushed SQL filters via sidecar stats") {
    import SharedSpark.sf
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    val p = s"$root/v2_skip"
    Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey"))
      .write.format("graft").mode("overwrite").save(p)
    val all = LakeTable.dataFiles(spark, p).size
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map { case g: graft.sources.GraftStreamableScan => g.inner; case s => s }
        .collect { case f: FileScan => f.fileIndex.inputFiles.length }.sum
    // point query: only the file whose [min,max] covers the key is planned
    val point = spark.read.format("graft").load(p).where(col("o_orderkey") === 500L)
    assert(plannedFiles(point) < all, s"planned ${plannedFiles(point)} of $all")
    // range query through pure SQL against the catalog
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.skipdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.skipdb.ordr")
    Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey")).createOrReplaceTempView("ordr_src")
    spark.sql("CREATE TABLE graft_cat.skipdb.ordr AS SELECT * FROM ordr_src")
    val sqlQ = spark.sql(
      "SELECT sum(o_totalprice) AS s FROM graft_cat.skipdb.ordr WHERE o_orderkey BETWEEN 10 AND 99")
    val allCat = LakeTable.dataFiles(spark,
      s"${GraftSession.catalogRoot}/skipdb/ordr").size
    assert(plannedFiles(sqlQ) < allCat, s"planned ${plannedFiles(sqlQ)} of $allCat")
    // exactness against the unpruned read
    val exact = LakeTable.read(spark, p).where(col("o_orderkey") === 500L).count()
    assert(point.count() == exact)
    // an unbounded query still plans every file
    val open = spark.read.format("graft").load(p)
    assert(plannedFiles(open) == all)
  }

  test("partitioned create prunes on read") {
    val p = s"$root/t6"
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "part")
    LakeTable.create(spark, p, df, partitionBy = Seq("part"))
    val read = LakeTable.read(spark, p).where(col("part") === "x")
    assert(read.count() == 2)
    assert(read.queryExecution.executedPlan.toString.contains("PartitionFilters:"))
  }

  test("broad MOR delete across many groups: one executor-written DV file per group, names-only commit") {
    val p = s"$root/mor_many"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    // 8 file groups (create + 7 appends), each multiple files.
    LakeTable.create(spark, p,
      spark.range(0, 250).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS x").repartition(3))
    (1 to 7).foreach { i =>
      LakeTable.append(spark, p,
        spark.range(i * 250L, (i + 1) * 250L)
          .selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS x").repartition(3))
    }
    // A broad delete touching every group: the distributed MOR tail
    // writes one cumulative DV file per touched group from tasks and
    // the commit references exactly those names (the driver never
    // holds the blobs — it collects file NAMES).
    val v = LakeTable.deleteMor(spark, p, col("k") % 4 === 0)
    val c = LakeTable.readCommit(spark, p, v)
    assert(c.dvFiles.size === 8, c.dvFiles)
    assert(c.dirs === LakeTable.readCommit(spark, p, v - 1).dirs) // no rewrite
    assert(LakeTable.read(spark, p).count() === 2000 - 500)
    // chained MOR update composes over the many-group vector state
    LakeTable.updateMor(spark, p, col("k") === 1, Map("x" -> lit(9.0)))
    val t = LakeTable.read(spark, p)
    assert(t.count() === 1500)
    assert(t.where(col("x") === 9.0).count() === 1)
    assert(t.groupBy("k").count().where(col("count") =!= 1).count() === 0)
  }

  test("DV-mode catalog SQL keeps pushdown, pruning and stats file skipping") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dv_serve")
    val p = GraftSession.catalogRoot + "/db/dv_serve"
    // 4 range-disjoint sorted file groups so min/max sidecars can prove
    // non-overlap, plus a pad column pruning must drop.
    LakeTable.create(spark, p,
      spark.range(0, 4000)
        .selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS x", "repeat('p', 10) AS pad")
        .repartitionByRange(4, col("k")))
    LakeTable.setSortBy(spark, p, Seq("k"))
    LakeTable.compact(spark, p, 4)
    val vDel = LakeTable.deleteMor(spark, p, col("k") % 100 === 7)
    assert(LakeTable.readCommit(spark, p, vDel).dvFiles.nonEmpty) // vectors live
    val q = spark.sql("SELECT k, x FROM graft_cat.db.dv_serve WHERE k = 1234")
    val plan = q.queryExecution.executedPlan.toString
    // The DV serving scan, not a blind full scan: filters pushed,
    // columns pruned (no pad), and the sidecar stats open 1 file of 4.
    assert(plan.contains("GraftDvScan"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,1234)]"), plan)
    assert(plan.contains("files=1/4"), plan)
    assert(plan.contains("ReadSchema: struct<k:bigint,x:double>"), plan)
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((1234L, 2468.0)))
    // vectors still apply through the pruned path: the deleted row of
    // this file is invisible, and the global count reflects all marks
    assert(spark.sql("SELECT * FROM graft_cat.db.dv_serve WHERE k = 1107").count() === 0)
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.db.dv_serve")
      .collect()(0).getLong(0) === 4000 - 40)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dv_serve")
  }

  test("catalog views inline into the consuming plan: pushdown and pruning reach the base scan") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.vi_fact")
    spark.range(0, 2000)
      .selectExpr("id AS k", "id % 10 AS g", "CAST(id AS DOUBLE) * 1.5 AS x", "repeat('q', 20) AS pad")
      .writeTo("graft_cat.db.vi_fact").create()
    spark.sql("""CALL graft_cat.system.create_view('db.vi_view',
      'SELECT k, g, x FROM graft_cat.db.vi_fact', true)""")
    val q = spark.sql("SELECT x FROM graft_cat.db.vi_view WHERE k = 777")
    val plan = q.queryExecution.executedPlan.toString
    // Inlined: the physical plan is the BASE parquet scan with the
    // outer predicate pushed and only (k, x) read — no row-RDD view
    // relation (GraftView) anywhere.
    assert(!plan.contains("GraftView"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,777)]"), plan)
    assert(plan.contains("ReadSchema: struct<k:bigint,x:double>"), plan)
    assert(q.collect().map(_.getDouble(0)).toSeq === Seq(1165.5))
    // nested views inline transitively and stay correct
    spark.sql("""CALL graft_cat.system.create_view('db.vi_view2',
      'SELECT g, sum(x) AS sx FROM graft_cat.db.vi_view GROUP BY g', true)""")
    val n = spark.sql("SELECT sx FROM graft_cat.db.vi_view2 WHERE g = 3")
    assert(!n.queryExecution.executedPlan.toString.contains("GraftView"))
    val expected = (0 until 2000).filter(_ % 10 == 3).map(_ * 1.5).sum
    assert(n.collect().map(_.getDouble(0)).toSeq === Seq(expected))
    // the rule is the only serving path: a view table has no scan
    val noScan = intercept[IllegalStateException](
      new graft.sources.GraftViewTable("v", "SELECT 1", new org.apache.spark.sql.types.StructType())
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))
    assert(noScan.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"))
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.vi_view2")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.vi_view")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.vi_fact")
  }

  test("CALL system.clone registers shallow and deep clones as catalog tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cl")
    Seq("src", "sh", "dp").foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_cat.cl.$t"))
    spark.sql("CREATE TABLE graft_cat.cl.src AS SELECT id, id * 2 AS v FROM range(50)")
    spark.sql("CALL graft_cat.system.clone('cl.src', 'cl.sh', false)")
    spark.sql("CALL graft_cat.system.clone('cl.src', 'cl.dp', true)")
    // both serve the snapshot through plain catalog SQL…
    assert(spark.sql("SELECT count(*) FROM graft_cat.cl.sh").head.getLong(0) == 50L)
    assert(spark.sql("SELECT count(*) FROM graft_cat.cl.dp").head.getLong(0) == 50L)
    // …and stay pinned while the source moves on
    spark.sql("INSERT INTO graft_cat.cl.src VALUES (100, 200)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.cl.src").head.getLong(0) == 51L)
    assert(spark.sql("SELECT count(*) FROM graft_cat.cl.sh").head.getLong(0) == 50L)
    assert(spark.sql("SELECT count(*) FROM graft_cat.cl.dp").head.getLong(0) == 50L)
    // name collisions reject instead of clobbering
    val e = intercept[Exception] {
      spark.sql("CALL graft_cat.system.clone('cl.src', 'cl.sh', false)")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("deep clone materializes the resolved snapshot, independent of the source") {
    val src = s"$root/dclone_src"
    val dst = s"$root/dclone_dst"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dst))
    LakeTable.create(spark, src,
      spark.range(100).selectExpr("id", "CAST(id % 4 AS STRING) AS g"),
      partitionBy = Seq("g"))
    LakeTable.addCheck(spark, src, "nonneg", "id >= 0")
    LakeTable.analyze(spark, src, Seq("g"))
    LakeTable.deleteMor(spark, src, col("id") === 7)
    LakeTable.deepClone(spark, src, dst)
    // ANALYZE results travel (identical data), re-stamped to the clone
    assert(LakeTable.meta(spark, dst).ndv.get("g").exists(r => r.ndv == 4L && r.asOf == 0L))
    // resolved state travels; DV debt does not
    assert(LakeTable.read(spark, dst).count() === 99L)
    assert(LakeTable.filesDf(spark, dst).collect().forall(!_.getBoolean(4)))
    // layout + constraints carried
    assert(LakeTable.meta(spark, dst).partitionBy === Seq("g"))
    assert(LakeTable.meta(spark, dst).checks.map(_._1) === Seq("nonneg"))
    intercept[Exception] {
      LakeTable.append(spark, dst, spark.range(1).selectExpr("-id - 5 AS id", "'0' AS g"))
        .toString
    }
    // fully physical: the clone survives the source's disappearance
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(src))
    assert(LakeTable.read(spark, dst).where(col("g") === "1").count() === 25L)
  }

  test("optimize-write sizes file count by data volume, not upstream task count") {
    val p = s"$root/optwrite"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    // 32 upstream fragments of ~3 MB total
    val frag = spark.range(200000).repartition(32).selectExpr("id", "id * 2 AS v")
    spark.conf.set("spark.graft.optimizeWrite.targetBytes", (1L << 20).toString)
    try {
      LakeTable.create(spark, p, frag)
      val nOpt = LakeTable.filesDf(spark, p).count()
      assert(nOpt <= 8, s"optimize-write still fragmented: $nOpt files")
      // rows survive intact
      assert(LakeTable.read(spark, p).count() === 200000L)
    } finally spark.conf.unset("spark.graft.optimizeWrite.targetBytes")
    // without the conf, the upstream fragmentation passes through
    LakeTable.append(spark, p, frag)
    val nRaw = LakeTable.filesDf(spark, p).count()
    assert(nRaw >= 32L, s"expected ~32 more fragment files, saw $nRaw total")
  }

  test("readPoint and readRange apply deletion vectors") {
    val p = s"$root/lookup_dv"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))
    LakeTable.deleteMor(spark, p, col("k") === 7L)
    assert(LakeTable.readPoint(spark, p, "k", 7L).count() === 0)
    assert(LakeTable.readRange(spark, p, "k", 7L, 7L).count() === 0)
    assert(LakeTable.readPoint(spark, p, "k", 8L).as[(Long, Long)].collect().toSeq === Seq((8L, 16L)))
  }

  test("IN and OR bounds stay exact past 2^53: DELETE reaches the row") {
    val big = 9007199254740993L // 2^53 + 1: not double-representable
    def twoGroups(name: String): String = {
      val p = s"$root/$name"
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
      LakeTable.create(spark, p, Seq(big).toDF("k"))
      LakeTable.append(spark, p, Seq(1L).toDF("k"))
      p
    }
    val pIn = twoGroups("exact_in")
    LakeTable.delete(spark, pIn, col("k").isin(big))
    assert(LakeTable.read(spark, pIn).as[Long].collect().toSeq === Seq(1L))
    val pOr = twoGroups("exact_or")
    LakeTable.delete(spark, pOr, col("k") === big || col("k") === big - 1)
    assert(LakeTable.read(spark, pOr).as[Long].collect().toSeq === Seq(1L))
  }

  test("a DECIMAL value never bounds file skipping: SQL and readRange find the rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dec_serve")
    val p = GraftSession.catalogRoot + "/db/dec_serve"
    // d = 1.00 … 4.99 over 4 range-split files; the sidecar stats of a
    // DECIMAL(10,2) column are parquet's unscaled integers (100 … 499)
    LakeTable.create(spark, p,
      spark.range(0, 400)
        .selectExpr("id AS k", "CAST(1 + id / 100.0 AS DECIMAL(10,2)) AS d")
        .repartitionByRange(4, col("k")))
    val d123 = new java.math.BigDecimal("1.23")
    assert(LakeTable.readRange(spark, p, "d", d123, d123).select("k").as[Long]
      .collect().toSeq === Seq(23L))
    def below15 = spark.sql("SELECT count(*) FROM graft_cat.db.dec_serve WHERE d < 1.5")
      .head().getLong(0)
    assert(below15 === 50L)
    // vectors live: catalog SQL serves through the DV scan builder
    LakeTable.deleteMor(spark, p, col("k") === 399L)
    val eq = spark.sql("SELECT k FROM graft_cat.db.dec_serve WHERE d = 1.23")
    assert(eq.queryExecution.executedPlan.toString.contains("GraftDvScan"))
    assert(eq.as[Long].collect().toSeq === Seq(23L))
    assert(below15 === 50L)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dec_serve")
  }

  test("MERGE on a DECIMAL key replaces the matching target row") {
    val p = s"$root/dec_merge"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, spark.range(0, 200)
      .selectExpr("CAST(1 + id / 100.0 AS DECIMAL(10,2)) AS k", "id AS v"))
    LakeTable.merge(spark, p,
      spark.sql("SELECT CAST(1.50 AS DECIMAL(10,2)) AS k, CAST(-1 AS BIGINT) AS v"), "k")
    val t = LakeTable.read(spark, p)
    assert(t.count() === 200)
    assert(t.where(col("k") === lit(new java.math.BigDecimal("1.50"))).select("v").as[Long]
      .collect().toSeq === Seq(-1L))
  }

  test("a column under a lossy or datetime cast never bounds: SQL and DELETE find the rows") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.cast_serve")
    val p = GraftSession.catalogRoot + "/db/cast_serve"
    val big = 9007199254740993L // 2^53 + 1: rounds to 2^53 as a double
    // two groups: the DATE stats are INT32 days, the BIGINT ones exact
    def twoGroups(): Unit = {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
      LakeTable.create(spark, p, Seq((big, java.sql.Date.valueOf("2024-01-02"))).toDF("k", "d"))
      LakeTable.append(spark, p, Seq((1L, java.sql.Date.valueOf("2023-06-01"))).toDF("k", "d"))
    }
    twoGroups()
    def ks(where: String) = spark.sql(s"SELECT k FROM graft_cat.db.cast_serve WHERE $where")
      .as[Long].collect().toSeq.sorted
    // compares cast(d AS TIMESTAMP) with micros; as a bound on d it would
    // meet INT32-day stats
    assert(ks("d >= TIMESTAMP '2024-01-01 00:00:00'") === Seq(big))
    // cast(k AS DOUBLE) <= 2^53 holds for 2^53 + 1
    assert(ks("k <= 9.007199254740992E15") === Seq(1L, big))
    LakeTable.delete(spark, p, col("k") <= lit(9.007199254740992E15))
    assert(LakeTable.read(spark, p).count() === 0)
    twoGroups()
    LakeTable.delete(spark, p, col("d") >= lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(LakeTable.read(spark, p).select("k").as[Long].collect().toSeq === Seq(1L))
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.cast_serve")
  }

  test("a zero-padded STRING partition value reads back as the string") {
    val p = s"$root/padded_part"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p))
    LakeTable.create(spark, p, Seq((1L, "01"), (2L, "02"), (3L, "10")).toDF("k", "p"),
      partitionBy = Seq("p"))
    def rows(df: org.apache.spark.sql.DataFrame) = {
      assert(df.schema("p").dataType === org.apache.spark.sql.types.StringType)
      df.select("k", "p").as[(Long, String)].collect().toSeq.sorted
    }
    assert(rows(LakeTable.readRange(spark, p, "k", 1L, 1L)) === Seq((1L, "01")))
    assert(rows(LakeTable.readPoint(spark, p, "p", "02")) === Seq((2L, "02")))
    // vectors live: the full read takes the per-group-root path too
    LakeTable.deleteMor(spark, p, col("k") === 3L)
    assert(rows(LakeTable.read(spark, p)) === Seq((1L, "01"), (2L, "02")))
    assert(rows(LakeTable.readRange(spark, p, "k", 1L, 2L)) === Seq((1L, "01"), (2L, "02")))
  }
}

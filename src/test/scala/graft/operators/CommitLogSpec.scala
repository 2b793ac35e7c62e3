package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The transactional contract of [[GraftTable]]: snapshot isolation
  * (torn/abandoned stages invisible), time-travel stability, the
  * rename-CAS conflict path, ACID MERGE semantics via the Cdc kernel,
  * and vacuum never touching committed data.
  */
/** Serializable home for the non-determinism counter (a closure over a
  * spec field would drag the suite into the task closure).
  */
object CommitLogSpecCounter {
  private val c = new java.util.concurrent.atomic.AtomicLong(0L)
  def next(): Double = c.incrementAndGet().toDouble
}

/** Publishes a copy of the parent manifest as `version` from inside a
  * Spark task, so the commit whose rows the task is writing loses its
  * CAS after it has staged data. At most one copy lands.
  */
object CommitLogSpecRace {
  import java.nio.charset.StandardCharsets.UTF_8
  import java.nio.file.{FileAlreadyExistsException, Files, Paths,
    StandardOpenOption}

  def publishOnce(root: String, version: Long): Boolean = {
    val log = Paths.get(root, "_graft_log")
    val parent = new String(
      Files.readAllBytes(log.resolve(f"v${version - 1}%08d.commit")), UTF_8)
    val body = parent.split("\n").map {
      case l if l.startsWith("version:") => s"version:$version"
      case l if l.startsWith("parent:") => s"parent:${version - 1}"
      case l => l
    }.mkString("", "\n", "\n")
    try Files.write(log.resolve(f"v$version%08d.commit"),
      body.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
    catch { case _: FileAlreadyExistsException => () }
    true
  }
}

object CommitLogSpec {
  /** What a new version inherits from its parent, stamps aside. */
  final case class Carry(txns: Map[String, Long],
      maxBatch: Option[Long], checks: Map[String, String],
      statsCols: Seq[String], schemaDdl: String)

  def carryOf(c: GraftTable.Commit): Carry =
    Carry(c.txns, c.maxBatch, c.checks, c.statsCols, c.schemaDdl)

  /** One commit of an op against the version it is given; `stamped` is
    * the writer whose txn stamp it refreshes and `change` the inherited
    * fields it is meant to change.
    */
  final case class Step(name: String, run: Long => Long,
      stamped: Option[String] = None, change: Carry => Carry = identity)
}

class CommitLogSpec extends AnyFunSuite {
  import CommitLogSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("commit-log-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_table_").toString
    new java.io.File(d).delete()
    d
  }

  private def table3(rows: Seq[(Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("k", "name", "bal")
  }

  test("create/read roundtrip and history") {
    val root = freshRoot()
    val v0 = GraftTable.create(
      table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    assert(v0 == 0L)
    assert(GraftTable.latestVersion(spark, root) == 0L)
    val got = GraftTable.read(spark, root)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "a"), (2L, "b")))
    val h = GraftTable.history(spark, root)
    assert(h.map(c => (c.version, c.parent, c.op)) ==
      Seq((0L, -1L, "CREATE")))
    assert(h.head.files.nonEmpty)
  }

  test("append carries parent files; merge rewrites; time travel is stable") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    GraftTable.append(table3(Seq((3L, "c", 3.0))), root,
      expectedVersion = 0L)
    assert(GraftTable.read(spark, root).count() == 3L)
    // v1 carries v0's files plus its own — nothing rewritten
    val h = GraftTable.history(spark, root)
    assert(h(0).files.toSet.subsetOf(h(1).files.toSet))

    val changes = Seq(
      (2L, "b2", 20.0, "U", 1L),
      (3L, "c", 3.0, "D", 1L),
      (4L, "d", 4.0, "I", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.merge(root, changes, key = "k", ordering = Seq("seq"),
      expectedVersion = 1L)
    val v2 = GraftTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v2 == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // time travel: v0 and v1 still read exactly as committed
    assert(GraftTable.readVersion(spark, root, 0L).count() == 2L)
    val v1 = GraftTable.readVersion(spark, root, 1L).orderBy("k")
      .collect().map(_.getLong(0)).toSeq
    assert(v1 == Seq(1L, 2L, 3L))
  }

  test("torn commit is invisible: staged data without a manifest is never read") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // simulate a writer that crashed after staging data, before
    // publishing the manifest
    table3(Seq((99L, "torn", 9.0))).write
      .parquet(s"$root/data/v00000001-deadbeef")
    assert(GraftTable.latestVersion(spark, root) == 0L)
    assert(GraftTable.read(spark, root).count() == 1L)
    // the default retention window protects the FRESH orphan — it
    // could be a live writer's not-yet-published stage (VERDICT r14
    // #2); only a no-concurrent-writers vacuum (retention 0) may
    // remove it
    assert(GraftTable.vacuum(spark, root).isEmpty)
    val deleted = GraftTable.vacuum(spark, root, retentionMs = 0L)
    assert(deleted == Seq("data/v00000001-deadbeef"))
    assert(GraftTable.read(spark, root).count() == 1L)
    assert(GraftTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
  }

  test("vacuum retention: an in-window stage survives to a successful publish") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // a slow writer has staged its data but not yet published v1
    table3(Seq((2L, "b", 2.0))).write
      .parquet(s"$root/data/v00000001-slowpoke")
    // maintenance vacuum with the default window runs concurrently:
    // must NOT delete the in-flight stage
    assert(GraftTable.vacuum(spark, root).isEmpty)
    // the slow writer now publishes a manifest referencing that stage
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/data/v00000001-slowpoke"))
      .map(_.getPath.getName).filter(_.startsWith("part-")).sorted
    val w = new java.io.PrintWriter(
      new java.io.File(s"$root/_graft_log/v00000001.commit"), "UTF-8")
    w.print("graft-commit-v1\nversion:1\nparent:0\nop:APPEND\n" +
      "schema:`k` BIGINT,`name` STRING,`bal` DOUBLE\n" +
      part.map(p => s"file:data/v00000001-slowpoke/$p\n").mkString)
    w.close()
    // the published version reads its (un-vacuumed) data
    assert(GraftTable.readVersion(spark, root, 1L).count() == 1L)
    assert(GraftTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
  }

  test("stale expectedVersion conflicts; retry against the new latest succeeds") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    val changesA = Seq((1L, "a2", 10.0, "U", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    val changesB = Seq((2L, "b", 2.0, "D", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    assert(GraftTable.merge(root, changesA, "k", Seq("seq"), 0L) == 1L)
    // writer B still believes latest is 0 — lost-update attempt
    val e = intercept[GraftTable.ConflictException] {
      GraftTable.merge(root, changesB, "k", Seq("seq"), 0L)
    }
    assert(e.expected == 0L && e.actual == 1L)
    // B's data was not published
    assert(GraftTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b")))
    // retry against the observed latest wins
    assert(GraftTable.merge(root, changesB, "k", Seq("seq"), 1L) == 2L)
    assert(GraftTable.read(spark, root).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("rename CAS: a raced APPEND manifest re-parents the slower writer; a raced MERGE surfaces") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // an external writer publishes v1 directly (the interleaving where
    // both writers pass the fast-fail check and race the rename). The
    // winner is APPEND-shaped, so the slower append AUTO-REBASES onto
    // it instead of surfacing a retry (Delta's append-vs-append rule)
    val log = new java.io.File(s"$root/_graft_log")
    val w = new java.io.PrintWriter(
      new java.io.File(log, "v00000001.commit"), "UTF-8")
    w.print("graft-commit-v1\nversion:1\nparent:0\nop:APPEND\n" +
      "schema:`k` BIGINT,`name` STRING,`bal` DOUBLE\n")
    w.close()
    val got = GraftTable.append(table3(Seq((5L, "e", 5.0))), root,
      expectedVersion = 0L)
    assert(got == 2L, "append did not rebase onto the raced v1")
    // the raced v1 keeps its own (empty) snapshot; v2 = v1 + the append
    assert(GraftTable.readVersion(spark, root, 1L).count() == 0L)
    assert(GraftTable.readVersion(spark, root, 2L)
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // a MERGE-shaped winner rewrote files: the append must SURFACE
    val w2 = new java.io.PrintWriter(
      new java.io.File(log, "v00000003.commit"), "UTF-8")
    w2.print("graft-commit-v1\nversion:3\nparent:2\nop:MERGE\n" +
      "schema:`k` BIGINT,`name` STRING,`bal` DOUBLE\ncdfdir:cdf/none\n")
    w2.close()
    val e = intercept[GraftTable.ConflictException] {
      GraftTable.append(table3(Seq((6L, "f", 6.0))), root,
        expectedVersion = 2L)
    }
    assert(e.expected == 2L && e.actual == 3L)
  }

  test("empty version reads as an empty table with the manifest schema") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // delete-everything merge -> empty snapshot, schema preserved
    val wipe = Seq((1L, "a", 1.0, "D", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.merge(root, wipe, "k", Seq("seq"), 0L)
    val v1 = GraftTable.read(spark, root)
    assert(v1.count() == 0L)
    assert(v1.columns.toSeq == Seq("k", "name", "bal"))
    // and a further append on top of the empty version works
    GraftTable.append(table3(Seq((7L, "g", 7.0))), root, 1L)
    assert(GraftTable.read(spark, root).count() == 1L)
  }

  test("appendBatchIdempotent: replays are no-ops, first writes create the table") {
    val root = freshRoot()
    // batch 0 creates the table
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 0L, root, "w1"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 1L, root, "w1"))
    assert(GraftTable.read(spark, root).count() == 2L)
    // exact replay of batch 1 (post-crash at-least-once delivery):
    // detected via the manifest's per-writer txn watermark, no new
    // version, no new rows
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 1L, root, "w1"))
    assert(GraftTable.latestVersion(spark, root) == 1L)
    assert(GraftTable.read(spark, root).count() == 2L)
    assert(GraftTable.history(spark, root).map(_.batch) ==
      Seq(Some(0L), Some(1L)))
    assert(GraftTable.history(spark, root).last.txns == Map("w1" -> 1L))
  }

  test("fresh-checkpoint restart: a NEW appId's batches 0..k commit after the old writer reached maxBatch >> k") {
    val root = freshRoot()
    // the old writer's checkpoint lifetime reached batch 100
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 0L, root, "old-ckpt"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 100L, root, "old-ckpt"))
    // the checkpoint is deleted and recreated: Structured Streaming
    // restarts batch ids at 0 under a NEW query/checkpoint identity.
    // With the r15 unscoped maxBatch EVERY one of these would have been
    // silently swallowed as a replay (batchId <= 100) — the stream
    // "succeeding" while writing nothing.
    (0L to 3L).foreach { b =>
      assert(GraftTable.appendBatchIdempotent(
        table3(Seq((200L + b, s"n$b", b.toDouble))), b, root, "new-ckpt"),
        s"fresh-checkpoint batch $b was swallowed by the old watermark")
    }
    assert(GraftTable.read(spark, root).count() == 6L)
    // each writer's OWN replay detection still works
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((9L, "x", 9.0))), 3L, root, "new-ckpt"))
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((9L, "x", 9.0))), 100L, root, "old-ckpt"))
    val txns = GraftTable.history(spark, root).last.txns
    assert(txns == Map("old-ckpt" -> 100L, "new-ckpt" -> 3L))
  }

  test("two interleaved writers each achieve exactly-once independently") {
    val root = freshRoot()
    // writer A runs ahead; writer B's ids trail A's maxima throughout —
    // with an unscoped watermark every B batch after A's first would
    // have been dropped
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a0", 0.0))), 10L, root, "A"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b0", 0.0))), 0L, root, "B"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((3L, "a1", 1.0))), 11L, root, "A"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((4L, "b1", 1.0))), 1L, root, "B"))
    assert(GraftTable.read(spark, root).count() == 4L)
    // replays on either side are no-ops; fresh batches still land
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((9L, "x", 9.0))), 1L, root, "B"))
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((9L, "x", 9.0))), 11L, root, "A"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((5L, "b2", 2.0))), 2L, root, "B"))
    assert(GraftTable.read(spark, root).count() == 5L)
    assert(GraftTable.history(spark, root).last.txns ==
      Map("A" -> 11L, "B" -> 2L))
  }

  test("compact rewrites into fewer files with identical rows; old versions unaffected") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    GraftTable.append(table3(Seq((2L, "b", 2.0))), root, 0L)
    GraftTable.append(table3(Seq((3L, "c", 3.0))), root, 1L)
    assert(GraftTable.history(spark, root).last.files.size >= 3)
    val v3 = GraftTable.compact(spark, root, expectedVersion = 2L)
    val c = GraftTable.history(spark, root).last
    assert(c.op == "COMPACT" && c.version == v3 && c.files.size == 1)
    assert(GraftTable.readVersion(spark, root, v3).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the compacted files are new; v2 still reads its own
    assert(GraftTable.readVersion(spark, root, 2L).count() == 3L)
    // vacuum keeps everything: every data dir is referenced by SOME
    // manifest (v0-v2's by theirs, the compacted dir by v3's)
    assert(GraftTable.vacuum(spark, root).isEmpty)
  }

  test("schema evolution: add-column appends null-fill history; drops/retypes reject") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // a mismatched plain append fails loudly (typo protection)
    intercept[IllegalArgumentException] {
      GraftTable.append(Seq((2L, "b")).toDF("k", "name"), root, 0L)
    }
    // evolve: add a nullable column
    val wide = Seq((2L, "b", 2.0, "x")).toDF("k", "name", "bal", "tag")
    GraftTable.appendEvolve(wide, root, 0L)
    val latest = GraftTable.read(spark, root).orderBy("k")
    assert(latest.columns.toSeq == Seq("k", "name", "bal", "tag"))
    val rows = latest.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getString(3)))
    assert(rows.toSeq == Seq((1L, null), (2L, "x")))
    // time travel: version 0 keeps its narrower schema
    assert(GraftTable.readVersion(spark, root, 0L).columns.toSeq ==
      Seq("k", "name", "bal"))
    // dropping or retyping columns rejects
    intercept[IllegalArgumentException] {
      GraftTable.appendEvolve(Seq((3L, "c")).toDF("k", "name"), root, 1L)
    }
    intercept[IllegalArgumentException] {
      GraftTable.appendEvolve(
        Seq((3L, "c", 3, "y")).toDF("k", "name", "bal", "tag"), root, 1L)
    }
    // a TYPED non-nullable added column must commit as NULLABLE:
    // historic files null-fill it, so publishing NOT NULL would hand
    // the optimizer a false IsNotNull it could prune on
    val typed = Seq((9L, "i", 9.0, "x", 7L))
      .toDF("k", "name", "bal", "tag", "score")
    assert(!typed.schema("score").nullable)
    GraftTable.appendEvolve(typed, root, 1L)
    val after = GraftTable.read(spark, root)
    assert(after.schema("score").nullable,
      "added column must be committed nullable")
    val nullScores = after.filter(col("score").isNull).count()
    assert(nullScores == 2L, s"historic rows must read NULL, got $nullScores non-null-filtered")
  }

  test("deleteWhere: atomic predicate delete, NULL predicate keeps the row") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
        .toDF("k", "bal"), root)
    // bal > 2.0 is NULL for row 2 -> kept (SQL DELETE semantics)
    val v1 = GraftTable.deleteWhere(spark, root, col("bal") > 2.0, 0L)
    assert(GraftTable.readVersion(spark, root, v1).orderBy("k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // time travel intact; history records the DELETE
    assert(GraftTable.readVersion(spark, root, 0L).count() == 3L)
    assert(GraftTable.history(spark, root).last.op == "DELETE")
  }

  test("publish primitive: two true threads race the same destination 300 times — exactly one wins") {
    val root = freshRoot()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_graft_log"))
    (1 to 300).foreach { i =>
      val dest = new org.apache.hadoop.fs.Path(
        f"$root/_graft_log/v$i%08d.commit")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
      val threads = Seq("a", "b").map { who =>
        new Thread(() => {
          val tmp = new org.apache.hadoop.fs.Path(
            s"$root/_graft_log/.tmp-$i-$who")
          val o = fs.create(tmp, false)
          o.write(who.getBytes("UTF-8")); o.close()
          barrier.await()
          val won = GraftTable.publishManifest(fs, tmp, dest)
          if (!won) fs.delete(tmp, false)
          results.add((who, won)); ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val wins = results.asScala.filter(_._2).toSeq
      assert(wins.size == 1,
        s"round $i: both or neither won: ${results.asScala.toSeq}")
      // the published file is the winner's, intact — not the loser's
      // silently renamed over it (the r14 local-rename hazard)
      val in = fs.open(dest)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      assert(content == wins.head._1,
        s"round $i: winner ${wins.head._1} but dest holds '$content'")
    }
  }

  test("full write path: two true threads race append at the same expected version — both land via auto-rebase, zero caller-visible conflicts") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((0L, "base", 0.0))), root)
    (0 until 25).foreach { i =>
      val expected = GraftTable.latestVersion(spark, root)
      // both writers' frames are built BEFORE the barrier so the race
      // covers exactly the append path: fast-fail read -> stage ->
      // atomic publish (staging takes ~100ms, so both threads pass the
      // fast-fail and genuinely race the publish most rounds). The CAS
      // still serializes them — but the loser now REBASES onto the
      // winner (append-vs-append never conflicts logically) instead of
      // surfacing a retry (VERDICT r16 "what's missing" #3)
      val dfs = Seq("a", "b").zipWithIndex.map { case (who, wi) =>
        who -> table3(Seq((1000L + i * 2L + wi, who, i.toDouble)))
      }
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[(Long, Long), Long]]()
      val threads = dfs.map { case (_, df) =>
        new Thread(() => {
          barrier.await()
          try outcomes.add(Right(GraftTable.append(df, root, expected)))
          catch {
            case e: GraftTable.ConflictException =>
              outcomes.add(Left((e.expected, e.actual)))
          }
          ()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val (losers, winners) = outcomes.asScala.toSeq.partition(_.isLeft)
      assert(losers.isEmpty,
        s"round $i: a blind append surfaced a conflict: $losers")
      assert(winners.map(_.toOption.get).toSet ==
        Set(expected + 1, expected + 2),
        s"round $i: appends did not serialize to consecutive versions: " +
          s"$winners")
      // the committed table is consistent after every round: both rows
      // landed, every version readable end to end
      assert(GraftTable.latestVersion(spark, root) == expected + 2)
      assert(GraftTable.read(spark, root).count() == 2L * (i + 1) + 1L)
      // the rebased commit's change feed attributes its rows to the
      // rebased version (the staged dir was renamed, not left stale)
      val feed = GraftTable.readChanges(spark, root,
        expected + 1, expected + 2)
      assert(feed.filter(col("_change_type") === "insert").count() == 2L)
      assert(feed.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).toSet ==
        Set(expected + 1, expected + 2))
    }
  }

  test("auto-rebase surfaces genuine conflicts: merge winners and mid-flight schema evolution") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // a MERGE wins between the read and the publish: surface
    GraftTable.merge(root,
      Seq((1L, "a2", 10.0, "U", 1L)).toDF("k", "name", "bal", "op", "seq"),
      "k", Seq("seq"), 0L)
    intercept[GraftTable.ConflictException] {
      GraftTable.append(table3(Seq((2L, "b", 2.0))), root,
        expectedVersion = 0L)
    }
    // an APPEND-op winner that EVOLVED the schema also surfaces (the
    // append's frame no longer matches the table's contract)
    val v2 = GraftTable.appendEvolve(
      Seq((3L, "c", 3.0, "t")).toDF("k", "name", "bal", "tag"), root, 1L)
    intercept[GraftTable.ConflictException] {
      GraftTable.append(table3(Seq((4L, "d", 4.0))), root,
        expectedVersion = 1L)
    }
    // while a same-schema append against a stale version whose winner
    // is a plain APPEND still rebases
    val wide = Seq((5L, "e", 5.0, Option.empty[String]))
      .toDF("k", "name", "bal", "tag")
    val v3 = GraftTable.append(wide, root, expectedVersion = v2)
    val wide2 = Seq((6L, "f", 6.0, Option("u")))
      .toDF("k", "name", "bal", "tag")
    assert(GraftTable.append(wide2, root, expectedVersion = v2) == v3 + 1,
      "same-schema append behind an APPEND winner did not rebase")
    assert(GraftTable.read(spark, root).count() == 4L)
  }

  test("writer txns carry through compact/merge: replay detection is O(1) and survives maintenance") {
    import spark.implicits._
    val root = freshRoot()
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 0L, root, "w1"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 1L, root, "w1"))
    // non-batch maintenance commits between batches
    GraftTable.compact(spark, root, GraftTable.latestVersion(spark, root))
    val changes = Seq((1L, "a2", 10.0, "U", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.merge(root, changes, "k", Seq("seq"),
      GraftTable.latestVersion(spark, root))
    // replays of batches 0 and 1 are still detected from ONE manifest
    // read (the txn map carried by COMPACT and MERGE), not a history
    // scan
    val latest = GraftTable.latestVersion(spark, root)
    assert(GraftTable.history(spark, root).last.txns == Map("w1" -> 1L))
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 1L, root, "w1"))
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 0L, root, "w1"))
    assert(GraftTable.latestVersion(spark, root) == latest)
    // the next genuine batch commits
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((3L, "c", 3.0))), 2L, root, "w1"))
    assert(GraftTable.history(spark, root).last.txns == Map("w1" -> 2L))
  }

  test("writer-transaction retention: compact drops txn entries older than the window; recent writers keep their replay guard") {
    val root = freshRoot()
    // writer "old" commits, then time passes, then writer "new" commits
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 5L, root, "old"))
    Thread.sleep(80)
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 0L, root, "new"))
    val before = GraftTable.history(spark, root).last
    assert(before.txns.keySet == Set("old", "new"))
    assert(before.txnStamps("old") < before.txnStamps("new"))
    // compact with a window that covers "new" but not "old"
    val age = System.currentTimeMillis() - before.txnStamps("new") + 40
    GraftTable.compact(spark, root,
      GraftTable.latestVersion(spark, root), numFiles = 1,
      txnRetentionMs = age)
    val after = GraftTable.history(spark, root).last
    assert(after.txns == Map("new" -> 0L),
      s"retention kept the wrong entries: ${after.txns}")
    // "new" keeps exactly-once; "old" has lost its guard (the
    // documented Delta setTransactionRetentionDuration contract) and
    // its replay re-applies
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((9L, "x", 9.0))), 0L, root, "new"))
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((3L, "c", 3.0))), 5L, root, "old"))
    assert(GraftTable.read(spark, root).count() == 3L)
    // default compact keeps everything
    GraftTable.compact(spark, root,
      GraftTable.latestVersion(spark, root))
    assert(GraftTable.history(spark, root).last.txns.keySet ==
      Set("old", "new"))
  }

  test("legacy pre-txn manifests: the unscoped maxBatch replay check applies until the first post-upgrade commit") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // hand-write a pre-upgrade APPEND manifest: maxbatch recorded, no
    // txn lines (the shape every pre-SetTransaction build produced)
    val h0 = GraftTable.history(spark, root).head
    val w = new java.io.PrintWriter(
      new java.io.File(s"$root/_graft_log/v00000001.commit"), "UTF-8")
    w.print("graft-commit-v1\nversion:1\nparent:0\nop:APPEND\n" +
      s"schema:${h0.schemaDdl}\nbatch:5\nmaxbatch:5\n" +
      h0.files.map(p => s"file:$p\n").mkString)
    w.close()
    // the in-flight stream resumes post-upgrade and replays batch 3:
    // with txns EMPTY the unscoped maxBatch check must adjudicate it a
    // no-op (ADVICE r16 — without the fallback the upgrade silently
    // dropped the replay guard and re-applied the batch as duplicates)
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 3L, root, "legacy-stream"))
    assert(GraftTable.latestVersion(spark, root) == 1L)
    // its next GENUINE batch commits and writes scoped txn lines
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((2L, "b", 2.0))), 6L, root, "legacy-stream"))
    assert(GraftTable.history(spark, root).last.txns ==
      Map("legacy-stream" -> 6L))
    // from here the contract is scoped: a NEW writer's batch 0 lands
    // even though 0 <= the legacy maxBatch
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((3L, "c", 3.0))), 0L, root, "fresh-writer"))
    assert(GraftTable.read(spark, root).count() == 3L)
  }

  test("mergePruned rewrites only files containing changed keys; the rest are carried") {
    import spark.implicits._
    val root = freshRoot()
    val base = (1L to 1000L).map(i => (i, s"n$i", i * 1.0))
      .toDF("k", "name", "bal")
    GraftTable.createPartitioned(base, root, "k", numFiles = 8)
    val h0 = GraftTable.history(spark, root).last
    assert(h0.files.size >= 4, s"expected several files, got ${h0.files}")
    assert(h0.statsCol.contains("k") && h0.ranges.keySet == h0.files.toSet)
    // changes confined to low keys, plus one brand-new key far outside
    // the base range (stretches the coarse bounds to cover everything,
    // so stage-2's EXACT semi-join must do the pruning)
    val changes = Seq(
      (5L, "u5", 50.0, "U", 1L),
      (17L, "x", 0.0, "D", 1L),
      (1500L, "i1500", 9.0, "I", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.mergePruned(root, changes, "k", Seq("seq"), 0L)
    val h1 = GraftTable.history(spark, root).last
    val carried = h1.files.toSet.intersect(h0.files.toSet)
    val rewritten = h0.files.toSet -- h1.files.toSet
    assert(carried.nonEmpty,
      s"no files carried: v0=${h0.files} v1=${h1.files}")
    assert(rewritten.size <= 2,
      s"keys 5 and 17 live in at most 2 range files, rewrote $rewritten")
    // semantics identical to a full merge
    val got = GraftTable.read(spark, root)
    assert(got.count() == 1000L)
    assert(got.filter($"k" === 5L).select("name").head().getString(0) == "u5")
    assert(got.filter($"k" === 17L).count() == 0L)
    assert(got.filter($"k" === 1500L).count() == 1L)
    assert(got.filter($"k" > 500L && $"k" <= 1000L).count() == 500L)
    // the new version is still prunable: stats cover every file
    assert(h1.statsCol.contains("k") && h1.ranges.keySet == h1.files.toSet)
    // time travel to v0 unaffected
    assert(GraftTable.readVersion(spark, root, 0L).count() == 1000L)
  }

  test("pushdown survives the versioning layer: filter reaches the parquet scan") {
    val root = freshRoot()
    GraftTable.create(table3((1L to 100L).map(i => (i, s"n$i", i * 1.0))),
      root)
    val plan = GraftTable.read(spark, root)
      .filter(col("k") === 7L).select("k", "name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,7)]"),
      s"filter not pushed to scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("bal"),
      s"column pruning lost:\n$plan")
  }

  test("change feed: create/append synthesize inserts, merge stages classified changes, compact is silent, delete emits pre-images") {
    import spark.implicits._
    val root = freshRoot()
    val v0 = GraftTable.create(
      table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    val v1 = GraftTable.append(table3(Seq((3L, "c", 3.0))), root, v0)
    val changes = Seq(
      (2L, "b2", 20.0, "U", 1L), // update
      (3L, "c", 3.0, "D", 1L), // delete
      (4L, "d", 4.0, "I", 1L), // insert
      (1L, "a", 1.0, "U", 1L)) // no-op image: suppressed
      .toDF("k", "name", "bal", "op", "seq")
    val v2 = GraftTable.merge(root, changes, "k", Seq("seq"), v1)
    val v3 = GraftTable.compact(spark, root, v2, numFiles = 1)
    val v4 = GraftTable.deleteWhere(spark, root, col("k") === 4L, v3)

    def feed(from: Long, to: Long): Set[(Long, String, String, Long)] =
      GraftTable.readChanges(spark, root, from, to)
        .select("k", "name", "_change_type", "_commit_version")
        .as[(Long, String, String, Long)].collect().toSet

    assert(feed(0L, 0L) ==
      Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L)))
    assert(feed(v1, v1) == Set((3L, "c", "insert", 1L)))
    assert(feed(v2, v2) == Set(
      (2L, "b", "update_preimage", 2L),
      (2L, "b2", "update_postimage", 2L),
      (3L, "c", "delete", 2L),
      (4L, "d", "insert", 2L)))
    assert(GraftTable.readChanges(spark, root, v3, v3).isEmpty)
    assert(feed(v4, v4) == Set((4L, "d", "delete", 4L)))
    // the full-range feed is the union, and replaying it reconstructs
    // the latest snapshot from the empty set
    val full = feed(0L, v4)
    assert(full.size == 2 + 1 + 4 + 1)
    val state = scala.collection.mutable.Map.empty[Long, String]
    full.toSeq.sortBy(_._4).foreach {
      case (k, n, "insert", _) => state(k) = n
      case (k, n, "update_postimage", _) => state(k) = n
      case (k, _, "delete", _) => state.remove(k)
      case _ => () // preimages carry no new state
    }
    val latest = GraftTable.read(spark, root)
      .select("k", "name").as[(Long, String)].collect().toMap
    assert(state.toMap == latest)
  }

  test("change feed spans schema evolution: pre-evolution versions null-fill added columns") {
    import spark.implicits._
    val root = freshRoot()
    val v0 = GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    GraftTable.appendEvolve(
      Seq((2L, "b", 2.0, "fresh")).toDF("k", "name", "bal", "tag"),
      root, v0)
    val got = GraftTable.readChanges(spark, root, 0L, 1L)
      .select("k", "tag", "_change_type", "_commit_version")
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(got == Set(
      (1L, None, "insert", 0L),
      (2L, Some("fresh"), "insert", 1L)))
  }

  test("change feed: a pruned merge captures exactly the touched-partition changes") {
    import spark.implicits._
    val root = freshRoot()
    val base = (1L to 400L).map(i => (i, s"n$i", i * 1.0))
    val v0 = GraftTable.createPartitioned(table3(base), root, "k",
      numFiles = 8)
    val changes = Seq(
      (5L, "n5x", 5.5, "U", 1L),
      (7L, "n7", 7.0, "D", 1L),
      (401L, "new", 401.0, "I", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    val v1 = GraftTable.mergePruned(root, changes, "k", Seq("seq"), v0)
    val got = GraftTable.readChanges(spark, root, v1, v1)
      .select("k", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (5L, "n5", "update_preimage"),
      (5L, "n5x", "update_postimage"),
      (7L, "n7", "delete"),
      (401L, "new", "insert")))
    // carried files contributed no phantom changes despite holding
    // 99% of the table
    assert(GraftTable.history(spark, root)(1).files.toSet
      .intersect(GraftTable.history(spark, root).head.files.toSet).nonEmpty)
  }

  test("vacuum sweeps orphaned cdf stages; referenced change data survives and the feed stays readable") {
    import spark.implicits._
    val root = freshRoot()
    val v0 = GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    GraftTable.merge(root,
      Seq((1L, "a2", 1.5, "U", 1L)).toDF("k", "name", "bal", "op", "seq"),
      "k", Seq("seq"), v0)
    // simulate a conflicted writer's abandoned change-data stage
    table3(Seq((9L, "orphan", 9.0)))
      .withColumn("_change_type", lit("insert"))
      .write.parquet(s"$root/cdf/v00000002-deadbeef")
    assert(GraftTable.vacuum(spark, root).isEmpty) // retention protects it
    val deleted = GraftTable.vacuum(spark, root, retentionMs = 0L)
    assert(deleted == Seq("cdf/v00000002-deadbeef"))
    // the committed version's change data was referenced and survives
    val got = GraftTable.readChanges(spark, root, 1L, 1L)
      .select("name", "_change_type")
      .as[(String, String)].collect().toSet
    assert(got ==
      Set(("a", "update_preimage"), ("a2", "update_postimage")))
  }

  test("readRange scans only stats-overlapping files; residual filter and pushdown intact") {
    val root = freshRoot()
    val rows = (1L to 1000L).map(i => (i, s"n$i", i * 1.0))
    GraftTable.createPartitioned(table3(rows), root, "k", numFiles = 10)
    val all = GraftTable.history(spark, root).head.files
    val selected = GraftTable.filesForRange(spark, root, 0L, 250L, 349L)
    assert(selected.size < all.size,
      s"no pruning: ${selected.size} of ${all.size}")
    val got = GraftTable.readRange(spark, root, 250L, 349L)
    // exact residual semantics: identical to filter on the full read
    assert(got.count() == 100L)
    assert(got.agg(min("k"), max("k")).head() ===
      org.apache.spark.sql.Row(250L, 349L))
    // the selected files really are the only inputs, and the residual
    // range predicate still reaches the parquet scan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(k,250)") &&
      plan.contains("LessThanOrEqual(k,349)"),
      s"residual range not pushed:\n$plan")
    val scanned = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(scanned.forall(f => selected.exists(f.endsWith)),
      "scan touched a file the manifest pruning rejected")
    // empty range reads as an empty, correctly-shaped table
    assert(GraftTable.readRange(spark, root, 5000L, 6000L).isEmpty)
    // an unpartitioned table refuses rather than silently full-scans
    val flat = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), flat)
    intercept[IllegalArgumentException] {
      GraftTable.filesForRange(spark, flat, 0L, 0L, 10L)
    }
  }

  test("zero-row part files are dropped from stats-table manifests, not carried as unprunable candidates") {
    import spark.implicits._
    val root = freshRoot()
    val v0 = GraftTable.createPartitioned(
      table3((1L to 100L).map(i => (i, s"n$i", i * 1.0))), root, "k",
      numFiles = 4)
    // an append whose layout provably contains empty tasks: 3 rows
    // spread over 8 partitions -> >=5 empty write tasks (the live
    // failure mode: Spark writes a 0-row parquet file per empty task,
    // which used to enter the manifest rangeless and defeat pruning)
    val sparse = Seq((1001L, "x", 1.0), (1002L, "y", 2.0),
      (1003L, "z", 3.0)).toDF("k", "name", "bal").repartition(8)
    val v1 = GraftTable.append(sparse, root, v0)
    val h1 = GraftTable.history(spark, root)(1)
    val added = h1.files.filterNot(
      GraftTable.history(spark, root).head.files.toSet)
    assert(added.nonEmpty)
    // every manifest-listed appended file carries a range (no zero-row
    // stragglers), so an out-of-range read prunes ALL of them
    assert(added.forall(h1.ranges.contains),
      s"rangeless appended files survived: ${added.filterNot(h1.ranges.contains)}")
    val selected = GraftTable.filesForRange(spark, root, v1, 10L, 90L)
    assert(selected.toSet.intersect(added.toSet).isEmpty)
    // and the rows themselves are intact
    assert(GraftTable.read(spark, root).count() == 103L)
  }

  test("readChanges plan width is O(1) in the version span: a long feed is two scans, not a per-version union") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((0L, "n0", 0.0))), root)
    // 60 appends + a couple of merges/deletes/compacts: a real
    // long-lived table's log. The r15 implementation built one
    // DataFrame + unionByName PER VERSION (60+ scans); the fix serves
    // every insert version from ONE scan (version decoded from the
    // staged path) and every merge/delete from a second.
    (1L to 60L).foreach { v =>
      GraftTable.append(table3(Seq((v, s"n$v", v * 1.0))).coalesce(1),
        root, expectedVersion = v - 1L)
    }
    val m1 = GraftTable.merge(root,
      Seq((3L, "m3", 30.0, "U", 1L)).toDF("k", "name", "bal", "op", "seq"),
      "k", Seq("seq"), 60L)
    GraftTable.compact(spark, root, m1, numFiles = 2)
    val vTop = GraftTable.deleteWhere(spark, root, col("k") === 7L, m1 + 1)

    val feed = GraftTable.readChanges(spark, root, 0L, vTop)
    val plan = feed.queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size <= 2,
      s"feed plan has ${scans.size} scans — width grew with versions")
    val nodes = plan.collect { case n => n }.size
    assert(nodes <= 25, s"feed plan has $nodes nodes for 63 versions")

    // and the per-row _commit_version decoding is exact
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("k", "_commit_version")
      .as[(Long, Long)].collect().toMap
    assert(inserts == (0L to 60L).map(v => v -> v).toMap)
    val merged = feed.filter(col("_commit_version") === m1)
      .select("k", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(merged == Set((3L, "n3", "update_preimage"),
      (3L, "m3", "update_postimage")))
    val deleted = feed.filter(col("_commit_version") === vTop)
      .select("k", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(deleted == Set((7L, "delete")))
    // compact contributed nothing
    assert(feed.filter(col("_commit_version") === m1 + 1).isEmpty)
  }

  test("vacuum resolves its referenced set from the checkpoint index: bounded manifest reads on a long log") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((0L, "n0", 0.0))), root)
    // 110 versions: four checkpoint intervals (every 25th commit writes
    // the cumulative referenced-directory index) plus a tail
    (1L to 110L).foreach { v =>
      GraftTable.append(table3(Seq((v, s"n$v", v * 1.0))).coalesce(1),
        root, expectedVersion = v - 1L)
    }
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fsys.exists(new org.apache.hadoop.fs.Path(
      s"$root/_graft_log/v00000100.ckpt")),
      "checkpoint at version 100 was not written")
    // an orphan from a crashed writer, plus one merge staging cdf data
    table3(Seq((999L, "orphan", 9.0))).write
      .parquet(s"$root/data/v00000042-deadbeef")
    GraftTable.merge(root,
      Seq((5L, "m5", 50.0, "U", 1L)).toDF("k", "name", "bal", "op", "seq"),
      "k", Seq("seq"), 110L)

    GraftTable.manifestReadCount.set(0L)
    val deleted = GraftTable.vacuum(spark, root, retentionMs = 0L)
    val reads = GraftTable.manifestReadCount.get()
    assert(deleted == Seq("data/v00000042-deadbeef"))
    assert(reads <= GraftTable.CheckpointInterval + 10,
      s"vacuum read $reads manifests on a 112-version log — the " +
        "checkpoint index is not bounding the scan")
    // everything committed is still readable: the checkpointed
    // referenced set protected every pre-checkpoint directory
    assert(GraftTable.readVersion(spark, root, 0L).count() == 1L)
    assert(GraftTable.readVersion(spark, root, 60L).count() == 61L)
    assert(GraftTable.read(spark, root).count() == 111L)
    assert(GraftTable.readChanges(spark, root, 111L, 111L)
      .select("name", "_change_type")
      .as[(String, String)].collect().toSet ==
      Set(("n5", "update_preimage"), ("m5", "update_postimage")))
  }

  test("a torn checkpoint is detected and skipped: vacuum falls back instead of deleting live data") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((0L, "n0", 0.0))), root)
    (1L to 30L).foreach { v =>
      GraftTable.append(table3(Seq((v, s"n$v", v * 1.0))).coalesce(1),
        root, expectedVersion = v - 1L)
    }
    val ckpt = new java.io.File(s"$root/_graft_log/v00000025.ckpt")
    assert(ckpt.exists(), "checkpoint at version 25 was not written")
    // simulate a crash / disk-full mid-write: truncate the checkpoint
    // so its datadir: lines are incomplete (ADVICE r16 high — an
    // un-validated torn checkpoint silently shrank vacuum's referenced
    // set and vacuum deleted directories still referenced by committed
    // versions)
    val bytes = java.nio.file.Files.readAllBytes(ckpt.toPath)
    java.nio.file.Files.write(ckpt.toPath,
      java.util.Arrays.copyOf(bytes, bytes.length / 3))
    // an orphan so the sweep has something legitimate to delete
    table3(Seq((999L, "orphan", 9.0))).write
      .parquet(s"$root/data/v00000007-deadbeef")
    val deleted = GraftTable.vacuum(spark, root, retentionMs = 0L)
    assert(deleted == Seq("data/v00000007-deadbeef"),
      s"vacuum with a torn checkpoint deleted: $deleted")
    // every committed version is still fully readable
    assert(GraftTable.readVersion(spark, root, 0L).count() == 1L)
    assert(GraftTable.readVersion(spark, root, 12L).count() == 13L)
    assert(GraftTable.read(spark, root).count() == 31L)
    // and the NEXT checkpoint is built without inheriting the torn
    // one's losses: it validates complete and carries the full index
    (31L to 50L).foreach { v =>
      GraftTable.append(table3(Seq((v, s"n$v", v * 1.0))).coalesce(1),
        root, expectedVersion = v - 1L)
    }
    val c50 = new java.io.File(s"$root/_graft_log/v00000050.ckpt")
    assert(c50.exists())
    val lines = scala.io.Source.fromFile(c50, "UTF-8").getLines().toSeq
    assert(lines.head == "graft-ckpt-v2")
    assert(lines.last == s"count:${lines.size - 1}",
      s"v50 checkpoint trailer invalid: ${lines.last}")
    // the rebuilt checkpoint's referenced set covers version 0's data
    val h0dirs = GraftTable.history(spark, root).head.files
      .map(_.split("/")(1)).toSet
    assert(h0dirs.forall(d => lines.contains(s"datadir:$d")),
      "rebuilt checkpoint lost version 0's referenced directories")
    // a FULLY deleted checkpoint also falls back cleanly
    assert(c50.delete())
    assert(GraftTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
    assert(GraftTable.read(spark, root).count() == 51L)
  }

  test("change-feed catch-up over a long span resolves file lists from the checkpoint index: bounded manifest reads") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((0L, "n0", 0.0))), root)
    // 205 appends: eight checkpoint intervals plus a 5-version tail —
    // the week-behind streaming consumer's catch-up shape
    (1L to 205L).foreach { v =>
      GraftTable.append(table3(Seq((v, s"n$v", v * 1.0))).coalesce(1),
        root, expectedVersion = v - 1L)
    }
    GraftTable.manifestReadCount.set(0L)
    val feed = GraftTable.readChanges(spark, root, 0L, 205L)
    val planned = GraftTable.manifestReadCount.get()
    // tail beyond the newest checkpoint (201..205) + one schema read —
    // NOT one manifest open per version (the r16 O(span) driver path)
    assert(planned <= GraftTable.CheckpointInterval + 10,
      s"catch-up readChanges opened $planned manifests for a " +
        "206-version span — the checkpoint index is not being used")
    // the served feed is exact: every version's insert, correct
    // attribution, nothing lost to the index indirection
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("k", "_commit_version")
      .as[(Long, Long)].collect().toMap
    assert(inserts == (0L to 205L).map(v => v -> v).toMap)
  }

  test("a non-deterministic changelog commits a feed that agrees with the snapshot: the merge materializes its source once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udf
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    // a genuinely non-deterministic payload: every EVALUATION of the
    // plan yields different values (local mode shares the JVM, so the
    // counter is visible across jobs). Without localCheckpoint the
    // merge's snapshot job and the feed's pre-image job each
    // re-evaluated this plan and committed DIFFERENT bal values —
    // replaying the feed then contradicted the snapshot (ADVICE r15).
    val bump = udf(() => CommitLogSpecCounter.next()).asNondeterministic()
    val changes = Seq((1L, "a2", "U", 1L)).toDF("k", "name", "op", "seq")
      .withColumn("bal", bump())
      .select("k", "name", "bal", "op", "seq")
    val v1 = GraftTable.merge(root, changes, "k", Seq("seq"), 0L)
    val snapBal = GraftTable.read(spark, root)
      .filter($"k" === 1L).select("bal").head().getDouble(0)
    val feedBal = GraftTable.readChanges(spark, root, v1, v1)
      .filter($"_change_type" === "update_postimage")
      .select("bal").head().getDouble(0)
    assert(snapBal == feedBal,
      s"committed snapshot ($snapBal) and change feed ($feedBal) saw " +
        "different evaluations of the changelog")
  }

  test("multi-column stats: conjunctive pruning skips files either column rules out; single-column paths unchanged") {
    import spark.implicits._
    val root = freshRoot()
    // k clusters with the layout (range-partitioned on it); ts is an
    // anti-correlated secondary column (descending in k), so each file
    // carries a tight range on BOTH — the date+id shape real tables
    // prune on
    val rows = (1L to 1000L).map(i => (i, 2000L - i, s"n$i"))
      .toDF("k", "ts", "name")
    GraftTable.createPartitioned(rows, root, Seq("k", "ts"),
      numFiles = 10)
    val h0 = GraftTable.history(spark, root).head
    assert(h0.statsCols == Seq("k", "ts"))
    assert(h0.ranges.values.forall(m => m.keySet == Set("k", "ts")),
      "every file must carry ranges for both stats columns")

    // one-column bounds prune as before
    val byK = GraftTable.filesForRanges(spark, root, 0L,
      Map("k" -> (1L, 100L)))
    val byTs = GraftTable.filesForRanges(spark, root, 0L,
      Map("ts" -> (1000L, 1100L)))
    assert(byK.size < h0.files.size && byTs.size < h0.files.size)
    // conjunctive: k in [1,100] means ts in [1900,1999]; a disjoint ts
    // bound must eliminate every file the k bound left
    val contradictory = GraftTable.filesForRanges(spark, root, 0L,
      Map("k" -> (1L, 100L), "ts" -> (1000L, 1100L)))
    assert(contradictory.isEmpty,
      s"conjunctive pruning kept ${contradictory.size} files for " +
        "contradictory bounds")
    // a consistent conjunction reads exactly the filter semantics
    val got = GraftTable.readRanges(spark, root,
      Map("k" -> (1L, 100L), "ts" -> (1900L, 1950L)))
    assert(got.count() == 51L) // k in [50,100]
    assert(got.agg(min("k"), max("k")).head() ===
      org.apache.spark.sql.Row(50L, 100L))
    // appends/merges preserve BOTH columns' stats
    val v1 = GraftTable.append(
      Seq((2001L, 42L, "x")).toDF("k", "ts", "name"), root, 0L)
    val h1 = GraftTable.history(spark, root)(1)
    val added = h1.files.filterNot(h0.files.toSet)
    assert(added.nonEmpty &&
      added.forall(p => h1.ranges(p).keySet == Set("k", "ts")))
    val v2 = GraftTable.mergePruned(root,
      Seq((5L, 1995L, "m5", "U", 1L)).toDF("k", "ts", "name", "op", "seq"),
      "k", Seq("seq"), v1)
    val h2 = GraftTable.history(spark, root)(2)
    assert(h2.statsCols == Seq("k", "ts"))
    val rewritten = h2.files.filterNot(h1.files.toSet)
    assert(rewritten.nonEmpty &&
      rewritten.forall(p => h2.ranges(p).keySet == Set("k", "ts")),
      "pruned merge lost the secondary column's stats")
    // unknown columns refuse rather than silently full-scan
    intercept[IllegalArgumentException] {
      GraftTable.filesForRanges(spark, root, 0L, Map("name" -> (0L, 1L)))
    }
  }

  test("object-store schemes are refused at the publish CAS: no silent log fork on s3a/gcs/abfs") {
    // the write path on a filesystem whose rename is NOT an atomic
    // no-overwrite (every object store) must refuse loudly instead of
    // silently running a check-then-act "CAS" two writers can both win
    // (VERDICT r16 "what's wrong" #1)
    val root = freshRoot()
    // a "gs" fake here (not s3a): LogStoreSpec REGISTERS a coordinated
    // store for s3a process-wide, and suite order must not decide
    // whether this refusal fires — any non-allowlisted scheme pins the
    // same guard
    val fakeS3 = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getUri: java.net.URI = java.net.URI.create("gs://bucket")
    }
    fakeS3.initialize(java.net.URI.create("gs://bucket"),
      spark.sessionState.newHadoopConf())
    fakeS3.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_graft_log"))
    val tmp = new org.apache.hadoop.fs.Path(s"$root/_graft_log/.tmp-x")
    val o = fakeS3.create(tmp, false)
    o.write("x".getBytes("UTF-8")); o.close()
    Seq("s3a", "gs", "abfs", "wasbs", "oss").foreach { scheme =>
      val e = intercept[UnsupportedOperationException] {
        LogStore.forScheme(scheme)
      }
      assert(e.getMessage.contains("LogStore"),
        s"$scheme refusal must point at the LogStore seam")
    }
    intercept[UnsupportedOperationException] {
      GraftTable.publishManifest(fakeS3, tmp,
        new org.apache.hadoop.fs.Path(s"$root/_graft_log/v00000000.commit"))
    }
    // the allowlist still resolves; and a REGISTERED store makes the
    // refused scheme usable (the object-store-coordinator seam)
    assert(LogStore.resolve("file") == LogStore.LinkLocal)
    assert(LogStore.resolve("hdfs") == LogStore.RenameNoOverwrite)
    assert(LogStore.resolve("viewfs") == LogStore.RenameNoOverwrite)
    LogStore.register("mock-coord", LogStore.RenameNoOverwrite)
    assert(LogStore.resolve("mock-coord") == LogStore.RenameNoOverwrite)
  }

  test("a pre-CDF merge manifest fails the feed loudly instead of serving silence") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    // hand-write a legacy MERGE manifest with no cdfdir
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val h0 = GraftTable.history(spark, root).head
    val w = new java.io.PrintWriter(
      new java.io.File(s"$root/_graft_log/v00000001.commit"), "UTF-8")
    w.print("graft-commit-v1\nversion:1\nparent:0\nop:MERGE\n" +
      s"schema:${h0.schemaDdl}\n" +
      h0.files.map(p => s"file:$p\n").mkString)
    w.close()
    val e = intercept[IllegalArgumentException] {
      GraftTable.readChanges(spark, root, 0L, 1L).collect()
    }
    assert(e.getMessage.contains("predates the change feed"))
  }

  test("retention-compact that expires EVERY writer is not a legacy manifest: a fresh writer's batch 0 still lands (ADVICE r17 high)") {
    val root = freshRoot()
    // an old stream committed up to batch 7, then went away
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 7L, root, "old-stream"))
    Thread.sleep(10)
    // retention-compaction expires ALL writer txn entries — the
    // resulting manifest has txns EMPTY and maxBatch=7, the exact shape
    // a legacy pre-txn manifest has. Without the txnfmt marker the
    // unscoped fallback would adjudicate any batchId <= 7 from ANY
    // writer as already-applied: silent permanent data loss.
    GraftTable.compact(spark, root,
      GraftTable.latestVersion(spark, root), txnRetentionMs = 1L)
    val compacted = GraftTable.history(spark, root).last
    assert(compacted.txns.isEmpty && compacted.maxBatch.contains(7L),
      s"fixture broken: ${compacted.txns} / ${compacted.maxBatch}")
    // a plain append keeps the shape (txns still empty, maxBatch
    // carried) — the gate must hold on DESCENDANT manifests too
    GraftTable.append(table3(Seq((2L, "b", 2.0))), root,
      GraftTable.latestVersion(spark, root))
    // a fresh writer restarting batch ids at 0 MUST commit
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((3L, "c", 3.0))), 0L, root, "fresh-writer"),
      "fresh writer's batch 0 was swallowed by the expired watermark")
    assert(GraftTable.read(spark, root).count() == 3L)
    // the expired writer itself replays as a DUPLICATE (Delta's
    // documented degradation: expiry loses the guard, never data)
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((1L, "a", 1.0))), 7L, root, "old-stream"))
    assert(GraftTable.read(spark, root).count() == 4L)
  }

  test("timestamp time travel: monotonic commit stamps, binary-search resolution, before-first-commit error, skew floor") {
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    Thread.sleep(20)
    GraftTable.append(table3(Seq((2L, "b", 2.0))), root, 0L)
    Thread.sleep(20)
    GraftTable.append(table3(Seq((3L, "c", 3.0))), root, 1L)
    val ts = GraftTable.history(spark, root).map(_.ts.get)
    assert(ts == ts.sorted, s"commit stamps not monotonic: $ts")
    assert(ts(0) < ts(1) && ts(1) < ts(2),
      s"sleeps should separate stamps: $ts")
    // exact stamps resolve to their own version, midpoints to the
    // version still current at that instant, the future to the latest
    assert(GraftTable.versionAtTimestamp(spark, root, ts(0)) == 0L)
    assert(GraftTable.versionAtTimestamp(spark, root,
      (ts(0) + ts(1)) / 2) == 0L)
    assert(GraftTable.versionAtTimestamp(spark, root, ts(1)) == 1L)
    assert(GraftTable.versionAtTimestamp(spark, root,
      (ts(1) + ts(2)) / 2) == 1L)
    assert(GraftTable.versionAtTimestamp(spark, root, ts(2)) == 2L)
    assert(GraftTable.versionAtTimestamp(spark, root,
      ts(2) + 3600L * 1000) == 2L)
    assert(GraftTable.readTimestamp(spark, root, ts(1)).count() == 2L)
    // before the first commit: loud error (no state exists to serve)
    val e = intercept[IllegalArgumentException] {
      GraftTable.versionAtTimestamp(spark, root, ts(0) - 1L)
    }
    assert(e.getMessage.contains("predates the first commit"))
    // CLOCK SKEW: rewrite v2's stamp one hour into the future (a
    // fast-clock writer); the next commit must floor at it, keeping
    // the sequence monotonic instead of ordering a child before its
    // parent
    val future = ts(2) + 3600L * 1000
    val mPath = new java.io.File(s"$root/_graft_log/v00000002.commit")
    val text = new String(
      java.nio.file.Files.readAllBytes(mPath.toPath), "UTF-8")
    java.nio.file.Files.write(mPath.toPath,
      text.replace(s"ts:${ts(2)}", s"ts:$future").getBytes("UTF-8"))
    GraftTable.append(table3(Seq((4L, "d", 4.0))), root, 2L)
    val ts3 = GraftTable.history(spark, root).last.ts.get
    assert(ts3 >= future,
      s"child stamp $ts3 not floored at skewed parent $future")
    assert(GraftTable.versionAtTimestamp(spark, root, future) == 3L ||
      GraftTable.versionAtTimestamp(spark, root, future) == 2L)
    assert(GraftTable.versionAtTimestamp(spark, root, ts3) == 3L)
  }

  test("deletion vectors: a point upsert rewrites ZERO files (one dv line + one image file); snapshot and feed row-identical to the rewrite path") {
    import spark.implicits._
    def mk() = (1L to 1000L).map(i => (i, s"n$i", i * 1.0))
      .toDF("k", "name", "bal")
    val rootDv = freshRoot()
    val rootRw = freshRoot()
    GraftTable.createPartitioned(mk(), rootDv, "k", numFiles = 8)
    GraftTable.createPartitioned(mk(), rootRw, "k", numFiles = 8)
    val upd = Seq((500L, "upd", 999.0, "U", 1L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.mergePruned(rootDv, upd, "k", Seq("seq"), 0L, "op",
      deletionVectors = true)
    GraftTable.mergePruned(rootRw, upd, "k", Seq("seq"), 0L)
    val h0 = GraftTable.manifest(spark, rootDv, 0L)
    val h1 = GraftTable.manifest(spark, rootDv, 1L)
    // ZERO data files rewritten: every v0 file carried verbatim; the
    // only addition is one small winner-image file
    assert(h0.files.forall(h1.files.contains),
      "a DV point update must carry every existing file")
    val added = h1.files.filterNot(h0.files.toSet)
    assert(added.size == 1, s"expected 1 image file, added $added")
    // exactly one file masked, exactly one row in the mask
    assert(h1.dvs.size == 1, s"dv lines: ${h1.dvs}")
    assert(h1.dvs.values.head.map(r => r._2 - r._1 + 1).sum == 1L,
      s"mask must cover one row: ${h1.dvs}")
    // the REWRITE twin rewrote a data file for the same 1-row change —
    // the write amplification DVs remove
    val rw1 = GraftTable.manifest(spark, rootRw, 1L)
    assert(GraftTable.manifest(spark, rootRw, 0L).files
      .exists(f => !rw1.files.contains(f)))
    // snapshot and change feed are row-identical across the two shapes
    def snap(root: String) = GraftTable.read(spark, root)
      .as[(Long, String, Double)].collect().toSet
    assert(snap(rootDv) == snap(rootRw))
    def feed(root: String) = GraftTable.readChanges(spark, root, 1L, 1L)
      .select("k", "name", "bal", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(feed(rootDv) == feed(rootRw),
      s"feeds diverged: ${feed(rootDv)} vs ${feed(rootRw)}")
    // time travel is untouched: v0 still serves the original row
    assert(GraftTable.readVersion(spark, rootDv, 0L)
      .filter(col("k") === 500L).select("name").head().getString(0)
      == "n500")

    // a point DELETE is a dv line and NOTHING else — no new file at all
    // (the empty winner stage's zero-row part is dropped)
    val del = Seq((600L, "-", 0.0, "D", 2L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.mergePruned(rootDv, del, "k", Seq("seq"), 1L, "op",
      deletionVectors = true)
    val h2 = GraftTable.manifest(spark, rootDv, 2L)
    assert(h2.files.toSet == h1.files.toSet,
      "a DV point delete must add no data file")
    assert(GraftTable.read(spark, rootDv).count() == 999L)
    assert(GraftTable.read(spark, rootDv)
      .filter(col("k") === 600L).isEmpty)
    assert(GraftTable.readChanges(spark, rootDv, 2L, 2L)
      .select("_change_type").head().getString(0) == "delete")

    // DV'd reads compose with file pruning; a second DV merge on the
    // SAME file unions the masks; appends carry dv lines forward
    val upd2 = Seq((501L, "upd2", 1.0, "U", 3L))
      .toDF("k", "name", "bal", "op", "seq")
    GraftTable.mergePruned(rootDv, upd2, "k", Seq("seq"), 2L, "op",
      deletionVectors = true)
    val pruned = GraftTable.readRange(spark, rootDv, 495L, 605L)
    val got = pruned.filter(col("k").isin(500L, 501L, 600L))
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((500L, "upd", 999.0), (501L, "upd2", 1.0)),
      s"pruned DV read wrong: $got")
    GraftTable.append(Seq((2000L, "new", 2.0)).toDF("k", "name", "bal"),
      rootDv, 3L)
    assert(GraftTable.manifest(spark, rootDv, 4L).dvs.nonEmpty,
      "append must carry dv lines forward")
    assert(GraftTable.read(spark, rootDv).count() == 1000L) // 999+1+... 1000-1+1

    // compact MATERIALIZES the masks away: same rows, dv-free manifest
    val v5 = GraftTable.compact(spark, rootDv,
      GraftTable.latestVersion(spark, rootDv), numFiles = 4)
    val h5 = GraftTable.manifest(spark, rootDv, v5)
    assert(h5.dvs.isEmpty, "compact must materialize deletion vectors")
    assert(GraftTable.read(spark, rootDv).count() == 1000L)
    assert(GraftTable.read(spark, rootDv)
      .filter(col("k") === 500L).select("name").head().getString(0)
      == "upd")
  }

  test("restore: metadata-only rollback — target files carried verbatim, row-exact feed, future targets rejected, replay guards survive") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3((1L to 6L).map(i => (i, s"n$i", i * 1.0))),
      root)
    GraftTable.append(table3((7L to 9L).map(i => (i, s"n$i", i * 1.0))),
      root, 0L)
    // v2 rewrites the snapshot without the k%3==0 rows
    GraftTable.deleteWhere(spark, root, col("k") % 3 === 0, 1L)
    assert(GraftTable.read(spark, root).count() == 6L)

    val v3 = GraftTable.restore(spark, root, expectedVersion = 2L,
      toVersion = 1L)
    assert(v3 == 3L)
    val h1 = GraftTable.manifest(spark, root, 1L)
    val h3 = GraftTable.manifest(spark, root, v3)
    assert(h3.op == "RESTORE")
    // zero data movement: the restore manifest lists EXACTLY the
    // target's files — nothing staged under its own version
    assert(h3.files == h1.files)
    assert(!h3.files.exists(_.startsWith("data/v00000003-")))
    // the snapshot is the target's, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Double)].collect().toSet
    assert(rows(GraftTable.read(spark, root)) ==
      rows(GraftTable.readVersion(spark, root, 1L)))
    // ROW-EXACT feed: only the rows whose membership changed (the
    // deleted k%3==0 rows come back as inserts); the six rows that
    // merely moved files in the delete's rewrite CANCEL — a file-level
    // add/remove diff would have fed all nine
    val feed = GraftTable.readChanges(spark, root, v3, v3)
    assert(feed.filter(col("_change_type") =!= "insert").isEmpty,
      "a pure rollback of a delete must feed only inserts")
    assert(feed.select("k").as[Long].collect().toSet ==
      Set(3L, 6L, 9L))
    // history is append-only: pre-restore versions still read
    assert(GraftTable.readVersion(spark, root, 2L).count() == 6L)
    // nothing newly unreferenced: vacuum deletes no data
    assert(GraftTable.vacuum(spark, root, retentionMs = 0L).isEmpty)
    // a restore cannot invent future state
    val bad = intercept[IllegalArgumentException] {
      GraftTable.restore(spark, root, expectedVersion = v3,
        toVersion = 99L)
    }
    assert(bad.getMessage.contains("restore rolls back"))
    // writer replay guards ride the PARENT manifest, not the target:
    // a batch committed before the restore replays as a no-op after it
    assert(GraftTable.appendBatchIdempotent(
      table3(Seq((100L, "x", 1.0))), 7L, root, "w1"))
    val v5 = GraftTable.restore(spark, root, expectedVersion = 4L,
      toVersion = 1L)
    assert(!GraftTable.appendBatchIdempotent(
      table3(Seq((100L, "x", 1.0))), 7L, root, "w1"),
      "a replayed batch must be a no-op across a restore")
    assert(GraftTable.latestVersion(spark, root) == v5)
    // restoreTimestamp resolves through versionAtTimestamp and the
    // restore's own stamp keeps the sequence monotonic
    val ts = GraftTable.history(spark, root).map(_.ts.get)
    assert(ts == ts.sorted, s"stamps not monotonic: $ts")
    val v6 = GraftTable.restoreTimestamp(spark, root,
      expectedVersion = v5, tsMillis = ts(2))
    assert(rows(GraftTable.read(spark, root)) ==
      rows(GraftTable.readVersion(spark, root, 2L)))
    assert(GraftTable.manifest(spark, root, v6).op == "RESTORE")
  }

  test("restore races surface, never fork: an append winner conflicts the restore, a restore winner conflicts the rebasing append") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0))), root)
    GraftTable.append(table3(Seq((2L, "b", 2.0))), root, 0L)
    // an append wins between the restore's read and its publish: the
    // restore's CAS loses and surfaces a ConflictException (a restore
    // derived against a stale parent must re-derive — its feed diff
    // was computed against the old latest)
    GraftTable.append(table3(Seq((3L, "c", 3.0))), root, 1L)
    val stale = intercept[GraftTable.ConflictException] {
      GraftTable.restore(spark, root, expectedVersion = 1L,
        toVersion = 0L)
    }
    assert(stale.actual == 2L)
    // retried against the real latest it lands
    val v3 = GraftTable.restore(spark, root, expectedVersion = 2L,
      toVersion = 0L)
    assert(GraftTable.read(spark, root).count() == 1L)
    // a restore winner conflicts a blind append mid-rebase: RESTORE is
    // not in the append whitelist (it REMOVES files a reader may have
    // reasoned about), so the append surfaces instead of silently
    // re-parenting onto a rolled-back snapshot
    val app = intercept[GraftTable.ConflictException] {
      GraftTable.append(table3(Seq((4L, "d", 4.0))), root,
        expectedVersion = 2L)
    }
    assert(app.actual == v3)
  }

  test("restore across deletion vectors: a mask-only difference feeds by row index without touching identical files") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.createPartitioned(
      (1L to 1000L).map(i => (i, s"n$i", i * 1.0))
        .toDF("k", "name", "bal"), root, "k", numFiles = 8)
    // v1 masks one row in one file; every data file is carried
    GraftTable.mergePruned(root,
      Seq((500L, "-", 0.0, "D", 1L)).toDF("k", "name", "bal", "op", "seq"),
      "k", Seq("seq"), 0L, "op", deletionVectors = true)
    assert(GraftTable.read(spark, root).count() == 999L)
    // restore to v0: the ONLY difference is the mask — the feed is the
    // single resurrected row, served by row index from the one file
    val v2 = GraftTable.restore(spark, root, expectedVersion = 1L,
      toVersion = 0L)
    val h2 = GraftTable.manifest(spark, root, v2)
    assert(h2.dvs.isEmpty, "the restored manifest must carry the " +
      "TARGET's (empty) mask set")
    assert(GraftTable.read(spark, root).count() == 1000L)
    val feed = GraftTable.readChanges(spark, root, v2, v2)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(feed == Seq((500L, "insert")), s"feed was $feed")
    // and the mirror: restoring FORWARD-shaped mask growth (back onto
    // the masked version) feeds the row as a delete
    val v3 = GraftTable.restore(spark, root, expectedVersion = v2,
      toVersion = 1L)
    val feed3 = GraftTable.readChanges(spark, root, v3, v3)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(feed3 == Seq((500L, "delete")), s"feed was $feed3")
    assert(GraftTable.read(spark, root).count() == 999L)
  }

  test("restore rolls the schema back with the data: a post-evolution restore serves the narrow schema and a narrow feed") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    GraftTable.appendEvolve(
      Seq((3L, "c", 3.0, 30L)).toDF("k", "name", "bal", "score"),
      root, 0L)
    assert(GraftTable.read(spark, root).columns.toSeq ==
      Seq("k", "name", "bal", "score"))
    val v2 = GraftTable.restore(spark, root, expectedVersion = 1L,
      toVersion = 0L)
    // Delta-style metadata rollback: the restored snapshot IS v0's,
    // schema included
    assert(GraftTable.read(spark, root).columns.toSeq ==
      Seq("k", "name", "bal"))
    assert(GraftTable.read(spark, root).count() == 2L)
    val feed = GraftTable.readChanges(spark, root, v2, v2)
    assert(feed.columns.toSeq ==
      Seq("k", "name", "bal", "_change_type", "_commit_version"))
    assert(feed.select("k", "_change_type").as[(Long, String)]
      .collect().toSeq == Seq((3L, "delete")))
    // time travel still serves the evolved version in ITS schema
    assert(GraftTable.readVersion(spark, root, 1L).columns.toSeq ==
      Seq("k", "name", "bal", "score"))
  }

  test("CHECK constraints: add-time snapshot validation, write-time enforcement on appends/merges/sink batches, NULL passes, restore rolls them back") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 10.0), (2L, "b", 20.0))), root)
    // a constraint the existing data violates is refused at add time
    val badAdd = intercept[IllegalArgumentException] {
      GraftTable.addCheckConstraint(spark, root, 0L, "big_bal",
        "bal > 15.0")
    }
    assert(badAdd.getMessage.contains("big_bal"))
    assert(GraftTable.latestVersion(spark, root) == 0L)

    val v1 = GraftTable.addCheckConstraint(spark, root, 0L,
      "bal_nonneg", "bal >= 0.0")
    val h1 = GraftTable.manifest(spark, root, v1)
    assert(h1.op == "ALTER" &&
      h1.checks == Map("bal_nonneg" -> "bal >= 0.0"))
    // metadata-only: the target files are carried, nothing staged
    assert(h1.files == GraftTable.manifest(spark, root, 0L).files)

    // a violating append is refused BEFORE anything lands
    val badApp = intercept[IllegalArgumentException] {
      GraftTable.append(table3(Seq((3L, "c", -1.0))), root, v1)
    }
    assert(badApp.getMessage.contains("bal_nonneg"))
    assert(GraftTable.latestVersion(spark, root) == v1)
    // a valid append (and a NULL, which SQL CHECK passes) lands
    val withNull = Seq((3L, "c", Some(3.0)), (4L, "d", None))
      .toDF("k", "name", "bal")
    val v2 = GraftTable.append(withNull, root, v1)
    assert(GraftTable.read(spark, root).count() == 4L)

    // merge enforcement: a violating upsert image is refused
    val badMerge = intercept[IllegalArgumentException] {
      GraftTable.merge(root,
        Seq((2L, "b2", -5.0, "U", 1L)).toDF("k", "name", "bal", "op", "seq"),
        "k", Seq("seq"), v2)
    }
    assert(badMerge.getMessage.contains("bal_nonneg"))
    // the sink primitive inherits enforcement
    val badBatch = intercept[IllegalArgumentException] {
      GraftTable.appendBatchIdempotent(
        table3(Seq((9L, "x", -2.0))), 0L, root, "w1")
    }
    assert(badBatch.getMessage.contains("bal_nonneg"))
    // compact carries the constraint forward without re-scanning
    val v3 = GraftTable.compact(spark, root,
      GraftTable.latestVersion(spark, root))
    assert(GraftTable.manifest(spark, root, v3).checks
      == Map("bal_nonneg" -> "bal >= 0.0"))

    // drop, then the previously-refused rows land
    val v4 = GraftTable.dropCheckConstraint(spark, root, v3,
      "bal_nonneg")
    assert(GraftTable.manifest(spark, root, v4).checks.isEmpty)
    val v5 = GraftTable.append(table3(Seq((5L, "e", -1.0))), root, v4)
    assert(GraftTable.read(spark, root).count() == 5L)

    // RESTORE rolls the constraint set back WITH the data: restoring
    // to the constrained v2 re-arms bal_nonneg (and drops the -1 row)
    val v6 = GraftTable.restore(spark, root, v5, toVersion = v2)
    assert(GraftTable.manifest(spark, root, v6).checks
      == Map("bal_nonneg" -> "bal >= 0.0"))
    val badAgain = intercept[IllegalArgumentException] {
      GraftTable.append(table3(Seq((6L, "f", -3.0))), root, v6)
    }
    assert(badAgain.getMessage.contains("bal_nonneg"))
    // an ALTER racing an auto-rebasing append surfaces as a conflict
    // (the whitelist covers only APPEND/CREATE winners), so a blind
    // append can never sneak past a constraint added mid-flight —
    // covered structurally by the existing whitelist spec
  }

  test("checkpoint change-feed index is WINDOWED: bounded size, manifest-read fallback stays correct (ADVICE r17 medium)") {
    spark.conf.set("graft.checkpoint.indexWindow", "10")
    try {
      val root = freshRoot()
      GraftTable.create(table3(Seq((0L, "n0", 0.0))), root)
      (1L to 50L).foreach { i =>
        GraftTable.append(table3(Seq((i, s"n$i", i.toDouble))), root,
          i - 1L)
      }
      // checkpoints at 25 and 50 each carry only the last 10 versions
      val c50 = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(s"$root/_graft_log/v00000050.ckpt").toPath),
        "UTF-8").split("\n").toSeq
      assert(c50.contains("vfrom:41"),
        s"v50 checkpoint window floor wrong: ${c50.find(_.startsWith("vfrom"))}")
      assert(c50.count(_.startsWith("vop:")) == 10,
        s"index not bounded: ${c50.count(_.startsWith("vop:"))} entries")
      // the referenced-directory sets stay CUMULATIVE (vacuum safety)
      assert(c50.count(_.startsWith("datadir:")) == 51,
        "vacuum's protection set must cover all versions")
      assert(GraftTable.vacuum(spark, root, retentionMs = 0L).isEmpty,
        "windowed checkpoint caused vacuum to see false orphans")
      // a change-feed catch-up SPANNING the window falls back to
      // manifest reads for the old versions and stays exact
      val feed = GraftTable.readChanges(spark, root, 0L, 50L)
      assert(feed.count() == 51L)
      assert(feed.select("_commit_version").distinct().count() == 51L)
      // and every snapshot remains readable
      assert(GraftTable.read(spark, root).count() == 51L)
      assert(GraftTable.readVersion(spark, root, 7L).count() == 8L)
    } finally spark.conf.unset("graft.checkpoint.indexWindow")
  }

  private def kRows(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, s"n$k", k * 1.0)).toDF("k", "name", "bal")
  }

  private def kChanges(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, s"m$k", k * 2.0, "U", 1L))
      .toDF("k", "name", "bal", "op", "seq")
  }

  /** Version 0 range-laid on `k` with per-file stats, version 1 a batch of
    * streaming writer `w1`.
    */
  private def seedTable(root: String): Long = {
    GraftTable.createPartitioned(kRows(1L to 20L), root, "k", 2)
    assert(GraftTable.appendBatchIdempotent(kRows(Seq(21L)), 0L, root, "w1"))
    1L
  }

  /** One no-conflict commit of every op that derives a version from a
    * parent, in an order that lets them chain on one seeded table.
    */
  private def opSteps(root: String): Seq[Step] = {
    import spark.implicits._
    var constrained = -1L
    Seq(
      Step("append", v => GraftTable.append(kRows(Seq(30L)), root, v)),
      Step("appendBatchIdempotent", { v =>
        assert(GraftTable.appendBatchIdempotent(kRows(Seq(31L)), 1L, root,
          "w1"))
        v + 1
      }, Some("w1"),
        c => c.copy(txns = c.txns + ("w1" -> 1L), maxBatch = Some(1L))),
      Step("mergeBatchIdempotent", { v =>
        assert(GraftTable.mergeBatchIdempotent(kRows(Seq(2L, 40L)), 0L,
          root, "w2", "k", Seq("bal")))
        v + 1
      }, Some("w2"), c => c.copy(txns = c.txns + ("w2" -> 0L))),
      Step("addCheckConstraint", { v =>
        constrained =
          GraftTable.addCheckConstraint(spark, root, v, "pos", "bal >= 0")
        constrained
      }, change = c => c.copy(checks = c.checks + ("pos" -> "bal >= 0"))),
      Step("merge", v =>
        GraftTable.merge(root, kChanges(Seq(3L)), "k", Seq("seq"), v)),
      Step("mergePruned rewrite", v =>
        GraftTable.mergePruned(root, kChanges(Seq(4L)), "k", Seq("seq"), v)),
      Step("mergePruned deletion vectors", v =>
        GraftTable.mergePruned(root, kChanges(Seq(5L)), "k", Seq("seq"), v,
          "op", true)),
      Step("mergePruned empty changelog", v =>
        GraftTable.mergePruned(root, kChanges(Nil), "k", Seq("seq"), v)),
      Step("deleteWhere", v =>
        GraftTable.deleteWhere(spark, root, col("k") === 6L, v)),
      Step("dropCheckConstraint", v =>
        GraftTable.dropCheckConstraint(spark, root, v, "pos"),
        change = c => c.copy(checks = c.checks - "pos")),
      Step("compact", v => GraftTable.compact(spark, root, v, numFiles = 2)),
      Step("restore", v => GraftTable.restore(spark, root, v, constrained),
        change = { c =>
          val t = GraftTable.manifest(spark, root, constrained)
          c.copy(checks = t.checks, statsCols = t.statsCols,
            schemaDdl = t.schemaDdl)
        }),
      Step("appendEvolve", v => GraftTable.appendEvolve(
        Seq((50L, "n50", 50.0, "t")).toDF("k", "name", "bal", "tag"), root,
        v), change = c => c.copy(schemaDdl = org.apache.spark.sql.types
          .StructType(org.apache.spark.sql.types.StructType
            .fromDDL(c.schemaDdl).fields :+
            org.apache.spark.sql.types.StructField("tag",
              org.apache.spark.sql.types.StringType)).toDDL)))
  }

  test("every op carries txns, stamps, CHECKs, stats columns and schema from its parent, changing only its own fields; ts never goes backwards") {
    val root = freshRoot()
    var v = seedTable(root)
    opSteps(root).foreach { s =>
      val parent = GraftTable.manifest(spark, root, v)
      val next = s.run(v)
      assert(next == v + 1, s.name)
      val child = GraftTable.manifest(spark, root, next)
      assert(child.parent == v, s.name)
      assert(carryOf(child) == s.change(carryOf(parent)), s.name)
      val fresh = s.stamped.toSet
      assert(child.txnStamps -- fresh == parent.txnStamps -- fresh, s.name)
      fresh.foreach(app => assert(
        child.txnStamps(app) >= parent.txnStamps.getOrElse(app, 0L), s.name))
      assert(child.ts.get >= parent.ts.get, s.name)
      v = next
    }
    assert(GraftTable.manifest(spark, root, v).txns ==
      Map("w1" -> 1L, "w2" -> 0L))
  }

  test("a stale appendEvolve, deleteWhere, compact or addCheckConstraint surfaces the conflict and leaves no stage behind") {
    import spark.implicits._
    val root = freshRoot()
    GraftTable.create(table3(Seq((1L, "a", 1.0), (2L, "b", 2.0))), root)
    GraftTable.append(table3(Seq((3L, "c", 3.0))), root, 0L)
    def stages(): Set[String] = Seq("data", "cdf").flatMap { sub =>
      Option(new java.io.File(s"$root/$sub").list()).toSeq.flatten
        .map(d => s"$sub/$d")
    }.toSet
    val before = stages()
    def evolved = Seq((4L, "d", 4.0, "t")).toDF("k", "name", "bal", "tag")
    // stale before staging: the fast-fail check refuses
    Seq[(String, () => Long)](
      "appendEvolve" -> (() => GraftTable.appendEvolve(evolved, root, 0L)),
      "deleteWhere" -> (() =>
        GraftTable.deleteWhere(spark, root, col("k") === 1L, 0L)),
      "compact" -> (() => GraftTable.compact(spark, root, 0L)),
      "addCheckConstraint" -> (() =>
        GraftTable.addCheckConstraint(spark, root, 0L, "pos", "bal > 0"))
    ).foreach { case (name, op) =>
      val e = intercept[GraftTable.ConflictException](op())
      assert(e.expected == 0L && e.actual == 1L, name)
      assert(stages() == before, s"$name left a stage behind")
    }
    // stale after staging: a winner lands while the rows are written, the
    // CAS is lost, and the data (and change feed) stages are discarded
    def raceTo(version: Long) =
      udf((_: Long) => CommitLogSpecRace.publishOnce(root, version))
        .asNondeterministic()
    val e1 = intercept[GraftTable.ConflictException] {
      GraftTable.appendEvolve(evolved.filter(raceTo(2L)(col("k"))), root, 1L)
    }
    assert(e1.expected == 1L && e1.actual == 2L)
    assert(stages() == before, "a lost appendEvolve left its stage behind")
    val e2 = intercept[GraftTable.ConflictException] {
      GraftTable.deleteWhere(spark, root,
        raceTo(3L)(col("k")) && col("k") === 1L, 2L)
    }
    assert(e2.expected == 2L && e2.actual == 3L)
    assert(stages() == before, "a lost deleteWhere left its stage behind")
    assert(GraftTable.read(spark, root).count() == 3L)
  }

  test("manifest reads of one no-conflict commit of each op are pinned") {
    def reads(body: => Any): Long = {
      GraftTable.manifestReadCount.set(0L)
      body
      GraftTable.manifestReadCount.get()
    }
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    got("create") = reads(GraftTable.create(kRows(Seq(1L)), freshRoot()))
    got("appendBatchIdempotent creating") = reads(
      GraftTable.appendBatchIdempotent(kRows(Seq(1L)), 0L, freshRoot(), "w"))
    got("mergeBatchIdempotent creating") = reads(
      GraftTable.mergeBatchIdempotent(kRows(Seq(1L)), 0L, freshRoot(), "w",
        "k", Seq("bal")))
    val root = freshRoot()
    got("createPartitioned") =
      reads(GraftTable.createPartitioned(kRows(1L to 20L), root, "k", 2))
    got("appendBatchIdempotent first batch") = reads(
      GraftTable.appendBatchIdempotent(kRows(Seq(21L)), 0L, root, "w1"))
    var v = 1L
    opSteps(root).foreach(s => got(s.name) = reads { v = s.run(v) })
    // measured before the commit paths were unified: a no-conflict
    // commit reads its parent (restore also its target, the merge sink
    // the latest version before its merge reads it again), never more
    val pinned = Map[String, Long](
      "create" -> 0L, "appendBatchIdempotent creating" -> 0L,
      "mergeBatchIdempotent creating" -> 0L, "createPartitioned" -> 0L,
      "appendBatchIdempotent first batch" -> 1L, "append" -> 1L,
      "appendBatchIdempotent" -> 1L, "mergeBatchIdempotent" -> 2L,
      "addCheckConstraint" -> 1L, "merge" -> 1L, "mergePruned rewrite" -> 1L,
      "mergePruned deletion vectors" -> 1L,
      "mergePruned empty changelog" -> 1L, "deleteWhere" -> 1L,
      "dropCheckConstraint" -> 1L, "compact" -> 1L, "restore" -> 2L,
      "appendEvolve" -> 1L)
    assert(got.toMap == pinned, got.mkString(", "))
  }
}

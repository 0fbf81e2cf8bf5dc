package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.Snapshots

/** Versioned snapshot tables: atomic manifest commits, time travel,
  * incremental change feed, crash invisibility, vacuum. */
class SnapshotsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-snap").toString + "/tbl"

  private def df(ids: Int*) = ids.toSeq.toDF("id")

  private def idSet(d: org.apache.spark.sql.DataFrame): Set[Int] =
    d.select("id").collect().map(_.getInt(0)).toSet

  test("append commits are readable at every version (time travel)") {
    val dir = freshDir()
    assert(Snapshots.latestVersion(spark, dir) === 0)
    val v1 = Snapshots.append(spark, dir, df(1, 2))
    val v2 = Snapshots.append(spark, dir, df(3))
    val v3 = Snapshots.append(spark, dir, df(4, 5))
    assert((v1, v2, v3) === (1, 2, 3))
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 3, 4, 5))
    assert(idSet(Snapshots.read(spark, dir, Some(1))) === Set(1, 2))
    assert(idSet(Snapshots.read(spark, dir, Some(2))) === Set(1, 2, 3))
    assert(Snapshots.versions(spark, dir) === Seq(1, 2, 3))
  }

  test("overwrite replaces contents but keeps history readable") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1, 2))
    val v2 = Snapshots.overwrite(spark, dir, df(9))
    assert(v2 === 2)
    assert(idSet(Snapshots.read(spark, dir)) === Set(9))
    assert(idSet(Snapshots.read(spark, dir, Some(1))) === Set(1, 2))
  }

  test("changesBetween reads exactly the appended delta") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1, 2))
    Snapshots.append(spark, dir, df(3))
    Snapshots.append(spark, dir, df(4, 5))
    assert(idSet(Snapshots.changesBetween(spark, dir, 1, 3)) === Set(3, 4, 5))
    assert(idSet(Snapshots.changesBetween(spark, dir, 2, 3)) === Set(4, 5))
  }

  test("changesBetween refuses ranges containing an overwrite") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1))
    Snapshots.overwrite(spark, dir, df(2))
    Snapshots.append(spark, dir, df(3))
    val e = intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, dir, 1, 3)
    }
    assert(e.getMessage.contains("overwrite"))
    // but the append-only tail of the range is fine
    assert(idSet(Snapshots.changesBetween(spark, dir, 2, 3)) === Set(3))
  }

  test("a data dir without a manifest (simulated crash) is invisible") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1, 2))
    // simulate a committer that died after writing data, before the
    // manifest rename
    df(99).write.parquet(new Path(dir, "data/c-orphan").toString)
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2))
    // vacuum reclaims the orphan
    val deleted = Snapshots.vacuum(spark, dir, keepFromVersion = 1, retentionMs = 0)
    assert(deleted === 1)
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2))
  }

  test("vacuum retention window protects fresh orphans; aged tmp manifests reclaimed") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1))
    // an in-flight committer: data dir written, manifest not yet renamed
    df(99).write.parquet(new Path(dir, "data/c-inflight").toString)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, "_log/.tmp-dead")
    val out = fs.create(tmp, false)
    out.write("data/c-inflight\n".getBytes("UTF-8")); out.close()
    // default retention: the just-written dir and tmp manifest survive,
    // so a concurrent commit can still land safely
    assert(Snapshots.vacuum(spark, dir, keepFromVersion = 1) === 0)
    assert(fs.exists(new Path(dir, "data/c-inflight")))
    assert(fs.exists(tmp))
    // zero retention (single-writer maintenance window): both reclaimed
    assert(Snapshots.vacuum(spark, dir, keepFromVersion = 1, retentionMs = 0) === 1)
    assert(!fs.exists(new Path(dir, "data/c-inflight")))
    assert(!fs.exists(tmp))
    assert(idSet(Snapshots.read(spark, dir)) === Set(1))
  }

  test("manifest race: loser rebases on the winner's commit") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1))
    // A concurrent winner lands v2 (appending dir c-winner) after our
    // committer read base=1 but before its rename: drive publish() with
    // the stale base and check it retries on top of the winner.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    df(50).write.parquet(new Path(dir, "data/c-winner").toString)
    val winnerLive = Snapshots.liveDirs(spark, dir, 1) :+ "data/c-winner"
    val out = fs.create(new Path(dir, "_log/v00000002.txt"), false)
    out.write((winnerLive.mkString("\n") + "\n").getBytes("UTF-8")); out.close()

    df(2).write.parquet(new Path(dir, "data/c-loser").toString)
    val staleLive = Snapshots.liveDirs(spark, dir, 1) :+ "data/c-loser"
    val v = Snapshots.publish(spark, dir, base = 1, lines = staleLive,
      rebase = tip => tip :+ "data/c-loser")
    assert(v === 3)
    // both the winner's and the loser's rows survive
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 50))
  }

  test("vacuum drops pre-floor versions and unreferenced data") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1))
    Snapshots.overwrite(spark, dir, df(2))
    Snapshots.append(spark, dir, df(3))
    val deleted = Snapshots.vacuum(spark, dir, keepFromVersion = 2, retentionMs = 0)
    assert(deleted === 1) // v1's sole data dir is unreferenced by v2/v3
    assert(Snapshots.versions(spark, dir) === Seq(2, 3))
    assert(idSet(Snapshots.read(spark, dir)) === Set(2, 3))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, Some(1))
    }
    intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, dir, keepFromVersion = 99, retentionMs = 0)
    }
  }

  test("appendBatch is idempotent per batch id (replayed foreachBatch)") {
    val dir = freshDir()
    val v1 = Snapshots.appendBatch(spark, dir, df(1, 2), batchId = 0)
    assert(v1 === 1)
    // at-least-once delivery: the same batch replays after a crash
    val vReplay = Snapshots.appendBatch(spark, dir, df(1, 2), batchId = 0)
    assert(vReplay === 1, "replay must return the existing version")
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2))
    val v2 = Snapshots.appendBatch(spark, dir, df(3), batchId = 1)
    assert(v2 === 2)
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 3))
    // the change feed sees exactly the new batch
    assert(idSet(Snapshots.changesBetween(spark, dir, 1, 2)) === Set(3))
  }

  test("snapshotSink streams micro-batches into exactly-once snapshot commits") {
    val src = java.nio.file.Files.createTempDirectory("graft-snapsink-src").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-snapsink-chk").toString
    val table = freshDir() + "/stream_table"
    def run(): Unit = {
      val stream = spark.readStream
        .schema("id INT")
        .json(src)
      val q = graft.stream.Streaming.snapshotSink(stream, table, chk).start()
      q.awaitTermination(60000)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/b0.json"), "{\"id\":1}\n{\"id\":2}")
    run()
    assert(idSet(Snapshots.read(spark, table)) === Set(1, 2))
    val vAfterFirst = Snapshots.latestVersion(spark, table)
    // restart with the same checkpoint and no new data: no new commits
    run()
    assert(Snapshots.latestVersion(spark, table) === vAfterFirst)
    assert(idSet(Snapshots.read(spark, table)) === Set(1, 2))
    // new file → exactly one more commit; change feed = the delta
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$src/b1.json"), "{\"id\":3}")
    run()
    val tip = Snapshots.latestVersion(spark, table)
    assert(idSet(Snapshots.read(spark, table)) === Set(1, 2, 3))
    assert(idSet(Snapshots.changesBetween(spark, table, vAfterFirst, tip)) === Set(3))
  }

  test("deleteWhere rewrites only affected dirs; history keeps rows until vacuum") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1, 2))   // dir A
    Snapshots.append(spark, dir, df(10, 11)) // dir B — the only match holder
    val v3 = Snapshots.deleteWhere(spark, dir, col("id") === 10)
    assert(v3 === 3)
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 11))
    // time travel still sees the deleted row pre-vacuum
    assert(idSet(Snapshots.read(spark, dir, Some(2))) === Set(1, 2, 10, 11))
    // dir A is carried by reference, dir B replaced
    val v2dirs = Snapshots.liveDirs(spark, dir, 2).toSet
    val v3dirs = Snapshots.liveDirs(spark, dir, 3).toSet
    assert((v2dirs intersect v3dirs).size === 1, s"$v2dirs vs $v3dirs")
    // no match → version unchanged; NULL-predicate rows are kept
    assert(Snapshots.deleteWhere(spark, dir, col("id") === 999) === 3)
    assert(Snapshots.deleteWhere(spark, dir,
      when(col("id") === 11, lit(null).cast("boolean")).otherwise(col("id") === 1)) === 4)
    assert(idSet(Snapshots.read(spark, dir)) === Set(2, 11))
  }

  test("deleteWhere preserves the batch idempotence tag (replay after delete)") {
    val dir = freshDir()
    Snapshots.appendBatch(spark, dir, df(1, 10), batchId = 0)
    val v2 = Snapshots.deleteWhere(spark, dir, col("id") === 10)
    assert(v2 === 2)
    // the rewritten dir must carry the source dir's c-b0- tag forward
    assert(Snapshots.liveDirs(spark, dir, 2).exists(_.startsWith("data/c-b0-")),
      s"rewrite dropped the batch tag: ${Snapshots.liveDirs(spark, dir, 2)}")
    // a replayed micro-batch (crash between snapshot commit and
    // checkpoint commit, then a delete before restart) still finds the
    // tag → no duplicate rows, no resurrected deleted rows
    val vReplay = Snapshots.appendBatch(spark, dir, df(1, 10), batchId = 0)
    assert(vReplay === 2, "replay after deleteWhere must not re-append")
    assert(idSet(Snapshots.read(spark, dir)) === Set(1))
  }

  test("rewrittenName keeps batch tags; untagged names can NEVER enter " +
    "the tag namespace") {
    val tagRe = "^c-b\\d+-".r
    assert(Snapshots.rewrittenName("data/c-b42-abcdef").startsWith("data/c-b42-"))
    // structural, not probabilistic: the untagged prefix is c-x ('x' not
    // a hex digit), so no random suffix can ever parse as c-b<id>- — a
    // bare c-<uuid> starting b<7 digits>- (~0.2% of draws) would, and a
    // long-lived stream reaching that batch id would silently drop it
    (1 to 50).foreach { _ =>
      val un = Snapshots.rewrittenName("data/c-deadbeef").stripPrefix("data/")
      assert(un.startsWith("c-x") && tagRe.findFirstIn(un).isEmpty)
    }
  }

  test("swapStrict fails loudly when a concurrent commit replaced an affected dir") {
    val rewritten = Map("data/c-aaa" -> "data/c-bbb")
    // normal rebase: the affected dir is still live → substituted
    assert(Snapshots.swapStrict(rewritten, Seq("data/c-aaa", "data/c-zzz")) ===
      Seq("data/c-bbb", "data/c-zzz"))
    // a concurrent deleteWhere/compaction already swapped c-aaa out:
    // publishing would silently lose THIS delete's rows in the
    // replacement dir — must error, not publish
    val e = intercept[RuntimeException] {
      Snapshots.swapStrict(rewritten, Seq("data/c-qqq", "data/c-zzz"))
    }
    assert(e.getMessage.contains("concurrent-rewrite"))
  }

  test("compact merges all live dirs into one; history and replay suppression survive") {
    val dir = freshDir()
    Snapshots.appendBatch(spark, dir, df(1, 2), batchId = 0)
    Snapshots.appendBatch(spark, dir, df(3), batchId = 1)
    Snapshots.append(spark, dir, df(4))
    assert(Snapshots.liveDirs(spark, dir, 3).size === 3)
    val v4 = Snapshots.compact(spark, dir, targetPartitions = 1)
    assert(v4 === 4)
    assert(Snapshots.liveDirs(spark, dir, 4).size === 1, "one merged dir")
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 3, 4))
    // time travel below the compaction still works
    assert(idSet(Snapshots.read(spark, dir, Some(2))) === Set(1, 2, 3))
    // the absorbed dirs' batch tags are gone, but the manifest record
    // survives — a replayed micro-batch must still be suppressed
    assert(Snapshots.lastBatchId(spark, dir, 4) === Some(1L))
    val vReplay = Snapshots.appendBatch(spark, dir, df(1, 2), batchId = 0)
    assert(vReplay === 4, "replay after compaction must not re-append")
    assert(idSet(Snapshots.read(spark, dir)) === Set(1, 2, 3, 4))
    // nothing to merge → no new version
    assert(Snapshots.compact(spark, dir) === 4)
  }

  test("overwrite carries batch records forward; compaction blocks stale change feeds") {
    val dir = freshDir()
    Snapshots.appendBatch(spark, dir, df(1), batchId = 7)
    Snapshots.overwrite(spark, dir, df(9))
    assert(Snapshots.lastBatchId(spark, dir, 2) === Some(7L))
    assert(Snapshots.appendBatch(spark, dir, df(1), batchId = 7) === 2,
      "overwrite must not forget committed batches")
    assert(idSet(Snapshots.read(spark, dir)) === Set(9))
    // changesBetween across a compaction refuses (dirs were replaced)
    Snapshots.append(spark, dir, df(10))
    Snapshots.compact(spark, dir)
    intercept[IllegalArgumentException] {
      Snapshots.changesBetween(spark, dir, 2, 4)
    }
  }

  test("z-order compaction clusters the merged dir so min/max stats can prune") {
    val dir = freshDir()
    import org.apache.spark.sql.functions.rand
    // two commits of shuffled ids: arrival order has no clustering
    val base = spark.range(0, 2000).select(col("id"))
      .orderBy(rand(42)).cache()
    Snapshots.append(spark, dir, base.limit(1000))
    Snapshots.append(spark, dir, base.except(base.limit(1000)))
    val v = Snapshots.compact(spark, dir, targetPartitions = 4,
      zorderCols = Seq("id"), zorderBits = 8)
    assert(idSet(Snapshots.read(spark, dir).selectExpr("cast(id as int) as id"))
      === (0 until 2000).toSet)
    // each of the 4 z-ordered files should cover a narrow id range:
    // a file-stats manifest must show disjoint-ish min/max footprints
    val mani = graft.warehouse.DataSkipping.buildManifest(spark,
      new Path(dir, Snapshots.liveDirs(spark, dir, v).head).toString, Seq("id"))
    val spans = mani.select("id_min", "id_max").collect()
      .map(r => r.getLong(1) - r.getLong(0))
    assert(spans.length === 4)
    assert(spans.forall(_ < 1200),
      s"z-ordered files must be range-clustered, got spans ${spans.toSeq}")
  }

  test("upsert replaces matched keys and inserts new ones in one commit") {
    val dir = freshDir()
    def kv(rows: (Int, String)*) = rows.toSeq.toDF("id", "v")
    Snapshots.append(spark, dir, kv(1 -> "a", 2 -> "b"))
    Snapshots.appendBatch(spark, dir, kv(3 -> "c"), batchId = 0)
    // update id=2, insert id=4; the dir holding id=1,2 rewrites, the
    // batch dir (no match) carries by reference with its tag intact
    val v3 = Snapshots.upsert(spark, dir, kv(2 -> "B2", 4 -> "d"), Seq("id"))
    assert(v3 === 3)
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "B2", 3 -> "c", 4 -> "d"))
    // untouched batch dir carried by reference, tag preserved
    assert(Snapshots.liveDirs(spark, dir, 3).exists(_.startsWith("data/c-b0-")))
    // pre-upsert version still shows the old value (time travel)
    val old = Snapshots.read(spark, dir, Some(2)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(old === Map(1 -> "a", 2 -> "b", 3 -> "c"))
    // no-match upsert = pure insert, nothing rewrites
    val dirsBefore = Snapshots.liveDirs(spark, dir, 3).toSet
    Snapshots.upsert(spark, dir, kv(9 -> "z"), Seq("id"))
    val dirsAfter = Snapshots.liveDirs(spark, dir, 4).toSet
    assert(dirsBefore.subsetOf(dirsAfter), "pure insert must not rewrite")
  }

  test("upsert refuses a source with duplicate merge keys (MERGE " +
    "multiple-match cardinality violation), and the table is untouched") {
    val dir = freshDir()
    def kv(rows: (Int, String)*) = rows.toSeq.toDF("id", "v")
    Snapshots.append(spark, dir, kv(1 -> "a", 2 -> "b"))
    // two source rows match key 2 — latest-wins is undefined without an
    // explicit version order, so the merge must fail loudly, not pick one
    val e = intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, dir, kv(2 -> "B2", 2 -> "B3", 4 -> "d"), Seq("id"))
    }
    assert(e.getMessage.contains("multiple rows for merge key") &&
      e.getMessage.contains("(2)"), e.getMessage)
    // nothing committed, nothing rewritten
    assert(Snapshots.latestVersion(spark, dir) === 1)
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "b"))
    // a deterministically pre-deduped source (max_by on a version) merges
    val fixed = Seq((2, "B2", 1L), (2, "B3", 2L), (4, "d", 1L))
      .toDF("id", "v", "ver")
      .groupBy("id").agg(expr("max_by(v, ver)").as("v"))
    Snapshots.upsert(spark, dir, fixed, Seq("id"))
    val after = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(after === Map(1 -> "a", 2 -> "B3", 4 -> "d"))
    // the guard holds from version 1: the FIRST streaming batch takes
    // the append shortcut, where duplicate keys would be permanent and
    // invisible to every later batch's own check
    val dirS = freshDir()
    assertThrows[IllegalArgumentException] {
      Snapshots.upsertBatch(spark, dirS, kv(1 -> "a", 1 -> "b"), 0L, Seq("id"))
    }
    assert(Snapshots.latestVersion(spark, dirS) === 0)
    // upsertLatest composes that dedup: greatest version wins, version
    // ties break by payload content (struct order), never read order
    val dir2 = freshDir()
    def kvv(rows: (Int, String, Long)*) = rows.toSeq.toDF("id", "v", "ver")
    Snapshots.append(spark, dir2, kvv((2, "base", 0L), (9, "keep", 0L)))
    val dupSrc = kvv((2, "newer", 9L), (2, "older", 1L),
      (4, "tie-b", 5L), (4, "tie-a", 5L), (7, "ins", 1L))
    Snapshots.upsertLatest(spark, dir2, dupSrc, Seq("id"), "ver")
    val served = Snapshots.read(spark, dir2).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(served == Map(2 -> "newer", 4 -> "tie-b", 7 -> "ins", 9 -> "keep"),
      served.toString)
  }

  test("upsertBatch: a replayed old batch never clobbers newer values") {
    val dir = freshDir()
    def kv(rows: (Int, String)*) = rows.toSeq.toDF("id", "v")
    Snapshots.upsertBatch(spark, dir, kv(1 -> "a"), 0, Seq("id"))
    Snapshots.upsertBatch(spark, dir, kv(1 -> "b", 2 -> "c"), 1, Seq("id"))
    // at-least-once delivery replays batch 0 AFTER batch 1 committed:
    // the record suppresses it, so id=1 keeps the newer value
    val tip = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.upsertBatch(spark, dir, kv(1 -> "a"), 0, Seq("id")) === tip)
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "b", 2 -> "c"))
  }

  test("upsertSink streams CDC micro-batches into exactly-once upserts") {
    val src = java.nio.file.Files.createTempDirectory("graft-upsink-src").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-upsink-chk").toString
    val table = freshDir() + "/cdc_table"
    def run(): Unit = {
      val stream = spark.readStream.schema("id INT, v STRING").json(src)
      val q = graft.stream.Streaming.upsertSink(stream, table, chk, Seq("id")).start()
      q.awaitTermination(60000)
    }
    def state(): Map[Int, String] = Snapshots.read(spark, table).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b0.json"),
      "{\"id\":1,\"v\":\"a\"}\n{\"id\":2,\"v\":\"b\"}")
    run()
    assert(state() === Map(1 -> "a", 2 -> "b"))
    val vAfterFirst = Snapshots.latestVersion(spark, table)
    // restart with the same checkpoint, no new data: no new commits
    run()
    assert(Snapshots.latestVersion(spark, table) === vAfterFirst)
    // update one key, insert another → converged current state
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$src/b1.json"),
      "{\"id\":2,\"v\":\"B2\"}\n{\"id\":3,\"v\":\"c\"}")
    run()
    assert(state() === Map(1 -> "a", 2 -> "B2", 3 -> "c"))
    // pre-merge version still shows the old value (time travel)
    assert(Snapshots.read(spark, table, Some(vAfterFirst)).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap === Map(1 -> "a", 2 -> "b"))
  }

  test("readAsOf resolves versions by commit wall-clock time") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1))
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.append(spark, dir, df(2))
    assert(Snapshots.versionAsOf(spark, dir, between) === 1)
    assert(idSet(Snapshots.readAsOf(spark, dir, between)) === Set(1))
    assert(idSet(Snapshots.readAsOf(spark, dir, System.currentTimeMillis()))
      === Set(1, 2))
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, dir, 0L) // before the first commit
    }
  }

  test("mergeSchema read unions evolved schemas; pre-evolution rows read NULL") {
    val dir = freshDir()
    Snapshots.append(spark, dir, Seq(1, 2).toDF("id"))
    Snapshots.append(spark, dir,
      Seq((3, "x")).toDF("id", "extra"))
    val df = Snapshots.read(spark, dir, mergeSchema = true)
    assert(df.columns.toSet === Set("id", "extra"))
    val got = df.collect().map(r => r.getInt(0) ->
      (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got === Map(1 -> null, 2 -> null, 3 -> "x"))
  }

  test("schemaDiff reports added/removed/retyped columns between versions, " +
    "empty when schemas agree") {
    val dir = freshDir()
    Snapshots.append(spark, dir, Seq((1, "a", 1.5)).toDF("id", "name", "score"))
    // v2 evolves: adds `extra`; v3 overwrites: drops `name`, retypes
    // `score` to string
    Snapshots.append(spark, dir, Seq((2, "b", 2.5, true)).toDF("id", "name", "score", "extra"))
    Snapshots.overwrite(spark, dir, Seq((3, "9.9", false)).toDF("id", "score", "extra"))
    def diff(a: Int, b: Int) = Snapshots.schemaDiff(spark, dir, a, b)
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)).orNull, Option(r.getString(3)).orNull)).toSeq
    assert(diff(1, 2) == Seq(("extra", "added", null, "BOOLEAN")))
    assert(diff(2, 3) == Seq(
      ("name", "removed", "STRING", null),
      ("score", "retyped", "DOUBLE", "STRING")))
    assert(diff(1, 1).isEmpty)
    // direction flips the verdicts
    assert(diff(2, 1) == Seq(("extra", "removed", "BOOLEAN", null)))
  }

  test("quantileSketch: per-commit sketches cached once, fold equals " +
    "the exact order statistics in the exact regime") {
    val dir = freshDir()
    val qs = Seq(0.25, 0.5, 0.9)
    (0 until 3).foreach(m => Snapshots.append(spark, dir,
      (1 to 100).filter(_ % 3 == m).map(i => (i.toLong, (i * 7 % 100).toDouble))
        .toDF("id", "v")))
    def sketch() = Snapshots.quantileSketch(spark, dir, "v", qs, k = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = sketch()
    // exact regime: rank-ceil(q*n) order statistics of the 100 values
    val sorted = (1 to 100).map(i => (i * 7 % 100).toDouble).sorted
    qs.zipWithIndex.foreach { case (q, i) =>
      val expect = sorted(math.max(1, math.ceil(q * 100).toInt) - 1)
      assert(got(i.toLong) == expect, s"q=$q got=${got(i.toLong)} want=$expect")
    }
    // incrementality: a second call re-reads only cached sketch blobs
    val stats = new org.apache.hadoop.fs.Path(dir, "_stats")
    val f = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes() = f.listStatus(stats)
      .filter(_.getPath.getName.contains("kll-v"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = mtimes()
    assert(before.size == 3)
    assert(sketch() == got)
    assert(mtimes() == before, "cached sketches were rebuilt")
    // a new commit adds exactly one new sketch blob
    Snapshots.append(spark, dir, Seq((999L, 1000.0)).toDF("id", "v"))
    Snapshots.quantileSketch(spark, dir, "v", qs, k = 1024)
    val after = mtimes()
    assert(after.size == 4 && before.forall { case (k2, t) => after(k2) == t })
  }

  test("8 concurrent appenders all land: no lost commits under real contention") {
    val dir = freshDir()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futs = (1 to 8).map { i =>
      Future(Snapshots.append(spark, dir, df(i)))
    }
    val versions = Await.result(Future.sequence(futs), 120.seconds)
    // every committer got a distinct version 1..8 (the rename race is
    // the serialization point; losers rebase and retry)
    assert(versions.sorted === (1 to 8))
    assert(Snapshots.latestVersion(spark, dir) === 8)
    assert(idSet(Snapshots.read(spark, dir)) === (1 to 8).toSet)
  }

  test("statsManifest is incremental; skipRead prunes files without changing results") {
    import graft.warehouse.DataSkipping
    val dir = freshDir()
    // two commits of disjoint id ranges → file stats separate them
    Snapshots.append(spark, dir,
      spark.range(0, 1000).toDF("id").coalesce(1))
    Snapshots.append(spark, dir,
      spark.range(5000, 6000).toDF("id").coalesce(1))
    val statsPath = new Path(dir, "_stats")
    val f = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mani1 = Snapshots.statsManifest(spark, dir, Seq("id"))
    assert(mani1.count() === 2)
    val mtimes1 = f.listStatus(statsPath).map(s =>
      s.getPath.getName -> s.getModificationTime).toMap
    // second run: nothing re-stats (immutable dirs, cached stats)
    Snapshots.statsManifest(spark, dir, Seq("id"))
    val mtimes2 = f.listStatus(statsPath).map(s =>
      s.getPath.getName -> s.getModificationTime).toMap
    assert(mtimes2 === mtimes1, "existing stats must not be recomputed")
    // a third commit stats ONLY the new dir — O(delta) maintenance
    Snapshots.append(spark, dir,
      spark.range(9000, 9100).toDF("id").coalesce(1))
    assert(Snapshots.statsManifest(spark, dir, Seq("id")).count() === 3)
    assert(f.listStatus(statsPath).count(s =>
      mtimes1.contains(s.getPath.getName)) === mtimes1.size)
    // pruned read == plain filtered read; and it actually pruned
    val bands = Seq(DataSkipping.Band("id", Some(5500L), Some(5600L)))
    val got = Snapshots.skipRead(spark, dir, bands)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (5500L to 5600L))
    val mani = Snapshots.statsManifest(spark, dir, Seq("id"))
    assert(DataSkipping.selectFiles(mani, bands).size === 1,
      "only the matching commit's file should survive the prune")
    // vacuum reclaims the stats of vacuumed dirs
    Snapshots.overwrite(spark, dir, spark.range(3).toDF("id"))
    Snapshots.vacuum(spark, dir, keepFromVersion = 4, retentionMs = 0)
    assert(f.listStatus(statsPath).isEmpty,
      "stats of vacuumed dirs must be reclaimed")
  }

  test("bloomManifest point lookups prune files and match plain reads") {
    val dir = freshDir()
    Snapshots.append(spark, dir, spark.range(0, 1000).toDF("id").coalesce(1))
    Snapshots.append(spark, dir, spark.range(5000, 6000).toDF("id").coalesce(1))
    val got = Snapshots.pointSkipRead(spark, dir, "id", Seq(5500L, 7L),
        expectedPerFile = 2048, fpp = 0.001)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(7L, 5500L))
    // a key in neither file reads empty (bloom has no false negatives)
    assert(Snapshots.pointSkipRead(spark, dir, "id", Seq(999999L),
      expectedPerFile = 2048, fpp = 0.001).count() === 0)
    // the bloom cache is per-dir and reused — second call writes nothing
    val statsPath = new Path(dir, "_stats")
    val f = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n1 = f.listStatus(statsPath).length
    Snapshots.bloomManifest(spark, dir, "id", 2048, 0.001)
    assert(f.listStatus(statsPath).length === n1)
  }

  test("distinctSketch: per-commit KMV cache is incremental and the " +
    "fold equals sketching the whole table") {
    import graft.ext.Sketches
    val dir = freshDir()
    Snapshots.append(spark, dir,
      spark.range(0, 400).toDF("id").coalesce(1))
    Snapshots.append(spark, dir,
      spark.range(300, 700).toDF("id").coalesce(1)) // overlapping ids
    val k = 64
    val est1 = Snapshots.distinctSketch(spark, dir, "id", k)
      .select(col("distinct_est")).head.getDouble(0)
    // exact fold law: == sketching the full read directly
    val direct = Sketches.kmvEstimate(
        Sketches.kmvSketch(Snapshots.read(spark, dir)
          .withColumn("_g", lit(1)), Seq("_g"), "id", k), k)
      .select(col("distinct_est")).head.getDouble(0)
    assert(est1 === direct, "per-commit fold must equal the direct sketch")
    // cache discipline: second call recomputes nothing
    val statsPath = new Path(dir, "_stats")
    val f = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes1 = f.listStatus(statsPath).map(s =>
      s.getPath.getName -> s.getModificationTime).toMap
    Snapshots.distinctSketch(spark, dir, "id", k)
    val mtimes2 = f.listStatus(statsPath).map(s =>
      s.getPath.getName -> s.getModificationTime).toMap
    assert(mtimes2 === mtimes1, "existing sketches must not be recomputed")
    // a new commit sketches ONLY the new dir
    Snapshots.append(spark, dir,
      spark.range(700, 800).toDF("id").coalesce(1))
    val est2 = Snapshots.distinctSketch(spark, dir, "id", k)
      .select(col("distinct_est")).head.getDouble(0)
    assert(f.listStatus(statsPath).count(s =>
      mtimes1.contains(s.getPath.getName)) === mtimes1.size)
    assert(est2 > est1, "more distinct ids must raise the estimate")
  }

  test("annIndex: fixed-centroid assignment caches per commit dir " +
    "(new commits only), equals a from-scratch re-assign, and probes " +
    "serve identical results") {
    import graft.ext.IvfIndex
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val dir = freshDir()
    Snapshots.append(spark, dir, emb.filter(col("vec_id") % 3 === 0))
    Snapshots.append(spark, dir, emb.filter(col("vec_id") % 3 === 1))
    val m1 = Snapshots.annIndex(spark, dir, "embedding", "vec_id", k = 4)
    assert(m1.assigned.count() === Snapshots.read(spark, dir).count())
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    // incremental union == assigning the whole table at the same centroids
    assert(pairs(m1.assigned) === pairs(
      IvfIndex.assign(m1.centroids, Snapshots.read(spark, dir),
        "embedding", "vec_id")))
    // cache discipline: a new commit assigns ONLY the new dir
    val statsPath = new Path(dir, "_stats")
    val f = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtimes1 = f.listStatus(statsPath).map(s =>
      s.getPath.getName -> s.getModificationTime).toMap
    Snapshots.append(spark, dir, emb.filter(col("vec_id") % 3 === 2))
    val m2 = Snapshots.annIndex(spark, dir, "embedding", "vec_id", k = 4)
    assert(f.listStatus(statsPath).count(s =>
      mtimes1.contains(s.getPath.getName)) === mtimes1.size)
    assert(f.listStatus(statsPath).map(s =>
        s.getPath.getName -> s.getModificationTime).toMap
      .view.filterKeys(mtimes1.contains).toMap === mtimes1,
      "existing assignment caches must not be recomputed")
    assert(m2.assigned.count() === emb.count())
    // same centroids across calls (the cached quantizer is reused)
    assert(m2.centroids.map(_.toSeq).toSeq === m1.centroids.map(_.toSeq).toSeq)
    // probe equality: the incremental index serves exactly what a
    // from-scratch assignment of the full table serves
    val queries = emb.filter(col("vec_id") % 101 === 0)
    def served(m: IvfIndex.Model) =
      IvfIndex.batchTopK(m, queries, "embedding", "vec_id", k = 3, nProbes = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    val direct = IvfIndex.Model(m2.centroids,
      IvfIndex.assign(m2.centroids, Snapshots.read(spark, dir),
        "embedding", "vec_id"), m2.fitRows)
    assert(served(m2) === served(direct))
    // quantizer re-key: removing the cached centroids forces a re-fit
    // under a NEW content-hash tag — stale assignment caches re-key
    // rather than being silently reused, and the index stays complete
    f.delete(new Path(dir, "_ann"), true)
    val m3 = Snapshots.annIndex(spark, dir, "embedding", "vec_id", k = 4)
    assert(m3.assigned.count() === emb.count())
  }

  test("shallowClone: metadata-only, independent writes, compaction " +
    "materializes, clone vacuum cannot touch source data") {
    val src = freshDir()
    Snapshots.append(spark, src, df(1, 2, 3))
    Snapshots.append(spark, src, df(4, 5))
    val dst = freshDir()
    assert(Snapshots.shallowClone(spark, src, dst) === 1)
    // identical content, zero data under the clone's own data root
    assert(idSet(Snapshots.read(spark, dst)) === Set(1, 2, 3, 4, 5))
    val dstData = new Path(dst, "data")
    val f = dstData.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(dstData) || f.listStatus(dstData).isEmpty,
      "a shallow clone must copy no data")
    // divergence: writes land on the right side only
    Snapshots.append(spark, dst, df(6))
    Snapshots.append(spark, src, df(7))
    assert(idSet(Snapshots.read(spark, dst)) === Set(1, 2, 3, 4, 5, 6))
    assert(idSet(Snapshots.read(spark, src)) === Set(1, 2, 3, 4, 5, 7))
    // deleteWhere on the clone rewrites INTO the clone; source intact
    Snapshots.deleteWhere(spark, dst, col("id") === 2)
    assert(idSet(Snapshots.read(spark, dst)) === Set(1, 3, 4, 5, 6))
    assert(idSet(Snapshots.read(spark, src)) === Set(1, 2, 3, 4, 5, 7))
    // clone vacuum reclaims only under its OWN data root
    Snapshots.vacuum(spark, dst, keepFromVersion = Snapshots.latestVersion(spark, dst),
      retentionMs = 0)
    assert(idSet(Snapshots.read(spark, src)) === Set(1, 2, 3, 4, 5, 7),
      "clone vacuum must never touch source data")
    // compaction cuts the dependency: every live dir is clone-local
    Snapshots.compact(spark, dst)
    val live = Snapshots.liveDirs(spark, dst, Snapshots.latestVersion(spark, dst))
    assert(live.forall(_.startsWith("data/")),
      s"compacted clone must be fully materialized, got $live")
    assert(idSet(Snapshots.read(spark, dst)) === Set(1, 3, 4, 5, 6))
  }

  test("registerView exposes versioned tables to spark.sql, pinnable to a version") {
    val dir = freshDir()
    Snapshots.append(spark, dir, df(1, 2))
    Snapshots.append(spark, dir, df(3))
    Snapshots.registerView(spark, "snap_latest", dir)
    Snapshots.registerView(spark, "snap_v1", dir, Some(1))
    assert(spark.sql("SELECT count(*) FROM snap_latest").head.getLong(0) === 3)
    assert(spark.sql("SELECT sum(id) FROM snap_v1").head.getLong(0) === 3)
  }

  test("snapshot reads prune columns and push filters like any parquet scan") {
    val dir = freshDir()
    Snapshots.append(spark, dir,
      spark.range(100).select(col("id"), (col("id") * 2).as("v")))
    val plan = Snapshots.read(spark, dir).filter(col("id") > 90)
      .select("v").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)]"),
      s"filter not pushed to the snapshot scan:\n$plan")
  }

  test("fillDirCaches keeps a failed writer's root cause when the " +
    "cleanup wait is interrupted (the interrupt rides as suppressed)") {
    import java.util.concurrent.CountDownLatch
    val failNow = new CountDownLatch(1)
    val siblingStarted = new CountDownLatch(1)
    val releaseSibling = new CountDownLatch(1)
    val root = new IllegalStateException("writer failed")
    val caught = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try Snapshots.fillDirCaches(Seq(
        () => { failNow.await(); throw root },
        () => { siblingStarted.countDown(); releaseSibling.await() }))
      catch { case t: Throwable => caught.set(t) })
    caller.start()
    try {
      siblingStarted.await()
      failNow.countDown()
      // the caller reaches the cleanup's timed wait on the still-running
      // sibling (fut.get() waits untimed, awaitTermination timed)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (caller.getState != Thread.State.TIMED_WAITING &&
          System.nanoTime() < deadline) Thread.sleep(5)
      assert(caller.getState == Thread.State.TIMED_WAITING)
      caller.interrupt()
      caller.join(60000)
      assert(!caller.isAlive)
    } finally releaseSibling.countDown()
    assert(caught.get() eq root, s"root cause lost: ${caught.get()}")
    assert(root.getSuppressed.exists(_.isInstanceOf[InterruptedException]))
  }
}

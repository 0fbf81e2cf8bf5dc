package graft.warehouse

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot tables on plain parquet: atomic commits, time
  * travel, and an incremental (files-added) change feed.
  *
  * The reference's warehouse relies on ClickHouse's merge-tree parts +
  * mutations for "what did this table look like" and ClickPipes offsets
  * for "what's new since my last read" (SURVEY §3.2). On a data lake the
  * same two needs are met by a manifest log over immutable data files —
  * the core idea of the open table formats. This is that idea reduced to
  * its load-bearing minimum, with no dependency beyond Hadoop FS:
  *
  * {{{
  *   tableDir/
  *     data/c00000001/part-*.parquet   // one immutable dir per commit
  *     data/c00000002/part-*.parquet
  *     _log/v00000001.txt              // manifest: live commit dirs,
  *     _log/v00000002.txt              //   one relative path per line,
  *                                     //   plus #-prefixed metadata
  *                                     //   records (#batch:<id>)
  * }}}
  *
  * A reader of version N opens manifest N and scans exactly the listed
  * directories. A commit writes its data directory FIRST, then publishes
  * a new manifest via write-temp + an atomic claim of the version file
  * (HDFS: rename, which fails server-side on an existing destination;
  * local FS: POSIX hard link, which fails EEXIST — Hadoop's local
  * rename is check-then-rename and NOT atomic under contention; see
  * `commitRename`). The claim is the commit point. A crash before it
  * leaves an orphan data dir that no manifest references — invisible to
  * every reader, reclaimable by `vacuum`. Concurrent committers race on
  * the claim; the loser re-reads the log and retries on top of the
  * winner — optimistic concurrency, identical in spirit to Delta's
  * log-entry race. (On S3, neither primitive is atomic: front this with
  * a conditional-PUT or a catalog as every table format does there.)
  *
  * Scale: metadata is O(commits) driver-side KBs (like a Delta JSON
  * log); appends never rewrite data; time travel costs one manifest
  * read; the change feed between two versions reads ONLY the data dirs
  * added in that range — an incremental consumer pattern that costs
  * O(delta), not O(table). Executors never touch the log.
  */
object Snapshots {

  private val LogDir = "_log"
  private val DataDir = "data"
  private val MaxCommitRetries = 10

  /** Manifest lines starting with `#` are METADATA records, not data
    * dirs: readers skip them, commits carry them forward. The one
    * record type today is `#batch:<id>` — the HIGHEST micro-batch id
    * committed so far, written by [[appendBatch]]/[[upsertBatch]] so
    * replay suppression survives rewrites ([[deleteWhere]],
    * [[compact]], [[overwrite]]) that rename or absorb the tagged data
    * dir a replay would otherwise look for. ONE record, not one per
    * batch: foreachBatch ids are monotonic per query and the table has
    * one streaming writer, so `batchId <= recorded max` decides replay
    * in O(1) metadata — the same design as Delta's per-app txn
    * version. A million micro-batches cost one manifest line, not a
    * million. */
  private val MetaPrefix = "#"
  private val BatchMetaPrefix = "#batch:"
  private def isMeta(line: String): Boolean = line.startsWith(MetaPrefix)

  private def maxRecordedBatch(lines: Seq[String]): Option[Long] =
    lines.iterator.filter(_.startsWith(BatchMetaPrefix))
      .flatMap(_.stripPrefix(BatchMetaPrefix).toLongOption)
      .maxOption

  /** `lines` with the batch record advanced to `batchId` (older
    * records pruned — only the max carries suppression information). */
  private def withBatchRecord(lines: Seq[String], batchId: Long): Seq[String] = {
    val recorded = maxRecordedBatch(lines).getOrElse(Long.MinValue)
    lines.filterNot(_.startsWith(BatchMetaPrefix)) :+
      s"$BatchMetaPrefix${math.max(recorded, batchId)}"
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, v: Int): Path =
    new Path(dir, f"$LogDir/v$v%08d.txt")

  private def versionOf(name: String): Option[Int] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      name.stripPrefix("v").stripSuffix(".txt").toIntOption
    else None

  /** Latest committed version, or 0 if the table has no commits. */
  def latestVersion(spark: SparkSession, dir: String): Int = {
    val log = new Path(dir, LogDir)
    val f = fs(spark, dir)
    if (!f.exists(log)) 0
    else f.listStatus(log).iterator
      .flatMap(s => versionOf(s.getPath.getName)).foldLeft(0)(math.max)
  }

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val log = new Path(dir, LogDir)
    val f = fs(spark, dir)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).iterator
      .flatMap(s => versionOf(s.getPath.getName)).toSeq.sorted
  }

  /** Raw manifest lines at `version`: data-dir lines plus `#`-prefixed
    * metadata records, in file order.
    *
    * The read retries transient ChecksumExceptions: Hadoop's LOCAL
    * filesystem keeps checksums in `.crc` sidecar files and renames the
    * data file and its sidecar as two operations, so a reader racing a
    * committer's rename can briefly see a manifest paired with a stale
    * sidecar (found by the 8-way concurrent-append stress spec). The
    * file content itself is never torn — rename is atomic — only the
    * sidecar lags; one re-read lands after the sidecar settles. HDFS
    * (block-level checksums) and object stores (no sidecars) don't
    * have this window. */
  private[graft] def manifestLines(spark: SparkSession, dir: String,
                                   version: Int): Seq[String] = {
    val p = manifestPath(dir, version)
    val f = fs(spark, dir)
    require(f.exists(p), s"no version $version at $dir")
    var attempt = 0
    while (true) {
      try {
        val in = f.open(p)
        try {
          val text = new String(
            org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
          return text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        } finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10L * attempt)
      }
    }
    sys.error("unreachable")
  }

  /** Live commit-dir names (relative to `dir`) at `version`. */
  def liveDirs(spark: SparkSession, dir: String, version: Int): Seq[String] =
    manifestLines(spark, dir, version).filterNot(isMeta)

  /** Highest micro-batch id recorded as committed at `version` (see
    * [[BatchMetaPrefix]]); None for tables with no batch commits.
    * Tables written before the record existed rely on [[appendBatch]]'s
    * legacy dir-tag check instead. */
  def lastBatchId(spark: SparkSession, dir: String,
                  version: Int): Option[Long] =
    maxRecordedBatch(manifestLines(spark, dir, version))

  /** Publish `lines` (data dirs + metadata records) as the next version
    * on top of `base`. Returns the committed version. Retries past
    * concurrent committers by re-reading the log, re-deriving the
    * manifest with `rebase` (applied to the winner's RAW lines, so
    * metadata records survive the rebase), and renaming again.
    * (`private[graft]` so the race/retry path is testable directly.) */
  private[graft] def publish(spark: SparkSession, dir: String, base: Int,
                      lines: Seq[String],
                      rebase: Seq[String] => Seq[String]): Int = {
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, LogDir))
    var attemptBase = base
    var attemptLines = lines
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val tmp = new Path(dir, s"$LogDir/.tmp-${UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(
        (attemptLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val target = manifestPath(dir, attemptBase + 1)
      if (commitRename(f, tmp, target)) { f.delete(tmp, false); return attemptBase + 1 }
      f.delete(tmp, false)
      val tip = latestVersion(spark, dir)
      if (tip == attemptBase)
        // The target doesn't exist (no competing commit advanced the
        // log), yet the rename failed — a filesystem fault, not a race.
        // Retrying or calling manifestLines(tip) here would fail
        // confusingly (worst case "no version 0" on a first commit);
        // report the real condition instead.
        sys.error(s"commit to $dir failed: rename to $target returned " +
          "false with no competing commit (filesystem error?)")
      // Lost the race: someone committed attemptBase+1 first. Rebase on
      // the new tip and try again.
      attemptLines = rebase(manifestLines(spark, dir, tip))
      attemptBase = tip
      attempt += 1
    }
    sys.error(s"commit to $dir lost $MaxCommitRetries manifest races; " +
      "giving up (pathological contention — serialize your writers)")
  }

  /** Atomically claim `target` with `tmp`'s content; false if another
    * committer claimed it first. On HDFS/ABFS the plain rename IS the
    * atomic claim (server-side, fails on existing destination). On the
    * LOCAL filesystem Hadoop's rename is check-then-rename(2) — a
    * TOCTOU hole where two concurrent renames to the same absent
    * target BOTH return true and one manifest silently vanishes (found
    * by the 8-way concurrent-append stress spec) — so local commits
    * claim via POSIX hard link instead, which the kernel rejects with
    * EEXIST atomically. The link also sidesteps the `.crc` sidecar
    * lag (no sidecar is created for the target; Hadoop reads happily
    * without one). On S3, NEITHER primitive is atomic — front the log
    * with a conditional PUT or a catalog, as every table format does. */
  private def commitRename(f: FileSystem, tmp: Path, target: Path): Boolean =
    if (f.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => f.rename(tmp, target)
      }
    } else f.rename(tmp, target)

  /** Fresh name for an UNTAGGED data dir. The `c-x` prefix ('x' is not
    * a hex digit) keeps the random suffix out of [[BatchTagRe]]'s
    * namespace BY CONSTRUCTION: a bare `c-<uuid>` beginning
    * `b<7 digits>-` (~0.2% of UUID draws) would otherwise read as a
    * `c-b<batchId>-` idempotence tag, and once a long-lived streaming
    * writer's batch ids reach that 7-digit value, [[appendBatch]]'s
    * legacy tag check would suppress the REAL micro-batch — silent data
    * loss seeded by an unlucky dir name. */
  private def untaggedName(take: Int): String =
    s"$DataDir/c-x${UUID.randomUUID().toString.take(take)}"

  private def writeCommitDir(spark: SparkSession, dir: String,
                             df: DataFrame): String = {
    // The data dir name is unique per attempt, not per version: a
    // manifest race must never reuse a dir another committer claimed.
    val name = untaggedName(18)
    df.write.mode("errorifexists").parquet(new Path(dir, name).toString)
    name
  }

  /** Append `df` as a new commit. Existing data is never rewritten. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Int = {
    val commitDir = writeCommitDir(spark, dir, df)
    val base = latestVersion(spark, dir)
    val baseLines =
      if (base == 0) Seq.empty else manifestLines(spark, dir, base)
    publish(spark, dir, base, baseLines :+ commitDir, tip => tip :+ commitDir)
  }

  /** Append one STREAMING micro-batch as a snapshot commit, exactly
    * once per `batchId`. `foreachBatch` delivery is at-least-once — a
    * replayed batch must not commit twice — so the commit data dir
    * embeds the batch id as an idempotence token: a replay finds a
    * live dir tagged `c-b<batchId>-` and returns the existing version
    * without writing. A crash between the data write and the manifest
    * rename leaves an orphan tagged dir that no manifest references —
    * the replay writes a fresh dir and commits it; the orphan ages out
    * via [[vacuum]]. One streaming query is one writer, so the
    * check-then-publish window has no same-batch race; CONCURRENT
    * different-batch committers still rebase through [[publish]]'s
    * normal retry.
    *
    * Idempotence is double-keyed: the commit writes BOTH a `c-b<id>-`
    * dir-name tag and advances the `#batch:<max id>` manifest record.
    * The record is what survives rewrites — a [[compact]] absorbs the
    * tagged dir into an untagged merged dir, and an [[overwrite]] drops
    * it entirely, but both carry the record forward, so a replay is
    * still suppressed. Suppression is `batchId <= recorded max`, which
    * is exact because foreachBatch ids are monotonic per query and a
    * snapshot table has ONE streaming writer; the tag alone also
    * suffices (legacy tables). */
  def appendBatch(spark: SparkSession, dir: String, df: DataFrame,
                  batchId: Long): Int = {
    val tag = s"c-b$batchId-"
    val tip = latestVersion(spark, dir)
    val lines = if (tip == 0) Seq.empty else manifestLines(spark, dir, tip)
    def alreadyCommitted(ls: Seq[String]): Boolean =
      maxRecordedBatch(ls).exists(batchId <= _) ||
        ls.exists(l => !isMeta(l) && l.startsWith(s"$DataDir/$tag"))
    if (alreadyCommitted(lines)) return tip
    val name = s"$DataDir/$tag${UUID.randomUUID().toString.take(12)}"
    df.write.mode("errorifexists").parquet(new Path(dir, name).toString)
    publish(spark, dir, tip, withBatchRecord(lines :+ name, batchId),
      tipLines => withBatchRecord(tipLines :+ name, batchId))
  }

  /** Replace the table's contents with `df`. Prior data dirs stay on
    * disk for time travel until `vacuum`. Metadata records (batch
    * idempotence) are carried forward: replacing the DATA must not
    * forget which micro-batches committed, or a replay would re-append
    * stale rows on top of the new contents. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Int = {
    val commitDir = writeCommitDir(spark, dir, df)
    val base = latestVersion(spark, dir)
    val meta =
      if (base == 0) Seq.empty
      else manifestLines(spark, dir, base).filter(isMeta)
    publish(spark, dir, base, meta :+ commitDir,
      tipLines => tipLines.filter(isMeta) :+ commitDir)
  }

  /** Merge every live commit dir into ONE dir — the small-file
    * compaction maintenance pass for snapshot tables. Thousands of
    * streaming micro-batch commits mean thousands of small dirs; a scan
    * then pays per-dir listing and tiny-file open costs, and at 100 TB
    * the NameNode/object-store listing alone dominates. Compaction
    * rewrites the data ONCE into a dir sized by `targetPartitions`
    * (pick tableBytes / 128 MB) and publishes a one-dir manifest;
    * old versions still time-travel until [[vacuum]] reclaims them.
    * Batch-idempotence records are carried forward (see
    * [[appendBatch]]) — a micro-batch replayed after its tagged dir was
    * absorbed is still suppressed. A concurrent [[deleteWhere]] that
    * replaced a dir mid-compaction fails this commit loudly (the merged
    * copy would resurrect the deleted rows); a concurrent append simply
    * keeps its new dir alongside the merged one. Returns the new
    * version, or the current one when there is nothing to merge. */
  def compact(spark: SparkSession, dir: String,
              targetPartitions: Int = 0,
              zorderCols: Seq[String] = Nil, zorderBits: Int = 16): Int = {
    val base = latestVersion(spark, dir)
    require(base > 0, s"table at $dir has no commits")
    val lines = manifestLines(spark, dir, base)
    val dirs = lines.filterNot(isMeta)
    if (dirs.size < 2) return base
    val merged0 = spark.read.parquet(dirs.map(d => new Path(dir, d).toString): _*)
    // The OPTIMIZE-ZORDER composition: compaction already pays the full
    // read+write, so re-clustering rides along for one range shuffle —
    // after it, a min/max manifest prunes on every z-dimension
    // (Layout.zOrder + DataSkipping pair). Plain compaction keeps
    // arrival order and uses coalesce (no shuffle at all).
    import org.apache.spark.sql.functions.col
    val merged =
      if (zorderCols.size >= 2) {
        val zb = Layout.minMaxBucket(merged0, zorderCols, zorderBits)
        Layout.zOrder(zb, zorderCols.map(c => s"${c}_zb"), zorderBits,
            partitions = if (targetPartitions > 0) Some(targetPartitions) else None)
          .drop(zorderCols.map(c => s"${c}_zb"): _*)
      } else if (zorderCols.size == 1) {
        // one dimension: z-order degenerates to a plain range-cluster
        val ranged =
          if (targetPartitions > 0)
            merged0.repartitionByRange(targetPartitions, col(zorderCols.head))
          else merged0.repartitionByRange(col(zorderCols.head))
        ranged.sortWithinPartitions(zorderCols.head)
      }
      else if (targetPartitions > 0) merged0.coalesce(targetPartitions)
      else merged0
    val name = untaggedName(18)
    merged.write.mode("errorifexists").parquet(new Path(dir, name).toString)
    val absorbed = dirs.toSet
    def fold(ls: Seq[String]): Seq[String] = {
      val present = ls.filterNot(isMeta).toSet
      val missing = absorbed.diff(present).toSeq.sorted
      if (missing.nonEmpty)
        sys.error("compact lost a concurrent-rewrite race: source dir(s) " +
          s"${missing.take(3).mkString(", ")} were replaced by another " +
          "commit (deleteWhere/overwrite) before this compaction " +
          "published — the merged copy may resurrect removed rows. " +
          "Re-run compact against the new table version.")
      ls.filterNot(absorbed.contains) :+ name
    }
    publish(spark, dir, base, fold(lines), fold)
  }

  /** Targeted delete — the right-to-be-forgotten shape. Rewrites ONLY
    * the live commit dirs that contain rows matching `predicate` and
    * publishes a version whose manifest swaps affected dirs for their
    * rewritten copies; untouched dirs are carried by reference. Cost is
    * O(affected data), not O(table): the per-dir match probe is a
    * pushdown-filtered existence scan (parquet stats make no-match dirs
    * ~metadata-only), and at 100 TB a keyed delete typically touches a
    * handful of dirs. Rows where the predicate is NULL are KEPT (only
    * provably-matching rows are removed — the SQL DELETE contract).
    * Returns the new version (or the current one when nothing matched).
    * Old versions still see the deleted rows until [[vacuum]] drops
    * them — physical erasure = deleteWhere + vacuum past that version.
    * Concurrent appends racing this commit keep their own dirs
    * untouched (the delete covers data visible at its base version);
    * a concurrent commit that REPLACED an affected dir (another
    * deleteWhere, an overwrite) fails this commit loudly rather than
    * silently losing the delete — see [[swapStrict]]. */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: org.apache.spark.sql.Column): Int = {
    val base = latestVersion(spark, dir)
    require(base > 0, s"table at $dir has no commits")
    val lines = manifestLines(spark, dir, base)
    val live = lines.filterNot(isMeta)
    // ONE probe job over all live dirs (not a driver loop of per-dir
    // jobs — 10k commits must not mean 10k sequential jobs): scan with
    // the predicate pushed down, collect only the DISTINCT matching
    // file names, attribute files to dirs by path prefix.
    import org.apache.spark.sql.functions.input_file_name
    val liveAbs = live.map(d => d -> new Path(dir, d))
    val matchPaths = spark.read.parquet(liveAbs.map(_._2.toString): _*)
      .filter(predicate).select(input_file_name()).distinct()
      .collect().map(r => new Path(r.getString(0)).toUri.getPath)
    val affected = liveAbs.filter { case (_, abs) =>
      val prefix = abs.toUri.getPath + "/"
      matchPaths.exists(_.startsWith(prefix))
    }.map(_._1)
    if (affected.isEmpty) return base
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val rewritten = affected.map { d =>
      val keep = spark.read.parquet(new Path(dir, d).toString)
        .filter(not(coalesce(predicate, lit(false))))
      val name = rewrittenName(d)
      keep.write.mode("errorifexists").parquet(new Path(dir, name).toString)
      d -> name
    }.toMap
    publish(spark, dir, base, swapStrict(rewritten, lines),
      tipLines => swapStrict(rewritten, tipLines))
  }

  /** Keyed upsert — MERGE INTO semantics in ONE atomic commit: rows
    * whose `keyCols` match a source row are replaced by it, unmatched
    * source rows are inserted, everything else is untouched. Equivalent
    * to DELETE-matching-keys + APPEND-source, but published as a single
    * manifest version: readers never observe the deleted-but-not-yet-
    * reinserted intermediate state.
    *
    * Cost is O(affected data) like [[deleteWhere]]: one pushdown probe
    * job finds the dirs holding matched keys (a left-semi join against
    * the distinct source keys — Spark broadcasts the key set when it is
    * small), only those dirs rewrite (via left-anti), untouched dirs
    * carry by reference, and the source lands as one new commit dir. At
    * 100 TB a keyed upsert of a day's changes touches the handful of
    * dirs holding those keys, not the table. Rewrites preserve batch
    * tags and rebase strictly ([[swapStrict]]) — a concurrent rewrite
    * of an affected dir fails loudly rather than losing updates.
    * Source rows must be unique per key — CHECKED: duplicate source
    * keys raise SQL MERGE's multiple-match cardinality violation
    * before any write (latest-wins over an unordered duplicate pair
    * would be read-order-dependent). Dedup upstream, or use
    * [[upsertLatest]] when the source carries a version order. */
  def upsert(spark: SparkSession, dir: String, source: DataFrame,
             keyCols: Seq[String]): Int =
    upsertImpl(spark, dir, source, keyCols, None)

  /** [[upsert]] with the deterministic pre-dedup built in: keep each
    * key's row with the greatest `versionCol` (ties broken by the
    * greatest remaining row via max_by's struct ordering — stable), then
    * merge. The ReplacingMergeTree latest-wins contract (DDL:37,143)
    * with the version order EXPLICIT instead of read-order luck. */
  def upsertLatest(spark: SparkSession, dir: String, source: DataFrame,
                   keyCols: Seq[String], versionCol: String): Int = {
    import org.apache.spark.sql.functions.{col, max_by, struct}
    require(!keyCols.contains(versionCol),
      s"versionCol $versionCol cannot be a merge key")
    require(source.columns.contains(versionCol),
      s"source has no column $versionCol")
    val others = source.columns.filterNot(keyCols.contains).toSeq
    // total order: version first, remaining payload columns after —
    // struct comparison is lexicographic, so version ties resolve
    // deterministically by content, never by read order
    val ord = struct((versionCol +: others.filterNot(_ == versionCol))
      .map(col): _*)
    val latest = source
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), ord).as("_latest"))
    val restored = others.foldLeft(latest)((df, c) =>
      df.withColumn(c, col(s"_latest.$c"))).drop("_latest")
    // unique per key by construction (output of groupBy(keyCols)) —
    // skip the cardinality check rather than re-running the max_by
    // shuffle just to prove what the plan already guarantees
    upsertImpl(spark, dir,
      restored.select(source.columns.map(col): _*), keyCols, None,
      checkDuplicates = false)
  }

  /** One STREAMING micro-batch applied as a keyed upsert, exactly once
    * per `batchId` — the CDC-into-warehouse shape: a changelog stream's
    * latest-per-key batches merge into the versioned table, replays
    * are suppressed by the `#batch:<id>` manifest record. Unlike
    * [[appendBatch]] the commit dir carries no tag (an upsert's dir
    * REPLACES older rows, so it is not a pure append marker); the
    * record alone is the idempotence token. Replay suppression matters
    * more here than for appends: re-applying batch N after batch N+1
    * committed would clobber newer values with older ones. */
  def upsertBatch(spark: SparkSession, dir: String, df: DataFrame,
                  batchId: Long, keyCols: Seq[String]): Int = {
    val tip = latestVersion(spark, dir)
    if (tip == 0) {
      // the first micro-batch takes the append shortcut (nothing to
      // merge against), but the cardinality contract must hold from
      // version 1: duplicate keys written here would be permanent and
      // invisible to every later batch's own check
      requireUniqueKeys(df, keyCols)
      return appendBatch(spark, dir, df, batchId)
    }
    if (maxRecordedBatch(manifestLines(spark, dir, tip)).exists(batchId <= _))
      return tip
    upsertImpl(spark, dir, df, keyCols, Some(batchId))
  }

  /** MERGE multiple-match check: a source with duplicate merge keys has
    * no well-defined upsert result — the commit dir would carry BOTH
    * rows and "latest" would depend on read order, silently corrupting
    * the ReplacingMergeTree latest-wins contract (reference DDL:37,143)
    * this operator implements. Fail loudly (ANSI MERGE raises the same
    * cardinality violation); the caller dedups deterministically first
    * ([[upsertLatest]] / Star.latestPerKey). Cost: one aggregate over
    * the SOURCE side only — the small side of an upsert by
    * construction, never the table. */
  private def requireUniqueKeys(source: DataFrame, keyCols: Seq[String]): Unit = {
    val dup = source
      .groupBy(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"upsert source has multiple rows for merge key ${keyCols.mkString("(", ", ", ")")} = " +
        dup.headOption.map(r => keyCols.indices.map(r.get).mkString("(", ", ", ")"))
          .getOrElse("?") +
        " — dedup the source to one row per key (latest-wins needs an explicit" +
        " version order, e.g. upsertLatest / Star.latestPerKey) before merging")
  }

  private def upsertImpl(spark: SparkSession, dir: String, source: DataFrame,
                         keyCols: Seq[String], batchRecord: Option[Long],
                         checkDuplicates: Boolean = true): Int = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val base = latestVersion(spark, dir)
    require(base > 0, s"table at $dir has no commits")
    if (checkDuplicates) requireUniqueKeys(source, keyCols)
    val lines = manifestLines(spark, dir, base)
    val live = lines.filterNot(isMeta)
    import org.apache.spark.sql.functions.input_file_name
    val keys = source.select(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
    val liveAbs = live.map(d => d -> new Path(dir, d))
    // project the file name BEFORE the join: input_file_name() is only
    // defined directly above its scan (a post-join evaluation would be
    // ambiguous across the two sources and Spark rejects it)
    val matchPaths = spark.read.parquet(liveAbs.map(_._2.toString): _*)
      .withColumn("__graft_file", input_file_name())
      .join(keys, keyCols, "left_semi")
      .select(org.apache.spark.sql.functions.col("__graft_file")).distinct()
      .collect().map(r => new Path(r.getString(0)).toUri.getPath)
    val affected = liveAbs.filter { case (_, abs) =>
      val prefix = abs.toUri.getPath + "/"
      matchPaths.exists(_.startsWith(prefix))
    }.map(_._1)
    val rewritten = affected.map { d =>
      val keep = spark.read.parquet(new Path(dir, d).toString)
        .join(keys, keyCols, "left_anti")
      val name = rewrittenName(d)
      keep.write.mode("errorifexists").parquet(new Path(dir, name).toString)
      d -> name
    }.toMap
    val newDir = writeCommitDir(spark, dir, source)
    def finish(ls: Seq[String]): Seq[String] = {
      val swapped = swapStrict(rewritten, ls) :+ newDir
      batchRecord.fold(swapped)(withBatchRecord(swapped, _))
    }
    publish(spark, dir, base, finish(lines), finish)
  }

  /** Name for a dir that REPLACES `source` in the manifest. Preserves
    * [[appendBatch]]'s `c-b<batchId>-` idempotence tag: a streaming
    * micro-batch replayed after a deleteWhere rewrote its dir must
    * still find the tag in the live set, or the replay re-appends the
    * full batch — duplicating rows and resurrecting deleted ones. */
  private[graft] def rewrittenName(source: String): String = {
    val base = source.stripPrefix(s"$DataDir/")
    BatchTagRe.findFirstIn(base) match {
      case Some(tag) => s"$DataDir/$tag${UUID.randomUUID().toString.take(12)}"
      case None      => untaggedName(12)
    }
  }
  private val BatchTagRe = "^c-b\\d+-".r

  /** Apply a dir→rewrittenDir substitution, REFUSING to publish if a
    * source dir is gone from the target live set: a concurrent
    * deleteWhere/overwrite/compaction already replaced it, so its
    * replacement may still hold rows this delete matched. Dropping the
    * substitution silently would be a lost delete on the
    * right-to-be-forgotten path; failing loudly lets the caller re-run
    * against the new base. */
  private[graft] def swapStrict(rewritten: Map[String, String],
                                lines: Seq[String]): Seq[String] = {
    val present = lines.filterNot(isMeta).toSet
    val missing = rewritten.keysIterator.filterNot(present).toSeq.sorted
    if (missing.nonEmpty)
      sys.error("deleteWhere lost a concurrent-rewrite race: affected " +
        s"dir(s) ${missing.take(3).mkString(", ")} were replaced by " +
        "another commit before this delete published. Re-run deleteWhere " +
        "against the new table version.")
    lines.map(d => rewritten.getOrElse(d, d))
  }

  /** Read the table at `version` (default: latest). `mergeSchema`
    * unions the schemas of all live commit dirs — the schema-evolution
    * read: commits written before a column existed surface it as NULL.
    * Off by default because schema merging footer-reads every file up
    * front; turn it on only for tables that actually evolved. */
  /** Delta-style SHALLOW CLONE: `dstDir` becomes a new table whose
    * version-1 manifest references the SOURCE's live commit dirs by
    * absolute path — no data is copied, the clone is a metadata-only
    * commit however large the source. Manifest resolution
    * (`new Path(dir, line)`) takes absolute lines as-is, so every read
    * path (read / time travel / stats / skipping) works unchanged.
    *
    * Independence: appends and rewrites on the clone write NEW dirs
    * under the CLONE's `data/` and never touch source dirs (deleteWhere
    * carries unaffected source dirs by reference and rewrites affected
    * ones into the clone; `compact` fully materializes the clone).
    * The clone's vacuum only ever deletes orphans under its OWN data
    * root, so it cannot reclaim source data. The documented hazard is
    * the same as Delta's: a vacuum on the SOURCE does not know about
    * clone references — keep the source's retention ≥ the clone's
    * lifetime, or compact the clone to cut the dependency.
    *
    * Batch-id records are deliberately NOT carried: the clone is a new
    * streaming target with its own exactly-once ledger. */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
                   version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, srcDir))
    require(v > 0, s"table at $srcDir has no commits")
    require(latestVersion(spark, dstDir) == 0,
      s"clone target $dstDir already has commits")
    val f = fs(spark, srcDir)
    val srcBase = f.makeQualified(new Path(srcDir))
    val absolute = liveDirs(spark, srcDir, v)
      .map(d => new Path(srcBase, d).toString)
    publish(spark, dstDir, 0, absolute, identity)
  }

  def read(spark: SparkSession, dir: String,
           version: Option[Int] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val dirs = liveDirs(spark, dir, v).map(d => new Path(dir, d).toString)
    val r = spark.read
    (if (mergeSchema) r.option("mergeSchema", "true") else r).parquet(dirs: _*)
  }

  /** Latest version whose manifest was committed at or before
    * `tsMillis` (epoch millis) — timestamp-based time travel, resolved
    * from manifest file modification times (the rename IS the commit,
    * so its mtime is the commit time). Throws if the table has no
    * commit that old. One log listing; no data touched. */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val log = new Path(dir, LogDir)
    val f = fs(spark, dir)
    require(f.exists(log), s"table at $dir has no commits")
    val at = f.listStatus(log).iterator
      .flatMap(s => versionOf(s.getPath.getName).map(_ -> s.getModificationTime))
      .filter(_._2 <= tsMillis)
      .foldLeft(0)((acc, v) => math.max(acc, v._1))
    require(at > 0,
      s"no version of $dir committed at or before epoch-millis $tsMillis")
    at
  }

  /** Read the table as of a wall-clock instant (see [[versionAsOf]]). */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long,
               mergeSchema: Boolean = false): DataFrame =
    read(spark, dir, Some(versionAsOf(spark, dir, tsMillis)), mergeSchema)

  /** Schema drift between two versions (DESCRIBE-HISTORY companion to
    * `mergeSchema` reads): column-level `added` / `removed` /
    * `retyped` changes from `fromVersion` to `toVersion`, resolved
    * from each version's merged parquet footers — metadata-only
    * relative to the data (footer reads, no row scans), so it is the
    * cheap pre-flight a pipeline runs before deciding whether a new
    * commit broke downstream consumers. Nested types compare by their
    * full DDL string (any nested change reads as `retyped`). Returns
    * `(column, change, from_type, to_type)` sorted by column; empty
    * when the schemas agree exactly. */
  def schemaDiff(spark: SparkSession, dir: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    import spark.implicits._
    def fields(v: Int): Map[String, String] =
      read(spark, dir, Some(v), mergeSchema = true)
        .schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val from = fields(fromVersion)
    val to = fields(toVersion)
    val rows =
      (to.keySet -- from.keySet).toSeq.map(c =>
        (c, "added", null: String, to(c))) ++
      (from.keySet -- to.keySet).toSeq.map(c =>
        (c, "removed", from(c), null: String)) ++
      (from.keySet & to.keySet).toSeq.collect {
        case c if from(c) != to(c) => (c, "retyped", from(c), to(c))
      }
    rows.sortBy(_._1)
      .toDF("column", "change", "from_type", "to_type")
  }

  /** Register the table as a temp view for `spark.sql` — the SQL
    * surface over versioned tables (pin `version` for a time-travel
    * view). The view captures the version's file list at registration;
    * re-register to follow new commits. */
  def registerView(spark: SparkSession, viewName: String, dir: String,
                   version: Option[Int] = None,
                   mergeSchema: Boolean = false): Unit =
    read(spark, dir, version, mergeSchema).createOrReplaceTempView(viewName)

  /** Rows added after `fromVersion` up to and including `toVersion` —
    * the incremental change feed. Requires every manifest in the range
    * to be append-only (a superset of its predecessor): an `overwrite`
    * in the range breaks files-added semantics, so it throws rather
    * than silently under- or over-reporting. */
  def changesBetween(spark: SparkSession, dir: String,
                     fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion >= 1 && toVersion > fromVersion,
      s"need 1 <= from < to, got ($fromVersion, $toVersion)")
    var prev = liveDirs(spark, dir, fromVersion).toSet
    val added = Seq.newBuilder[String]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val cur = liveDirs(spark, dir, v).toSet
      require(prev.subsetOf(cur),
        s"version $v of $dir removed data dirs " +
          s"(${(prev -- cur).take(3).mkString(", ")}…) — the range " +
          "contains an overwrite/compaction/delete; changesBetween covers append-only " +
          "ranges. Re-read the full snapshot instead.")
      added ++= (cur -- prev).toSeq.sorted
      prev = cur
    }
    val dirs = added.result().map(d => new Path(dir, d).toString)
    require(dirs.nonEmpty,
      s"no data added between $fromVersion and $toVersion of $dir")
    spark.read.parquet(dirs: _*)
  }

  private val StatsDir = "_stats"

  /** Run the MISSING per-dir cache writers, overlapping the independent
    * single-dir jobs on a small thread pool — the guide-§2.6 shape:
    * each writer is one bounded Spark job against one immutable commit
    * dir writing one cache file, so concurrent submission lets the
    * scheduler back-fill the tail instead of paying k sequential
    * job-latency floors for k new commits. Shared by every per-dir
    * cache family (stats/bloom/kmv/kll/ann); the cache discipline
    * itself (immutable dirs ⇒ compute once, ever) is unchanged, and
    * distinct target paths make the writers trivially independent.
    * Failures rethrow their cause so callers see the original error. */
  private[graft] def fillDirCaches(writers: Seq[() => Unit]): Unit =
    if (writers.sizeIs <= 1) writers.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, writers.size))
      val futs = writers.map(w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = w()
        }))
      try {
        futs.foreach { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } catch {
        case t: Throwable =>
          // a failed writer must not leave siblings running after the
          // caller has thrown (they could race a retry or keep writing
          // under a session being torn down): cancel everything still
          // queued and WAIT for in-flight writers to finish before
          // rethrowing the first cause. A failure of the cleanup itself
          // (an interrupted wait) rides along as suppressed: `t` is the
          // root cause the caller must see
          try {
            futs.foreach(_.cancel(false))
            pool.shutdown()
            pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
          } catch {
            case cleanup: Throwable if cleanup ne t => t.addSuppressed(cleanup)
          }
          throw t
      } finally pool.shutdown()
    }

  /** Per-file min/max/null-count stats for the table's live files,
    * maintained INCREMENTALLY: commit dirs are immutable, so each dir's
    * stats are computed once, cached as
    * `_stats/<dirName>.<colsHash>.parquet`, and reused forever; a run
    * after k new commits stats only those k dirs — O(delta) upkeep,
    * the cost model of Delta's stats-in-log. Returns the live
    * manifest (one row per live data file) for
    * [[DataSkipping.selectFiles]]-style pruning; [[skipRead]] is the
    * packaged read path. The cols hash keys the cache so different
    * stat-column sets never collide. Stats of vacuumed dirs are
    * reclaimed by [[vacuum]]. */
  def statsManifest(spark: SparkSession, dir: String, statCols: Seq[String],
                    version: Option[Int] = None): DataFrame = {
    require(statCols.nonEmpty, "statsManifest needs at least one stat column")
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, StatsDir))
    val colsHash = java.lang.Integer.toHexString(statCols.mkString(",").hashCode)
    val entries = liveDirs(spark, dir, v).map { d =>
      val name = d.stripPrefix(s"$DataDir/")
      (d, new Path(dir, s"$StatsDir/$name.$colsHash.parquet"))
    }
    fillDirCaches(entries.collect { case (d, sp) if !f.exists(sp) => () =>
      DataSkipping.buildManifest(spark, new Path(dir, d).toString, statCols)
        .write.mode("overwrite").parquet(sp.toString)
    })
    spark.read.parquet(entries.map(_._2.toString): _*)
  }

  /** Per-commit-dir KMV distinct sketch of `valueCol`, cached with the
    * [[statsManifest]] discipline (`_stats/<dir>.kmv-….parquet` —
    * immutable dirs ⇒ each commit is sketched exactly once, ever).
    * Because bottom-k sketches merge EXACTLY
    * ([[graft.ext.Sketches.kmvMerge]] bottom-k-of-union law), the fold
    * over per-dir sketches is bit-identical to sketching the whole
    * table — so a "distinct users over the last 90 days" question
    * against a 100 TB snapshot table reads ≤ k·|dirs| longs instead of
    * the table, and k new commits cost k small sketch jobs.
    * Returns one row: `(kmv array<long>, distinct_est)`. */
  def distinctSketch(spark: SparkSession, dir: String, valueCol: String,
                     k: Int = 256, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, StatsDir))
    val tag = s"kmv-$valueCol-$k"
    val entries = liveDirs(spark, dir, v).map { d =>
      val name = d.stripPrefix(s"$DataDir/")
      (d, new Path(dir, s"$StatsDir/$name.$tag.parquet"))
    }
    fillDirCaches(entries.collect { case (d, sp) if !f.exists(sp) => () =>
      graft.ext.Sketches.kmvSketch(
          spark.read.parquet(new Path(dir, d).toString)
            .select(org.apache.spark.sql.functions.lit(1).as("_g"),
              org.apache.spark.sql.functions.col(valueCol)),
          Seq("_g"), valueCol, k)
        .write.mode("overwrite").parquet(sp.toString)
    })
    val merged = graft.ext.Sketches.kmvMerge(
      Seq(spark.read.parquet(entries.map(_._2.toString): _*)), Seq("_g"), k)
    graft.ext.Sketches.kmvEstimate(merged, k).drop("_g")
  }

  /** Incremental quantile sketches over the table's live commit dirs —
    * the [[distinctSketch]] discipline for order statistics: each dir
    * is KLL-sketched ONCE into `_stats/<dir>.kll-<col>-<k>.parquet`
    * (k new commits = k sketch jobs, old dirs never re-read), the
    * ≤|dirs| serialized sketches fold on the driver (KLL's merge law —
    * the reason GK couldn't fill this role), and the requested
    * quantiles resolve from the merged ladder. Exact while the table
    * fits k (no compaction anywhere); O(n/k) rank error beyond.
    * Returns `(qi, value)` in the order the quantiles were given;
    * empty frame for an all-null column. */
  def quantileSketch(spark: SparkSession, dir: String, valueCol: String,
                     qs: Seq[Double], k: Int = 8192,
                     version: Option[Int] = None,
                     interpolate: Boolean = false): DataFrame = {
    import spark.implicits._
    require(qs.nonEmpty, "need at least one quantile")
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, StatsDir))
    val tag = s"kll-$valueCol-$k"
    val entries = liveDirs(spark, dir, v).map { d =>
      val name = d.stripPrefix(s"$DataDir/")
      (d, new Path(dir, s"$StatsDir/$name.$tag.parquet"))
    }
    fillDirCaches(entries.collect { case (d, sp) if !f.exists(sp) => () =>
      spark.read.parquet(new Path(dir, d).toString)
        .agg(graft.functions.GraftFunctions.kllSketch(spark,
          org.apache.spark.sql.functions.col(valueCol).cast("double"), k)
          .as("sketch"))
        .write.mode("overwrite").parquet(sp.toString)
    })
    val bufs = spark.read.parquet(entries.map(_._2.toString): _*).collect()
      .map(_.getAs[Array[Byte]]("sketch"))
      .map(graft.functions.KllQuantiles.Buf.deserialize(k, _))
      .filter(_.n > 0)
    if (bufs.isEmpty) Seq.empty[(Long, Double)].toDF("qi", "value")
    else {
      val merged = bufs.reduce { (a, b) => a.mergeIn(b); a }
      // one sketch, two read conventions: rank-⌈q·n⌉ (the x110 oracle)
      // or percentile's continuous interpolation (the x176 oracle) —
      // the cached per-commit blobs are shared because only the READ
      // differs
      val vals =
        if (interpolate) merged.quantilesCont(qs) else merged.quantiles(qs)
      qs.indices.map(i => (i.toLong, vals(i))).toDF("qi", "value")
    }
  }

  /** Incrementally-maintained IVF ANN index over the table's live
    * commit dirs — the [[distinctSketch]] discipline applied to vector
    * search. The coarse quantizer is fit ONCE (bounded-sample
    * [[graft.ext.IvfIndex.fit]], centroids cached under `_ann/` — a
    * sibling of `_stats` that [[vacuum]]'s stats reclamation cannot
    * eat), and each commit dir's rows are assigned to those fixed
    * centroids once, ever (`_stats/<dir>.ann-<tag>.parquet`, via the
    * narrow [[graft.ext.IvfIndex.assign]] argmin) — so k new commits
    * cost k bounded assignment jobs and the already-indexed data is
    * never re-read, where a from-scratch refresh re-assigns the whole
    * table. Returns an [[graft.ext.IvfIndex.Model]] whose `assigned`
    * unions the per-dir caches: every IvfIndex probe (topK / batchTopK
    * / batchTopKQuantized) runs against it unchanged, and with
    * probe-all the result is EXACT regardless of the quantizer — the
    * x118 oracle bridge.
    *
    * The per-dir cache tag embeds a content hash of the centroids: if
    * the cached quantizer is ever removed or re-fit, stale assignments
    * can never be silently reused (they re-key). Assignment caches of
    * vacuumed dirs are reclaimed by [[vacuum]] like any other stats
    * file. At 100 TB the caches ARE the index layout (the embedding
    * bytes relaid by cluster); production would additionally
    * `partitionBy(cluster)` each cache so probes prune partitions —
    * kept flat here because multi-root partition-discovery reads
    * require a shared basePath. */
  def annIndex(spark: SparkSession, dir: String, embCol: String,
               idCol: String, k: Int = 16, seed: Long = 42L,
               version: Option[Int] = None): graft.ext.IvfIndex.Model = {
    import graft.ext.IvfIndex
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, StatsDir))
    val annRoot = new Path(dir, "_ann")
    f.mkdirs(annRoot)
    val centPath = new Path(annRoot, s"centroids-$embCol-$k-$seed.parquet")
    val (centroids, fitRows) =
      if (!f.exists(centPath)) {
        val m = IvfIndex.fit(read(spark, dir, Some(v)), embCol, idCol, k, seed)
        import spark.implicits._
        m.centroids.toSeq.zipWithIndex
          .map { case (c, i) => (i, c.toSeq, m.fitRows) }
          .toDF("i", "c", "fit_rows")
          .write.mode("overwrite").parquet(centPath.toString)
        (m.centroids, m.fitRows)
      } else {
        val rows = spark.read.parquet(centPath.toString).orderBy("i").collect()
        (rows.map(_.getAs[scala.collection.Seq[Double]]("c").toArray),
          rows.head.getAs[Long]("fit_rows"))
      }
    val centHash = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val bytes = md.digest(
        centroids.map(_.mkString(",")).mkString(";").getBytes("UTF-8"))
      bytes.take(4).map("%02x".format(_)).mkString
    }
    val tag = s"ann-$embCol-$k-$centHash"
    val entries = liveDirs(spark, dir, v).map { d =>
      val name = d.stripPrefix(s"$DataDir/")
      (d, new Path(dir, s"$StatsDir/$name.$tag.parquet"))
    }
    fillDirCaches(entries.collect { case (d, sp) if !f.exists(sp) => () =>
      IvfIndex.assign(centroids,
          spark.read.parquet(new Path(dir, d).toString), embCol, idCol)
        .write.mode("overwrite").parquet(sp.toString)
    })
    IvfIndex.Model(centroids,
      spark.read.parquet(entries.map(_._2.toString): _*), fitRows)
  }

  /** Per-file bloom membership index over the table's live files, with
    * the same incremental per-commit-dir cache discipline as
    * [[statsManifest]] (`_stats/<dir>.bloom-<keyCol>-….parquet`) — the
    * point-lookup complement: hash-distributed keys make min/max bands
    * useless, the bloom says which files MIGHT hold a key. */
  def bloomManifest(spark: SparkSession, dir: String, keyCol: String,
                    expectedPerFile: Long = 1 << 20, fpp: Double = 0.03,
                    version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, dir))
    require(v > 0, s"table at $dir has no commits")
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir, StatsDir))
    val tag = s"bloom-$keyCol-$expectedPerFile-" +
      java.lang.Integer.toHexString(fpp.toString.hashCode)
    val entries = liveDirs(spark, dir, v).map { d =>
      val name = d.stripPrefix(s"$DataDir/")
      (d, new Path(dir, s"$StatsDir/$name.$tag.parquet"))
    }
    fillDirCaches(entries.collect { case (d, sp) if !f.exists(sp) => () =>
      DataSkipping.buildBloomManifest(spark, new Path(dir, d).toString,
          keyCol, expectedPerFile, fpp)
        .write.mode("overwrite").parquet(sp.toString)
    })
    spark.read.parquet(entries.map(_._2.toString): _*)
  }

  /** Bloom-pruned point lookup on the snapshot table — identical to
    * `read(...).filter(keyCol IN keys)`, I/O bounded by the files whose
    * membership index might hold a key (see
    * [[DataSkipping.pointSkipRead]]). */
  def pointSkipRead(spark: SparkSession, dir: String, keyCol: String,
                    keys: Seq[Long], expectedPerFile: Long = 1 << 20,
                    fpp: Double = 0.03,
                    version: Option[Int] = None): DataFrame = {
    val mani = bloomManifest(spark, dir, keyCol, expectedPerFile, fpp, version)
    val files = DataSkipping.selectFilesByKeys(mani, keys)
    val base =
      if (files.isEmpty) read(spark, dir, version).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(org.apache.spark.sql.functions.col(keyCol).isin(keys: _*))
  }

  /** Stats-pruned range read of the snapshot table: scan only the live
    * files whose min/max footprint overlaps `bands`, re-apply the full
    * predicate. Result is IDENTICAL to `read(...).filter(bands)` —
    * only the I/O differs (see [[DataSkipping.skipRead]]). */
  def skipRead(spark: SparkSession, dir: String,
               bands: Seq[DataSkipping.Band],
               version: Option[Int] = None): DataFrame = {
    val mani = statsManifest(spark, dir, bands.map(_.column).distinct, version)
    val files = DataSkipping.selectFiles(mani, bands)
    val base =
      if (files.isEmpty) read(spark, dir, version).limit(0)
      else spark.read.parquet(files: _*)
    base.filter(DataSkipping.bandFilter(bands))
  }

  /** Default vacuum grace period: matches Delta VACUUM's 7-day default
    * (and Iceberg's orphan-file convention). */
  val DefaultRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Drop manifests below `keepFromVersion` and delete data dirs no
    * surviving manifest references. Time travel below the floor is gone
    * after this. Returns the number of data dirs deleted.
    *
    * `retentionMs` is the safety margin against in-flight commits: the
    * protocol writes a commit's data dir BEFORE publishing its
    * manifest, so an unreferenced dir younger than the window may
    * belong to a committer that hasn't renamed yet — deleting it would
    * let that commit succeed pointing at vanished files. Only dirs (and
    * orphaned `.tmp-*` manifests from crashed committers) older than
    * the window are reclaimed. Set 0 ONLY when no writer can be
    * concurrent (tests, single-writer maintenance windows). */
  def vacuum(spark: SparkSession, dir: String, keepFromVersion: Int,
             retentionMs: Long = DefaultRetentionMs): Int = {
    val f = fs(spark, dir)
    val keep = versions(spark, dir).filter(_ >= keepFromVersion)
    require(keep.nonEmpty,
      s"vacuum($keepFromVersion) would delete every version of $dir")
    val referenced =
      keep.flatMap(v => liveDirs(spark, dir, v)).toSet
    versions(spark, dir).filter(_ < keepFromVersion)
      .foreach(v => f.delete(manifestPath(dir, v), false))
    val cutoff = System.currentTimeMillis() - retentionMs
    // crashed committers leave .tmp-* manifests that versionOf already
    // hides from readers; reclaim them once they age past the window
    val log = new Path(dir, LogDir)
    if (f.exists(log)) f.listStatus(log).iterator
      .filter(s => s.getPath.getName.startsWith(".tmp-") &&
        s.getModificationTime < cutoff)
      .foreach(s => f.delete(s.getPath, false))
    val dataRoot = new Path(dir, DataDir)
    val orphans =
      if (!f.exists(dataRoot)) Array.empty[Path]
      else f.listStatus(dataRoot)
        .filter(s => !referenced.contains(s"$DataDir/${s.getPath.getName}") &&
          s.getModificationTime < cutoff)
        .map(_.getPath)
    orphans.foreach(p => f.delete(p, true))
    // stats of vacuumed dirs are dead weight: a stats file's dir name
    // is everything before the first '.' (dir names never contain one)
    val statsRoot = new Path(dir, StatsDir)
    if (f.exists(statsRoot)) f.listStatus(statsRoot).iterator
      .filter { s =>
        val dirName = s.getPath.getName.takeWhile(_ != '.')
        !referenced.contains(s"$DataDir/$dirName") &&
          s.getModificationTime < cutoff
      }
      .foreach(s => f.delete(s.getPath, true))
    orphans.length
  }
}

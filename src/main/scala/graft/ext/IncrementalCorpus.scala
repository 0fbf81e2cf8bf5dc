package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transform-on-INGEST corpus curation — the incremental variant of
  * [[CorpusPipeline]]: an appended document batch flows
  * curate → decontaminate → near-dup-dedup-against-index and its
  * survivors land in an append-only accepted-corpus table, with
  * per-batch work O(delta), not O(corpus).
  *
  * The per-doc stages carry no corpus state by construction: curation
  * scores each document against a FROZEN broadcast vocabulary (the
  * caller freezes it at pipeline init — recomputing a top-K vocab per
  * batch would make early and late batches incomparable), and
  * decontamination checks each document against a fixed broadcast
  * benchmark-shingle set. The only cross-document stage — near-dup
  * dedup — runs against the persisted [[TextDedup.minhashIndex]] of
  * previously ACCEPTED docs ([[TextDedup.dedupAgainstIndex]]'s
  * direct-edge online contract: an accepted doc always beats a later
  * near-dup; within a batch the lower id wins), so a batch re-hashes
  * only its own text and the index grows by the batch's survivors.
  *
  * Durability follows [[graft.stream.IncrementalMv]]'s ledger: each
  * batch writes its survivors (and their index rows) into its OWN
  * `ingest_batch=<b>` directory and commits a marker file LAST.
  * Readers and the dedup index see only marker-committed batches, so
  * a crash at any landing leaves the state consistent and a replay of
  * the same `batchId` recomputes from exactly the committed prefix —
  * idempotent by construction (re-writing a batch directory whose
  * marker never landed is a full overwrite, and the inputs it derives
  * from are all committed state).
  *
  * Reference role: the reference's defining discipline is
  * transform-on-insert — MVs fire per insert block
  * (kickhouse DDL:229-233,447-470); this applies that discipline to
  * the LLM-curation chain instead of an aggregate.
  *
  * Scale shape at 100 TB: per batch —
  *  - curation: ONE narrow projection of the DELTA scores quality,
  *    language and repetition; the oov rate is the one aggregate
  *    (tokens ⋈ broadcast vocab, partial-aggregated on the id), and its
  *    passing ids filter the scored rows through a broadcast semi-join
  *    — no self-join of the delta;
  *  - one broadcast-semi-join decontamination pass over the curated
  *    rows;
  *  - the clean delta lands ONCE as parquet under the batch's
  *    `_graft_staging/<b>` dir, and the id-skip, the signature staging
  *    and the survivors write all scan it — the curate →
  *    decontaminate lineage runs once per batch, not once per consumer;
  *  - dedup of |delta| signatures against the persisted index (by
  *    default broadcast probes of the band table, so the index side is
  *    only scanned; corpus TEXT is never re-read);
  *  - delta-sized parquet writes (clean, signatures, docs, index,
  *    bands).
  * Nothing scales with the accepted corpus except the index scans,
  * which read thin columns of an append-only table.
  */
object IncrementalCorpus {

  /** Pipeline thresholds + dedup build parameters. `portableDedup`
    * swaps the kernel xxhash64 index path for the sha256 audit
    * spelling ([[TextDedup.portableMinhashDupPairs]], the x13
    * lineage): every hash reproducible cross-engine, so a DuckDB
    * oracle can replay the whole chain — at ~10× the hashing cost and
    * O(accepted + delta) re-hashing per batch (the audit pool is
    * re-built from text). Production ingestion keeps the default.
    * REPLAY PRECONDITION (shared with the x13 oracle): portable pairs
    * compute over the accepted∪batch POOL while a full-corpus replay
    * measures band buckets over every doc, so the two agree only while
    * no band bucket crosses `maxBucket` in either population — on a
    * boilerplate-heavy corpus where the cap binds, a replay must
    * restrict its bucket counts to the same pool. A binding cap fails
    * the correctness gate loudly (hash diff), never silently. */
  final case class Config(
    textCol: String, idCol: String,
    minQuality: Double = 0.5, maxDupNgramFrac: Double = 0.3,
    maxOovRate: Double = 0.6, maxContamination: Double = 0.2,
    decontaminateK: Int = 8,
    shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
    threshold: Double = 0.7, maxBucket: Int = 1000,
    portableDedup: Boolean = false,
    broadcastDedup: Boolean = true)

  private def commitsDir(root: String) =
    new Path(s"${root.stripSuffix("/")}/_graft_commits")
  private def commitPath(root: String, batchId: Long) =
    new Path(commitsDir(root), batchId.toString)
  private def docsDir(root: String) = s"${root.stripSuffix("/")}/docs"
  private def indexDir(root: String) = s"${root.stripSuffix("/")}/index"
  private def bandsDir(root: String) = s"${root.stripSuffix("/")}/bands"
  private def batchDir(base: String, b: Long) = s"$base/ingest_batch=$b"

  /** Test-only fault injection (the [[graft.stream.IncrementalMv]]
    * convention): `"post-docs"` fires after the survivors' parquet
    * landed but before the index rows, `"post-index"` after the index
    * write but before the band table, `"post-bands"` after every data
    * write but before the commit marker — the landings the marker
    * ledger defends. [[compact]] adds `"post-gen"` (generation written,
    * marker not yet committed) and `"post-compact-marker"` (marker
    * committed, folded dirs not yet retired). Default no-op. */
  private[graft] val faultHook =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](_ => ())
  private def fault(point: String): Unit = faultHook.get()(point)

  /** Marker-committed eviction ids under `root`, ascending — read-only
    * ledger introspection (markers are permanent, so this includes
    * evictions whose tombstone data a [[compact]] already retired).
    * Lets a builder that MUTATES a root decide replay-safely whether
    * its eviction step already ran. */
  def committedEvictionIds(spark: SparkSession, root: String): Seq[Long] =
    committedEvictions(spark, root)

  /** Marker-committed batch ids under `root`, ascending. */
  private def committedBatches(spark: SparkSession, root: String): Seq[Long] = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commitsDir(root))) Seq.empty
    else fs.listStatus(commitsDir(root))
      .map(_.getPath.getName.toLong).sorted.toSeq
  }

  private def evictDir(root: String) = s"${root.stripSuffix("/")}/evicted"
  private def evictCommitsDir(root: String) =
    new Path(s"${root.stripSuffix("/")}/_graft_evict_commits")
  private def genDir(root: String, c: Long) =
    s"${root.stripSuffix("/")}/gen/compact=$c"
  private def compactCommitsDir(root: String) =
    new Path(s"${root.stripSuffix("/")}/_graft_compact_commits")

  /** A compaction's fold manifest — what its generation superseded:
    * the batch ids whose data dirs it folded, the eviction ids whose
    * tombstones it applied, and the prior generations it replaced. The
    * manifest IS the compact marker's content (rename-committed, so a
    * reader can never observe a partial manifest). */
  private final case class CompactManifest(
    batches: Set[Long], evicts: Set[Long], gens: Set[Long])

  private def committedCompactions(spark: SparkSession,
                                   root: String): Seq[Long] = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(compactCommitsDir(root))) Seq.empty
    else fs.listStatus(compactCommitsDir(root))
      .map(_.getPath.getName).filterNot(_.startsWith("."))
      .map(_.toLong).sorted.toSeq
  }

  private def readManifest(spark: SparkSession, root: String,
                           c: Long): CompactManifest = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(compactCommitsDir(root), c.toString))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val rows = text.linesIterator.filter(_.contains(":")).toSeq
      .map { l => val Array(k, v) = l.split(":", 2); (k, v.toLong) }
    CompactManifest(
      rows.collect { case ("batch", b) => b }.toSet,
      rows.collect { case ("evict", e) => e }.toSet,
      rows.collect { case ("gen", g) => g }.toSet)
  }

  /** The newest committed compaction (its generation holds everything
    * its manifest folded), or None for a never-compacted root. */
  private def latestCompaction(spark: SparkSession,
                               root: String): Option[(Long, CompactManifest)] =
    committedCompactions(spark, root).lastOption
      .map(c => (c, readManifest(spark, root, c)))
  private def committedEvictions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(evictCommitsDir(root))) Seq.empty
    else fs.listStatus(evictCommitsDir(root))
      .map(_.getPath.getName.toLong).sorted.toSeq
  }

  /** Committed eviction tombstones — CANONICAL columns `(id,
    * ingest_batch)` regardless of the caller's `idCol` ([[evict]]
    * canonicalizes at write time, so readers never depend on the
    * corpus schema). Eviction MARKERS are a permanent ledger (replay
    * suppression); a marker whose DATA dir was retired by [[compact]]
    * subtracts nothing and is skipped here. Empty when no eviction
    * ever committed. */
  private def evictedIds(spark: SparkSession,
                         root: String): Option[DataFrame] = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = committedEvictions(spark, root)
      .map(e => s"${evictDir(root)}/evict=$e")
      .filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) None
    else {
      // fail with the remedy, not an unresolved-column error: id-only
      // tombstones (the pre-batch-keyed format) cannot be interpreted
      // safely — an id alone no longer identifies a physical row.
      // EACH dir is checked (footer-only read): a merged-read check
      // would take its schema from the lexicographically first dir and
      // let a legacy dir's rows through as ingest_batch = NULL, which
      // the anti-join never matches — silent un-eviction
      dirs.foreach { d =>
        require(spark.read.parquet(d).columns.contains("ingest_batch"),
          s"IncrementalCorpus: id-only (pre-batch-keyed) eviction " +
            s"tombstones under $d — re-commit them under " +
            "a new evictId with an ingest_batch column (readAccepted " +
            "shows each id's batch), or rebuild the root")
      }
      Some(spark.read.parquet(dirs: _*)
        .select(col("id"), col("ingest_batch")))
    }
  }

  /** Subtract committed evictions from an accepted-side frame — an
    * anti-join on two thin broadcast-sized columns, skipped entirely
    * while no eviction has ever committed (the common case pays one
    * directory existence check). Tombstones key by `(id,
    * ingest_batch)`: they target the PHYSICAL row that was accepted,
    * so a later batch legitimately re-introducing an evicted id is
    * visible (its row carries a different batch id) and is judged
    * fresh against the bench and the dedup index. `df` must carry
    * `idCol` and `ingest_batch`. */
  private def minusEvicted(df: DataFrame, spark: SparkSession,
                           root: String, idCol: String): DataFrame =
    evictedIds(spark, root) match {
      case None => df
      case Some(ev) => df.join(
        ev.select(col("id").as("_graft_evicted_id"),
          col("ingest_batch").as("_graft_evicted_batch")),
        df(idCol) === col("_graft_evicted_id") &&
          df("ingest_batch") === col("_graft_evicted_batch"), "left_anti")
    }

  /** Committed state of one table family (`docs` / `index` / `bands`),
    * BEFORE eviction subtraction: the latest generation (if any
    * compaction committed) unioned with the batch dirs the generation
    * did not fold. None when nothing is committed at all. Every read
    * path carries `ingest_batch` as a long — from the directory layout
    * for batch dirs and partitioned generations, from the data column
    * for merged generations. */
  private def readFamily(spark: SparkSession, root: String,
                         family: String): Option[DataFrame] = {
    val base = s"${root.stripSuffix("/")}/$family"
    val committed = committedBatches(spark, root)
    def batchRead(bs: Seq[Long]) = spark.read.option("basePath", base)
      .parquet(bs.map(b => batchDir(base, b)): _*)
      .withColumn("ingest_batch", col("ingest_batch").cast("long"))
    latestCompaction(spark, root) match {
      case None =>
        if (committed.isEmpty) None else Some(batchRead(committed))
      case Some((c, m)) =>
        val gen = spark.read.parquet(s"${genDir(root, c)}/$family")
          .withColumn("ingest_batch", col("ingest_batch").cast("long"))
        val live = committed.filterNot(m.batches)
        Some(if (live.isEmpty) gen
             else gen.unionByName(batchRead(live)))
    }
  }

  /** The accepted corpus: every marker-committed batch's survivors
    * (folded through the latest compaction, if any) MINUS committed
    * evictions, schema `(idCol, textCol, lang_guess, ingest_batch)` —
    * the batch id rides in from the directory layout as a partition
    * column, so per-batch slices are partition-pruned scans (a
    * `mergeBatches` compaction trades that pruning for fewer files;
    * row-group stats still skip). Callers that only slice by batch and
    * never project text still get column pruning (parquet). */
  def readAccepted(spark: SparkSession, root: String): DataFrame =
    readAccepted(spark, root, Config("", ""))
  def readAccepted(spark: SparkSession, root: String,
                   cfg0: Config): DataFrame = {
    val df = readFamily(spark, root, "docs").getOrElse(
      throw new IllegalArgumentException(
        s"IncrementalCorpus: no committed batches under $root"))
    // tombstones are stored canonical (id, ingest_batch); the docs-side
    // anti-join keys by the layout's own id column (the first
    // non-reserved column is idCol by the applyDelta write contract)
    val idCol = if (cfg0.idCol.nonEmpty) cfg0.idCol else df.columns.head
    minusEvicted(df, spark, root, idCol)
  }

  /** The committed dedup index ([[TextDedup.minhashIndex]] rows of
    * every accepted doc, minus evicted ids — an evicted doc must stop
    * suppressing its near-dups, which re-face the CURRENT benchmark at
    * ingest time); empty-but-typed when nothing is committed. */
  private def committedIndex(spark: SparkSession, root: String,
                             cfg: Config, like: DataFrame): DataFrame =
    readFamily(spark, root, "index") match {
      case None =>
        TextDedup.minhashIndex(like.limit(0), cfg.textCol, cfg.idCol,
          cfg.shingleK, cfg.numHashes)
      // the schema dedupAgainstIndex validates stays (id, shh, sig)
      case Some(df) => minusEvicted(df, spark, root, "id")
        .drop("ingest_batch")
    }

  /** The committed pre-exploded band table ([[TextDedup.bandRows]] of
    * every accepted doc, minus evicted rows) — the thin side table
    * [[TextDedup.dedupAgainstBandIndex]] probes with broadcast joins so
    * the per-batch exchange carries O(delta), not O(index). Persisted
    * per batch by [[applyDelta]] (kernel mode) next to the index. */
  private def committedBands(spark: SparkSession, root: String,
                             cfg: Config, like: DataFrame): DataFrame =
    readFamily(spark, root, "bands") match {
      case None =>
        TextDedup.bandRows(
          TextDedup.minhashIndex(like.limit(0), cfg.textCol, cfg.idCol,
            cfg.shingleK, cfg.numHashes), cfg.numHashes, cfg.bands)
      case Some(df) => minusEvicted(df, spark, root, "id")
        .drop("ingest_batch")
    }

  /** PURE retroactive-contamination sweep — the read a curation team
    * runs when a NEW benchmark lands: every currently-accepted doc's
    * 8-gram (k = `cfg.decontaminateK`) overlap against `newBench`,
    * filtered to the docs the current `cfg.maxContamination` bar would
    * now evict. One broadcast-semi-join scan of accepted text (the
    * x20/overlapProfile shape); NO state mutation — pair with
    * [[evict]] to commit the verdict. Output:
    * `(idCol, ingest_batch, contamination)`. */
  def retroContamination(spark: SparkSession, root: String, cfg: Config,
                         newBench: DataFrame,
                         benchTextCol: String): DataFrame = {
    val acc = readAccepted(spark, root, cfg)
    Decontaminate.overlapProfile(acc, cfg.textCol, cfg.idCol,
        newBench, benchTextCol, k = cfg.decontaminateK)
      .select(col("doc_id").as(cfg.idCol), col("contamination"))
      .filter(col("contamination") > cfg.maxContamination)
      .join(acc.select(col(cfg.idCol), col("ingest_batch")), Seq(cfg.idCol))
      .select(col(cfg.idCol), col("ingest_batch"), col("contamination"))
  }

  /** Commit an eviction: the rows leave [[readAccepted]] AND the dedup
    * index (their near-dups are judged against the current benchmark
    * at their own ingest time, not suppressed by a doc that is gone).
    * `ids` must carry `cfg.idCol` AND `ingest_batch` — a tombstone
    * targets the PHYSICAL accepted row `(id, ingest_batch)`, which is
    * exactly [[retroContamination]]'s output shape. Keying by the pair
    * (not the bare id) means a LATER batch may legitimately
    * re-introduce an evicted id: the new row carries a new batch id,
    * misses every tombstone, and is judged fresh against the bench and
    * the (evictee-free) dedup index — re-ingestion is a first-class
    * path, not a silent swallow. Tombstones are written with CANONICAL
    * column names `(id, ingest_batch)` whatever `cfg.idCol` is, so
    * docs-side and index-side subtraction both resolve regardless of
    * the corpus schema. Append-only under `evicted/evict=<evictId>`
    * with the same marker-last idempotent ledger as ingest batches;
    * the docs and index files are never rewritten ([[compact]] folds
    * them later). Idempotent per `evictId`. */
  def evict(ids: DataFrame, evictId: Long, root: String,
            cfg: Config): Unit = {
    val spark = ids.sparkSession
    require(ids.columns.contains("ingest_batch"),
      "evict: tombstones key by (id, ingest_batch) — pass " +
        "retroContamination's output (or any frame carrying both columns)")
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(evictCommitsDir(root), evictId.toString)
    if (fs.exists(marker)) return
    ids.select(col(cfg.idCol).as("id"),
        col("ingest_batch").cast("long").as("ingest_batch"))
      .distinct()
      .write.mode("overwrite")
      .parquet(s"${evictDir(root)}/evict=$evictId")
    fs.create(marker, true).close()
  }

  /** Compaction: fold the root's committed state — every batch dir,
    * through every eviction tombstone — into ONE generation
    * (`gen/compact=<id>/{docs,index,bands}`), then retire the folded
    * data. Evicted rows are physically dropped (docs, index, AND
    * bands); batch attribution is preserved — as the `ingest_batch`
    * partition column by default, or as a plain data column with
    * `mergeBatches = true`, which merges a years-long ingest's
    * thousands of small per-batch dirs into a handful of files (the
    * trade: per-batch dir pruning becomes row-group-stat skipping).
    * The reference analog is ReplacingMergeTree's merge-time collapse
    * (kickhouse DDL:37,143): logical deletes become physical at merge.
    *
    * LEDGER: batch and eviction MARKERS are permanent — a replayed
    * `applyDelta`/`evict` still short-circuits after its data was
    * folded (readers skip tombstone markers whose data dir is gone).
    * The compact marker itself is rename-committed and CONTAINS the
    * fold manifest (folded batches / evictions / prior generations),
    * so a reader can never observe a half-written manifest. Readers
    * switch atomically at the marker: before it they read batch dirs +
    * tombstones; after it, the generation (+ any batches committed
    * since).
    *
    * CRASH LANDINGS (spec'd): a crash before the marker leaves a
    * partial generation that no reader looks at — replay overwrites
    * it. Retirement runs AFTER the marker, so a crash mid-GC would
    * orphan folded dirs forever if replays short-circuited at the
    * marker (the staging-dir lesson) — therefore a REPLAY of a
    * committed `compactId` re-runs the idempotent GC instead of
    * returning early. Reads are value-identical at every landing.
    *
    * Concurrency: single compactor at a time (the same single-writer
    * assumption as the ingest loop); `compactId` must exceed every
    * committed one — generations are ordered, the newest wins. The
    * marker switch is atomic for PLANNING a read, but a long-running
    * job that resolved its file listing over the old layout can hit
    * FileNotFound when retirement deletes those dirs mid-scan — such
    * readers must retry (or the operator delays compaction past them;
    * a retention-lag GC à la `Snapshots.vacuum` is a deliberate
    * non-feature here until a real deployment needs it).
    *
    * Scale: one pruned scan of accepted docs + index + bands, written
    * back delta... corpus-sized — compaction is the O(corpus) verb BY
    * DESIGN (run it rarely: when tombstone mass or dir count hurts);
    * every per-batch verb stays O(delta). No-op fast path: nothing to
    * fold (no evictions, ≤ 1 batch, no prior gen) returns without
    * writing. */
  def compact(spark: SparkSession, root: String, cfg: Config,
              compactId: Long, mergeBatches: Boolean = false): Unit = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(compactCommitsDir(root), compactId.toString)
    if (!fs.exists(marker)) {
      val committed = committedBatches(spark, root)
      require(committed.nonEmpty,
        s"IncrementalCorpus.compact: no committed batches under $root")
      val prevGens = committedCompactions(spark, root)
      require(prevGens.forall(_ < compactId),
        s"IncrementalCorpus.compact: compactId $compactId must exceed " +
          s"every committed compaction (${prevGens.mkString(",")})")
      val evs = committedEvictions(spark, root)
      // nothing worth folding → free no-op (the common ingest-only life)
      if (evs.isEmpty && prevGens.isEmpty && committed.size <= 1) return
      def writeGen(df: DataFrame, path: String): Unit = {
        // attribution as a data column (mergeBatches: files ~ one per
        // batch via hash partitioning on the batch id) or as the
        // partition column
        val w = df.repartition(col("ingest_batch")).write
        (if (mergeBatches) w else w.partitionBy("ingest_batch"))
          .mode("overwrite").parquet(path)
        // an EMPTY fold (e.g. a fully-evicted root) must stay readable:
        // a partitioned write of zero rows emits no part files at all,
        // so — detected from the listing, never by evaluating the fold
        // a second time — it lands as one schema-bearing empty file
        // with ingest_batch as a data column (the mergeBatches layout)
        if (!fs.listStatus(new Path(path)).map(_.getPath.getName)
            .exists(n => n.startsWith("ingest_batch=") || n.endsWith(".parquet")))
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
            .repartition(1).write.mode("overwrite").parquet(path)
      }
      writeGen(readAccepted(spark, root, cfg),
        s"${genDir(root, compactId)}/docs")
      // kernel roots fold the index too; the band table re-derives
      // FROM THE LANDED generation index (truncated lineage — the same
      // discipline as applyDelta's index-from-landed-docs)
      val kernelMode = fs.exists(new Path(indexDir(root))) ||
        latestCompaction(spark, root).exists(c =>
          fs.exists(new Path(s"${genDir(root, c._1)}/index")))
      if (kernelMode) {
        readFamily(spark, root, "index").foreach { idx =>
          writeGen(minusEvicted(idx, spark, root, "id"),
            s"${genDir(root, compactId)}/index")
        }
        val gi = spark.read.parquet(s"${genDir(root, compactId)}/index")
          .withColumn("ingest_batch", col("ingest_batch").cast("long"))
        // the cfg must match the root's build parameters or the
        // regenerated band table silently desynchronizes from what
        // applyDelta's batch side computes (near-dups ADMITTED, no
        // error) — pin it against the stored signature width
        require(cfg.numHashes % cfg.bands == 0,
          "IncrementalCorpus.compact: bands must divide numHashes")
        gi.select(size(col("sig")).as("n")).limit(1).collect()
          .headOption.foreach { row =>
            require(row.getInt(0) == cfg.numHashes,
              s"IncrementalCorpus.compact: stored index signatures " +
                s"have ${row.getInt(0)} lanes; cfg.numHashes is " +
                s"${cfg.numHashes} — compact must run with the root's " +
                "build parameters")
          }
        // ONE band-hash spelling (TextDedup.bandRows), attribution
        // joined back by id — an inline re-derivation would drift
        writeGen(TextDedup.bandRows(gi, cfg.numHashes, cfg.bands)
          .join(gi.select(col("id"), col("ingest_batch")), Seq("id"))
          .select(col("band"), col("bh"), col("id"), col("ingest_batch")),
          s"${genDir(root, compactId)}/bands")
      }
      fault("post-gen")
      // rename-commit the manifest: partial marker content is unreadable
      val manifest = (committed.map(b => s"batch:$b") ++
        evs.map(e => s"evict:$e") ++ prevGens.map(g => s"gen:$g"))
        .mkString("", "\n", "\n")
      val tmp = new Path(compactCommitsDir(root), s".tmp-$compactId")
      val out = fs.create(tmp, true)
      try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(tmp, marker),
        s"IncrementalCorpus.compact: marker rename failed for $compactId")
    }
    fault("post-compact-marker")
    // retirement — idempotent, re-run on every replay so a crash
    // mid-GC can never orphan folded dirs behind the marker
    val m = readManifest(spark, root, compactId)
    m.batches.foreach { b =>
      Seq(docsDir(root), indexDir(root), bandsDir(root))
        .foreach(base => fs.delete(new Path(batchDir(base, b)), true))
    }
    m.evicts.foreach(e =>
      fs.delete(new Path(s"${evictDir(root)}/evict=$e"), true))
    m.gens.foreach(g => fs.delete(new Path(genDir(root, g)), true))
  }

  /** Curate one batch against the frozen vocabulary —
    * [[CorpusPipeline.run]]'s stage-1 metrics and keep/cut rule with
    * `vocab` supplied instead of derived, so verdicts stay in lockstep
    * with the batch pipeline (and with the x182 oracle's curate CTEs;
    * IncrementalCorpusSpec pins equality with the join spelling).
    * Output: `(idCol, textCol, lang_guess)`.
    *
    * Plan: quality, language and repetition are per-row expressions, so
    * they score in ONE narrow projection of the delta; the oov rate is
    * the only cross-row step (tokens ⋈ broadcast vocab, one partial
    * aggregate on the id), and its passing ids — a thin, delta-sized
    * key set — filter the scored rows through a broadcast semi-join.
    * Each delta row yields at most one output row: rows sharing an id
    * are scored on their own text, and the oov rate stays per id
    * (pooled over the id's rows, the aggregate's grouping). */
  private[graft] def curate(delta: DataFrame, cfg: Config,
                            vocab: DataFrame): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)
    val oovOk = TextAnalysis.oovProfile(delta, cfg.textCol, cfg.idCol,
        vocab.select(col("token")))
      .filter(col("oov_rate") <= cfg.maxOovRate)
      .select(id.as("_graft_oov_ok"))
    // the repetition gate is repetitionProfile's 3-gram fraction; the
    // gram array is projected once (the shingle kernel tokenizes once)
    delta.select(id, text, TextDedup.tokens(text).as("_graft_toks"))
      .select(id, text, graft.functions.GraftFunctions.shingles(
        delta.sparkSession, col("_graft_toks"), 3).as("_graft_grams"))
      .select(id, text, TextAnalysis.qualityScore(text).as("quality"),
        TextAnalysis.langId(text).as("lang_guess"),
        TextAnalysis.dupFrac(col("_graft_grams")).as("dup_ngram_frac"))
      .filter(col("quality") >= cfg.minQuality &&
        col("dup_ngram_frac") <= cfg.maxDupNgramFrac &&
        col("lang_guess") =!= "und")
      .join(broadcast(oovOk), id === col("_graft_oov_ok"), "left_semi")
      .select(id, text, col("lang_guess"))
  }

  /** The sha256 audit-spelling dedup: [[TextDedup.dedupAgainstIndex]]'s
    * exact drop rule (already-accepted id → skip; edge to an accepted
    * doc → the batch member drops; batch-batch edge → the higher id
    * drops) re-derived from [[TextDedup.portableMinhashDupPairs]] over
    * accepted ∪ batch text, so a cross-engine oracle can replay it. */
  private def portableDedupAgainstAccepted(fresh0: DataFrame, cfg: Config,
                                           accepted: DataFrame,
                                           stagingPath: Option[String]): DataFrame = {
    val accIds = accepted.select(col(cfg.idCol).as("_graft_acc_id"))
    val fresh = fresh0.join(accIds,
      fresh0(cfg.idCol) === col("_graft_acc_id"), "left_anti")
    val pool = accepted.select(col(cfg.idCol), col(cfg.textCol))
      .unionByName(fresh.select(col(cfg.idCol), col(cfg.textCol)))
    // staged per batch (TextDedup's ingestion-loop lifecycle contract):
    // without it every applyDelta call would leak one MEMORY_AND_DISK
    // shingle-set cache for the JVM's lifetime
    val pairs = TextDedup.portableMinhashDupPairs(pool, cfg.textCol,
      cfg.idCol, cfg.shingleK, threshold = cfg.threshold,
      stagingPath = stagingPath)
    val flagged = pairs
      .join(accIds.select(col("_graft_acc_id").as("id_a"),
        lit(1).as("_graft_a_acc")), Seq("id_a"), "left")
      .join(accIds.select(col("_graft_acc_id").as("id_b"),
        lit(1).as("_graft_b_acc")), Seq("id_b"), "left")
    val dropped = flagged.select(
        when(col("_graft_a_acc").isNull && col("_graft_b_acc").isNull,
          col("id_b")) // batch-batch: higher id loses (id_a < id_b)
          .when(col("_graft_a_acc").isNotNull && col("_graft_b_acc").isNull,
            col("id_b")) // accepted beats the batch member
          .when(col("_graft_b_acc").isNotNull && col("_graft_a_acc").isNull,
            col("id_a"))
          .as("_graft_dup_id")) // accepted-accepted edges decide nothing
      .filter(col("_graft_dup_id").isNotNull).distinct()
    fresh.join(dropped, fresh(cfg.idCol) === col("_graft_dup_id"), "left_anti")
  }

  /** Flow one appended batch through the chain and commit its
    * survivors. Idempotent per `batchId` (marker ledger); see the
    * object doc for the landing analysis. `vocab` is the frozen
    * curation vocabulary (one `token` column); `bench` the fixed
    * decontamination benchmark. */
  def applyDelta(delta: DataFrame, batchId: Long, root: String,
                 cfg: Config, vocab: DataFrame,
                 bench: DataFrame, benchTextCol: String): Unit = {
    val spark = delta.sparkSession
    graft.functions.GraftFunctions.register(spark)
    graft.Guards.reserved(delta, "IncrementalCorpus.applyDelta",
      Seq("quality", "lang_guess", "dup_ngram_frac", "oov_rate",
        "ingest_batch"))
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = commitPath(root, batchId)
    if (fs.exists(marker)) return // replayed batch: already committed

    // per-doc stages — delta-sized, broadcast state only. The clean
    // delta feeds the id-skip, the signature staging and the survivors
    // write, so it lands ONCE under the batch's staging dir and every
    // consumer scans that parquet: the curate → decontaminate lineage
    // runs one time per batch, not once per consumer. A stale dir from
    // a crashed attempt is overwritten — it derives from the delta and
    // the fixed vocab/bench only, never from committed state.
    val staging = s"${root.stripSuffix("/")}/_graft_staging/$batchId"
    val clean = {
      val df = Decontaminate.decontaminate(curate(delta, cfg, vocab),
        cfg.textCol, cfg.idCol, bench, benchTextCol,
        k = cfg.decontaminateK, maxContamination = cfg.maxContamination)
      df.write.mode("overwrite").parquet(s"$staging/clean")
      // the known schema: no footer inference, and an all-cut delta
      // reads back as an empty frame, not a schema error
      spark.read.schema(df.schema).parquet(s"$staging/clean")
    }

    // cross-batch stage — against the COMMITTED index only (an
    // uncommitted predecessor is invisible, exactly like a reader)
    val kept =
      if (cfg.portableDedup)
        portableDedupAgainstAccepted(clean, cfg,
          if (committedBatches(spark, root).isEmpty) clean.limit(0)
          else readAccepted(spark, root),
          stagingPath = Some(s"$staging/psig"))
      // the default kernel path probes the persisted band table with
      // broadcast joins — per-batch exchange O(delta), the index side
      // only ever SCANNED (see dedupAgainstBandIndex's scaladoc); the
      // plain union-table spelling stays as the measured baseline and
      // the right call for a batch comparable to the corpus
      else if (cfg.broadcastDedup)
        TextDedup.dedupAgainstBandIndex(clean, cfg.textCol, cfg.idCol,
          committedIndex(spark, root, cfg, clean),
          committedBands(spark, root, cfg, clean), cfg.shingleK,
          cfg.numHashes, cfg.bands, cfg.threshold, cfg.maxBucket,
          stagingPath = Some(s"$staging/sig"))
      else TextDedup.dedupAgainstIndex(clean, cfg.textCol, cfg.idCol,
        committedIndex(spark, root, cfg, clean), cfg.shingleK,
        cfg.numHashes, cfg.bands, cfg.threshold, cfg.maxBucket,
        stagingPath = Some(s"$staging/sig"))

    // land survivors, then (kernel mode) their index rows FROM THE
    // LANDED PARQUET (truncated lineage: the dedup join runs once, and
    // the index derives from exactly the bytes readers will see), then
    // the marker. Portable mode never reads the kernel index — it
    // re-hashes accepted TEXT per batch by contract — so writing one
    // would be pure waste; a root is therefore BOUND to its dedup mode
    // (switching an existing root to kernel mode fails loudly on the
    // missing index dirs).
    // (each landed table reads back under the schema it was written
    // with — no footer-inference job per read)
    val docsPath = batchDir(docsDir(root), batchId)
    kept.write.mode("overwrite").parquet(docsPath)
    fault("post-docs")
    if (!cfg.portableDedup) {
      val idxPath = batchDir(indexDir(root), batchId)
      val idx = TextDedup.minhashIndex(
        spark.read.schema(kept.schema).parquet(docsPath), cfg.textCol,
        cfg.idCol, cfg.shingleK, cfg.numHashes)
      idx.write.mode("overwrite").parquet(idxPath)
      fault("post-index")
      // the thin band table, derived FROM THE LANDED INDEX (same
      // truncated-lineage discipline as the index-from-landed-docs
      // write above) — the broadcast-probe side of later batches
      TextDedup.bandRows(spark.read.schema(idx.schema).parquet(idxPath),
          cfg.numHashes, cfg.bands)
        .write.mode("overwrite").parquet(batchDir(bandsDir(root), batchId))
    } else fault("post-index")
    fault("post-bands")
    // staging is a pure recompute cache — drop it BEFORE the marker (a
    // crash between marker and a trailing delete would orphan the dir
    // forever, since replays short-circuit at the marker); the parent
    // goes too once no batch is staged (single writer: none in flight)
    fs.delete(new Path(staging), true)
    val stagingRoot = new Path(staging).getParent
    if (fs.exists(stagingRoot) && fs.listStatus(stagingRoot).isEmpty)
      fs.delete(stagingRoot, false)
    fs.create(marker, true).close()
  }
}

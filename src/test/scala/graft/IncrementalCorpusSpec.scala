package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.IncrementalCorpus

/** Transform-on-ingest corpus curation (x184/x185): per-batch stage
  * contracts on an engineered fixture (every victim named), the
  * index-only/direct-edge dedup contract, idempotent replay across
  * both crash landings, and stream==batch parity — the same deltas
  * through a real Structured Streaming foreachBatch loop (with a
  * checkpointed restart between batches) land the same accepted
  * corpus as direct applyDelta calls. */
class IncrementalCorpusSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // 20-token base sentence; near-dup chain by PREFIX length: 17 tokens
  // gives 3-shingle Jaccard 15/18 ≈ 0.83 vs the 20 (≥ 0.7 → dup), 14
  // tokens gives 12/15 = 0.8 vs the 17 but only 12/18 ≈ 0.67 vs the 20
  // (< 0.7 → NOT a dup of the 20) — the chain that separates
  // "near-dups an ACCEPTED doc" from "near-dups a DROPPED doc".
  private val d8Text = ("the quick brown fox jumps over the lazy dog " +
    "while the bright sun warms the quiet green field today now")
  private def prefix(n: Int): String = d8Text.split(" ").take(n).mkString(" ")

  private val enA = "the cat and the dog walk of the town is big with joy today"
  private val enB = "the sun and the moon of this sky is bright with light all day"
  private val enC = "the bird and the fish of this lake is calm with mist at dawn"
  private val contaminated =
    "the quiz and the exam of this bench is secret with answers here"

  private val benchDf = Seq(contaminated).toDF("text")
  // frozen vocab: every word of the fixture (so oov cuts nothing and
  // the curate victim is the quality rule, as engineered)
  private def vocabDf = (enA + " " + enB + " " + enC + " " + d8Text)
    .split(" ").distinct.toSeq.toDF("token")
  private val cfg = IncrementalCorpus.Config("t", "id",
    decontaminateK = 8)

  private val batch0 = Seq(
    1L -> enA,           // kept
    3L -> enB,           // kept
    4L -> "zzz",         // curation cuts (quality < 0.5)
    5L -> contaminated)  // decontamination cuts (== the benchmark)
  private val batch1 = Seq(
    6L -> enA.split(" ").drop(1).mkString(" "), // near-dups ACCEPTED 1 → drops
    7L -> enC,            // kept
    8L -> d8Text,         // kept (20 tokens)
    9L -> prefix(17))     // near-dups 8 within the batch → higher id drops
  private val batch2 = Seq(
    11L -> prefix(14))    // near-dups only the DROPPED 9 → KEPT (index
                          // holds accepted docs only — the online contract)

  private def applyAll(root: String, c: IncrementalCorpus.Config = cfg): Unit = {
    IncrementalCorpus.applyDelta(batch0.toDF("id", "t"), 0, root, c,
      vocabDf, benchDf, "text")
    IncrementalCorpus.applyDelta(batch1.toDF("id", "t"), 1, root, c,
      vocabDf, benchDf, "text")
    IncrementalCorpus.applyDelta(batch2.toDF("id", "t"), 2, root, c,
      vocabDf, benchDf, "text")
  }

  private def accepted(root: String): Set[(Long, Long)] =
    IncrementalCorpus.readAccepted(spark, root)
      .select(col("id"), col("ingest_batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val expected = Set(
    (1L, 0L), (3L, 0L),           // batch0 survivors
    (7L, 1L), (8L, 1L),           // batch1: 6 lost to accepted 1, 9 to 8
    (11L, 2L))                    // batch2: 9 was never indexed

  test("per-batch stage contracts, batch attribution, and the " +
    "index-only direct-edge dedup rule (x184)") {
    val root = Files.createTempDirectory("graft-inc-corpus").toString
    try {
      applyAll(root)
      assert(accepted(root) == expected)
      val acc = IncrementalCorpus.readAccepted(spark, root)
      assert(acc.columns.toSet ==
        Set("id", "t", "lang_guess", "ingest_batch"))
      // the per-batch slice is a partition-pruned scan of one batch dir
      val plan = acc.filter(col("ingest_batch") === 1)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("ingest_batch=0") ||
        plan.contains("PartitionFilters"),
        "per-batch read should prune other batch partitions")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("replayed batch ids are no-ops, and a crash at either landing " +
    "(post-docs / post-index) replays to the same accepted corpus") {
    val root = Files.createTempDirectory("graft-inc-replay").toString
    try {
      applyAll(root)
      // replay every batch: markers short-circuit, nothing changes
      applyAll(root)
      assert(accepted(root) == expected)
      // crash landings on a FRESH root: arm a fail-once hook per point
      Seq("post-docs", "post-index", "post-bands").foreach { point =>
        val r2 = Files.createTempDirectory(s"graft-inc-$point").toString
        try {
          IncrementalCorpus.applyDelta(batch0.toDF("id", "t"), 0, r2, cfg,
            vocabDf, benchDf, "text")
          val once = new java.util.concurrent.atomic.AtomicBoolean(true)
          IncrementalCorpus.faultHook.set(p =>
            if (p == point && once.getAndSet(false))
              throw new RuntimeException(s"injected crash at $point"))
          try {
            intercept[RuntimeException] {
              IncrementalCorpus.applyDelta(batch1.toDF("id", "t"), 1, r2,
                cfg, vocabDf, benchDf, "text")
            }
          } finally IncrementalCorpus.faultHook.set(_ => ())
          // marker never landed → the batch is invisible to readers…
          assert(accepted(r2) == expected.filter(_._2 == 0L),
            s"uncommitted batch visible after $point crash")
          // …and the replay lands it exactly once
          IncrementalCorpus.applyDelta(batch1.toDF("id", "t"), 1, r2, cfg,
            vocabDf, benchDf, "text")
          IncrementalCorpus.applyDelta(batch2.toDF("id", "t"), 2, r2, cfg,
            vocabDf, benchDf, "text")
          assert(accepted(r2) == expected, s"replay after $point diverged")
        } finally org.apache.commons.io.FileUtils
          .deleteQuietly(new java.io.File(r2))
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("portable (sha256 audit) dedup mode enforces the same online " +
    "drop rule on exact duplicates and re-ingested ids") {
    // exact copies share EVERY band under any hash family, so this
    // fixture is banding-recall-independent (the near-dup recall
    // equivalence between hash families is not a contract — x12/x13)
    val root = Files.createTempDirectory("graft-inc-portable").toString
    val pcfg = cfg.copy(portableDedup = true)
    try {
      IncrementalCorpus.applyDelta(
        Seq(1L -> enA, 3L -> enB).toDF("id", "t"), 0, root, pcfg,
        vocabDf, benchDf, "text")
      IncrementalCorpus.applyDelta(Seq(
        1L -> enC,  // id already accepted → re-ingestion skip
        6L -> enA,  // exact copy of accepted 1 → drops
        7L -> enC,  // kept
        8L -> enB,  // exact copy of accepted 3 → drops
        9L -> enC   // exact copy of LOWER batch id 7 → drops
      ).toDF("id", "t"), 1, root, pcfg, vocabDf, benchDf, "text")
      assert(accepted(root) == Set((1L, 0L), (3L, 0L), (7L, 1L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("retroactive decontamination + eviction: a new benchmark evicts " +
    "accepted docs, the tombstones hide them from reads AND the dedup " +
    "index, and a later near-dup of the evictee is judged fresh (x186)") {
    val root = Files.createTempDirectory("graft-inc-evict").toString
    try {
      applyAll(root)
      assert(accepted(root) == expected)
      // a NEW benchmark lands: it contains doc 7's text (enC) — the
      // pure sweep must flag exactly doc 7 with contamination 1.0
      val newBench = Seq(enC).toDF("text")
      val sweepDf = IncrementalCorpus.retroContamination(spark, root, cfg,
        newBench, "text")
      val sweep = sweepDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(sweep.toSeq == Seq((7L, 1L, 1.0)))
      // sweep is PURE — nothing changed until evict commits; its output
      // shape IS evict's input shape (tombstones key by id AND batch)
      assert(accepted(root) == expected)
      IncrementalCorpus.evict(sweepDf, 0L, root, cfg)
      // idempotent replay of the same evictId
      IncrementalCorpus.evict(sweepDf, 0L, root, cfg)
      assert(accepted(root) == expected - ((7L, 1L)))
      // a frame missing the batch column fails fast
      intercept[IllegalArgumentException] {
        IncrementalCorpus.evict(Seq(7L).toDF("id"), 1L, root, cfg)
      }
      // the evictee no longer suppresses near-dups: a new delta with
      // doc 7's exact text (vs the OLD bench, which never matched enC)
      // is judged against the evicted index and ACCEPTED
      IncrementalCorpus.applyDelta(Seq(12L -> enC).toDF("id", "t"), 3,
        root, cfg, vocabDf, benchDf, "text")
      assert(accepted(root) == expected - ((7L, 1L)) + ((12L, 3L)))
      // tombstones key (id, batch): the SAME id re-ingested by a later
      // batch is a fresh physical row — visible, judged against the
      // current index (12's text == enC is already accepted again, so
      // re-ingesting id 7 now DROPS as a near-dup of 12, while a
      // distinct text lands)
      IncrementalCorpus.applyDelta(Seq(7L -> d8Text).toDF("id", "t"), 4,
        root, cfg, vocabDf, benchDf, "text")
      // d8Text is already accepted as id 8 → the re-ingested 7 drops;
      // prove the REINTRODUCTION path with a text nothing suppresses
      assert(accepted(root) == expected - ((7L, 1L)) + ((12L, 3L)))
      IncrementalCorpus.evict(Seq((12L, 3L)).toDF("id", "ingest_batch"),
        1L, root, cfg)
      IncrementalCorpus.applyDelta(Seq(7L -> enC).toDF("id", "t"), 5,
        root, cfg, vocabDf, benchDf, "text")
      assert(accepted(root) ==
        expected - ((7L, 1L)) + ((7L, 5L)),
        "an evicted id re-ingested by a later batch must be visible " +
          "under its new batch attribution")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("eviction tombstones are canonical: a corpus whose id column is " +
    "not literally 'id' evicts and re-reads without column errors") {
    val root = Files.createTempDirectory("graft-inc-idcol").toString
    val c2 = cfg.copy(idCol = "docid")
    try {
      IncrementalCorpus.applyDelta(
        Seq(1L -> enA, 3L -> enB).toDF("docid", "t"), 0, root, c2,
        vocabDf, benchDf, "text")
      IncrementalCorpus.applyDelta(
        Seq(7L -> enC).toDF("docid", "t"), 1, root, c2,
        vocabDf, benchDf, "text")
      IncrementalCorpus.evict(
        Seq((3L, 0L)).toDF("docid", "ingest_batch"), 0L, root, c2)
      def acc(): Set[(Long, Long)] =
        IncrementalCorpus.readAccepted(spark, root, c2)
          .select(col("docid"), col("ingest_batch"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(acc() == Set((1L, 0L), (7L, 1L)))
      // the index-side subtraction (the r16 unresolved-column landing):
      // the next kernel-mode applyDelta must resolve — and the evicted
      // doc must no longer suppress its exact copy
      IncrementalCorpus.applyDelta(
        Seq(9L -> enB).toDF("docid", "t"), 2, root, c2,
        vocabDf, benchDf, "text")
      assert(acc() == Set((1L, 0L), (7L, 1L), (9L, 2L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("compact folds tombstones into one generation: reads identical, " +
    "replayed verbs stay no-ops, folded dirs retired, the dedup index " +
    "stays evictee-free, and later ingest composes") {
    val root = Files.createTempDirectory("graft-inc-compact").toString
    try {
      applyAll(root)
      IncrementalCorpus.evict(
        Seq((7L, 1L)).toDF("id", "ingest_batch"), 0L, root, cfg)
      val before = accepted(root)
      assert(before == expected - ((7L, 1L)))
      IncrementalCorpus.compact(spark, root, cfg, 0L)
      assert(accepted(root) == before, "compaction must preserve reads")
      val acc = IncrementalCorpus.readAccepted(spark, root)
      assert(acc.columns.toSet ==
        Set("id", "t", "lang_guess", "ingest_batch"))
      // folded data retired; the marker ledgers are permanent
      def exists(p: String) = new java.io.File(s"$root/$p").exists
      assert(!exists("docs/ingest_batch=0") && !exists("docs/ingest_batch=1"))
      assert(!exists("index/ingest_batch=0") && !exists("bands/ingest_batch=0"))
      assert(!exists("evicted/evict=0"))
      assert(exists("_graft_commits/0") && exists("_graft_evict_commits/0"))
      // replayed verbs short-circuit at their (kept) markers
      applyAll(root)
      IncrementalCorpus.evict(
        Seq((7L, 1L)).toDF("id", "ingest_batch"), 0L, root, cfg)
      assert(accepted(root) == before)
      // compact replay is a no-op GC pass
      IncrementalCorpus.compact(spark, root, cfg, 0L)
      assert(accepted(root) == before)
      // the generation keeps per-batch slices partition-pruned
      val plan = acc.filter(col("ingest_batch") === 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan)
      // the folded index dropped the evictee: its exact text is judged
      // fresh by the next batch (evict-visibility survives compaction)
      IncrementalCorpus.applyDelta(Seq(12L -> enC).toDF("id", "t"), 3,
        root, cfg, vocabDf, benchDf, "text")
      assert(accepted(root) == before + ((12L, 3L)))
      // a second compaction folds the first generation + the new batch
      IncrementalCorpus.evict(
        Seq((8L, 1L)).toDF("id", "ingest_batch"), 1L, root, cfg)
      IncrementalCorpus.compact(spark, root, cfg, 2L)
      assert(accepted(root) == before + ((12L, 3L)) - ((8L, 1L)))
      assert(!exists("gen/compact=0"), "superseded generation retired")
      assert(!exists("docs/ingest_batch=3"))
      // a NEW compaction with a stale (non-max) id fails loudly; a
      // replayed COMMITTED id is an idempotent GC pass, not an error
      intercept[IllegalArgumentException] {
        IncrementalCorpus.compact(spark, root, cfg, 1L)
      }
      IncrementalCorpus.compact(spark, root, cfg, 0L)
      assert(accepted(root) == before + ((12L, 3L)) - ((8L, 1L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("compact(mergeBatches = true) merges batch dirs into plain files " +
    "while preserving batch attribution as a column") {
    val root = Files.createTempDirectory("graft-inc-merge").toString
    try {
      applyAll(root)
      IncrementalCorpus.evict(
        Seq((7L, 1L)).toDF("id", "ingest_batch"), 0L, root, cfg)
      val before = accepted(root)
      IncrementalCorpus.compact(spark, root, cfg, 0L, mergeBatches = true)
      assert(accepted(root) == before)
      val genDocs = new java.io.File(s"$root/gen/compact=0/docs")
      assert(genDocs.exists)
      assert(!genDocs.listFiles().exists(_.getName.startsWith("ingest_batch=")),
        "merged generation must not keep per-batch dirs")
      // and ingest after a merged generation still composes
      IncrementalCorpus.applyDelta(Seq(12L -> enC).toDF("id", "t"), 3,
        root, cfg, vocabDf, benchDf, "text")
      assert(accepted(root) == before + ((12L, 3L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("compact crash landings: reads are value-identical at post-gen " +
    "and post-compact-marker, and the replay completes the fold") {
    Seq("post-gen", "post-compact-marker").foreach { point =>
      val root = Files.createTempDirectory(s"graft-inc-c-$point").toString
      try {
        applyAll(root)
        IncrementalCorpus.evict(
          Seq((7L, 1L)).toDF("id", "ingest_batch"), 0L, root, cfg)
        val before = accepted(root)
        val once = new java.util.concurrent.atomic.AtomicBoolean(true)
        IncrementalCorpus.faultHook.set(p =>
          if (p == point && once.getAndSet(false))
            throw new RuntimeException(s"injected crash at $point"))
        try {
          intercept[RuntimeException] {
            IncrementalCorpus.compact(spark, root, cfg, 0L)
          }
        } finally IncrementalCorpus.faultHook.set(_ => ())
        assert(accepted(root) == before,
          s"reads diverged after a $point crash")
        IncrementalCorpus.compact(spark, root, cfg, 0L)
        assert(accepted(root) == before, s"replay after $point diverged")
        assert(!new java.io.File(s"$root/docs/ingest_batch=0").exists,
          s"replay after $point did not retire folded dirs")
        assert(!new java.io.File(s"$root/evicted/evict=0").exists)
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(root))
    }
  }

  test("compact on a portable root folds docs only; the ingest-only " +
    "no-op fast path writes nothing") {
    val root = Files.createTempDirectory("graft-inc-cport").toString
    val pcfg = cfg.copy(portableDedup = true)
    try {
      IncrementalCorpus.applyDelta(
        Seq(1L -> enA, 3L -> enB).toDF("id", "t"), 0, root, pcfg,
        vocabDf, benchDf, "text")
      // single batch, no evictions, no prior gen → free no-op
      IncrementalCorpus.compact(spark, root, pcfg, 0L)
      assert(!new java.io.File(s"$root/gen").exists)
      assert(!new java.io.File(s"$root/_graft_compact_commits").exists)
      IncrementalCorpus.applyDelta(
        Seq(7L -> enC).toDF("id", "t"), 1, root, pcfg,
        vocabDf, benchDf, "text")
      IncrementalCorpus.evict(
        Seq((3L, 0L)).toDF("id", "ingest_batch"), 0L, root, pcfg)
      val before = IncrementalCorpus.readAccepted(spark, root)
        .select(col("id"), col("ingest_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before == Set((1L, 0L), (7L, 1L)))
      IncrementalCorpus.compact(spark, root, pcfg, 1L)
      val after = IncrementalCorpus.readAccepted(spark, root)
        .select(col("id"), col("ingest_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before)
      assert(!new java.io.File(s"$root/gen/compact=1/index").exists,
        "a portable root has no index to fold")
      // portable dedup after compaction: the evicted enB is judged fresh
      IncrementalCorpus.applyDelta(
        Seq(9L -> enB).toDF("id", "t"), 2, root, pcfg,
        vocabDf, benchDf, "text")
      val last = IncrementalCorpus.readAccepted(spark, root)
        .select(col("id"), col("ingest_batch"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(last == before + ((9L, 2L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("compact of a FULLY-EVICTED root stays readable (empty but " +
    "schema-ful generation), and later ingest revives it") {
    val root = Files.createTempDirectory("graft-inc-evall").toString
    try {
      applyAll(root)
      IncrementalCorpus.evict(
        expected.toSeq.toDF("id", "ingest_batch"), 0L, root, cfg)
      assert(accepted(root).isEmpty)
      IncrementalCorpus.compact(spark, root, cfg, 0L)
      // the empty fold must not strand the root: reads return zero
      // rows (not a schema error), and the folded dirs are retired
      assert(accepted(root).isEmpty)
      assert(!new java.io.File(s"$root/docs/ingest_batch=0").exists)
      // everything was evicted, so every text is novel again
      IncrementalCorpus.applyDelta(Seq(21L -> enA).toDF("id", "t"), 3,
        root, cfg, vocabDf, benchDf, "text")
      assert(accepted(root) == Set((21L, 3L)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("id-only legacy tombstones fail with the remedy, not an " +
    "unresolved-column error") {
    val root = Files.createTempDirectory("graft-inc-legacy").toString
    try {
      applyAll(root)
      // simulate a pre-batch-keyed eviction: id-only parquet + marker,
      // numbered so a NEW-format dir sorts lexicographically FIRST
      // ('evict=10' < 'evict=9') — a merged-schema check would take
      // its schema from the new dir, read the legacy rows back as
      // ingest_batch = NULL, and silently UN-evict them; the per-dir
      // check must still throw
      Seq(7L).toDF("id").write.parquet(s"$root/evicted/evict=9")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_graft_evict_commits"))
      fs.create(new org.apache.hadoop.fs.Path(
        s"$root/_graft_evict_commits/9"), true).close()
      IncrementalCorpus.evict(
        Seq((8L, 1L)).toDF("id", "ingest_batch"), 10L, root, cfg)
      val e = intercept[IllegalArgumentException] { accepted(root) }
      assert(e.getMessage.contains("id-only") &&
        e.getMessage.contains("re-commit"))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  /** The pre-single-pass curate spelling, kept as the reference: the
    * delta self-joined to three per-id profile frames (the x182
    * stage-1 shape) and filtered on the joined scores. */
  private def joinCurate(delta: org.apache.spark.sql.DataFrame,
                         c: IncrementalCorpus.Config,
                         vocab: org.apache.spark.sql.DataFrame) = {
    import graft.ext.TextAnalysis
    val id = col(c.idCol)
    val prof = TextAnalysis.profile(delta, c.textCol, c.idCol)
      .select(id, col("quality"), col("lang_guess"))
    val rep = TextAnalysis.repetitionProfile(delta, c.textCol, c.idCol)
      .select(col("doc_id").as(c.idCol), col("dup_ngram_frac"))
    val oov = TextAnalysis.oovProfile(delta, c.textCol, c.idCol,
      vocab.select(col("token"))).select(id, col("oov_rate"))
    delta.select(id, col(c.textCol))
      .join(prof, Seq(c.idCol)).join(rep, Seq(c.idCol))
      .join(oov, Seq(c.idCol))
      .filter(col("quality") >= c.minQuality &&
        col("dup_ngram_frac") <= c.maxDupNgramFrac &&
        col("lang_guess") =!= "und" && col("oov_rate") <= c.maxOovRate)
      .select(id, col(c.textCol), col("lang_guess"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("single-pass curate equals the three-frame join spelling on the " +
    "curation fixtures (engineered batches under two vocabs, documents)") {
    // the engineered batches under the full vocab (quality cut only) and
    // a narrow one (oov cuts too), plus the documents corpus under its
    // top-30 vocab (the x184 vocab rule)
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id").as("id"), col("text").as("t"))
    val docsVocab = graft.ext.TextAnalysis.tokenTopK(docs, "t", 30)
      .select(col("token"))
    val narrow = enA.split(" ").distinct.toSeq.toDF("token")
    val cases = Seq(
      ((batch0 ++ batch1 ++ batch2).toDF("id", "t"), vocabDf),
      ((batch0 ++ batch1 ++ batch2).toDF("id", "t"), narrow),
      (docs, docsVocab))
    cases.foreach { case (delta, vocab) =>
      val want = rows(joinCurate(delta, cfg, vocab))
      assert(rows(IncrementalCorpus.curate(delta, cfg, vocab)) == want)
      assert(want.nonEmpty && want.size < delta.count(),
        "fixture must both keep and cut")
    }
  }

  test("curate yields at most one row per delta row: duplicate ids are " +
    "scored row by row, never multiplied") {
    // id 1 arrives twice (same text) next to a unique id 3; the join
    // spelling pairs every copy with every profile row of its id
    // (2 × 2 × 2 = 8 rows), the single pass keeps exactly the 2 copies
    val delta = Seq(1L -> enA, 1L -> enA, 3L -> enB).toDF("id", "t")
    val ids = IncrementalCorpus.curate(delta, cfg, vocabDf)
      .select(col("id")).as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 1L, 3L))
    assert(joinCurate(delta, cfg, vocabDf).filter(col("id") === 1L)
      .count() == 8L)
  }

  test("a replay over a stale _graft_staging/<b>/clean equals a run that " +
    "never crashed, and no staging dir survives a commit") {
    def stagingGone(root: String) =
      !new java.io.File(s"$root/_graft_staging").exists
    val clean = Files.createTempDirectory("graft-inc-nocrash").toString
    val r2 = Files.createTempDirectory("graft-inc-stale").toString
    val portable = Files.createTempDirectory("graft-inc-pstage").toString
    try {
      applyAll(clean)
      assert(accepted(clean) == expected)
      assert(stagingGone(clean), "kernel-mode commit left staging behind")
      applyAll(portable, cfg.copy(portableDedup = true))
      assert(stagingGone(portable), "portable commit left staging behind")

      IncrementalCorpus.applyDelta(batch0.toDF("id", "t"), 0, r2, cfg,
        vocabDf, benchDf, "text")
      val once = new java.util.concurrent.atomic.AtomicBoolean(true)
      IncrementalCorpus.faultHook.set(p =>
        if (p == "post-docs" && once.getAndSet(false))
          throw new RuntimeException("injected crash at post-docs"))
      try {
        intercept[RuntimeException] {
          IncrementalCorpus.applyDelta(batch1.toDF("id", "t"), 1, r2, cfg,
            vocabDf, benchDf, "text")
        }
      } finally IncrementalCorpus.faultHook.set(_ => ())
      val staleClean = s"$r2/_graft_staging/1/clean"
      assert(new java.io.File(staleClean).exists,
        "the crashed attempt should have left its clean delta staged")
      // make the leftover WRONG (another batch's rows) — a replay that
      // reused it instead of recomputing would land the wrong survivors
      batch0.toDF("id", "t").withColumn("lang_guess", lit("en"))
        .write.mode("overwrite").parquet(staleClean)
      IncrementalCorpus.applyDelta(batch1.toDF("id", "t"), 1, r2, cfg,
        vocabDf, benchDf, "text")
      IncrementalCorpus.applyDelta(batch2.toDF("id", "t"), 2, r2, cfg,
        vocabDf, benchDf, "text")
      assert(accepted(r2) == accepted(clean))
      def texts(root: String) = rows(IncrementalCorpus.readAccepted(spark, root)
        .select(col("id"), col("t"), col("lang_guess"), col("ingest_batch")))
      assert(texts(r2) == texts(clean))
      assert(stagingGone(r2))
    } finally Seq(clean, r2, portable).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("a delta carrying a stage-internal column fails fast") {
    val root = Files.createTempDirectory("graft-inc-guard").toString
    try {
      val e = intercept[IllegalArgumentException] {
        IncrementalCorpus.applyDelta(
          Seq((1L, enA, "x")).toDF("id", "t", "lang_guess"), 0, root, cfg,
          vocabDf, benchDf, "text")
      }
      assert(e.getMessage.contains("lang_guess"))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(root))
  }

  test("stream==batch parity: foreachBatch deltas across a checkpointed " +
    "restart land the accepted corpus the direct calls land (ST10)") {
    val inDir = Files.createTempDirectory("graft-inc-in").toString
    val chk = Files.createTempDirectory("graft-inc-chk").toString
    val streamRoot = Files.createTempDirectory("graft-inc-stream").toString
    val directRoot = Files.createTempDirectory("graft-inc-direct").toString
    try {
      def runAvailable(): Unit = {
        val q = spark.readStream
          .schema(spark.read.parquet(inDir).schema)
          .parquet(inDir)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            IncrementalCorpus.applyDelta(df, id, streamRoot, cfg,
              vocabDf, benchDf, "text")
          }
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      // micro-batch 0: batch0 ∪ batch1 files present at first start
      (batch0 ++ batch1).toDF("id", "t").coalesce(1)
        .write.mode("append").parquet(inDir)
      runAvailable()
      // restart with new files → micro-batch 1 (exactly-once across
      // the restart is the checkpoint's job; applyDelta's ledger
      // covers the foreachBatch replay)
      batch2.toDF("id", "t").coalesce(1)
        .write.mode("append").parquet(inDir)
      runAvailable()

      IncrementalCorpus.applyDelta((batch0 ++ batch1).toDF("id", "t"), 0,
        directRoot, cfg, vocabDf, benchDf, "text")
      IncrementalCorpus.applyDelta(batch2.toDF("id", "t"), 1,
        directRoot, cfg, vocabDf, benchDf, "text")

      def byId(root: String): Map[Long, String] =
        IncrementalCorpus.readAccepted(spark, root)
          .select(col("id"), col("t")).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(byId(streamRoot) == byId(directRoot))
      // single-batch dedup of batch0 ∪ batch1 differs from the split
      // application (6 near-dups 1 in the SAME batch now): the direct
      // expectation derives from the same engineered chain
      assert(byId(directRoot).keySet == Set(1L, 3L, 7L, 8L, 11L))
    } finally Seq(inDir, chk, streamRoot, directRoot).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }
}

package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.ext.{IncrementalCorpus, TextAnalysis}
import graft.ingest.ValidateRoute
import graft.olap.Quality
import graft.schema.Schemas
import graft.stream.{IncrementalMv, MvAgg, Streaming}
import graft.warehouse.{Star, Transforms}

/** One benchmark run of one workload in a fresh JVM. Inputs were made by
  * `gen.py` before the JVM started; the result (metrics, checks, spans,
  * calibration) goes to `--out` as JSON for `run.py` to report.
  *
  *   java ... graftbench.Main --workload nightly_batch --seed 1 --seconds 10
  *     --trace 0 --cores 4 --input DIR --work DIR --bench DIR --t0-ms EPOCH
  *     --out result.json
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, input: String, work: String, bench: String,
                        t0Ms: Double, out: String)

  /** What a workload measured. `latMs` are per-operation latencies; `named`
    * are the workload's own end-to-end names (value, unit, better). */
  final case class Outcome(workS: Double, latMs: Seq[Double],
                           firstOpMs: Double, endMs: Double,
                           named: Seq[(String, Double, String, String)],
                           layer: Map[String, Double])

  final class Ctx(val spark: SparkSession, val a: Args, val spans: Spans,
                  val probe: Option[Probe], val streams: StreamProbe) {
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var ops = 0
    var opsFailed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    /** An operation that must not fail; a failure is counted, never timed
      * as a fast run, and re-thrown so later dependent stages do not run. */
    def op[T](name: String, req: String = "")(body: => T): T = {
      ops += 1
      try spans(name, req)(body)
      catch { case e: Throwable =>
        opsFailed += 1
        errors += s"$name: $e"
        throw e
      }
    }

    def check(name: String)(body: => (Boolean, String)): Unit = {
      ops += 1
      val (ok, detail) =
        try body catch { case e: Throwable => (false, s"threw $e") }
      if (!ok) opsFailed += 1
      checks += ((name, ok, detail))
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-specs")) { dumpSpecs(kv("dump-specs")); return }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("input"), kv("work"), kv("bench"),
      kv("t0-ms").toDouble, kv("out"))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    val streams = new StreamProbe
    spark.streams.addListener(streams)
    val probe = if (a.trace) Some(Probe.register(spark)) else None
    val c = new Ctx(spark, a, new Spans, probe, streams)
    val res = mutable.LinkedHashMap.empty[String, Any]
    try {
      Heap.reset()
      val o = a.workload match {
        case "nightly_batch" => nightlyBatch(c)
        case "olap_serve" => olapServe(c)
        case "stream_route" => streamRoute(c)
        case "corpus_ingest" => corpusIngest(c)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val layer = mutable.LinkedHashMap.empty[String, Double] ++= o.layer
      if (a.trace) {
        probe.get.settle()
        val s = probe.get.counts(o.firstOpMs, o.endMs)
        layer ++= Seq("spark.jobs" -> s.jobs, "spark.stages" -> s.stages,
          "spark.tasks" -> s.tasks, "spark.task_run_s" -> s.taskRunS,
          "spark.task_cpu_s" -> s.taskCpuS, "spark.gc_s" -> s.gcS,
          "spark.shuffle_write_mb" -> s.shuffleWriteMb, "spark.spill_mb" -> s.spillMb,
          "spark.peak_exec_mem_mb" -> s.peakExecMemMb, "spark.planning_ms" -> s.planningMs,
          "spark.outside_jobs_s" -> s.outsideJobsS, "jvm.heap_peak_mb" -> Heap.peakMb)
        for (name <- Seq("warehouse.dims", "warehouse.facts", "warehouse.hub")) {
          c.spans.named(name).foreach { sp =>
            val w = probe.get.counts(sp.start, sp.end)
            layer("warehouse.rows_written") = layer.getOrElse("warehouse.rows_written", 0.0) + w.rowsWritten
            layer("warehouse.files_written") = layer.getOrElse("warehouse.files_written", 0.0) + w.filesWritten
          }
        }
        res("spans") = c.spans.all.map { sp =>
          val sc = probe.get.counts(sp.start, sp.end)
          Map("id" -> sp.id, "name" -> sp.name, "req" -> sp.req, "parent" -> sp.parent,
            "start_ms" -> sp.start, "end_ms" -> sp.end, "wall_s" -> sp.seconds,
            "self_s" -> c.spans.selfSeconds(sp), "jobs" -> sc.jobs, "tasks" -> sc.tasks,
            "task_run_s" -> sc.taskRunS, "planning_ms" -> sc.planningMs,
            "outside_jobs_s" -> sc.outsideJobsS)
        }
      }
      val (cpuMs, sparkMs) = calibrate(spark, a.cores)
      layer("calib.cpu_ms") = cpuMs
      layer("calib.spark_ms") = sparkMs
      layer("trace.work_s") = o.workS
      res ++= Seq(
        "work_s" -> o.workS,
        "p50_ms" -> pct(o.latMs, 0.50), "p95_ms" -> pct(o.latMs, 0.95),
        "p99_ms" -> pct(o.latMs, 0.99), "n_lat" -> o.latMs.size,
        "setup_s" -> (o.firstOpMs - a.t0Ms) / 1000.0,
        "named" -> o.named.map { case (n, v, u, b) =>
          Map("name" -> n, "value" -> v, "unit" -> u, "better" -> b) },
        "layer" -> layer.toMap,
        "calibration" -> Map("cpu_ms" -> cpuMs, "spark_ms" -> sparkMs, "cores" -> a.cores))
    } catch { case e: Throwable =>
      c.errors += s"run: $e"
      e.printStackTrace()
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      res ++= Seq("ops" -> c.ops, "ops_failed" -> c.opsFailed,
        "checks" -> c.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "errors" -> c.errors.toList)
      writeJson(a.out, res.toMap)
      spark.stop()
    }
  }

  private val json = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m
  }
  private def readJson(path: String): Map[String, Any] =
    json.readValue[Map[String, Any]](new java.io.File(path))
  private def writeJson(path: String, v: Any): Unit =
    json.writeValue(new java.io.File(path), v)

  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      // linear interpolation between closest ranks
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  // ------------------------------------------------------------ ledger

  /** Per topic (validated, schema-rejected, parse-failed) row counts of a
    * pair of route outputs, plus whether any row arrived twice. */
  private def routeCounts(validated: DataFrame, rejected: DataFrame)
      : (Map[String, (Long, Long, Long)], Boolean) = {
    val name = regexp_extract(col("topic"), "^(validated|rejected)\\.soccer\\.(.+)$", 2)
    val v = validated.groupBy(name.as("t")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kind = when(get_json_object(col("value"), "$.parse_error") === "true", "p").otherwise("r")
    val r = rejected.groupBy(name.as("t"), kind.as("k")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val topics = v.keySet ++ r.keySet.map(_._1)
    val counts = topics.map(t => t -> (v.getOrElse(t, 0L), r.getOrElse((t, "r"), 0L),
      r.getOrElse((t, "p"), 0L))).toMap
    val dup = Seq(validated, rejected).exists(d =>
      d.count() != d.select(col("value")).distinct().count())
    (counts, dup)
  }

  private def ledgerCheck(c: Ctx, label: String, validated: DataFrame, rejected: DataFrame,
                          ledger: Map[String, Any]): (Long, Long, Long) = {
    val (got, dup) = routeCounts(validated, rejected)
    val want = ledger("topics").asInstanceOf[Map[String, Map[String, Any]]].map {
      case (t, m) => t -> (num(m("valid")).toLong, num(m("rejected")).toLong,
        num(m("parse_failed")).toLong) }.filter { case (_, (a, b, p)) => a + b + p > 0 }
    c.check(s"$label: routed rows per topic equal the ledger, no duplicates") {
      val diff = (want.keySet ++ got.keySet).filter(t => want.get(t) != got.get(t))
      (diff.isEmpty && !dup,
        if (dup) "duplicate rows at a sink"
        else diff.map(t => s"$t want=${want.get(t)} got=${got.get(t)}").mkString("; "))
    }
    got.values.foldLeft((0L, 0L, 0L)) { case ((a, b, p), (x, y, z)) => (a + x, b + y, p + z) }
  }

  private def num(x: Any): Double = x match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => other.toString.toDouble
  }

  // ------------------------------------------------------------ nightly_batch

  /** Prior nights' snapshot facts the nightly MV is pre-loaded with. */
  private def priorNights(spark: SparkSession, seed: Long, cores: Int): DataFrame =
    spark.range(0, 10000, 1, cores).select(
      timestamp_seconds(lit(1760378400L) + (col("id") % 3) * 86400L +
        pmod(col("id") * 7919L, lit(21600L))).as("snapshot_ts"),
      Star.sk(lit(4300L) + pmod(xxhash64(col("id"), lit(seed)), lit(40L))).as("league_sk"),
      pmod(xxhash64(col("id"), lit(seed + 1)), lit(9L)).as("total_score"))

  def nightlyBatch(c: Ctx): Outcome = {
    val spark = c.spark
    val w = c.a.work
    val raw = spark.read.parquet(s"${c.a.input}/messages")
    val ledger = readJson(s"${c.a.input}/ledger.json")
    val mvPath = s"$w/mv_league_goals"
    val prior = priorNights(spark, c.a.seed, c.a.cores)
    // setup: prior nights already in the MV
    IncrementalMv.applyAggDelta(prior, 0, mvPath, "snapshot_ts", "league_sk",
      col("total_score"), MvAgg.sumOf)
    val dirs = Seq("validated", "rejected", "wh", "hub").map(d => d -> s"$w/$d").toMap
    // each write or collect is one step; p50/p95 are over steps
    def step[T](body: => T): T = c.spans("batch.step")(body)
    def wr(df: DataFrame, name: String): Unit =
      step(df.write.mode("overwrite").parquet(s"${dirs("wh")}/$name"))
    def topic(name: String): DataFrame =
      spark.read.parquet(dirs("validated"))
        .filter(col("topic") === s"validated.soccer.$name")
        .select(from_json(col("value"), Schemas.byName(name).schema).as("m"))
        .select("m.*")

    val t0 = c.spans.nowMs
    val ok = scala.util.Try(c.spans("batch", "batch") {
      c.op("ingest.route") {
        val r = ValidateRoute.planSinglePass(raw, Schemas.specs)
        step(r.validated.write.mode("overwrite").parquet(dirs("validated")))
        step(r.rejected.write.mode("overwrite").parquet(dirs("rejected")))
      }
      c.op("warehouse.dims") {
        wr(Transforms.dimLeague(topic("league")), "dim_league")
        wr(Transforms.dimTeam(topic("team")), "dim_team")
        wr(Transforms.dimPlayer(topic("player")), "dim_player")
        wr(Transforms.dimVenue(topic("venue")), "dim_venue")
        wr(Transforms.dimChannel(topic("broadcast")), "dim_channel")
      }
      c.op("warehouse.facts") {
        val ev = topic("event")
        step(Transforms.writeMonthly(Transforms.factEvent(ev), "scheduled_utc",
          Seq("idEvent"), s"${dirs("wh")}/fact_event"))
        step(Transforms.writeMonthly(Transforms.factEventSnapshot(topic("live_score")),
          "snapshot_ts", Seq("idEvent", "snapshot_ts"), s"${dirs("wh")}/fact_event_snapshot"))
        wr(Transforms.factEventStat(topic("event.stats"), ev), "fact_event_stat")
        wr(Transforms.factTimeline(topic("event.timeline"), ev), "fact_timeline")
        wr(Transforms.factLineup(topic("event.lineup"), ev), "fact_lineup")
        wr(Transforms.factBroadcast(topic("broadcast")), "fact_broadcast")
        wr(Transforms.factHighlight(topic("event.highlights")), "fact_highlight")
      }
      c.op("warehouse.hub") {
        step(Transforms.vFactEventLatest(
          spark.read.parquet(s"${dirs("wh")}/fact_event").drop("part_month"))
          .write.mode("overwrite").parquet(dirs("hub")))
      }
      c.op("stream.mv_upkeep") {
        step(IncrementalMv.applyAggDelta(
          spark.read.parquet(s"${dirs("wh")}/fact_event_snapshot"), 1, mvPath,
          "snapshot_ts", "league_sk", col("total_score"), MvAgg.sumOf))
      }
      c.op("olap.deadletter") {
        val dead = spark.read.parquet(dirs("rejected")).select(
          col("topic").as("event_type"),
          to_timestamp(get_json_object(col("value"), "$.kafka_ts")).as("ts"),
          col("value").as("props"))
        step(Quality.countByType(dead).collect())
        step(Quality.hourlyCounts(dead).collect())
        step(Quality.avgPropsLen(dead).collect())
      }
    }).isSuccess
    val t1 = c.spans.nowMs
    val batchS = (t1 - t0) / 1000
    val rowsIn = num(ledger("rows"))

    val layer = mutable.LinkedHashMap[String, Double]("ingest.rows_in" -> rowsIn)
    if (ok) {
      val (v, r, p) = ledgerCheck(c, "nightly_batch",
        spark.read.parquet(dirs("validated")), spark.read.parquet(dirs("rejected")), ledger)
      layer ++= Seq("ingest.rows_validated" -> v, "ingest.rows_rejected" -> r,
        "ingest.parse_failed" -> p, "ingest.valid_ratio" -> v / rowsIn)
      c.check("nightly_batch: hub view has one row per generated event key") {
        val hub = spark.read.parquet(dirs("hub"))
        val n = hub.count()
        val keys = num(ledger("event_keys")).toLong
        (n == keys && hub.select("idEvent").distinct().count() == n, s"rows=$n keys=$keys")
      }
      val tonight = spark.read.parquet(s"${dirs("wh")}/fact_event_snapshot")
      c.check("nightly_batch: incremental MV equals a from-scratch groupBy") {
        val mv = IncrementalMv.readAgg(spark, mvPath, MvAgg.sumOf)
        val all = prior.unionByName(tonight.select("snapshot_ts", "league_sk", "total_score"))
        val scratch = all.groupBy(to_date(col("snapshot_ts")).as("day"),
          col("league_sk").cast("string").as("key"))
          .agg(sum(col("total_score").cast("double")).as("value"))
        val a = mv.exceptAll(scratch).count()
        val b = scratch.exceptAll(mv).count()
        (a == 0 && b == 0 && scratch.count() > 0, s"mv-only=$a scratch-only=$b")
      }
      layer("stream.mv_partitions_touched") =
        tonight.select(to_date(col("snapshot_ts"))).distinct().count().toDouble
    }
    for ((k, name) <- Seq("ingest.route_s" -> "ingest.route", "warehouse.dims_s" -> "warehouse.dims",
        "warehouse.facts_s" -> "warehouse.facts", "warehouse.hub_s" -> "warehouse.hub",
        "stream.mv_upkeep_s" -> "stream.mv_upkeep", "olap.deadletter_s" -> "olap.deadletter"))
      layer(k) = c.spans.total(name)
    val lat = c.spans.named("batch.step").map(_.seconds * 1000)
    Outcome(batchS, lat, t0, t1,
      Seq(("batch_s", batchS, "s", "lower"), ("batch_rows_per_s", rowsIn / batchS, "1/s", "higher")),
      layer.toMap)
  }

  // ------------------------------------------------------------ olap_serve

  /** The served rotation: a fixed mix of q-family (dead-letter OLAP over
    * `events`) and s-family (star reads) queries. */
  val serveQueries: Seq[String] = Seq(
    "q01_count_by_type", "q02_hourly_counts", "q05_user_error_pct", "q10_moving_avg",
    "s01_pricing_summary", "s03_latest_order_per_customer", "s09_shipping_priority",
    "s29_nation_volume")

  def olapServe(c: Ctx): Outcome = {
    val spark = c.spark
    val dir = s"${c.a.input}/tables"
    val queries = serveQueries.map(n => n -> SparkEntry.queries(n))
    // setup: one warm-up pass, so the window measures the warm serve
    queries.foreach { case (_, q) => q(spark, dir).collect() }
    val rnd = new scala.util.Random(c.a.seed)
    val first = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val digests = mutable.Map.empty[String, mutable.Set[Int]]
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = c.spans.nowMs
    val budgetMs = c.a.seconds * 1000
    var served = 0
    var round = 0
    // whole rounds only: every query is served equally often in a run
    while (c.spans.nowMs - t0 < budgetMs || round == 0) {
      for ((n, q) <- rnd.shuffle(queries)) {
        val s = c.spans.nowMs
        val (rows, schema) = scala.util.Try(c.op("olap.query", s"$n#$served") {
          val df = q(spark, dir)
          (df.collect(), df.schema)
        }).getOrElse((null, null))
        if (rows != null) {
          lat += ((n, c.spans.nowMs - s))
          if (!first.contains(n)) first(n) = (rows, schema)
          digests.getOrElseUpdate(n, mutable.Set.empty) += rows.map(_.toString).sorted.toSeq.hashCode
        }
        served += 1
      }
      round += 1
    }
    val t1 = c.spans.nowMs
    val windowS = (t1 - t0) / 1000
    c.check("olap_serve: repeated executions of a query return the same rows") {
      val bad = digests.filter(_._2.size > 1).keys
      (bad.isEmpty, bad.mkString(","))
    }
    // served results for the DuckDB oracle compare in run.py
    val outDir = s"${c.a.work}/served"
    first.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
    }
    writeJson(s"$outDir/oracle_sql.json", first.keys.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    val byQuery = lat.groupBy(_._1).map { case (n, xs) => n -> pct(xs.map(_._2).toSeq, 0.5) }
    val roundS = byQuery.values.sum / 1000
    val ms = lat.map(_._2).toSeq
    def family(p: String) = pct(lat.filter(_._1.startsWith(p)).map(_._2).toSeq, 0.5)
    Outcome(roundS, ms, t0, t1,
      Seq(("serve_qps", lat.size / windowS, "1/s", "higher"),
        ("serve_p50_ms", pct(ms, 0.5), "ms", "lower"),
        ("serve_p95_ms", pct(ms, 0.95), "ms", "lower")),
      Map("olap.q_family_p50_ms" -> family("q"), "warehouse.s_family_p50_ms" -> family("s"),
        "olap.queries_served" -> lat.size))
  }

  // ------------------------------------------------------------ stream_route

  private def topology(spark: SparkSession, src: String, out: String,
                       trigger: Trigger, maxFiles: Option[Int],
                       schema: org.apache.spark.sql.types.StructType): Seq[StreamingQuery] = {
    val reader = spark.readStream.schema(schema)
    val stream = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(src)
    val routed = ValidateRoute.planSinglePass(stream, Schemas.specs)
    val (qv, qr) = Streaming.startRoutes(routed, s"$out/sink", s"$out/chk", trigger)
    val events = routed.validated.select(col("topic"),
      timestamp_seconds(get_json_object(col("value"), "$.ingested_at").cast("double")).as("ts"),
      lit(1).as("one"))
    val qm = IncrementalMv.startAgg(events, "ts", "topic", "one", MvAgg.rowCount,
      s"$out/mv", s"$out/chk/mv", trigger)
    Seq(qv, qr, qm)
  }

  /** Output file name → the sink batch that committed it, from the file
    * sink's metadata log (a compacted log repeats earlier entries, so a
    * file belongs to the first batch that lists it). */
  private def fileBatches(sinkDir: String): Map[String, Long] = {
    val meta = Paths.get(sinkDir, "_spark_metadata")
    val logs = Files.list(meta).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.matches("\\d+(\\.compact)?")).toSeq
      .sortBy(_.stripSuffix(".compact").toLong)
    val out = mutable.LinkedHashMap.empty[String, Long]
    val path = "\"path\":\"([^\"]+)\"".r
    logs.foreach { n =>
      val b = n.stripSuffix(".compact").toLong
      path.findAllMatchIn(Files.readString(meta.resolve(n))).foreach { m =>
        val f = m.group(1).split('/').last
        if (!out.contains(f)) out(f) = b
      }
    }
    out.toMap
  }

  def streamRoute(c: Ctx): Outcome = {
    val spark = c.spark
    val in = c.a.input
    val w = c.a.work
    val schema = spark.read.parquet(s"$in/warm").schema
    // the backlog drains in bounded micro-batches; the paced phase takes
    // whatever arrived since the last trigger
    val maxFiles = Some(4)
    def runToEnd(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.awaitTermination())
    // setup: warm the topology's code paths on a small input
    runToEnd(topology(spark, s"$in/warm", s"$w/warm", Trigger.AvailableNow(), maxFiles, schema))

    val backlog = readJson(s"$in/ledger.json")
    val backlogRows = num(backlog("rows"))
    val t0 = c.spans.nowMs
    val drainQs = c.op("stream.drain", "drain") {
      val qs = topology(spark, s"$in/backlog", s"$w/drain", Trigger.AvailableNow(), maxFiles, schema)
      runToEnd(qs)
      qs
    }
    val tDrained = c.spans.nowMs
    val drainS = (tDrained - t0) / 1000

    // paced phase: open-loop generator at a fixed rate below drain capacity
    val pacedIn = s"$w/paced_in"
    Files.createDirectories(Paths.get(pacedIn))
    val rate = 400.0
    val pacedS = c.a.seconds
    val report = s"$w/paced_ledger.json"
    val pacedQs = topology(spark, pacedIn, s"$w/paced",
      Trigger.ProcessingTime("200 milliseconds"), None, schema)
    c.op("stream.paced", "paced") {
      val gen = new ProcessBuilder("python3", s"${c.a.bench}/gen.py", "stream",
        "--specs", s"$in/specs.json", "--seed", (c.a.seed + 1).toString, "--out", pacedIn,
        "--rows-per-s", rate.toString, "--files-per-s", "5", "--seconds", pacedS.toString,
        "--report", report)
        .redirectErrorStream(true).redirectOutput(new java.io.File(s"$w/gen.log")).start()
      val rc = try gen.waitFor() finally if (gen.isAlive) { gen.destroy(); gen.waitFor() }
      require(rc == 0, s"stream generator exited $rc")
      pacedQs.foreach(_.processAllAvailable())
    }
    pacedQs.foreach(_.stop())
    val t1 = c.spans.nowMs
    val paced = readJson(report)

    val allQs = drainQs ++ pacedQs
    val batches = c.streams.of(allQs.map(_.id).toSet)
    batches.filter(_.rows > 0).foreach { b =>
      c.ops += 1
      c.spans.record("stream.micro_batch", s"${b.name}#${b.batchId}", -1, b.startMs, b.endMs)
    }
    allQs.flatMap(_.exception).foreach { e => c.ops += 1; c.opsFailed += 1; c.errors += e.toString }

    // per row: generator's scheduled send time -> commit of the sink batch holding it
    val created = to_timestamp(get_json_object(col("value"), "$.kafka_ts"))
    val rowLat = mutable.ArrayBuffer.empty[(Double, Double)] // (created, committed)
    for ((sink, q) <- Seq("validated-all", "rejected-all").zip(pacedQs)) {
      val dir = s"$w/paced/sink/$sink"
      val fb = fileBatches(dir)
      val ends = c.streams.of(Set(q.id)).map(b => b.batchId -> b.endMs).toMap
      spark.read.parquet(dir)
        .select(input_file_name(), (unix_micros(created) / 1000.0).as("c"))
        .collect().foreach { r =>
          val f = r.getString(0).split('/').last
          for (b <- fb.get(f); e <- ends.get(b)) rowLat += ((r.getDouble(1), e))
        }
    }
    val lat = rowLat.map { case (cr, cm) => cm - cr }.toSeq
    val pacedRows = num(paced("rows")).toLong
    c.check("stream_route: every paced row has a commit time") {
      (rowLat.size == pacedRows, s"timed=${rowLat.size} generated=$pacedRows")
    }
    // in flight: rows created but not yet committed, at each commit
    val backlogMax = {
      val cr = rowLat.map(_._1).sorted.toArray
      val cm = rowLat.map(_._2).sorted.toArray
      cm.distinct.map { t =>
        val made = java.util.Arrays.binarySearch(cr, t + 1e-9) match {
          case i if i >= 0 => i + 1
          case i => -i - 1 }
        made - cm.count(_ <= t)
      }.foldLeft(0)(_ max _)
    }

    for ((phase, ledger) <- Seq("drain" -> backlog, "paced" -> paced)) {
      val sink = s"$w/$phase/sink"
      val v = spark.read.parquet(s"$sink/validated-all")
      ledgerCheck(c, s"stream_route $phase", v, spark.read.parquet(s"$sink/rejected-all"), ledger)
      c.check(s"stream_route $phase: MV equals the validated sink grouped") {
        val mv = IncrementalMv.readAgg(spark, s"$w/$phase/mv", MvAgg.rowCount)
        val scratch = v.groupBy(
          to_date(timestamp_seconds(get_json_object(col("value"), "$.ingested_at").cast("double"))).as("day"),
          col("topic").as("key")).agg(count(lit(1)).as("value"))
        val a = mv.exceptAll(scratch).count()
        val b = scratch.exceptAll(mv).count()
        (a == 0 && b == 0, s"mv-only=$a scratch-only=$b")
      }
    }

    val withRows = batches.filter(_.rows > 0)
    def med(k: String) = pct(withRows.map(_.durations.getOrElse(k, 0L).toDouble), 0.5)
    val routeEnd = pacedQs.take(2).flatMap(q => c.streams.of(Set(q.id)).filter(_.rows > 0).map(_.endMs))
    val mvEnd = c.streams.of(Set(pacedQs(2).id)).filter(_.rows > 0).map(_.endMs)
    val drainRate = backlogRows / drainS
    Outcome(drainS, lat, t0, t1,
      Seq(("stream_drain_rows_per_s", drainRate, "1/s", "higher"),
        ("stream_p50_ms", pct(lat, 0.5), "ms", "lower"),
        ("stream_p99_ms", pct(lat, 0.99), "ms", "lower")),
      Map("ingest.rows_in" -> (backlogRows + pacedRows),
        "ingest.route_s" -> drainS,
        "stream.batches" -> withRows.size, "stream.batch_ms_p50" -> med("triggerExecution"),
        "stream.add_batch_ms" -> med("addBatch"), "stream.query_planning_ms" -> med("queryPlanning"),
        "stream.latest_offset_ms" -> med("latestOffset"), "stream.wal_commit_ms" -> med("walCommit"),
        "stream.commit_offsets_ms" -> med("commitOffsets"), "stream.backlog_rows_max" -> backlogMax,
        "stream.mv_lag_ms" -> (if (mvEnd.isEmpty || routeEnd.isEmpty) 0.0 else mvEnd.max - routeEnd.max),
        "stream.gen_late_ms" -> num(paced("late_ms_max")),
        "stream.p99_ms" -> pct(lat, 0.99)))
  }

  // ------------------------------------------------------------ corpus_ingest

  def corpusIngest(c: Ctx): Outcome = {
    val spark = c.spark
    val in = s"${c.a.input}/corpus"
    val root = s"${c.a.work}/corpus_state"
    val cfg = IncrementalCorpus.Config("t", "id")
    val batch = (0 to 2).map(b => spark.read.parquet(s"$in/b$b.parquet"))
    val bench = spark.read.parquet(s"$in/bench.parquet")
    val newBench = spark.read.parquet(s"$in/newbench.parquet")
    // setup: the frozen curation vocabulary (top-30 tokens of batch 0)
    val vocab = {
      val top = TextAnalysis.tokenTopK(batch(0), "t", 30).select(col("token"))
      spark.createDataFrame(top.collect().toSeq.asJava, top.schema)
    }
    val inputIds = batch.map(_.select("id").collect().map(_.getLong(0)).toSet)
    val steps = Seq("ext.apply_delta", "ext.retro_sweep", "ext.evict", "ext.compact",
      "ext.read_accepted")
    var evicted = Set.empty[Long]
    var beforeCompact = Set.empty[(Long, Int, Int)]
    var acceptedPerBatch = Map.empty[Int, Set[Long]]
    var finalRows = Set.empty[(Long, Int, Int)]
    def snapshot(): Set[(Long, Int, Int)] =
      IncrementalCorpus.readAccepted(spark, root)
        .select(col("id"), col("ingest_batch").cast("int"), hash(col("t")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val t0 = c.spans.nowMs
    var untimedMs = 0.0
    val ok = scala.util.Try(c.spans("corpus", "corpus") {
      for (b <- 0 to 1) c.op("ext.apply_delta", s"b$b") {
        IncrementalCorpus.applyDelta(batch(b), b, root, cfg, vocab, bench, "text")
      }
      val sweep = c.op("ext.retro_sweep") {
        val df = IncrementalCorpus.retroContamination(spark, root, cfg, newBench, "text")
        spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      }
      evicted = sweep.select("id").collect().map(_.getLong(0)).toSet
      c.op("ext.evict") { IncrementalCorpus.evict(sweep, 0, root, cfg) }
      c.op("ext.apply_delta", "b2") {
        IncrementalCorpus.applyDelta(batch(2), 2, root, cfg, vocab, bench, "text")
      }
      val u = c.spans.nowMs
      beforeCompact = snapshot()
      untimedMs += c.spans.nowMs - u
      c.op("ext.compact") { IncrementalCorpus.compact(spark, root, cfg, 0) }
      finalRows = c.op("ext.read_accepted") { snapshot() }
    }).isSuccess
    val t1 = c.spans.nowMs
    val corpusS = (t1 - t0 - untimedMs) / 1000
    val docsIn = inputIds.map(_.size).sum.toDouble
    if (ok) {
      c.check("corpus_ingest: compact preserves reads") {
        (beforeCompact == finalRows && finalRows.nonEmpty,
          s"before=${beforeCompact.size} after=${finalRows.size}")
      }
      acceptedPerBatch = finalRows.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1) }
      c.check("corpus_ingest: accepted + dropped ids equal the input ids") {
        val bad = (0 to 2).filter { b =>
          val acc = acceptedPerBatch.getOrElse(b, Set.empty) ++
            (if (b < 2) evicted.filter(inputIds(b)) else Set.empty)
          val dropped = inputIds(b) -- acc
          !(acc.subsetOf(inputIds(b)) && (acc ++ dropped) == inputIds(b) &&
            acc.intersect(dropped).isEmpty)
        }
        (bad.isEmpty && finalRows.size == finalRows.map(r => (r._1, r._2)).size,
          s"batches failing: ${bad.mkString(",")}")
      }
      c.check("corpus_ingest: evicted docs are gone from the accepted corpus") {
        val back = finalRows.filter(r => r._2 < 2 && evicted(r._1))
        (evicted.nonEmpty && back.isEmpty, s"evicted=${evicted.size} still-read=${back.size}")
      }
    }
    val accepted = finalRows.size.toDouble
    val lat = steps.flatMap(c.spans.named).map(_.seconds * 1000)
    Outcome(corpusS, lat, t0, t1,
      Seq(("corpus_s", corpusS, "s", "lower"), ("corpus_docs_per_s", docsIn / corpusS, "1/s", "higher")),
      Map("ext.apply_delta_s" -> c.spans.total("ext.apply_delta") / 3,
        "ext.retro_sweep_s" -> c.spans.total("ext.retro_sweep"),
        "ext.evict_s" -> c.spans.total("ext.evict"),
        "ext.compact_s" -> c.spans.total("ext.compact"),
        "ext.docs_in" -> docsIn, "ext.docs_accepted" -> accepted,
        "ext.accept_ratio" -> accepted / docsIn))
  }

  // ------------------------------------------------------------ calibration

  /** Same-host speed reference: a fixed Spark-free CPU loop and a fixed
    * `spark.range` aggregation, medians of three. A slower host shows up
    * here, beside the metrics, instead of as a code regression. */
  def calibrate(spark: SparkSession, cores: Int): (Double, Double) = {
    def cpu(): Double = {
      val t = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      if (acc == 42) println(acc)
      (System.nanoTime() - t) / 1e6
    }
    def sparkAgg(): Double = {
      val t = System.nanoTime()
      spark.range(0, 2000000L, 1, cores)
        .selectExpr("sum(id % 7) as s", "count(distinct id % 1000) as d").collect()
      (System.nanoTime() - t) / 1e6
    }
    (pct(Seq.fill(3)(cpu()), 0.5), pct(Seq.fill(3)(sparkAgg()), 0.5))
  }

  // ------------------------------------------------------------ specs

  /** The topic contracts the generator fills: name, fields (nested ones
    * with their own fields) and the sport path, as JSON. */
  def dumpSpecs(path: String): Unit = {
    import org.apache.spark.sql.types.StructType
    def fields(st: StructType): Seq[Map[String, Any]] = st.fields.toSeq.map { f =>
      f.dataType match {
        case s: StructType => Map("name" -> f.name, "fields" -> fields(s))
        case _ => Map("name" -> f.name)
      }
    }
    writeJson(path, Schemas.specs.map(s =>
      Map("name" -> s.name, "fields" -> fields(s.schema), "sport" -> s.sportField.orNull)))
  }
}

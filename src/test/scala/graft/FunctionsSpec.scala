package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity
import graft.functions.GraftFunctions

class FunctionsSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}
  import spark.implicits._

  private lazy val emb = Tables(spark, sf, "embeddings")

  test("native cosine kernel is BIT-identical to the HOF formulation") {
    val q = emb.filter(col("vec_id") === 1)
      .select("embedding").head.getSeq[Float](0).map(_.toDouble).toSeq
    val native = emb.select(col("vec_id"),
        GraftFunctions.cosineSim(spark, col("embedding"), Similarity.vecLit(q)).as("s"))
      .orderBy("vec_id").select("s").as[Double].collect()
    val hof = emb.select(col("vec_id"),
        Similarity.cosine(Similarity.asDouble(col("embedding")), Similarity.vecLit(q)).as("s"))
      .orderBy("vec_id").select("s").as[Double].collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h))
    }
  }

  test("native cosine null contract: null element, null array, length mismatch") {
    val df = Seq(
      (1L, Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (2L, Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f))),
      (3L, None: Option[Seq[Float]], Some(Seq(1.0f, 2.0f))))
      .toDF("id", "a", "b")
    val got = df.select(GraftFunctions.cosineSim(spark, col("a"), col("b")).as("s"))
      .collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
  }

  test("graft_pos_sum is BIT-identical to the aggregate(array_sort(...)) fold") {
    // randomized but seeded rows, with duplicate pos values to exercise
    // the (pos, lp) tiebreak the array_sort struct order implies
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val n = rng.nextInt(40) + 1
      val ps = Seq.fill(n)(rng.nextInt(12))
      val ls = Seq.fill(n)(math.log(rng.nextDouble() + 1e-9))
      (i.toLong, ps.zip(ls))
    }
    val df = rows.toDF("id", "pl")
      .select(col("id"), expr(
        "transform(pl, x -> struct(x._1 AS pos, x._2 AS lp))").as("arr"))
    val native = df
      .select(col("id"), GraftFunctions.posOrderedSum(spark, col("arr")).as("s"))
      .orderBy("id").select("s").as[Double].collect()
    val hof = df
      .select(col("id"), expr(
        "aggregate(array_sort(arr), 0.0d, (acc, x) -> acc + x.lp)").as("s"))
      .orderBy("id").select("s").as[Double].collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(h), s"$n != $h")
    }
  }

  test("graft_pos_sum null/empty contract matches the HOF spelling") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(array(struct(2, 0.5d), struct(1, 0.25d))
        |       AS array<struct<pos:int,lp:double>>)),
        |  (2, CAST(array(NULL) AS array<struct<pos:int,lp:double>>)),
        |  (3, CAST(NULL AS array<struct<pos:int,lp:double>>)),
        |  (4, CAST(array(struct(1, CAST(NULL AS double)))
        |       AS array<struct<pos:int,lp:double>>)),
        |  (5, CAST(array() AS array<struct<pos:int,lp:double>>))
        |AS t(id, arr)""".stripMargin)
    val got = df.orderBy("id")
      .select(GraftFunctions.posOrderedSum(spark, col("arr")).as("s")).collect()
    assert(got(0).getDouble(0) == 0.75)
    assert(got(1).isNullAt(0)) // null element poisons the fold
    assert(got(2).isNullAt(0)) // null array
    assert(got(3).isNullAt(0)) // null field poisons the fold
    assert(got(4).getDouble(0) == 0.0) // empty array sums to the seed
  }

  test("graft_bpe_apply matches the aggregate(...CASE) greedy fold, " +
    "rule order and adjacent repeats included") {
    val rules = Seq(("p", "a"), ("pa", "pa"), ("a", "n"))
    def hofFold(inner: String): String =
      rules.foldLeft(inner) { case (acc, (l, r)) =>
        s"aggregate($acc, CAST(array() AS array<string>), (acc, x) -> " +
          s"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$l' " +
          s"AND x = '$r' " +
          s"THEN concat(slice(acc, 1, size(acc) - 1), array('${l + r}')) " +
          s"ELSE concat(acc, array(x)) END)"
      }
    val words = Seq("papa", "papapa", "banana", "pap", "a", "", "panpa")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val df = words.toDF("id", "w")
    val kernel = df.select(col("id"), GraftFunctions.bpeApply(spark,
        split(col("w"), ""), rules).as("s"))
      .orderBy("id").select("s").as[Seq[String]].collect()
    val hof = df.select(col("id"), expr(hofFold("split(w, '')")).as("s"))
      .orderBy("id").select("s").as[Seq[String]].collect()
    kernel.zip(hof).foreach { case (k, h) => assert(k == h, s"$k != $h") }
    // 'papa' greedy check: (p,a) gives [pa, pa], then (pa,pa) gives [papa]
    assert(kernel(0) == Seq("papa"))
    // null array and null elements
    val nulls = spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(NULL AS array<string>)),
        |  (2, array('p', CAST(NULL AS string), 'a'))
        |AS t(id, syms)""".stripMargin)
    val got = nulls.orderBy("id")
      .select(GraftFunctions.bpeApply(spark, col("syms"), rules).as("s"))
      .collect()
    assert(got(0).isNullAt(0))
    assert(got(1).getSeq[String](0) == Seq("p", null, "a"))
  }

  test("kernel works via SQL after extension-style registration") {
    GraftFunctions.register(spark)
    emb.limit(5).createOrReplaceTempView("emb_fn_test")
    val r = spark.sql(
      "SELECT graft_cosine_sim(embedding, embedding) AS s FROM emb_fn_test")
      .select("s").as[Double].collect()
    assert(r.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("graft_bloom_contains_any probes per-row blooms; binary type enforced") {
    GraftFunctions.register(spark)
    def ser(keys: Seq[Long]): Array[Byte] = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
      keys.foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // two row-local filters: one holding {1,2}, one holding {50}
    val b12 = ser(Seq(1L, 2L))
    val b50 = ser(Seq(50L))
    val df = Seq(("a", b12), ("b", b50)).toDF("tag", "bloom")
    val hit = GraftFunctions.bloomContainsAny(spark, col("bloom"), Seq(2L, 99L))
    val got = df.select(col("tag"), hit.as("hit")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("a"), "filter holding key 2 must hit")
    assert(!got("b"), "filter holding only 50 must miss {2, 99}")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.bloomContainsAny(spark,
        col("tag"), Seq(1L))).collect()
    }
  }

  test("BloomContainsAny has value equality: identical probes are semanticEqual") {
    // the key set must compare by VALUE (Seq), not by array reference —
    // otherwise canonicalization/semanticEquals never match two
    // identical probes and subexpression elimination / plan-cache
    // reuse silently never fire for this expression
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val childA = BoundReference(0, BinaryType, nullable = true)
    val a = graft.functions.BloomContainsAny(childA, Seq(1L, 2L, 3L))
    val b = graft.functions.BloomContainsAny(childA, Seq(1L, 2L, 3L))
    assert(a == b, "case-class equality must hold for equal key sets")
    assert(a.semanticEquals(b), "semanticEquals must hold for equal key sets")
    assert(a.semanticHash() == b.semanticHash())
    val c = graft.functions.BloomContainsAny(childA, Seq(1L, 2L, 4L))
    assert(a != c && !a.semanticEquals(c))
  }

  test("native SimHash64 is BIT-identical to the HOF vote formulation") {
    val docs = Tables(spark, sf, "documents").limit(50)
    val toks = graft.ext.TextDedup.tokens(col("text"))
    val native = docs.select(
        GraftFunctions.simHash64(spark, toks).as("s"))
      .as[Long].collect()
    val hof = docs.select(
        col("text"),
        graft.ext.TextDedup.simhashVotes(col("text")).as("_votes"))
      .select(graft.ext.TextDedup.packVotes(col("_votes")).as("s"))
      .as[Long].collect()
    assert(native.toSeq == hof.toSeq)
  }

  test("native Shingles kernel is BIT-identical to the HOF formulation") {
    // fixture corpus plus the edge shapes: short doc (<= k tokens), empty
    // string, single token, whitespace runs, null text
    val fixture = Tables(spark, sf, "documents").limit(50).select(col("text"))
    val edges = Seq("a b", "", "solo", "  padded   out  ", null.asInstanceOf[String],
      "one two three", "one two three four").toDF("text")
    for (k <- Seq(2, 3, 5)) {
      val corpus = fixture.unionByName(edges)
      val toks = graft.ext.TextDedup.tokens(col("text"))
      val native = corpus
        .select(GraftFunctions.shingles(spark, toks, k).as("sh"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      val hof = corpus
        .select(col("text"), toks.as("toks"))
        .select(graft.ext.TextDedup.shinglesOfTokens(col("toks"), k).as("sh"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      assert(native.toSeq == hof.toSeq, s"k=$k")
    }
  }

  test("graft_shingles rejects wrong input types at analysis time") {
    GraftFunctions.register(spark)
    val df = Seq(1L).toDF("x")
    val e = intercept[Exception] {
      df.selectExpr("graft_shingles(x, 3)").collect()
    }
    assert(e.getMessage.contains("graft_shingles") ||
      e.getMessage.contains("array<string>"))
  }

  test("fused repetition verdict == thresholds applied to the profile fractions") {
    val docs = Tables(spark, sf, "documents").limit(80)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq("a a a a a a", "all words differ here now", "x",
        "  ", null.asInstanceOf[String]).toDF("text")
        .withColumn("doc_id", monotonically_increasing_id() + 5000)
        .select(col("doc_id"), col("text")))
    for ((mt, mg) <- Seq((0.7, 0.3), (0.0, 0.0), (1.0, 1.0), (0.5, 0.1))) {
      val kept = graft.ext.TextAnalysis
        .repetitionFilter(docs, "text", "doc_id", 3, mt, mg)
        .select("doc_id").as[Long].collect().toSet
      val want = graft.ext.TextAnalysis.repetitionProfile(docs, "text", "doc_id", 3)
        .filter(col("dup_token_frac") <= mt && col("dup_ngram_frac") <= mg)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == want, s"thresholds ($mt, $mg)")
    }
  }

  test("native MinHash64 is BIT-identical to the HOF lane fold") {
    val docs = Tables(spark, sf, "documents").limit(30)
    val shh = array_distinct(transform(
      graft.ext.TextDedup.shingles(col("text"), 3), s => xxhash64(s)))
    val native = docs.select(
        GraftFunctions.minHash64(spark, shh, 64).as("sig"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val hof = docs.select(
        graft.ext.TextDedup.minhashSignatureFromHashes(shh, 64).as("sig"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(native.toSeq == hof.toSeq)
  }

  test("degenerate vectors (empty / zero-norm) are NULL in both forms, no ANSI throw") {
    val df = Seq(
      (1L, Seq.empty[Float], Seq.empty[Float]),
      (2L, Seq(0.0f, 0.0f), Seq(0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f), Seq(0.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("id", "a", "b")
    val native = df.orderBy("id")
      .select(GraftFunctions.cosineSim(spark, col("a"), col("b")).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val hof = df.orderBy("id").select(graft.ext.Similarity.cosine(
        graft.ext.Similarity.asDouble(col("a")), graft.ext.Similarity.asDouble(col("b"))).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(native.take(3).forall(_.isEmpty) && hof.take(3).forall(_.isEmpty))
    assert(java.lang.Double.doubleToLongBits(native(3).get) ==
      java.lang.Double.doubleToLongBits(hof(3).get))
    assert(math.abs(native(3).get - 1.0) < 1e-12)
  }

  test("Graft.session facade yields a configured session with functions registered") {
    val s = Graft.session("graft-test") // getOrCreate reuses the test session
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine_sim")))
    assert(s.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("graft_minhash64")))
  }

  test("TopKByDouble heap aggregate is BIT-identical to collect+sort+slice") {
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val a = emb.select(col("label").as("_bkt"), col("vec_id").as("query_id"),
      col("embedding").as("_ea"))
    val b = emb.select(col("label").as("_bkt"), col("vec_id").as("neighbor_id"),
      col("embedding").as("_eb"))
    val sims = a.join(b, Seq("_bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.GraftFunctions.cosineSim(spark,
          col("_ea"), col("_eb")), 6).as("sim"))
      .filter(col("sim").isNotNull)
      .persist()
    val heap = sims.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions.topKBy(spark,
        col("sim"), col("neighbor_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("query_id"), col("rank0"),
        col("t.value").as("neighbor_id"), col("t.key").as("sim"))
    val byBest = (l: Column, r: Column) =>
      when(l.getField("sim") > r.getField("sim"), -1)
        .when(l.getField("sim") < r.getField("sim"), 1)
        .when(l.getField("nid") < r.getField("nid"), -1)
        .when(l.getField("nid") > r.getField("nid"), 1)
        .otherwise(0)
    val collected = sims.groupBy(col("query_id"))
      .agg(slice(array_sort(
        collect_list(struct(col("sim").as("sim"), col("neighbor_id").as("nid"))),
        byBest), 1, 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("query_id"), col("rank0"),
        col("t.nid").as("neighbor_id"), col("t.sim").as("sim"))
    assert(heap.exceptAll(collected).count() == 0)
    assert(collected.exceptAll(heap).count() == 0)
    sims.unpersist()
  }

  test("TopKByDouble plans as ObjectHashAggregate with a reducing partial") {
    val df = SparkEntry.queries("x19_batch_ann_topk")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_topk_by"), "no map-side partial:\n" + p)
    assert(!p.contains("Window"), p)
  }

  test("graft_topk_by rejects wrong input types at analysis time") {
    GraftFunctions.register(spark)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(3)
        .selectExpr("graft_topk_by(cast(id as float), id, 3)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(3)
        .selectExpr("graft_topk_by(cast(id as double), cast(id as string), 3)")
        .collect()
    }
  }

  test("QuantizeInt8 kernel is BIT-identical to the portable HOF formulation") {
    import graft.ext.Embeddings
    val rnd = new scala.util.Random(11)
    // finite random floats incl. negatives, zeros, subnormal-ish tiny
    // values, an all-zero vector, and exact ±0.5-boundary scales
    val rows = Seq.tabulate(300) { i =>
      (i.toLong, Array.fill(16)(
        if (i % 37 == 0) 0.0f
        else ((rnd.nextFloat() * 2 - 1) * math.pow(10, rnd.nextInt(8) - 4)).toFloat))
    } :+ (1000L, Array.fill(16)(0.0f)) :+
      (1001L, Array(127.0f, 63.5f, -63.5f, 0.0f, -127.0f, 1.0f, -1.0f, 0.25f,
        -0.25f, 2.0f, -2.0f, 100.0f, -100.0f, 0.5f, -0.5f, 64.0f))
    val df = rows.toDF("vec_id", "embedding")
    val kernel = Embeddings.quantizeInt8(df, "embedding", "qv")
      .select($"vec_id", $"qv_scale", $"qv")
    val hof = Embeddings.quantizeInt8Portable(df, "embedding", "qv")
      .select($"vec_id", $"qv_scale", $"qv")
    val k = kernel.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getSeq[Int](2))).toMap
    val h = hof.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(k.keySet == h.keySet)
    k.foreach { case (id, (ks, kq)) =>
      val (hs, hq) = h(id)
      assert(java.lang.Double.doubleToLongBits(ks) ==
        java.lang.Double.doubleToLongBits(hs), s"scale differs for $id")
      assert(kq == hq, s"quantized values differ for $id: $kq vs $hq")
    }
  }

  test("QuantizeInt8: interpreted and codegen agree; poisoned vectors null out") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(Float.NaN, 1.0f, 1.0f)), // NaN -> null struct
      (3L, Array(Float.PositiveInfinity, 1.0f, 1.0f)) // Inf -> null struct
    ).toDF("vec_id", "embedding")
    // factoryMode NO_CODEGEN forces the interpreted nullSafeEval path —
    // wholeStage=false alone still runs expression codegen
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try graft.ext.Embeddings.quantizeInt8(df, "embedding", "qv")
        .select($"vec_id", $"qv").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1)))
        .toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val a = run("CODEGEN_ONLY"); val b = run("NO_CODEGEN")
    assert(a == b)
    assert(a(1L) != null && a(2L) == null && a(3L) == null)
  }

  test("QuantizeInt8Pack codes == QuantizeInt8 values byte-for-byte, and " +
    "Int8CosineSim matches a driver-computed integer cosine; interpreted " +
    "and codegen agree; nulls/mismatches/zero-norms null out") {
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(29)
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() * 2 - 1).toFloat))) :+
      (900L, Array.fill(16)(0.0f)) // all-zero → zero-norm code
    val df = rows.toDF("vec_id", "embedding")
    // codes are exactly the QuantizeInt8 q-values, packed as bytes
    val both = df.select($"vec_id",
        GraftFunctions.int8Pack(spark, $"embedding").as("code"),
        GraftFunctions.quantizeInt8(spark, $"embedding").as("qv"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1),
        r.getStruct(2).getSeq[Int](1)))
    both.foreach { case (id, code, q) =>
      assert(code.toSeq.map(_.toInt) == q, s"code/q mismatch for $id")
    }
    // pairwise int8 cosine vs the driver-side integer formula
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter($"a.vec_id" < $"b.vec_id" && $"b.vec_id" < 20)
      .select($"a.vec_id", $"b.vec_id",
        GraftFunctions.int8Cosine(spark,
          GraftFunctions.int8Pack(spark, $"a.embedding"),
          GraftFunctions.int8Pack(spark, $"b.embedding")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))))
    val codeOf = both.map(t => t._1 -> t._2).toMap
    pairs.foreach { case (a, b, sim) =>
      val (ca, cb) = (codeOf(a), codeOf(b))
      val dot = ca.zip(cb).map { case (x, y) => x.toLong * y.toLong }.sum
      val na = ca.map(x => x.toLong * x.toLong).sum
      val nb = cb.map(x => x.toLong * x.toLong).sum
      val want: java.lang.Double =
        if (na == 0 || nb == 0) null
        else java.lang.Double.valueOf(dot.toDouble / math.sqrt(na.toDouble * nb.toDouble))
      assert(sim == want, s"int8 cosine differs for ($a, $b): $sim vs $want")
      // quantization error stays small: int8 cosine tracks float cosine
      if (want != null) {
        val fa = rows.find(_._1 == a).get._2.map(_.toDouble)
        val fb = rows.find(_._1 == b).get._2.map(_.toDouble)
        val fdot = fa.zip(fb).map(p => p._1 * p._2).sum
        val fcos = fdot / math.sqrt(fa.map(x => x * x).sum * fb.map(x => x * x).sum)
        assert(math.abs(want - fcos) < 0.02,
          s"approx cosine drifted: $want vs float $fcos")
      }
    }
    // contracts: length mismatch and zero-norm → null, not a throw
    val edge = Seq(
      (1L, Array[Byte](1, 2, 3), Array[Byte](1, 2)),        // mismatch
      (2L, Array[Byte](0, 0, 0), Array[Byte](1, 2, 3)),     // zero norm
      (3L, Array[Byte](1, 0, 0), Array[Byte](127, 0, 0))    // parallel → 1.0
    ).toDF("id", "ca", "cb")
    def runEdge(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try edge.select($"id",
          GraftFunctions.int8Cosine(spark, $"ca", $"cb").as("sim"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))).toMap
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    val ce = runEdge("CODEGEN_ONLY"); val ie = runEdge("NO_CODEGEN")
    assert(ce == ie)
    assert(ce(1L) == null && ce(2L) == null && ce(3L) == 1.0)
  }

  test("kernel-backed APIs still accept castable numeric arrays (int embeddings)") {
    val ints = Seq((1L, Array(3, -4, 0))).toDF("vec_id", "embedding")
    val q = graft.ext.Embeddings.quantizeInt8(ints, "embedding", "qv")
      .select($"qv", $"qv_scale").head
    assert(q.getSeq[Int](0) == Seq(95, -127, 0)) // scale = 4/127
  }

  test("LshBucket64 kernel is BIT-identical to the portable plane-fold") {
    import graft.ext.Similarity
    val rnd = new scala.util.Random(23)
    val df = Seq.tabulate(400)(i =>
      (i.toLong, Array.fill(32)((rnd.nextFloat() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(8, 32, seed = 7L)
    val kernel = df.select($"vec_id",
        GraftFunctions.lshBucket64(spark, $"embedding", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = df.select($"vec_id",
        Similarity.lshBucket(Similarity.asDouble($"embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == hof)
    // codegen and the true interpreted path agree (factoryMode — a
    // wholeStage toggle alone still runs expression codegen)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select($"vec_id",
          GraftFunctions.lshBucket64(spark, $"embedding", planes).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(interp == kernel)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    // NaN-poisoned vectors null out instead of landing in bucket 0
    val nan = Seq((1L, Array.fill(32)(Float.NaN))).toDF("vec_id", "embedding")
    assert(nan.select(GraftFunctions.lshBucket64(spark, $"embedding", planes))
      .head.isNullAt(0))
    // dimension mismatch nulls out instead of a junk bucket
    val bad = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(bad.select(GraftFunctions.lshBucket64(spark, $"embedding", planes))
      .head.isNullAt(0))
  }

  test("kernel type check rejects non-array inputs") {
    val e = intercept[Exception] {
      emb.select(GraftFunctions.cosineSim(spark, col("vec_id"), col("embedding"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("datatype") ||
      e.getMessage.toLowerCase.contains("cannot resolve"))
  }

  test("register is idempotent per session: a second call changes nothing") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    def graftInfos() = registry.listFunction()
      .filter(_.funcName.startsWith("graft_"))
      .map(f => f -> registry.lookupFunction(f).get).toMap
    GraftFunctions.register(fresh)
    val first = graftInfos()
    assert(first.size >= 24 && first.contains(FunctionIdentifier("graft_shingles")))
    GraftFunctions.register(fresh)
    val second = graftInfos()
    // re-registration would install a NEW ExpressionInfo per function
    assert(second.keySet == first.keySet)
    first.foreach { case (f, info) => assert(second(f) eq info, f.funcName) }
  }
}

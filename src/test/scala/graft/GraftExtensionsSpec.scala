package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions integration: injected SQL functions and the
  * SelfSimilarityFold optimizer rule (applied directly here — the shared
  * test session predates extension loading).
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("extensions class injects functions and rules without error") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)   // must not throw; wiring is typed
  }

  test("graft_bpe_count/tokens SQL functions serve the CURRENT artifact version") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // the shared test session predates extension loading, so register
    // through the SAME builders the extension injects
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("graft_bpe_count"),
      new ExpressionInfo(classOf[graft.functions.BpeCount].getName,
        "graft_bpe_count"),
      GraftExtensions.bpeCountBuilder _)
    reg.registerFunction(FunctionIdentifier("graft_bpe_tokens"),
      new ExpressionInfo(classOf[graft.functions.BpeTokens].getName,
        "graft_bpe_tokens"),
      GraftExtensions.bpeTokensBuilder _)
    val docs = Tables.documents(spark, sf)
    docs.createOrReplaceTempView("ext_docs")
    try {
      // unset knob → loud analysis-time failure naming the fix
      val ex = intercept[Exception] {
        spark.sql("SELECT graft_bpe_count(text) FROM ext_docs").collect()
      }
      assert(ex.getMessage.contains(GraftConfig.BpeModelRootKey) ||
        Option(ex.getCause).exists(_.getMessage.contains(GraftConfig.BpeModelRootKey)))
      // serve from a trained artifact: SQL == the DataFrame API
      val root = java.nio.file.Files.createTempDirectory("ext-bpe").toString
      val m1 = graft.llm.BpeArtifact.train(docs, root)
      spark.conf.set(GraftConfig.BpeModelRootKey, root)
      val sqlCounts = spark.sql(
        "SELECT doc_id, graft_bpe_count(text) AS n FROM ext_docs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val apiCounts = docs.select(col("doc_id"),
          graft.functions.Bpe.count(col("text"), m1.pairs).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(sqlCounts === apiCounts)
      // tokens too: concat(tokens) content-preserving on one doc
      val toks = spark.sql(
        "SELECT graft_bpe_tokens(text) FROM ext_docs WHERE length(text) > 0 LIMIT 1")
        .collect()(0).getSeq[String](0)
      assert(toks.nonEmpty)
      // a retrain flips the version; the NEXT query serves the new table
      // (analysis-time load — no stale cache)
      spark.conf.set(GraftConfig.BpeTrainRoundsKey, "4")
      try graft.llm.BpeArtifact.train(docs, root)
      finally spark.conf.unset(GraftConfig.BpeTrainRoundsKey)
      val m2 = graft.llm.BpeArtifact.load(spark, root)
      assert(m2.version === 2L && m2.merges.size === 4)
      val sqlCounts2 = spark.sql(
        "SELECT doc_id, graft_bpe_count(text) AS n FROM ext_docs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val apiCounts2 = docs.select(col("doc_id"),
          graft.functions.Bpe.count(col("text"), m2.pairs).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(sqlCounts2 === apiCounts2)
      assert(sqlCounts2 !== sqlCounts,
        "a 4-merge table must count differently than the 32-merge one")
    } finally {
      spark.conf.unset(GraftConfig.BpeModelRootKey)
      reg.dropFunction(FunctionIdentifier("graft_bpe_count"))
      reg.dropFunction(FunctionIdentifier("graft_bpe_tokens"))
      spark.catalog.dropTempView("ext_docs")
      ()
    }
  }

  test("graft_ann_topk serves the persisted index from SQL: API parity, manifest freshness, lifecycle CURRENT") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    // register through the SAME builder the extension injects (shared
    // test session predates extension loading — the graft_bpe pattern)
    val reg = spark.sessionState.tableFunctionRegistry
    reg.registerFunction(FunctionIdentifier("graft_ann_topk"),
      new ExpressionInfo(classOf[graft.llm.Similarity.type].getName,
        "graft_ann_topk"),
      GraftExtensions.annTopKBuilder _)
    try {
      val e = graft.llm.Similarity.clusteredEmbeddings(
        Tables.embeddings(spark, sf))
      val qRow = e.filter(col("vec_id") === 7L).head()
      val qVec = qRow.getSeq[Float](1)
      val vecSql = qVec.map(v => s"${v}F").mkString("array(", ", ", ")")
      // unset knob → loud analysis-time failure naming the fix
      val ex = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_ann_topk($vecSql, 5)").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(ex).exists(_.contains(GraftConfig.IndexRootKey)))
      // wrong arity fails analysis naming the signature
      val exA = intercept[Exception] {
        spark.sql("SELECT * FROM graft_ann_topk(array(1.0F))").collect()
      }
      assert(msgs(exA).exists(_.contains("graft_ann_topk(query_vec, k[, nprobe])")))

      // PLAIN index root: SQL ≡ the DataFrame API on the same root
      val idx = graft.llm.Similarity.IvfIndex.build(e,
        graft.llm.Similarity.Quantizer.sampled(e)).root
      spark.conf.set(GraftConfig.IndexRootKey, idx)
      val sqlRows = spark.sql(s"SELECT vid, sim FROM graft_ann_topk($vecSql, 5)")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      import spark.implicits._
      val apiRows = graft.llm.Similarity.IvfIndex.open(spark, idx).serve(
          Seq((-1L, qVec)).toDF("vec_id", "embedding"), 5)
        .select(col("vid"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(sqlRows === apiRows && sqlRows.size === 5)
      // the query vector IS corpus vector 7 — the literal query must
      // still surface it (no self-exclusion leak from the qid plumbing)
      assert(sqlRows.exists(_._1 === 7L),
        "the identical corpus vector must rank in its own top-k")

      // MANIFEST freshness: append vectors colinear with the query —
      // the NEXT query (fresh analysis) must see them, no re-wiring
      val boosted = e.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      graft.llm.Similarity.IvfIndex.open(spark, idx).append(boosted, batchId = 1L)
      val sqlRows2 = spark.sql(s"SELECT vid, sim FROM graft_ann_topk($vecSql, 5)")
        .collect().map(_.getLong(0)).toSet
      assert(sqlRows2.contains(100007L),
        "appended vector must be served by the next SQL query")

      // LIFECYCLE root: CURRENT generation resolution (PQ serving path)
      // + cutover freshness through the same knob
      val lcRoot = java.nio.file.Files.createTempDirectory("ann-lc").toString
      val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
      graft.streaming.IndexLifecycle.init(spark, lcRoot, base)
      spark.conf.set(GraftConfig.IndexRootKey, lcRoot)
      val lcRows = spark.sql(s"SELECT vid, sim FROM graft_ann_topk($vecSql, 5)")
        .collect().map(_.getLong(0)).toSet
      assert(lcRows.size === 5 && lcRows.forall(_ % 3 === 0),
        "lifecycle root must serve the CURRENT generation's corpus")
      // a drift-triggered retrain flips CURRENT; the next SQL query
      // serves the new generation (absorbing the drifted batch)
      val drifted = e.filter(pmod(col("vec_id"), lit(3)) === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.75f)).as("embedding"))
      val cut = graft.streaming.IndexLifecycle.tick(spark, lcRoot, drifted, 1L)
      assert(cut, "the shifted batch must cut over to a new generation")
      val dq = drifted.filter(col("vec_id") === 1L).head().getSeq[Float](1)
      val dqSql = dq.map(v => s"${v}F").mkString("array(", ", ", ")")
      val lcRows2 = spark.sql(s"SELECT vid FROM graft_ann_topk($dqSql, 5)")
        .collect().map(_.getLong(0)).toSet
      assert(lcRows2.exists(_ % 3 === 1),
        "post-cutover SQL must serve the retrained generation")
    } finally {
      spark.conf.unset(GraftConfig.IndexRootKey)
      reg.dropFunction(FunctionIdentifier("graft_ann_topk"))
      ()
    }
  }

  test("graft_ann_topk_batch serves a COLUMN of queries from SQL; the lateral form fails loudly as documented") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.tableFunctionRegistry
    reg.registerFunction(FunctionIdentifier("graft_ann_topk"),
      new ExpressionInfo(classOf[graft.llm.Similarity.type].getName,
        "graft_ann_topk"),
      GraftExtensions.annTopKBuilder _)
    reg.registerFunction(FunctionIdentifier("graft_ann_topk_batch"),
      new ExpressionInfo(classOf[graft.llm.Similarity.type].getName,
        "graft_ann_topk_batch"),
      GraftExtensions.annTopKBatchBuilder _)
    try {
      val e = graft.llm.Similarity.clusteredEmbeddings(
        Tables.embeddings(spark, sf))
      val idx = graft.llm.Similarity.IvfIndex.build(e,
        graft.llm.Similarity.Quantizer.sampled(e)).root
      spark.conf.set(GraftConfig.IndexRootKey, idx)
      val queries = e.filter(col("vec_id") < 5L)
      queries.createOrReplaceTempView("ann_queries")
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

      // batch TVF ≡ the DataFrame API's batch serving, row for row
      val sqlRows = spark
        .sql("SELECT qid, vid, sim FROM graft_ann_topk_batch('ann_queries', 5)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val apiRows = graft.llm.Similarity.IvfIndex.open(spark, idx).serve(queries, 5)
        .select(col("qid"), col("vid"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(sqlRows === apiRows && sqlRows.nonEmpty,
        "SQL batch serving must equal the DataFrame API")
      assert(sqlRows.map(_._1) === queries.select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet,
        "every query row must be served")

      // the LATERAL-correlated form needs the RESOLUTION RULE (r19):
      // on a session that registered only the functions — not
      // GraftExtensions' rules — the correlated call resolves to the
      // AnnTopKHole placeholder and analysis fails LOUDLY with the
      // hole's hosting guidance, never a silent wrong answer. (The
      // hosted path is spec'd below on an extensions session.)
      val exL = intercept[Exception] {
        spark.sql("SELECT q.vec_id, t.vid FROM ann_queries q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t").collect()
      }
      assert(msgs(exL).exists(_.contains("hostable only as")),
        s"rule-less lateral must fail with the hole guidance: ${msgs(exL)}")

      // misuse of the batch form fails analysis naming the contract
      val exT = intercept[Exception] {
        spark.sql("SELECT * FROM graft_ann_topk_batch(42, 5)").collect()
      }
      assert(msgs(exT).exists(_.contains("string literal naming")))
      val exA = intercept[Exception] {
        spark.sql("SELECT * FROM graft_ann_topk_batch('ann_queries')").collect()
      }
      assert(msgs(exA).exists(
        _.contains("graft_ann_topk_batch(queries, k[, nprobe])")))
    } finally {
      spark.conf.unset(GraftConfig.IndexRootKey)
      spark.catalog.dropTempView("ann_queries")
      reg.dropFunction(FunctionIdentifier("graft_ann_topk"))
      reg.dropFunction(FunctionIdentifier("graft_ann_topk_batch"))
      ()
    }
  }

  test("LATERAL graft_ann_topk(q.vec, k) is HOSTED via the resolution rule: ≡ batch TVF row-for-row, PQ path, cutover freshness, loud only when unhostable") {
    // r19, the r18 verdict's #1. The injected-TVF surface still cannot
    // carry correlation; GraftExtensions' resolution rule rewrites the
    // lateral join into the SAME batch-join plan graft_ann_topk_batch
    // returns. Needs a session that actually LOADS the extension (the
    // shared test session predates extension loading): built here over
    // the same SparkContext via withExtensions, restored in finally.
    val baseSession = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = GraftSession.builder("graft-lateral", 4)
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions()(_))
      .getOrCreate()
    try {
      val e = graft.llm.Similarity.clusteredEmbeddings(
        Tables.embeddings(s2, sf))
      val idx = graft.llm.Similarity.IvfIndex.build(e,
        graft.llm.Similarity.Quantizer.sampled(e)).root
      s2.conf.set(GraftConfig.IndexRootKey, idx)
      // query ids OUTSIDE the corpus id space: the batch TVF's
      // vid == vec_id self-exclusion then never fires — the regime in
      // which the identity-less lateral form is exactly ≡ batch (and
      // the production serving case: incoming queries are not corpus
      // rows)
      e.filter(col("vec_id") < 5L)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .createOrReplaceTempView("ann_q_lat")
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = rows(s2.sql(
        "SELECT qid, vid, sim FROM graft_ann_topk_batch('ann_q_lat', 5)"))
      val lat = rows(s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_lat q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t"))
      assert(lat === batch && lat.nonEmpty,
        "lateral must equal the batch TVF row-for-row on the same index")

      // alias-less + 3-arg nprobe form + a WHERE on the left side
      val lat3 = s2.sql(
        "SELECT vec_id, vid FROM ann_q_lat, " +
          "LATERAL graft_ann_topk(embedding, 3, 2) WHERE vec_id % 2 = 0")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(lat3.map(_._1).distinct.forall(_ % 2 === 0) &&
        lat3.groupBy(_._1).values.forall(_.length === 3),
        "filtered lateral must serve k=3 rows per surviving left row")

      // SELF-EXCLUSION semantics, spec-pinned: with corpus-member ids
      // the batch TVF excludes vid == vec_id; the correlated form
      // carries only the VECTOR (the point form's qid −1 contract,
      // batched) and must surface the identical corpus vector itself
      e.filter(col("vec_id") < 5L).createOrReplaceTempView("ann_q_self")
      val bSelf = rows(s2.sql(
        "SELECT qid, vid, sim FROM graft_ann_topk_batch('ann_q_self', 5)"))
      val lSelf = rows(s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_self q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t"))
      assert(bSelf.forall { case (q, vid, _) => vid != q },
        "batch TVF must keep its id-based self-exclusion")
      assert(lSelf.exists { case (q, vid, sim) => vid == q && sim === 1.0 },
        "the identity-less lateral must rank the identical corpus vector")

      // duplicate and NULL query vectors: dups each get the (shared)
      // top-k; null vectors produce no rows (inner-join semantics)
      s2.sql("SELECT * FROM ann_q_lat UNION ALL SELECT * FROM ann_q_lat " +
        "UNION ALL SELECT -7L AS vec_id, CAST(NULL AS ARRAY<FLOAT>) AS embedding")
        .createOrReplaceTempView("ann_q_dup")
      val latDup = s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_dup q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t")
      assert(latDup.count() === 2L * lat.size,
        "each duplicate row gets the top-k; the null row gets none")
      assert(rows(latDup) === lat, "duplicate rows share the top-k")

      // empty left side serves zero rows without failing
      assert(s2.sql(
        "SELECT q.vec_id, t.vid FROM (SELECT * FROM ann_q_lat WHERE " +
          "vec_id < 0) q, LATERAL graft_ann_topk(q.embedding, 5) t")
        .count() === 0L)

      // PQ-shaped root dispatches to the ADC + exact-re-rank path
      val pq = graft.llm.Similarity.IvfIndex.build(e,
        graft.llm.Similarity.Quantizer.sampled(e), codec = graft.llm.Similarity.Codec.Pq).root
      s2.conf.set(GraftConfig.IndexRootKey, pq)
      val batchPq = rows(s2.sql(
        "SELECT qid, vid, sim FROM graft_ann_topk_batch('ann_q_lat', 5)"))
      val latPq = rows(s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_lat q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t"))
      assert(latPq === batchPq && latPq.nonEmpty,
        "lateral must ride the PQ serving path on a PQ-shaped root")

      // SQ8 root (one sq8/ store, no assignments/) serves on the rounded
      // router: the SQL rows equal the DataFrame serve of the same root
      val sq8 = java.nio.file.Files.createTempDirectory("ann-sq8").toString
      graft.llm.Similarity.IvfIndex.build(e, graft.llm.Similarity.Quantizer.replayable(e),
        Some(sq8), graft.llm.Similarity.Codec.Sq8)
      s2.conf.set(GraftConfig.IndexRootKey, sq8)
      val batchSq8 = rows(s2.sql(
        "SELECT qid, vid, sim FROM graft_ann_topk_batch('ann_q_lat', 5)"))
      val apiSq8 = rows(graft.llm.Similarity.IvfIndex.openReplayable(s2, sq8)
        .serve(s2.table("ann_q_lat"), 5))
      assert(batchSq8 === apiSq8 && batchSq8.nonEmpty,
        "SQL serving of an SQ8 root must equal the DataFrame serve")

      // LIFECYCLE root: analysis-time CURRENT-generation resolution —
      // a drift-triggered retrain cutover is visible to the NEXT query
      val lcRoot = java.nio.file.Files.createTempDirectory("ann-lat-lc").toString
      val lcBase = e.filter(pmod(col("vec_id"), lit(3)) === 0)
      graft.streaming.IndexLifecycle.init(s2, lcRoot, lcBase)
      s2.conf.set(GraftConfig.IndexRootKey, lcRoot)
      val latLc = rows(s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_lat q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t"))
      assert(latLc.nonEmpty && latLc.forall(_._2 % 3 === 0),
        "lifecycle root must serve the CURRENT generation's corpus")
      val drifted = e.filter(pmod(col("vec_id"), lit(3)) === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(0.75f)).as("embedding"))
      val cut = graft.streaming.IndexLifecycle.tick(s2, lcRoot, drifted, 1L)
      assert(cut, "the shifted batch must cut over to a new generation")
      s2.sql("SELECT vec_id, transform(embedding, x -> x + 0.75F) AS embedding " +
        "FROM ann_q_lat").createOrReplaceTempView("ann_q_drift")
      val latLc2 = rows(s2.sql(
        "SELECT q.vec_id, t.vid, t.sim FROM ann_q_drift q, " +
          "LATERAL graft_ann_topk(q.embedding, 5) t"))
      assert(latLc2.exists(_._2 % 3 === 1),
        "post-cutover lateral must serve the retrained generation")

      // UNHOSTABLE shapes fail loudly via the check rule, with guidance
      s2.conf.set(GraftConfig.IndexRootKey, idx)
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      val exOuter = intercept[Exception] {
        s2.sql("SELECT q.vec_id, t.vid FROM ann_q_lat q LEFT OUTER JOIN " +
          "LATERAL graft_ann_topk(q.embedding, 5) t").collect()
      }
      assert(msgs(exOuter).exists(_.contains("hostable only as")),
        s"outer lateral must fail with hosting guidance: ${msgs(exOuter)}")
      // correlated k is genuinely unhostable — loud at the builder
      val exK = intercept[Exception] {
        s2.sql("SELECT q.vec_id, t.vid FROM ann_q_lat q, " +
          "LATERAL graft_ann_topk(q.embedding, CAST(q.vec_id AS INT)) t")
          .collect()
      }
      assert(msgs(exK).exists(_.contains("k must be a foldable literal")),
        s"correlated k must fail loudly: ${msgs(exK)}")
      // a non-array correlated vector fails naming the type contract
      val exT = intercept[Exception] {
        s2.sql("SELECT q.vec_id, t.vid FROM ann_q_lat q, " +
          "LATERAL graft_ann_topk(q.vec_id, 5) t").collect()
      }
      assert(msgs(exT).exists(_.contains("numeric array")),
        s"non-array vector must fail naming the contract: ${msgs(exT)}")
    } finally {
      s2.conf.unset(GraftConfig.IndexRootKey)
      Seq("ann_q_lat", "ann_q_self", "ann_q_dup", "ann_q_drift")
        .foreach(v => { s2.catalog.dropTempView(v); () })
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(baseSession)
      org.apache.spark.sql.SparkSession.setActiveSession(baseSession)
    }
  }

  test("graft_quality_route / graft_budget_route: SQL ≡ the st8/st13 DataFrame routes row-for-row; arity/knob fail-loud") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("graft_quality_route"),
      new ExpressionInfo(classOf[graft.streaming.Streams.type].getName,
        "graft_quality_route"),
      GraftExtensions.qualityRouteBuilder _)
    reg.registerFunction(FunctionIdentifier("graft_budget_route"),
      new ExpressionInfo(classOf[graft.streaming.Streams.type].getName,
        "graft_budget_route"),
      GraftExtensions.budgetRouteBuilder _)
    val docs = Tables.documents(spark, sf)
    docs.createOrReplaceTempView("gate_docs")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    try {
      // QUALITY: SQL ≡ st8's qualityRoute verbatim (both verdict and
      // first-failing reason), and the fixture must exercise both routes
      val sqlQ = spark.sql(
        "SELECT doc_id, graft_quality_route(text).route AS route, " +
          "graft_quality_route(text).reason AS reason FROM gate_docs")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val apiQ = graft.streaming.Streams.qualityRoute(docs)
        .select(col("doc_id"), col("route"), col("reason"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(sqlQ === apiQ && sqlQ.nonEmpty)
      assert(sqlQ.exists(_._2 == "pass") && sqlQ.exists(_._2 == "fail"),
        "fixture must exercise both routes")

      // BUDGET: unset model knob → loud analysis failure naming the fix
      val exKnob = intercept[Exception] {
        spark.sql("SELECT graft_budget_route(text) FROM gate_docs").collect()
      }
      assert(msgs(exKnob).exists(_.contains(GraftConfig.BpeModelRootKey)))
      val root = java.nio.file.Files.createTempDirectory("gate-bpe").toString
      val m = graft.llm.BpeArtifact.train(docs, root)
      spark.conf.set(GraftConfig.BpeModelRootKey, root)
      // 1-arg form = the composed front door's bounds (64, 4096)
      val sqlB = spark.sql(
        "SELECT doc_id, graft_budget_route(text).route AS route, " +
          "graft_budget_route(text).reason AS reason FROM gate_docs")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val apiB = graft.streaming.Streams
        .bpeBudgetRouteFromArtifact(docs, root)
        .select(col("doc_id"), col("route"), col("reason"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(sqlB === apiB && sqlB.nonEmpty)
      // 3-arg form ≡ explicit bounds (tight bounds flip routes)
      val sqlB3 = spark.sql(
        "SELECT doc_id, graft_budget_route(text, 10, 200).route AS route, " +
          "graft_budget_route(text, 10, 200).reason AS reason FROM gate_docs")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val apiB3 = graft.streaming.Streams
        .bpeBudgetRoute(docs, m.pairs, 10L, 200L)
        .select(col("doc_id"), col("route"), col("reason"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(sqlB3 === apiB3 && sqlB3 != sqlB,
        "tight bounds must route differently than the defaults")

      // arity / bound misuse fails naming the contract
      val exA = intercept[Exception] {
        spark.sql("SELECT graft_budget_route(text, 10) FROM gate_docs").collect()
      }
      assert(msgs(exA).exists(
        _.contains("graft_budget_route(text[, min_tok, max_tok])")))
      val exB = intercept[Exception] {
        spark.sql("SELECT graft_budget_route(text, 200, 10) FROM gate_docs")
          .collect()
      }
      assert(msgs(exB).exists(_.contains("min_tok <= max_tok")))
      val exQ = intercept[Exception] {
        spark.sql("SELECT graft_quality_route(text, 1) FROM gate_docs").collect()
      }
      assert(msgs(exQ).exists(_.contains("graft_quality_route(text)")))
    } finally {
      spark.conf.unset(GraftConfig.BpeModelRootKey)
      reg.dropFunction(FunctionIdentifier("graft_quality_route"))
      reg.dropFunction(FunctionIdentifier("graft_budget_route"))
      spark.catalog.dropTempView("gate_docs")
      ()
    }
  }

  test("injected builders reject wrong arity with the expected signature") {
    // zero args, and the silently-worse case: EXTRA args ignored
    val ex0 = intercept[IllegalArgumentException] {
      GraftExtensions.bpeCountBuilder(Seq.empty)
    }
    assert(ex0.getMessage.contains("graft_bpe_count(text)") &&
      ex0.getMessage.contains("exactly 1"))
    val lit7 = org.apache.spark.sql.catalyst.expressions.Literal(7)
    val ex2 = intercept[IllegalArgumentException] {
      GraftExtensions.bpeTokensBuilder(Seq(lit7, lit7))
    }
    assert(ex2.getMessage.contains("graft_bpe_tokens(text)"))
    // the binary functions guard both directions too
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier("ext_arity_cos"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CosineSimF32].getName, "ext_arity_cos"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        GraftExtensions.requireArity("cosine_f32(x, y)", 2, args)
        graft.functions.CosineSimF32(args(0), args(1))
      })
    try {
      val ex1 = intercept[Exception] {
        spark.sql("SELECT ext_arity_cos(array(1.0F))").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(ex1).exists(m => m != null && m.contains("cosine_f32(x, y)")),
        s"analysis error must name the signature: ${ex1.getMessage}")
    } finally { reg.dropFunction(FunctionIdentifier("ext_arity_cos")); () }
  }

  test("set-but-out-of-range spark.graft.bpe.* knobs fail loudly, never default") {
    def withKnob[A](key: String, v: String)(f: => A): A = {
      spark.conf.set(key, v)
      try f finally spark.conf.unset(key)
    }
    val exPct = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.BpeDriftPctKey, "150") {
        GraftConfig.bpeLifecycleDriftPct(spark)
      }
    }
    assert(exPct.getMessage.contains(GraftConfig.BpeDriftPctKey))
    val exKeep = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.BpeKeepVersionsKey, "0") {
        GraftConfig.bpeKeepVersions(spark)
      }
    }
    assert(exKeep.getMessage.contains(GraftConfig.BpeKeepVersionsKey))
    val exCp = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.BpeCompactAfterBatchesKey, "1") {
        GraftConfig.bpeCompactAfterBatches(spark)
      }
    }
    assert(exCp.getMessage.contains(GraftConfig.BpeCompactAfterBatchesKey))
    // the discipline covers the WHOLE spark.graft.* surface (r17):
    // trainer knobs, ledger/index compaction cadences, closure bound
    val exTv = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.BpeTrainTopVKey, "0") {
        GraftConfig.bpeTrainTopV(spark)
      }
    }
    assert(exTv.getMessage.contains(GraftConfig.BpeTrainTopVKey))
    val exIc = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.IndexCompactAfterBatchesKey, "1") {
        GraftConfig.indexCompactAfterBatches(spark)
      }
    }
    assert(exIc.getMessage.contains(GraftConfig.IndexCompactAfterBatchesKey))
    val exLc = intercept[IllegalArgumentException] {
      withKnob(GraftConfig.LedgerCompactEveryKey, "0") {
        GraftConfig.ledgerCompactEvery(spark)
      }
    }
    assert(exLc.getMessage.contains(GraftConfig.LedgerCompactEveryKey))
    // in-range values still resolve; unset still defaults
    assert(withKnob(GraftConfig.BpeDriftPctKey, "25") {
      GraftConfig.bpeLifecycleDriftPct(spark)
    } === Some(25))
    assert(withKnob(GraftConfig.BpeTrainRoundsKey, "4") {
      GraftConfig.bpeTrainRounds(spark)
    } === Some(4))
    assert(GraftConfig.bpeLifecycleDriftPct(spark).isEmpty)
  }

  test("SelfSimilarityFold rewrites diagonal cosine to constants") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(0.0f, 0.0f)),     // zero vector → NaN preserved
      (3L, null.asInstanceOf[Array[Float]]),
      (4L, Array(Float.NaN, 1.0f)) // NaN component → NaN, not 1.0
    ).toDF("id", "e")
    val diag = df.select(col("id"),
      graft.functions.VectorExpressions.cosineF32(col("e"), col("e")).as("c"))
    val optimized = SelfSimilarityFold(diag.queryExecution.analyzed)
    // rule fired: no CosineSimF32 left in the plan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[graft.functions.CosineSimF32])))
    // semantics preserved end-to-end (evaluate the rewritten plan)
    val out = org.apache.spark.sql.graftshim.Shim.ofRows(spark, optimized)
      .orderBy("id").collect()
    assert(out(0).getDouble(1) === 1.0)
    assert(out(1).getDouble(1).isNaN)
    assert(out(2).isNullAt(1))
    assert(out(3).getDouble(1).isNaN) // matches the unfolded NaN/NaN path
  }
}

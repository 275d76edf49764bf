package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftSparkInternals, SparkThrowable}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, FloatType, LongType,
  StructField, StructType}

import graft.{SparkSpec, Tables}
import graft.functions.VectorExpressions.{pqAdcDist, pqAdcTable, unitF32}
import graft.llm.Similarity
import graft.llm.Similarity.{Codec, IvfIndex, Quantizer}

/** Fixed cost of a warm index serve — `IndexLifecycle.serve` + collect on
  * a PQ generation with committed deltas, the benchmark's `index_batch`
  * op. Planning reads the centroids and the codebook on the driver with
  * no job and routes the queries in one collect that also computes their
  * ADC tables, so the serve runs no schema-inference, sampling, table
  * shuffle or artifact job. The rows are pinned to the formulation
  * before that change: lazily routed probes, the explode × codebook
  * join → `groupBy` ADC table and the DECIMAL fold, kept here as the
  * reference.
  */
class IndexServeSpec extends SparkSpec {
  import spark.implicits._

  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  }

  /** Jobs started by `body` (the listener bus drained on both sides). */
  private def jobsOf[A](body: => A): (A, Int) = {
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext, 10000)
    val before = jobs.get
    val a = body
    GraftSparkInternals.waitListenerBusEmpty(spark.sparkContext, 10000)
    (a, jobs.get - before)
  }

  private lazy val emb = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))

  /** The explode × broadcast codebook join → `groupBy` / `collect_list` /
    * `array_sort` ADC table: (vec_id, embedding) unit queries → (qid, dtab).
    */
  private def referenceAdcTable(unit: DataFrame, cb: Seq[(Long, Long, Seq[Double])]): DataFrame = {
    import graft.functions.VectorExpressions.arrayDot
    val mSub = (cb.map(_._1).max + 1).toInt
    val sub = cb.head._3.length
    val subvectors = unit.select(col("vec_id"),
        explode(expr(s"""transform(sequence(0, ${mSub - 1}),
          m -> struct(CAST(m AS BIGINT) AS ss,
            CAST(slice(embedding, m * $sub + 1, $sub) AS array<double>) AS v))"""))
          .as("e"))
      .select(col("vec_id"), col("e.ss").as("ss"), col("e.v").as("v"))
    subvectors.join(broadcast(cb.toDF("ss", "cid", "cv")), Seq("ss"))
      .select(col("vec_id"), col("ss"), col("cid"),
        round(arrayDot(col("v"), col("v"))
          - lit(2.0) * arrayDot(col("v"), col("cv"))
          + arrayDot(col("cv"), col("cv")), 6).as("dist"))
      .groupBy(col("vec_id").as("qid"))
      .agg(transform(
        array_sort(collect_list(struct(col("ss"), col("cid"), col("dist")))),
        e => e.getField("dist")).as("dtab"))
  }

  /** Unit-length (vec_id, embedding) rows, the serve's normalization. */
  private def unitRows(df: DataFrame): DataFrame = {
    import graft.functions.VectorExpressions.arrayDot
    df.select(col("vec_id"), col("embedding"),
        sqrt(arrayDot(col("embedding"), col("embedding"))).as("__n"))
      .select(col("vec_id"), transform(col("embedding"),
        x => (x / greatest(col("__n"), lit(1e-30))).cast("float")).as("embedding"))
  }

  /** The fixed-order DECIMAL fold over (code, dtab) that [[pqAdcDist]] replaced. */
  private def adcFold(kCent: Int): Column = expr(s"""CAST(aggregate(
      transform(code, (c, i) -> element_at(dtab,
        i * $kCent + ((CAST(c AS INT) + 256) % 256) + 1)),
      CAST(0 AS DECIMAL(18,6)),
      (acc, x) -> CAST(acc + CAST(x AS DECIMAL(18,6)) AS DECIMAL(18,6)))
      AS DOUBLE)""")

  private def codebookOf(root: String): Seq[(Long, Long, Seq[Double])] =
    spark.read.parquet(s"$root/pqcodebook").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toSeq)).toSeq

  /** The serve of a PQ index root as formulated before typed reads and the
    * native table: probes routed lazily in the final plan, the reference
    * ADC table, the query vectors broadcast from the query frame.
    */
  private def referenceServe(root: String, queries: DataFrame, k: Int): DataFrame = {
    val idx = IvfIndex.open(spark, root)
    val routed = idx.quantizer.probe(queries, Similarity.deriveNprobe(idx.quantizer.nlist))
    val cells = routed.select("cell").distinct().as[Int].collect().sorted.toSeq
    def inCells(df: DataFrame) = df.filter(col("cell").isin(cells: _*))
    val cb = codebookOf(root)
    val kCent = (cb.map(_._2).max + 1).toInt
    val qt = referenceAdcTable(unitRows(queries), cb)
    val qe = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val adc = inCells(idx.codes)
      .join(broadcast(routed.select(col("qid"), col("cell"))), Seq("cell"))
      .filter(col("vid") =!= col("qid"))
      .join(broadcast(qt), Seq("qid"))
      .select(col("qid"), col("vid"), adcFold(kCent).as("adist"))
    val wA = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vid"))
    val top = adc.withColumn("rn", row_number().over(wA)).filter(col("rn") <= 8L * k)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vid"))
    top.select(col("qid"), col("vid"))
      .join(inCells(idx.vectors).select(col("vid"), col("ve")), Seq("vid"))
      .join(broadcast(qe), Seq("qid"))
      .select(col("qid"), col("vid"), Similarity.cosine(col("qe"), col("ve")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
  }

  private def sorted(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("qid", "vid", "sim").as[(Long, Long, Double)].collect().toSeq.sorted

  /** A lifecycle initialized on every fifth fixture vector; modulus 5
    * keeps each later split a uniform sample across the fixture's
    * clusters, so ticks append instead of retraining.
    */
  private def lifecycle(prefix: String): String = {
    val lcRoot = Files.createTempDirectory(prefix).toString + "/lc"
    IndexLifecycle.init(spark, lcRoot, emb.filter(col("vec_id") % 5 === 0))
    lcRoot
  }

  test("a warm serve of a generation with two deltas runs at most 7 jobs, rows as before") {
    val lcRoot = lifecycle("idx-serve")
    (1 to 2).foreach { i =>
      assert(!IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === i), i.toLong))
    }
    val g = IndexLifecycle.currentRoot(spark, lcRoot).get
    assert(Similarity.readDeltaManifest(new org.apache.hadoop.fs.Path(g)
      .getFileSystem(spark.sessionState.newHadoopConf()), g).get.size === 2)
    val queries = emb.filter(col("vec_id") < 24)

    IndexLifecycle.serve(spark, lcRoot, queries, 10).collect() // warm-up
    spark.sparkContext.addSparkListener(listener)
    val ((served, rows), n) =
      try jobsOf {
        val df = IndexLifecycle.serve(spark, lcRoot, queries, 10)
        (df, df.collect())
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(n <= 7, s"a warm serve + collect ran $n jobs")
    // each committed delta batch is one file per store, read whole: a
    // probed-cell filter there would put the cell list into generated code
    def deltaScans(p: SparkPlan, store: String): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => deltaScans(a.executedPlan, store)
      case q: QueryStageExec => deltaScans(q.plan, store)
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.forall(_.getParent.getName == store) =>
        assert(!f.dataFilters.exists(_.exists {
          case _: In | _: InSet => true
          case _ => false
        }), s"$store: ${f.dataFilters}")
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(deltaScans(_, store))
    }
    for (store <- Seq("deltas", "codes_deltas"))
      assert(deltaScans(served.queryExecution.executedPlan, store) === Seq(2L), store)
    assert(rows.length === 24 * 10)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got === sorted(referenceServe(g, queries, 10)))
  }

  test("PqAdcTable is bit-identical to the explode/join/groupBy table") {
    val rng = new scala.util.Random(11L)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val random = (0 until 16).map(i =>
      Row(i.toLong, Seq.fill(64)((rng.nextGaussian() * 0.3).toFloat)))
    val zero = Row(16L, Seq.fill(64)(0.0f))
    val queries = unitRows(spark.createDataFrame(
      java.util.Arrays.asList(random :+ zero: _*), schema))
    // a trained 256-cid codebook, and one with a realized kCent < 256
    val tiny = emb.filter(col("vec_id") < 40)
    val trained = codebookOf(IvfIndex.build(emb, Quantizer.sampled(emb), codec = Codec.Pq).root)
    val small = codebookOf(IvfIndex.build(tiny, Quantizer.sampled(tiny), codec = Codec.Pq).root)
    assert(small.map(_._2).max + 1 < 256, "the small codebook must trail 256 cids")
    for (cb <- Seq(trained, small)) {
      val kCent = (cb.map(_._2).max + 1).toInt
      val want = referenceAdcTable(queries, cb).as[(Long, Seq[Double])].collect().toMap
      // the LocalRelation form folds on the driver (interpreted); the
      // repartitioned form runs the generated code
      for (q <- Seq(queries, queries.repartition(2))) {
        val got = q.select(col("vec_id"), pqAdcTable(col("embedding"), cb))
          .as[(Long, Seq[Double])].collect().toMap
        assert(got.keySet === want.keySet)
        got.foreach { case (id, t) =>
          assert(t.length === 16 * kCent)
          assert(t.map(java.lang.Double.doubleToRawLongBits) ===
            want(id).map(java.lang.Double.doubleToRawLongBits), s"query $id, kCent $kCent")
        }
      }
    }
  }

  test("a warm non-cutover tick runs at most 5 jobs") {
    val lcRoot = lifecycle("idx-tick")
    assert(!IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === 1), 1L))
    spark.sparkContext.addSparkListener(listener)
    val (cutover, n) =
      try jobsOf(IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === 2), 2L))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(!cutover)
    // the drift check's one batch-histogram job, the two stores' shuffle
    // + write, and no centroid, codebook or drift-reference read
    assert(n <= 5, s"a warm append tick ran $n jobs")
  }

  test("a warm serve after one more append compiles nothing") {
    val lcRoot = lifecycle("idx-compile")
    assert(!IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === 1), 1L))
    // queries arrive as local rows (a filtered frame's own predicate
    // would compile per literal); the second serve probes other cells
    val Seq(first, second) = Seq(col("vec_id") < 24, col("vec_id").between(24, 47)).map { p =>
      val df = emb.filter(p)
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
    // the first serve over a delta compiles the union's shape
    IndexLifecycle.serve(spark, lcRoot, first, 10).collect()
    assert(!IndexLifecycle.tick(spark, lcRoot, emb.filter(col("vec_id") % 5 === 2), 2L))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rows = IndexLifecycle.serve(spark, lcRoot, second, 10).collect()
    assert(rows.length === 24 * 10)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L,
      "a warm serve of a seen shape compiled generated code (a per-serve literal?)")
  }

  private val adcSchema = StructType(Seq(StructField("id", LongType),
    StructField("code", ArrayType(ByteType)), StructField("dtab", ArrayType(DoubleType))))

  /** id → raw bits of (fold, kernel) over (id, code, dtab) `rows` at `kCent`,
    * interpreted on the LocalRelation and generated after a repartition.
    */
  private def adcBoth(kCent: Int, rows: Seq[Row]): Seq[Map[Long, (Option[Long], Option[Long])]] = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), adcSchema)
    def bits(r: Row, i: Int) =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    Seq(df, df.repartition(2)).map(_.select(col("id"), adcFold(kCent),
        pqAdcDist(col("code"), col("dtab"), kCent))
      .collect().map(r => r.getLong(0) -> (bits(r, 1), bits(r, 2))).toMap)
  }

  /** The error condition `body` fails with (the cause chain's first). */
  private def condition(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(fail(s"no error condition in $e"))
  }

  test("PqAdcDist is bit-identical to the DECIMAL fold") {
    val rng = new scala.util.Random(13L)
    def sixDp(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // a trained kCent and a trailing small codebook's
    for (kCent <- Seq(256, 37)) {
      val rows = (0 until 512).map { i =>
        // PqAdcTable's 6-dp squared distances; 6-dp entries past the fast
        // path's 1e8; raw doubles over twelve magnitudes, 6-dp halves among them
        val entry: () => Double = i % 4 match {
          case 0 | 1 => () => sixDp(rng.nextDouble() * 4)
          case 2 => () => sixDp((rng.nextDouble() - 0.5) * 2e9)
          case _ => () => if (rng.nextInt(8) == 0) (rng.nextInt(1000) + 0.5) / 1e6
            else rng.nextDouble() * math.pow(10, rng.nextInt(12) - 6)
        }
        Row(i.toLong, Seq.fill(16)(rng.nextInt(kCent).toByte), Seq.fill(16 * kCent)(entry()))
      }
      for (got <- adcBoth(kCent, rows)) {
        assert(got.size === 512)
        got.foreach { case (id, (want, have)) =>
          assert(want.isDefined && have === want, s"row $id, kCent $kCent")
        }
      }
    }
  }

  test("PqAdcDist: nulls, NaN and infinities as the fold; errors as the ANSI fold") {
    val tab = Seq(0.5, 1.25, 2.0, 0.75, 3.5, 0.125, 1.0, 2.5)
    val edge = Seq(
      Row(0L, null, tab), Row(1L, Seq[Byte](1, 2), null), Row(2L, Seq[Byte](), null),
      Row(3L, Seq[Byte](), tab), Row(4L, Seq[Any](1.toByte, null), tab),
      Row(5L, Seq[Byte](0, 1), Double.NaN +: tab.tail),
      Row(6L, Seq[Byte](0, 1), Double.PositiveInfinity +: tab.tail),
      Row(7L, Seq[Byte](0, 1), Seq[Any](null) ++ tab.tail), Row(8L, Seq[Byte](3, 2), tab))
    for (got <- adcBoth(4, edge)) {
      assert(got.size === edge.size)
      got.foreach { case (id, (want, have)) => assert(have === want, s"row $id") }
      assert(got.collect { case (id, (Some(_), _)) => id }.toSet === Set(2L, 3L, 8L))
    }
    // (kCent, row): a cid past the table, an entry and a sum past DECIMAL(18,6)
    val failing = Seq(4 -> Row(0L, Seq[Byte](0, 5), tab), 1 -> Row(0L, Seq[Byte](0), Seq(1e13)),
      1 -> Row(0L, Seq[Byte](0, 0), Seq(9e11, 9e11)))
    for ((kCent, row) <- failing) {
      val df = spark.createDataFrame(java.util.Arrays.asList(row), adcSchema)
      for (d <- Seq(df, df.repartition(2))) {
        val want = condition(d.select(adcFold(kCent)).collect())
        assert(condition(d.select(pqAdcDist(col("code"), col("dtab"), kCent)).collect()) === want)
      }
    }
    // with ANSI off the same inputs are null on both sides
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try failing.foreach { case (kCent, row) =>
      adcBoth(kCent, Seq(row)).foreach(got => assert(got === Map(0L -> (None, None))))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("UnitF32 is bit-identical to the transform normalization") {
    val rng = new scala.util.Random(12L)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = (0 until 16).map(i =>
      Row(i.toLong, Seq.fill(64)((rng.nextGaussian() * math.pow(10, i % 7 - 3)).toFloat))) ++
      Seq(Row(16L, Seq.fill(64)(0.0f)), Row(17L, Seq(Float.MinPositiveValue)), Row(18L, null))
    val vecs = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def bits(df: DataFrame) = df.as[(Long, Seq[Float])].collect().toMap
      .map { case (id, v) => id -> Option(v).map(_.map(java.lang.Float.floatToRawIntBits)) }
    val want = bits(unitRows(vecs))
    // interpreted on the LocalRelation, generated code after the repartition
    for (v <- Seq(vecs, vecs.repartition(2))) {
      assert(bits(v.select(col("vec_id"), unitF32(col("embedding")))) === want)
    }
  }

  /** CodegenFallback expressions the serve plans may hold. It may only
    * shrink: a serve change that adds an interpreted expression to the
    * hot path has to say so here, and one that removes the last use of
    * an entry removes the entry.
    */
  private val ServeCodegenFallbacks =
    Set("transform", "lambdafunction", "namedlambdavariable")

  test("serve plans: no exchange on the query side, codegen fallbacks only from the allowlist") {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val queries = emb.filter(col("vec_id") < 8)
    val flat = IvfIndex.build(emb, Quantizer.sampled(emb)).root
    val pq = IvfIndex.build(emb, Quantizer.sampled(emb), codec = Codec.Pq).root
    val sq8 = IvfIndex.build(emb, Quantizer.replayable(emb),
      Some(Files.createTempDirectory("idx-sq8").toString + "/ix"), Codec.Sq8).root
    val fallbacks = Seq(flat, pq, sq8).flatMap { root =>
      val plan = nodes(IvfIndex.open(spark, root).serve(queries, 5).queryExecution.executedPlan)
      val querySides = plan.collect { case b: BroadcastExchangeExec => b }
      assert(querySides.nonEmpty, s"$root: no broadcast query side")
      querySides.foreach { b =>
        assert(nodes(b).forall(!_.isInstanceOf[ShuffleExchangeExec]),
          s"$root: an exchange on the query side:\n$b")
      }
      plan.flatMap(_.expressions).flatMap(_.collect { case e: CodegenFallback => e.prettyName })
    }.toSet
    assert(fallbacks.subsetOf(ServeCodegenFallbacks),
      s"new CodegenFallback in a serve plan: ${fallbacks -- ServeCodegenFallbacks}")
    assert(ServeCodegenFallbacks.subsetOf(fallbacks),
      s"allowlisted but gone, drop it: ${ServeCodegenFallbacks -- fallbacks}")
  }
}

package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),   // orthogonal
      (Array(1.0f, 1.0f), Array(2.0f, 2.0f), 1.0),   // parallel
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0)  // opposite
    ).toDF("a", "b", "expected")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("sim"), col("expected"))
      .as[(Double, Double)].collect()
    got.foreach { case (sim, exp) => assert(math.abs(sim - exp) < 1e-12) }
  }

  test("brute-force top-k is exact: agrees with a driver-side computation on sf0.001") {
    val e = Tables.embeddings(spark, sf)
    val topk = Similarity.bruteTopK(e.filter(col("vec_id") < 3), e, 3)
      .select("qid", "vid").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vecs = e.select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    for (q <- 0L until 3L) {
      val expected = vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(vecs(q), vecs(v)), v)).take(3).toSet
      assert(topk(q) === expected, s"query $q")
    }
  }

  test("LSH ANN: planted near-duplicates are always found; uniform-data recall bounded") {
    val e = Tables.embeddings(spark, sf)
    // plant two near-identical copies of vector 0 (the near-dup-search use
    // case: cos ≈ 0.999) with fresh ids
    val v0 = e.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val planted = Seq(
      (9001L, v0.map(x => x * 1.001f), 0),
      (9002L, v0.updated(0, v0(0) + 0.01f), 0)
    ).toDF("vec_id", "embedding", "label")
    val corpus = e.union(planted)
    val ann = Similarity.lshTopK(corpus.filter(col("vec_id") === 0), corpus, 5)
      .select("vid").as[Long].collect().toSet
    assert(ann.contains(9001L) && ann.contains(9002L),
      "near-duplicates of the query must be retrieved")
    // uniform random data is hyperplane-LSH's worst case; still expect
    // a usable fraction of the true top-5 at ~12% candidate rate
    val q = e.filter(col("vec_id") < 16)
    val brute = Similarity.bruteTopK(q, e, 5).select("qid", "vid")
      .as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, e, 5).select("qid", "vid")
      .as[(Long, Long)].collect().toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    info(s"uniform-data ANN recall = $recall")
    assert(recall >= 0.3)
  }

  test("hyperplanes are deterministic across invocations") {
    assert(Similarity.hyperplanes(8, 2, 4) === Similarity.hyperplanes(8, 2, 4))
  }

  test("kmeans assignment: total within-cluster distance never increases with iters") {
    val e = Tables.embeddings(spark, sf)
    // dist is the squared L2 to the assigned centroid, so summing it is
    // the k-means inertia; Lloyd's update must be monotone non-increasing
    val inertia = (0 to 3).map { it =>
      Similarity.kmeansAssign(e, k = 8, iters = it)
        .agg(sum(col("dist"))).collect()(0).getDouble(0)
    }
    info(s"inertia by iters: ${inertia.mkString(", ")}")
    inertia.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"inertia increased: $a -> $b")
    }
    // well-formed assignment: each vector exactly once, all k clusters used
    val out = Similarity.kmeansAssign(e, k = 8, iters = 1)
    assert(out.count() === e.count())
    assert(out.select("vec_id").distinct().count() === e.count())
    assert(out.select("cluster_id").distinct().count() === 8)
  }

  test("IVF ANN, adversarial near-uniform regime: recall tracks an EXPLICIT 50% scan fraction") {
    // the documented worst case for cell routing: on near-uniform
    // vectors recall can only track the scanned fraction, so the caller
    // states the fraction it is paying (nprobeForFraction) — the
    // shrinking derived default is the wrong tool here by construction
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 16)
    val nl = Similarity.deriveNlist(e.count())
    val half = Similarity.nprobeForFraction(nl, 0.5)
    val brute = Similarity.bruteTopK(q, e, 5).select("qid", "vid")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.Quantizer.sampled(e).topK(q, e, 5, Some(half))
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"uniform-data IVF recall = $recall at explicit 50% scan (nprobe $half/$nl)")
    assert(recall >= 0.6)
    // every query must return a full k (cells are never empty at k=5)
    val perQuery = ivf.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ === 5))
  }

  test("IVF ANN, clustered regime: derived defaults clear 0.8 recall (the shipped posture)") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val q = e.filter(col("vec_id") < 16)
    val brute = Similarity.bruteTopK(q, e, 5).select("qid", "vid")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.Quantizer.sampled(e).topK(q, e, 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    val np = Similarity.deriveNprobe(Similarity.deriveNlist(e.count()))
    info(s"clustered IVF recall = $recall at derived defaults " +
      s"(nprobe $np cells — routing carries the recall)")
    assert(recall >= 0.8)
  }

  test("clustered fixture: deterministic; separated (within-cluster sims dominate cross)") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val again = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    assert(e.collect().map(_.toString).sorted
      .sameElements(again.collect().map(_.toString).sorted))
    val c = Similarity.ClusteredFixtureC
    val pairs = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
      .crossJoin(e.select(col("vec_id").as("vb"), col("embedding").as("eb")))
      .filter(col("va") < col("vb"))
      .select((pmod(col("va"), lit(c)) === pmod(col("vb"), lit(c))).as("same"),
        Similarity.cosine(col("ea"), col("eb")).as("sim"))
      .groupBy(col("same")).agg(avg(col("sim")).as("m"), min(col("sim")).as("lo"),
        max(col("sim")).as("hi"))
      .collect().map(r => r.getBoolean(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val (withinMean, withinLo, _) = pairs(true)
    val (crossMean, _, crossHi) = pairs(false)
    info(f"within mean $withinMean%.3f (min $withinLo%.3f); cross mean $crossMean%.3f (max $crossHi%.3f)")
    assert(withinMean > 0.8, "within-cluster cosines must be high")
    assert(crossMean < 0.3, "cross-cluster cosines must be low")
    assert(withinLo > crossMean, "clusters must be separated")
  }

  test("append-or-retrain: drifted batch rebuilds, in-distribution batch appends in place") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val undrifted = e.filter(pmod(col("vec_id"), lit(3)) === 1)
    val drifted = e.filter(pmod(col("vec_id"), lit(3)) === 2)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.75f)).as("embedding"))
    val idx = Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base)).root
    val (idx1, r1) = Similarity.ivfAppendOrRetrain(spark, idx, undrifted, batchId = 1L)
    assert(!r1, "in-distribution append must not trigger a retrain")
    assert(idx1 === idx, "append keeps the index root")
    // batch appends live in the delta tree (r14) — read base ∪ deltas
    val nAfterAppend = Similarity.IvfIndex.open(spark, idx1).vectors.count()
    assert(nAfterAppend === base.count() + undrifted.count())
    val (idx2, r2) = Similarity.ivfAppendOrRetrain(spark, idx1, drifted, batchId = 2L)
    assert(r2, "drifted append must trigger a retrain")
    assert(idx2 !== idx1, "retrain cuts over to a NEW index root")
    // the rebuilt index covers old ∪ new exactly once
    val rebuilt = spark.read.parquet(s"$idx2/assignments")
    assert(rebuilt.count() === e.count())
    assert(rebuilt.select("vid").distinct().count() === e.count())
    // and the abandoned pre-retrain root is untouched (serving cutover,
    // not in-place mutation)
    assert(Similarity.IvfIndex.open(spark, idx1).vectors.count() === nAfterAppend)
  }

  test("PQ-ADC: well-formed ranks, monotone distances, honest recall floor") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.pqAdcTopK(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === (0L to 7L).toSet, "one group per probe")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).distinct.length === 5, s"probe $q duplicate vids")
      assert(rows.map(_._3).sorted.toSeq === (1L to 5L), s"probe $q ranks")
      assert(rows.map(_._2).forall(_ != q), s"probe $q returned itself")
      // adist is non-decreasing in rank (ties broken by vid)
      val byRank = rows.sortBy(_._3).map(_._4).toSeq
      assert(byRank === byRank.sorted, s"probe $q adist not monotone in rank")
    }
    // recall vs exact L2 — measured 0.375/0.375/0.20 at sf0.001/0.01/0.1
    // (near-uniform data at 16× compression; the honest floor below
    // guards against the quantizer silently degenerating, not against
    // data this corpus cannot provide)
    val el = e.select(col("vec_id"),
      expr("CAST(embedding AS array<double>)").as("ve"))
    val q = el.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("ve").as("qe"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("l2"), col("vid"))
    val exact = el.select(col("vec_id").as("vid"), col("ve"))
      .crossJoin(q).filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), expr(
        "aggregate(zip_with(ve, qe, (a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x)")
        .as("l2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val approx = out.map(t => (t._1, t._2)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(s"PQ-ADC recall@5 = $recall (M=16 subspaces, K=16, 16 B/vector vs 256 B raw)")
    assert(recall >= 0.15, s"PQ recall degenerated: $recall")
  }

  test("centroid outliers: re-derives from plain Scala on a synthetic set") {
    // independent recompute: decimal means with BigDecimal, cosines with
    // plain loops — no engine expressions
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rng = new scala.util.Random(7)
    val vecs: Seq[(Long, Int, Array[Float])] = (0 until 24).map { i =>
      (i.toLong, i % 2, Array.fill(4)(rng.nextFloat() * 2 - 1))
    }
    val out = Similarity
      .centroidOutliers(vecs.toDF("vec_id", "label", "embedding"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))).toMap

    vecs.groupBy(_._2).foreach { case (label, members) =>
      val n = members.size
      val dim = 4
      // engine shape: each float → double → DECIMAL(25,12), exact sum,
      // double division
      val cent = (0 until dim).map { d =>
        members.map(m => BigDecimal(m._3(d).toDouble)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / n
      }
      val cn = math.sqrt(cent.map(c => c * c).sum)
      val scored = members.map { case (id, _, v) =>
        val dot = (0 until dim).map(d => v(d).toDouble * cent(d)).sum
        val vn = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
        id -> round6(dot / (vn * cn))
      }
      val ranked = scored.sortBy { case (id, c) => (c, id) }.zipWithIndex
        .map { case ((id, c), i) => (id, c, (i + 1).toLong) }
      ranked.foreach { case (id, cosE, rankE) =>
        val (gotLabel, gotCos, gotRank, gotOut) = out(id)
        assert(gotLabel === label)
        assert(gotCos === cosE, s"vec $id cosine")
        assert(gotRank === rankE, s"vec $id rank")
        assert(gotOut === (10 * rankE <= n), s"vec $id outlier flag")
      }
      // exactly floor(n/10) outliers per label
      assert(members.count(m => out(m._1)._4) === n / 10)
    }
  }

  test("density prune: partition law, quarter flag, prototypes go first") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.densityPrune(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.length === e.count())
    // the assignment is exactly kmeansAssign's (shared quantizer)
    val assigned = Similarity.kmeansAssign(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out.foreach { case (id, cid, dist, _, _) =>
      assert(assigned(id) === ((cid, dist)), s"vec $id assignment diverged")
    }
    out.groupBy(_._2).foreach { case (cid, members) =>
      val n = members.length
      // ranks are a permutation of 1..n, ordered by (dist, vec_id)
      val byRank = members.sortBy(_._4)
      assert(byRank.map(_._4).toSeq === (1 to n).map(_.toLong))
      assert(byRank.map(m => (m._3, m._1)).toSeq ===
        members.map(m => (m._3, m._1)).sortBy(identity).toSeq,
        s"cluster $cid rank order")
      // pruned = exactly the nearest floor(n/4), nothing kept below them
      val pruned = members.filter(_._5)
      assert(pruned.length === n / 4, s"cluster $cid prune count")
      assert(members.forall(m => m._5 === (4 * m._4 <= n)))
      if (pruned.nonEmpty) {
        val ord = Ordering.Tuple2[Double, Long]
        val worstPruned = pruned.map(m => (m._3, m._1)).max
        val kept = members.filterNot(_._5)
        assert(kept.forall(m => ord.gt((m._3, m._1), worstPruned)),
          s"cluster $cid kept a vector nearer than a pruned one")
      }
    }
  }

  test("PQ block near-dup: pairs canonical, cosine floor, block law, cap honored") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.pqBlockNearDup(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty, "blocking found no pairs on the corpus")
    out.foreach { case (a, b, _, _, c) =>
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(c >= Similarity.PqBlockMinCos, s"pair ($a,$b) below the floor: $c")
    }
    assert(out.map(t => (t._1, t._2)).distinct.length === out.length, "duplicate pairs")
    // block law: every reported pair's vectors carry IDENTICAL first-two
    // subspace codes — recompute codes from the shared trainer's output
    val (sv, cents) = Similarity.pqTrain(e)
    val bk = out.map(t => (t._1, t._2, t._3, t._4))
    val myCodes = {
      import org.apache.spark.sql.expressions.Window
      val cdf = cents.toDF("ss", "cid", "cv")
      val d = sv.join(broadcast(cdf), Seq("ss"))
        .select(col("vec_id"), col("ss"), col("cid"),
          round(graft.functions.VectorExpressions.arrayDot(col("v"), col("v"))
            - lit(2.0) * graft.functions.VectorExpressions.arrayDot(col("v"), col("cv"))
            + graft.functions.VectorExpressions.arrayDot(col("cv"), col("cv")), 6)
            .as("dist"))
      val w = Window.partitionBy(col("vec_id"), col("ss")).orderBy(col("dist"), col("cid"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("ss") < 2)
        .groupBy(col("vec_id"))
        .agg(max(when(col("ss") === 0, col("cid"))).as("c0"),
          max(when(col("ss") === 1, col("cid"))).as("c1"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }
    bk.foreach { case (a, b, c0, c1) =>
      assert(myCodes(a) === ((c0, c1)), s"vector $a code mismatch")
      assert(myCodes(b) === ((c0, c1)), s"vector $b not in the same block")
    }
    // cap honored: no block contributes more than maxBucket*(maxBucket-1)/2 pairs
    val cap = Similarity.PqBlockMaxBucket
    out.groupBy(t => (t._3, t._4)).foreach { case (blk, ps) =>
      assert(ps.length <= cap * (cap - 1) / 2, s"block $blk exceeded the cap")
    }
  }

  test("range search: known cosines, inclusive boundary, self excluded, counts") {
    // 2-d unit-ish vectors with hand-computable cosines vs query [1,0]:
    // a=1.0, b=0.8, c=0.5 (exactly the boundary), d=0.0, e=-1.0
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),                    // the query
      (1L, Array(2.0f, 0.0f)),                    // cos 1.0
      (2L, Array(0.8f, 0.6f)),                    // cos 0.8
      (3L, Array(0.5f, math.sqrt(0.75).toFloat)), // cos 0.5 exactly (unit)
      (4L, Array(0.0f, 3.0f)),                    // cos 0.0
      (5L, Array(-1.0f, 0.0f))                    // cos -1.0
    ).toDF("vec_id", "embedding")
    val out = Similarity.rangeSearch(
      vecs.filter(col("vec_id") === 0L), vecs, tau = 0.5).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L),
      "τ=0.5 keeps exactly {1.0, 0.8, 0.5}; the boundary is inclusive, self drops")
    val sims = out.map(t => t._1 -> t._2).toMap
    assert(sims(1L) === 1.0 && sims(2L) === 0.8 && sims(3L) === 0.5)
    assert(out.forall(_._3 === 3L), "n_in_range must count the per-query hits")
    // radius -1 recovers the whole corpus minus self
    val all = Similarity.rangeSearch(
      vecs.filter(col("vec_id") === 0L), vecs, tau = -1.0).collect()
    assert(all.length === 5)
  }

  test("knn graph: k rows per query, no self edges, sims within top-k of exact") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val out = Similarity.Quantizer.sampled(e).knnGraph(e, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.size === n, "every vector must appear as a query")
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 3, s"query $q returned ${rows.length} != 3 neighbors")
      assert(!rows.exists(_._2 == q), s"query $q returned itself")
      assert(rows.map(_._2).distinct.length === 3, s"query $q has duplicate neighbors")
    }
  }

  test("knn graph: the cell-keyed join stays sound with broadcast disabled (the 100 TB plan)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val e = Tables.embeddings(spark, sf)
      val df = Similarity.Quantizer.sampled(e).knnGraph(e, 3)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      // with broadcast off, the probes↔assigned meet must be a keyed
      // shuffle join (SMJ or shuffled-hash), never a cartesian product
      assert(!plan.contains("CartesianProduct"),
        s"knn graph degenerated to a cartesian product:\n${plan.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("derived √N cells: rule shape + per-cell candidate volume bound (the s15 scale posture)") {
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    val nl = Similarity.deriveNlist(n)
    val np = Similarity.deriveNprobe(nl)
    // the √N rule itself (floor 8, cap 2^16)
    assert(nl >= 8 && nl <= (1 << 16))
    if (n >= 64) assert(math.abs(nl - math.sqrt(n.toDouble)) <= 1.0,
      s"nlist $nl should track √$n")
    // the log-cell probe rule: a CELL COUNT growing like log₂ nlist —
    // never a fraction of nlist, which would reinstate Θ(f·N²) total
    // candidate volume in knnGraph (the r9 parameterization bug)
    assert(np === math.min(nl, math.max(Similarity.MinProbeCells,
      math.ceil(math.log(nl.toDouble) / math.log(2.0)).toInt)))
    // asymptotic shape: at the nlist cap the derived pair scans 16 of
    // 65536 cells (0.024%), and the scan fraction is monotonically
    // shrinking — the 100 TB posture the defaults must ship with
    assert(Similarity.deriveNprobe(1 << 16) === 16)
    val fracs = Seq(1 << 6, 1 << 10, 1 << 16).map(c =>
      Similarity.deriveNprobe(c).toDouble / c)
    assert(fracs sameElements fracs.sorted.reverse,
      s"derived scan fraction must shrink with nlist: $fracs")
    assert(fracs.last < 0.001)
    // the bound the plan depends on: no cell's corpus extent or probe
    // traffic exceeds a small constant multiple of its fair share, so
    // per-cell join work stays ~c²·(N/nlist)·(N·np/nlist) — the quantity
    // that a constant nlist would let grow quadratically
    val centers = Similarity.trainCodebook(e, nl, 42L)
    val scored = e.select(col("vec_id"),
      Similarity.cellScores(centers)(col("embedding")).as("cs"))
    val corpusPerCell = scored
      .select(array_min(col("cs")).getField("cid").as("cell"))
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    val probesPerCell = scored
      .select(explode(slice(array_sort(col("cs")), 1, np)).as("p"))
      .select(col("p.cid").as("cell"))
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    val c = 6.0
    val cellBound = c * n / nl
    val probeBound = c * n.toDouble * np / nl
    info(s"n=$n nlist=$nl nprobe=$np maxCell=${corpusPerCell.values.max} " +
      s"(bound ${cellBound.toLong}) maxProbe=${probesPerCell.values.max} " +
      s"(bound ${probeBound.toLong})")
    assert(corpusPerCell.values.max <= cellBound,
      s"a cell holds ${corpusPerCell.values.max} vectors, over the " +
        s"$c*N/nlist = $cellBound balance bound")
    assert(probesPerCell.values.max <= probeBound,
      s"a cell receives ${probesPerCell.values.max} probes, over the " +
        s"$c*N*np/nlist = $probeBound bound")
  }

  test("multi-probe LSH: recall monotone in probe depth, candidates grow, deterministic") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteTopK(q, e, 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    def run(pb: Int): (Double, Long) = {
      val got = Similarity.lshMultiProbeTopK(q, e, 5, probeBits = pb)
        .select("qid", "vid").as[(Long, Long)].collect().toSet
      val cand = Similarity.lshMultiProbeCandidates(q, e, probeBits = pb).count()
      (got.intersect(exact).size.toDouble / exact.size, cand)
    }
    val curve = Seq(0, 1, 3).map(pb => (pb, run(pb)))
    info(s"multi-probe curve (probeBits -> (recall, candidates)): $curve")
    // the tuning-curve laws: deeper probing never loses recall (probe
    // sets are supersets) and never shrinks the candidate set
    curve.sliding(2).foreach { case Seq((_, (r1, c1)), (_, (r2, c2))) =>
      assert(r2 >= r1, s"recall must be monotone in probeBits: $curve")
      assert(c2 >= c1, s"candidates must be monotone in probeBits: $curve")
    }
    // the flips must buy real recall in the adversarial regime (the
    // whole point of multi-probe)
    assert(curve.last._2._1 > curve.head._2._1,
      s"probing flips bought no recall: $curve")
    // determinism: seeded planes + deterministic flip ranks
    assert(run(3) === run(3))
  }

  test("two-level codebook training: realized cells, determinism, sane centers, routing balance") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val n = e.count()
    val k = math.min(64L, n / 4).toInt
    // force the hierarchical path with a tiny flatMax (in production it
    // takes over beyond FlatTrainMaxCells = 4096 cells, a scale no test
    // corpus reaches — the knob exists exactly for this spec)
    val hier = Similarity.trainCodebook(e, k, 42L, flatMax = 8)
    assert(hier.length === k, s"realized cells ${hier.length} != requested $k")
    assert(hier.forall(c => c.forall(x => !x.isNaN && !x.isInfinite)))
    // run-to-run determinism (chunk-order merges + index-ordered concat)
    val hier2 = Similarity.trainCodebook(e, k, 42L, flatMax = 8)
    assert(hier === hier2, "hierarchical training must be deterministic")
    // the codebook still ROUTES: no cell hoards more than a small
    // multiple of its fair share on the clustered fixture (the property
    // the two-level allocation's proportional split exists to keep)
    val perCell = e.select(
      Similarity.cellScores(hier)(col("embedding")).as("cs"))
      .select(array_min(col("cs")).getField("cid").as("cell"))
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    info(s"two-level: n=$n k=$k cells used=${perCell.size} " +
      s"maxCell=${perCell.values.max}")
    assert(perCell.values.max <= 8.0 * n / k,
      s"a cell holds ${perCell.values.max} of $n vectors — routing collapsed")
    // flat path is untouched for small k (same call, default flatMax)
    val flat = Similarity.trainCodebook(e, 8, 42L)
    assert(flat.length === 8)
  }

  test("cluster-balanced sample: exactly min(5, |cluster|) per cluster, consistent with s7") {
    val e = Tables.embeddings(spark, sf)
    val assign = Similarity.kmeansAssign(e, k = Similarity.KmeansRegistryK, iters = 1)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    val sizes = assign.values.groupBy(identity).view.mapValues(_.size).toMap
    val out = Similarity.clusterBalancedSample(e, Similarity.BalancedSamplePerCluster)
      .select("vec_id", "cluster_id", "rk").as[(Long, Long, Long)].collect()
    // membership agrees with the s7 assignment
    out.foreach { case (v, c, _) => assert(assign(v) === c, s"vec $v cluster") }
    // the balance law: every cluster contributes min(5, its size) rows
    val perCluster = out.groupBy(_._2).view.mapValues(_.length).toMap
    sizes.foreach { case (c, n) =>
      assert(perCluster.getOrElse(c, 0) ===
        math.min(Similarity.BalancedSamplePerCluster, n), s"cluster $c draw size")
    }
    // ranks are 1..draw within each cluster
    out.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length), s"cluster $c ranks")
    }
  }

  test("persisted IVF index: partition-pruned serving scan, lossless round-trip") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 4)
    val idx = Similarity.IvfIndex.build(e, Similarity.Quantizer.sampled(e)).root
    // the assignments table is laid out by cell
    val cells = new java.io.File(s"$idx/assignments").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cells.length > 1, s"expected multiple cell partitions, got ${cells.toSeq}")
    // serving scan lists ONLY probed cells' files (directory pruning,
    // not a post-scan filter): with nprobe=1 the input files must be a
    // strict subset of the full table's
    val served1 = Similarity.IvfIndex.open(spark, idx).serve(q, 3, nprobe = Some(1))
    served1.collect()
    val full = spark.read.parquet(s"$idx/assignments").inputFiles.length
    // inputFiles ignores partition pruning — read the actual file count
    // off the executed scan node's metrics
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("assignments")) =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(scans)
    })
    val pruned = scans(served1.queryExecution.executedPlan)
    assert(pruned.nonEmpty && pruned.head < full,
      s"nprobe=1 scan must prune cell directories ($pruned vs $full files)")
    // round-trip losslessness at the default nprobe: persisted == fresh
    val served = Similarity.IvfIndex.open(spark, idx).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    val fresh = Similarity.Quantizer.sampled(e).topK(q, e, 3)
      .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
      .as[(Long, Long, Double)].collect().sorted
    assert(served.sameElements(fresh), "persisted index drifted from fresh index")
  }

  test("persisted IVF-PQ index: cell-pruned code scan, byte codes round-trip, recall, determinism") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val q = e.filter(col("vec_id") < 4)
    val idx = Similarity.IvfIndex.build(e, Similarity.Quantizer.sampled(e),
      codec = Similarity.Codec.Pq).root
    // layout: codes and vectors are cell-partitioned; pq codebook bounded
    val cellDirs = new java.io.File(s"$idx/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length > 1, s"expected multiple cell partitions, got ${cellDirs.toSeq}")
    assert(new java.io.File(s"$idx/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
      .sameElements(cellDirs), "codes and vectors must share the cell layout")
    // serving prunes the CODES scan at the directory level (numFiles off
    // the executed scan — inputFiles ignores partition pruning)
    val served1 = Similarity.IvfIndex.open(spark, idx).serve(q, 3, nprobe = Some(1))
    served1.collect()
    val fullFiles = spark.read.parquet(s"$idx/codes").inputFiles.length
    def scans(p: org.apache.spark.sql.execution.SparkPlan,
        dir: String): Seq[Long] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan, dir)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan, dir)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(p2 => scans(p2, dir))
    })
    val prunedCodes = scans(served1.queryExecution.executedPlan, "codes")
    assert(prunedCodes.nonEmpty && prunedCodes.head < fullFiles,
      s"nprobe=1 code scan must prune cell dirs ($prunedCodes vs $fullFiles)")
    // the full-precision store is also pruned to the probed cells
    val prunedVecs = scans(served1.queryExecution.executedPlan, "vectors")
    val fullVecFiles = spark.read.parquet(s"$idx/vectors").inputFiles.length
    assert(prunedVecs.nonEmpty && prunedVecs.head < fullVecFiles,
      s"re-rank vector scan must prune cell dirs ($prunedVecs vs $fullVecFiles)")
    // codes are mSub signed bytes (8-bit cids wrapped) — the serving-
    // resident width the whole design exists for
    val codeRow = spark.read.parquet(s"$idx/codes").select("code").head()
    assert(codeRow.getSeq[Byte](0).length === Similarity.PqRegistryM)
    // recall against brute force + build determinism (same targetless
    // build twice via cache bypass must serve identical rows)
    import spark.implicits._
    val got = Similarity.IvfIndex.open(spark, idx).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    val idx2 = Similarity.IvfIndex.build(e, Similarity.Quantizer.sampled(e),
      codec = Similarity.Codec.Pq).root
    val got2 = Similarity.IvfIndex.open(spark, idx2).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    assert(got.sameElements(got2), "IVF-PQ build/serve must be deterministic")
    val exact = Similarity.bruteTopK(q, e, 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = got.map(r => (r._1, r._2)).count(exact).toDouble / exact.size
    info(s"ivfPq spec recall = $recall")
    assert(recall >= 0.8)
  }

  test("replayable IVF-PQ (s23's full-oracle leg): layout, pruning, byte codes, determinism") {
    import spark.implicits._
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val q = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("pqreplay").toString + "/idx"
    Similarity.IvfIndex.build(e, Similarity.Quantizer.replayable(e), Some(root), Similarity.Codec.Pq)
    // same store layout as the production build: shared cell partitions,
    // mSub signed-byte codes
    val cellDirs = new java.io.File(s"$root/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length > 1, s"expected multiple cell partitions, got ${cellDirs.toSeq}")
    assert(new java.io.File(s"$root/vectors").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
      .sameElements(cellDirs), "codes and vectors must share the cell layout")
    val codeRow = spark.read.parquet(s"$root/codes").select("code").head()
    assert(codeRow.getSeq[Byte](0).length === Similarity.PqRegistryM)
    // the rounded-routing serve still prunes the code scan to probed cells
    val served1 = Similarity.IvfIndex.openReplayable(spark, root).serve(q, 3,
      nprobe = Some(1))
    served1.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan,
        dir: String): Seq[Long] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan, dir)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan, dir)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(p2 => scans(p2, dir))
    })
    val fullFiles = spark.read.parquet(s"$root/codes").inputFiles.length
    val prunedCodes = scans(served1.queryExecution.executedPlan, "codes")
    assert(prunedCodes.nonEmpty && prunedCodes.head < fullFiles,
      s"nprobe=1 code scan must prune cell dirs ($prunedCodes vs $fullFiles)")
    // build+serve determinism: a second build to a fresh dir serves the
    // identical rows (the property the DuckDB oracle hash rides on)
    val got = Similarity.IvfIndex.openReplayable(spark, root).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    val root2 = java.nio.file.Files.createTempDirectory("pqreplay2").toString + "/idx"
    Similarity.IvfIndex.build(e, Similarity.Quantizer.replayable(e), Some(root2), Similarity.Codec.Pq)
    val got2 = Similarity.IvfIndex.openReplayable(spark, root2).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    assert(got.sameElements(got2), "replayable IVF-PQ build/serve must be deterministic")
  }

  test("IVF-SQ8 (s26): one-store layout, byte-per-dim codes, pruning, recall, determinism") {
    import spark.implicits._
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val q = e.filter(col("vec_id") < 4)
    val root = java.nio.file.Files.createTempDirectory("sq8").toString + "/idx"
    Similarity.IvfIndex.build(e, Similarity.Quantizer.replayable(e), Some(root), Similarity.Codec.Sq8)
    // one cell-partitioned store; codes are exactly one byte per dim
    val cellDirs = new java.io.File(s"$root/sq8").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length > 1, s"expected multiple cell partitions, got ${cellDirs.toSeq}")
    val sq = spark.read.parquet(s"$root/sq8")
    assert(sq.select(size(col("code"))).distinct().as[Int].collect().toSeq === Seq(64))
    // reconstruction error bound: |x - (mn + q*scale)| <= scale/2 + ulp,
    // checked element-wise against the raw fixture vectors
    val errs = sq.join(e.select(col("vec_id").as("vid"), col("embedding")), Seq("vid"))
      .select(max(expr("""aggregate(
        zip_with(code, embedding, (c, x) ->
          abs(CAST(x AS DOUBLE) - (mn + ((CAST(c AS INT) + 256) % 256) * scale))
            / CASE WHEN scale = 0 THEN 1.0 ELSE scale END),
        0D, (acc, v) -> greatest(acc, v))""")))
      .head().getDouble(0)
    assert(errs <= 0.5 + 1e-9, s"worst normalized reconstruction error $errs > 0.5")
    // the serve prunes the single store to the probed cell directories
    val served1 = Similarity.IvfIndex.open(spark, root).serve(q, 3, nprobe = Some(1))
    served1.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan,
        dir: String): Seq[Long] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan, dir)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan, dir)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(p2 => scans(p2, dir))
    })
    val fullFiles = sq.inputFiles.length
    val pruned = scans(served1.queryExecution.executedPlan, "sq8")
    assert(pruned.nonEmpty && pruned.head < fullFiles,
      s"nprobe=1 SQ8 scan must prune cell dirs ($pruned vs $fullFiles)")
    // recall vs brute force on the fixture + build/serve determinism
    val got = Similarity.IvfIndex.open(spark, root).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    val root2 = java.nio.file.Files.createTempDirectory("sq8b").toString + "/idx"
    Similarity.IvfIndex.build(e, Similarity.Quantizer.replayable(e), Some(root2), Similarity.Codec.Sq8)
    val got2 = Similarity.IvfIndex.open(spark, root2).serve(q, 3)
      .select("qid", "vid", "sim").as[(Long, Long, Double)].collect().sorted
    assert(got.sameElements(got2), "SQ8 build/serve must be deterministic")
    val exact = Similarity.bruteTopK(q, e, 3)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    val recall = got.map(r => (r._1, r._2)).count(exact).toDouble / exact.size
    info(s"ivfSq8 spec recall = $recall")
    assert(recall >= 0.8)
    // zero-vector hardening: a constant-zero embedding reconstructs to
    // all zeros and must score 0.0, never NaN (the m7 guard convention)
    val withZero = e.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((99999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val zRoot = java.nio.file.Files.createTempDirectory("sq8z").toString + "/idx"
    Similarity.IvfIndex.build(withZero, Similarity.Quantizer.replayable(withZero),
      Some(zRoot), Similarity.Codec.Sq8)
    val zq = withZero.filter(col("vec_id") < 2)
    val zSims = Similarity.IvfIndex.open(spark, zRoot).serve(zq, 2000)
      .select("sim").as[Double].collect()
    assert(zSims.forall(s => !s.isNaN), "zero vector must never yield NaN")
  }

  test("s27 filtered ANN: every hit matches the predicate; pre-filter dominates post-filter") {
    import spark.implicits._
    val op = graft.SparkEntry.registry.find(_.name == "s27_filtered_ann").get
    val out = op.run(spark, sf).cache()
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      // the predicate holds on every served row
      val labels = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label")).as[(Long, Long)].collect().toMap
      rows.foreach { r =>
        val vid = r.getLong(1)
        assert(labels(vid) < Similarity.FilteredAnnMaxLabel,
          s"served vid $vid has label ${labels(vid)} outside the predicate")
      }
      // ≤ k rows per query; both recalls constant; the theorem holds
      val perQ = rows.groupBy(_.getLong(0)).values.map(_.length)
      assert(perQ.forall(_ <= 5))
      val rec = rows.map(_.getDouble(3)).distinct
      val recPost = rows.map(_.getDouble(4)).distinct
      assert(rec.length === 1 && recPost.length === 1)
      assert(rec.head >= 0.8)
      assert(recPost.head <= rec.head,
        s"post-filter ${recPost.head} must not beat pre-filter ${rec.head}")
      info(s"filtered ANN recall pre=${rec.head} post=${recPost.head}")
    } finally { out.unpersist(); () }
  }

  test("s28 selectivity curve: 10 rows, monotone match/candidate volumes, sane recalls") {
    val op = graft.SparkEntry.registry.find(_.name == "s28_filtered_ann_curve").get
    val rows = op.run(spark, sf).orderBy(col("max_label")).collect()
    assert(rows.length === 10)
    val nMatch = rows.map(_.getLong(1))
    val nCand = rows.map(_.getLong(2))
    val recall = rows.map(_.getDouble(3))
    // both volumes are provably nondecreasing in the predicate bound
    assert(nMatch.zip(nMatch.tail).forall { case (a, b) => a <= b },
      s"n_match not monotone: ${nMatch.toSeq}")
    assert(nCand.zip(nCand.tail).forall { case (a, b) => a <= b },
      s"n_cand_pairs not monotone: ${nCand.toSeq}")
    assert(nMatch.last === Tables.embeddings(spark, sf).count(),
      "L=10 must match the whole corpus")
    assert(recall.forall(r => r >= 0.0 && r <= 1.0))
    assert(recall.last >= 0.8, s"unfiltered recall ${recall.last} below floor")
    info(s"selectivity curve recalls: ${recall.toSeq}")
  }

  test("embedding drift: plain-Scala PSI/mean re-derivation on a known shift") {
    // base clusters at -0.75 (bucket 0), delta at +0.75 (bucket 3):
    // maximal drift; means and PSI re-derived by hand below
    val vecs = (Seq.tabulate(8)(i => (i.toLong * 3, Array.fill(2)(-0.75f))) ++
      Seq.tabulate(8)(i => (i.toLong * 3 + 1, Array.fill(2)(0.75f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingDrift(vecs, col("vec_id") % 3 === 0)
      .select("dim", "mean_base", "mean_delta", "mean_shift", "psi")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet === Set(0L, 1L))
    val expPsi = {
      // buckets: base all in 0, delta all in 3; Laplace (c+1)/(n+4), n=8
      val pIn = 9.0 / 12.0; val pOut = 1.0 / 12.0
      val term = (pIn - pOut) * math.log(pIn / pOut)
      BigDecimal(2 * term).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.values.foreach { case (mb, md, shift, psi) =>
      assert(mb === -0.75 && md === 0.75 && shift === 1.5)
      assert(psi === expPsi, s"psi $psi != hand-computed $expPsi")
    }
    // and the registry carve (same synthetic distribution on both sides)
    // must sit far below the conventional 0.2 retrain trigger
    val real = graft.SparkEntry.registry.find(_.name == "s19_embedding_drift").get
      .run(spark, sf).select("psi").as[Double].collect()
    assert(real.nonEmpty && real.forall(_ < 0.2),
      s"identically-distributed carve drifted: max psi ${real.max}")
  }

  test("ivf index append: delta lands in argmin cells, base files untouched, nothing lost") {
    val e = Tables.embeddings(spark, sf)
    val base = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(2)) =!= 0)
    val idx = Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base)).root
    val filesBefore = spark.read.parquet(s"$idx/assignments").inputFiles.toSet
    Similarity.IvfIndex.open(spark, idx).append(delta, batchId = 1L)
    // batch appends land in their own delta tree (r14) — serving reads
    // base ∪ committed deltas
    val after = Similarity.IvfIndex.open(spark, idx).vectors
    assert(filesBefore.subsetOf(after.inputFiles.toSet),
      "append must only add files, never rewrite the base index")
    assert(after.count() === e.count(), "append must cover the full corpus")
    assert(after.select("vid").distinct().count() === e.count())
    // every appended vector sits in its centroid-argmin cell
    val centers = spark.read.parquet(s"$idx/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val want = delta.select(col("vec_id").as("vid"),
      array_min(Similarity.cellScores(centers)(col("embedding")))
        .getField("cid").as("want"))
    val misrouted = after.join(want, Seq("vid"))
      .filter(col("cell") =!= col("want")).count()
    assert(misrouted === 0L, s"$misrouted appended vectors routed to a non-argmin cell")
  }

  test("ivf index purge: tombstones gone, survivors byte-identical, untouched cells' files untouched") {
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.IvfIndex.build(e, Similarity.Quantizer.sampled(e)).root
    val tomb = e.filter(col("vec_id") % 7 === 0).select("vec_id")
    val before = spark.read.parquet(s"$idx/assignments")
    val survivorsBefore = before
      .join(tomb.select(col("vec_id").as("vid")), Seq("vid"), "left_anti")
      .select("vid", "cell").as[(Long, Int)].collect().toSet
    val hitCells = before
      .join(tomb.select(col("vec_id").as("vid")), Seq("vid"), "left_semi")
      .select("cell").distinct().as[Int].collect().toSet
    def files(): Map[String, Set[String]] =
      spark.read.parquet(s"$idx/assignments").inputFiles.toSet
        .groupBy(f => f.substring(f.indexOf("cell=")).takeWhile(_ != '/'))
    val filesBefore = files()

    Similarity.IvfIndex.open(spark, idx).purge(tomb)

    val after = spark.read.parquet(s"$idx/assignments")
    assert(after.join(tomb.select(col("vec_id").as("vid")), Seq("vid"), "left_semi")
      .count() === 0L, "no tombstoned vector may survive")
    assert(after.select("vid", "cell").as[(Long, Int)].collect().toSet
      === survivorsBefore, "survivors must keep their rows and cell assignments")
    val filesAfter = files()
    filesBefore.foreach { case (cell, fs) =>
      val k = cell.stripPrefix("cell=").toInt
      if (!hitCells(k))
        assert(filesAfter.get(cell).contains(fs),
          s"$cell holds no tombstone but its files changed")
    }
    // idempotent: purging the same tombstones again is a no-op
    val snapshot = files()
    Similarity.IvfIndex.open(spark, idx).purge(tomb)
    assert(files() === snapshot, "re-purge of already-purged ids must not rewrite")
  }

  test("purge marker: reader neither heals nor fails during a live purge; heals after") {
    // r13 (the r11 ADVICE race): while __purge_inprogress exists, a
    // reader must not restore a mid-swap cell=k__old (that rename would
    // break the live purger's publishing rename) and must still serve
    // the intact cells without failing; once the marker is gone the
    // next read heals.
    val e = Tables.embeddings(spark, sf)
    val idx = Similarity.IvfIndex.build(e, Similarity.Quantizer.sampled(e)).root
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val total = Similarity.IvfIndex.open(spark, idx).vectors.count()
    val cells = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/assignments"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName)
    assert(cells.length >= 2, "fixture must produce multiple cells")
    val victim = cells.head
    val parked = new org.apache.hadoop.fs.Path(victim.toString + "__old")
    val victimRows = spark.read.parquet(victim.toString).count()
    // simulate the purger crash window: dst parked at __old, dst missing
    assert(fs.rename(victim, parked))
    val marker = new org.apache.hadoop.fs.Path(s"$idx/__purge_inprogress")
    fs.create(marker).close()
    try {
      val served = Similarity.IvfIndex.open(spark, idx).vectors
      assert(served.count() === total - victimRows,
        "marker-up reader must serve exactly the intact cells")
      assert(fs.exists(parked) && !fs.exists(victim),
        "reader healed a swap while the purge marker was up")
    } finally { fs.delete(marker, false); () }
    // marker gone (purge finished, or the next purge tick reclaimed a
    // stale one): the read-side heal restores the parked cell
    assert(Similarity.IvfIndex.open(spark, idx).vectors.count() === total)
    assert(!fs.exists(parked) && fs.exists(victim),
      "heal did not run after marker removal")
  }

  test("matryoshka eval: hit flags = trunc∩full, recall in [0,1], full-width is identity") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.matryoshkaEval(e, Similarity.MatryoshkaDims, 5)
      .select("qid", "vid", "hit", "recall_trunc")
      .as[(Long, Long, Boolean, Double)].collect()
    assert(out.length === 8 * 5, "exact top-5 per truncated query")
    val full = Similarity.bruteTopK(e.filter(col("vec_id") < 8), e, 5)
      .select("qid", "vid").as[(Long, Long)].collect().toSet
    out.foreach { case (q, v, hit, _) =>
      assert(hit === full.contains((q, v)), s"hit flag for ($q,$v)")
    }
    val recall = out.head._4
    assert(out.forall(_._4 === recall), "recall is a global constant column")
    assert(recall === out.count(_._3).toDouble / 40,
      "recall must equal the hit fraction")
    assert(recall >= 0.0 && recall <= 1.0)
    // truncating to the full width must reproduce the exact baseline
    val ident = Similarity.matryoshkaEval(e, 64, 5)
      .select("qid", "vid", "hit", "recall_trunc")
      .as[(Long, Long, Boolean, Double)].collect()
    assert(ident.forall(_._3), "full-width truncation: every row is a hit")
    assert(ident.head._4 === 1.0)
    assert(ident.map(r => (r._1, r._2)).toSet === full)
  }

  test("s15 registry query: recall gate passes and is deterministic across runs") {
    val run1 = graft.SparkEntry.registry.find(_.name == "s15_knn_graph").get
      .run(spark, sf).collect().map(_.toString).sorted
    val run2 = graft.SparkEntry.registry.find(_.name == "s15_knn_graph").get
      .run(spark, sf).collect().map(_.toString).sorted
    assert(run1.nonEmpty && run1.sameElements(run2),
      "s15 must be deterministic (seeded codebook, tie-broken top-k)")
  }

  test("PQ generation serving: code scan prunes cell dirs even with deltas present") {
    import graft.streaming.IndexLifecycle
    // the s23 pruning spec, on a GENERATION with code deltas: serving
    // must still prune the base code scan at the directory level (cell
    // is a partition column in base and in every codes_deltas batch),
    // and the served rows must come from the memory-bounded path
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val lcRoot = java.nio.file.Files.createTempDirectory("pqprune").toString
    IndexLifecycle.init(spark, lcRoot,
      e.filter(pmod(col("vec_id"), lit(3)) === 0))
    assert(!IndexLifecycle.tick(spark, lcRoot,
      e.filter(pmod(col("vec_id"), lit(3)) === 1), 1L))
    val g = IndexLifecycle.currentRoot(spark, lcRoot).get
    assert(Similarity.IvfIndex.open(spark, g).isPq, "generation must carry the PQ shape")
    assert(new java.io.File(s"$g/codes_deltas/batch=1").exists,
      "delta tick must write a code delta")
    val q = e.filter(col("vec_id") < 4)
    val served = Similarity.IvfIndex.open(spark, g).serve(q, 3, nprobe = Some(1))
    served.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan,
        dir: String): Seq[Long] = (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan, dir)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan, dir)
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        Seq(f.metrics("numFiles").value)
      case other => other.children.flatMap(p2 => scans(p2, dir))
    })
    val fullCodeFiles = spark.read.parquet(s"$g/codes").inputFiles.length
    val pruned = scans(served.queryExecution.executedPlan, "codes")
    assert(pruned.nonEmpty && pruned.sum < fullCodeFiles,
      s"nprobe=1 generation code scan must prune cell dirs ($pruned vs $fullCodeFiles)")
    // and serving ≡ the full-precision answer class: every served pair
    // is a real vector pair (ids exist in the assignments)
    val vids = Similarity.IvfIndex.open(spark, g).vectors
      .select("vid").as[Long].collect().toSet
    served.select("vid").as[Long].collect().foreach(v => assert(vids(v)))
  }

  test("PQ-shaped append: batch append encodes codes symmetrically, serving sees the arrivals") {
    // ivfIndexAppend on a PQ-augmented index must land CODES beside the
    // assignments (encoded through the frozen codebook) — otherwise the
    // appended vectors sit in the re-rank store but never surface as
    // ADC candidates: present yet unservable.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("pqappend").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 1L)
    val codes = Similarity.IvfIndex.open(spark, root).codes
    assert(codes.select("vid").distinct().count() === e.count(),
      "appended vectors must be encoded into the code store")
    assert(codes.count() === e.count(), "append must not duplicate codes")
    // an appended vector is actually SERVABLE through the ADC path:
    // query AT an appended vector — its own cell is the argmin probe,
    // so top-1 must be a real near neighbor with sim computed (and the
    // vector itself excluded by the vid != qid rule)
    val probe = delta.orderBy(col("vec_id")).limit(1)
    val got = Similarity.IvfIndex.open(spark, root).serve(probe, 3,
      nprobe = Some(2))
    assert(got.count() > 0, "ADC serving must see appended vectors' cells")
  }

  test("batch append replay: same batchId is a row-level no-op on vectors AND codes") {
    // r13 verdict #2: the batch API rides the idempotent per-batch
    // overwrite — re-running a bulk load must not duplicate a single
    // row in either store.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("appendreplay").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 7L)
    def snapshot(): (Set[(Long, Int)], Set[(Long, Seq[Byte])]) = (
      Similarity.IvfIndex.open(spark, root).vectors
        .select("vid", "cell").as[(Long, Int)].collect().toSet,
      Similarity.IvfIndex.open(spark, root).codes
        .select(col("vid"), col("code")).as[(Long, Seq[Byte])].collect().toSet)
    val (vecs1, codes1) = snapshot()
    assert(vecs1.size === e.count(), "first append must cover the corpus")
    assert(codes1.size === e.count())
    // the replay: same batch, same id — crashed-and-retried bulk load
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 7L)
    val (vecs2, codes2) = snapshot()
    assert(vecs2 === vecs1, "replayed append must be a row-level no-op on vectors")
    assert(codes2 === codes1, "replayed append must be a row-level no-op on codes")
  }

  test("replayable append replay: same batchId is a no-op, distinct batches coexist") {
    // r14 verdict #4: the replayable leg now rides the same per-batch
    // overwrite discipline as the production API — a crashed-and-retried
    // bulk load onto the ORACLE chain must not change a served row.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val d1 = e.filter(pmod(col("vec_id"), lit(3)) === 1)
    val d2 = e.filter(pmod(col("vec_id"), lit(3)) === 2)
    val idx = Similarity.IvfIndex.build(base,
      Similarity.Quantizer.replayable(base, Some(Similarity.deriveNlist(base.count())))).root
    Similarity.IvfIndex.openReplayable(spark, idx).append(d1, batchId = 1L)
    Similarity.IvfIndex.openReplayable(spark, idx).append(d2, batchId = 2L)
    def rows(): Set[(Long, Int)] = Similarity.IvfIndex.open(spark, idx).vectors
      .select("vid", "cell").as[(Long, Int)].collect().toSet
    val q = e.filter(col("vec_id") < 8)
    def served(): Set[(Long, Long, Double)] =
      Similarity.IvfIndex.openReplayable(spark, idx).serve(q, 5)
        .select(col("qid"), col("vid"), round(col("sim"), 6))
        .as[(Long, Long, Double)].collect().toSet
    val (r1, s1) = (rows(), served())
    assert(r1.size === e.count(), "both batches must be servable")
    // the replay: batch 2 re-runs under its own id after a "crash"
    Similarity.IvfIndex.openReplayable(spark, idx).append(d2, batchId = 2L)
    assert(rows() === r1, "replayed batch must be a row-level no-op")
    assert(served() === s1, "replayed batch must not change a served row")
  }

  test("torn batch append: crash between vector and code writes leaves the index servable") {
    // simulate ivfIndexAppend dying after the vector delta committed
    // but before the code delta: the joint `_SUCCESS` gate must keep the
    // half-landed batch invisible to BOTH stores (never present in the
    // re-rank set but absent from ADC), and serving must still answer
    // from the base index.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("tornappend").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    val nBase = base.count()
    // the crash: vectors landed and committed, codes never written
    Similarity.IvfIndex.open(spark, root).writeVectorDelta(delta, batchId = 3L)
    assert(Similarity.IvfIndex.open(spark, root).vectors.count() === nBase,
      "half-committed batch must be invisible to the re-rank store")
    assert(Similarity.IvfIndex.open(spark, root).codes.count() === nBase,
      "half-committed batch must be invisible to the code store")
    // r14 ADVICE: the torn batch is DETECTED (the purge warns off this
    // listing — RTBF campaigns must not silently leave data pending)
    assert(Similarity.tornDeltaBatches(spark, root) === Seq("batch=3"),
      "half-committed batch must surface in the torn listing")
    // a purge over the torn index is safe: it skips (and warns about)
    // the torn batch, whose on-disk rows survive for their replay
    Similarity.IvfIndex.open(spark, root).purge(
      Seq(-999L).toDF("vec_id"))
    assert(Similarity.tornDeltaBatches(spark, root) === Seq("batch=3"),
      "purge must leave the torn batch to its replay")
    val probe = base.orderBy(col("vec_id")).limit(1)
    assert(Similarity.IvfIndex.open(spark, root).serve(probe, 3, nprobe = Some(2)).count() > 0,
      "serving must still answer over the base index")
    // the recovery: the batch's replay overwrites both dirs whole and
    // the joint gate opens — every vector exactly once, codes beside it
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 3L)
    val after = Similarity.IvfIndex.open(spark, root).vectors
    assert(after.count() === e.count(), "replay must complete the batch")
    assert(after.select("vid").distinct().count() === e.count(),
      "replay must not duplicate any vector")
    assert(Similarity.IvfIndex.open(spark, root).codes.count() === e.count(),
      "replay must land codes for every vector exactly once")
  }

  test("PQ retrofit: augmenting an index with existing delta batches keeps them servable") {
    // r14: gaining pqcodebook/ activates the joint two-store gate, so
    // pqAugmentIndex must encode every committed vector batch into its
    // codes_deltas twin — otherwise the pre-augment appends silently
    // vanish from serving the moment the codebook lands.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val root = java.nio.file.Files.createTempDirectory("pqretrofit").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    // batch append BEFORE the index has a PQ shape (vectors only)
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 5L)
    assert(Similarity.IvfIndex.open(spark, root).vectors.count() === e.count())
    // the retrofit: codebook trained on the BASE-resident corpus
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    // the joint gate must still see the pre-augment batch in BOTH stores
    val assigned = Similarity.IvfIndex.open(spark, root).vectors
    assert(assigned.count() === e.count(),
      "retrofit must not hide pre-augment vector batches")
    val codes = Similarity.IvfIndex.open(spark, root).codes
    assert(codes.count() === e.count(), "every vector gets exactly one code")
    assert(codes.select("vid").distinct().count() === e.count())
    // an appended vector is ADC-servable through the retrofit codes
    val probe = delta.orderBy(col("vec_id")).limit(1)
    assert(Similarity.IvfIndex.open(spark, root).serve(probe, 3, nprobe = Some(2)).count() > 0)
    // and the batch's replay remains a row-level no-op on both stores
    Similarity.IvfIndex.open(spark, root).append(delta, batchId = 5L)
    assert(Similarity.IvfIndex.open(spark, root).vectors.count() === e.count())
    assert(Similarity.IvfIndex.open(spark, root).codes.count() === e.count())
  }

  test("committed-batch manifest: one read == joint listing, torn excluded, recovery converges") {
    // r16 (the r15 verdict's #2): serving/purge reads used to pay
    // O(#batches) listStatus + _SUCCESS twin probes per read; the
    // committed set now lives in ONE manifest file recorded at the joint
    // commit point. This pins manifest ≡ listing through the lifecycle.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val d1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val d2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val d3 = e.filter(pmod(col("vec_id"), lit(4)) === 3)
    val root = java.nio.file.Files.createTempDirectory("dmanifest").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).append(d1, batchId = 1L)
    Similarity.IvfIndex.open(spark, root).append(d2, batchId = 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifest(): Seq[String] =
      Similarity.readDeltaManifest(fs, root).get.sorted
    def listing(): Seq[String] =
      Similarity.servableDeltaDirsListing(fs, root, "deltas")
        .map(d => new org.apache.hadoop.fs.Path(d).getName).sorted
    assert(manifest() === Seq("batch=1", "batch=2"))
    assert(manifest() === listing(), "manifest must equal the joint listing")
    // PQ augment rebuilds the manifest under the twin rule — still equal
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    assert(manifest() === listing(), "retrofit must converge the manifest")
    val nVisible = Similarity.IvfIndex.open(spark, root).vectors.count()
    assert(nVisible === base.count() + d1.count() + d2.count())
    // torn batch (vectors committed, codes twin never written): the
    // LISTING excludes it via the twin probe; the MANIFEST excludes it
    // because the joint commit point was never reached — same verdict
    Similarity.IvfIndex.open(spark, root).writeVectorDelta(d3, batchId = 9L)
    assert(!listing().contains("batch=9"), "twin gate must exclude the torn batch")
    assert(!manifest().contains("batch=9"), "unrecorded batch must stay invisible")
    assert(Similarity.IvfIndex.open(spark, root).vectors.count() === nVisible)
    assert(Similarity.tornDeltaBatches(spark, root) === Seq("batch=9"))
    // recovery path: with the manifest deleted, readers serve IDENTICAL
    // rows off the listing
    val withManifest = Similarity.IvfIndex.open(spark, root).vectors
      .select("vid").collect().map(_.getLong(0)).sorted.toSeq
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/__delta_manifest"), false)
    val offListing = Similarity.IvfIndex.open(spark, root).vectors
      .select("vid").collect().map(_.getLong(0)).sorted.toSeq
    assert(withManifest === offListing, "recovery listing must serve the same rows")
    // the next commit converges the manifest back to the listing's truth
    // (and completes batch 9's replay through the joint path)
    Similarity.IvfIndex.open(spark, root).append(d3, batchId = 9L)
    assert(manifest() === Seq("batch=1", "batch=2", "batch=9"))
    assert(manifest() === listing())
    assert(Similarity.IvfIndex.open(spark, root).vectors.count() === e.count())
  }

  test("delta compaction: content identical, one batch left, torn replay survives, crash-safe") {
    // r16: the manifest bounds the committed-batch LISTING; compaction
    // bounds the READ — N batch parquet roots fold into one with an
    // atomic manifest flip, no serving row added, lost, or duplicated.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val d1 = e.filter(pmod(col("vec_id"), lit(4)) === 1)
    val d2 = e.filter(pmod(col("vec_id"), lit(4)) === 2)
    val d3 = e.filter(pmod(col("vec_id"), lit(4)) === 3)
    val root = java.nio.file.Files.createTempDirectory("dcompact").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    Similarity.IvfIndex.open(spark, root).append(d1, batchId = 1L)
    Similarity.IvfIndex.open(spark, root).append(d2, batchId = 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def rows() = Similarity.IvfIndex.open(spark, root).vectors
      .select(col("vid"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    def codeRows() = Similarity.IvfIndex.open(spark, root).codes
      .select(col("vid")).collect().map(_.getLong(0)).sorted.toSeq
    val before = rows(); val codesBefore = codeRows()
    // fresh-id contract is loud
    intercept[IllegalArgumentException] {
      Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 2L)
    }
    Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 100L)
    assert(rows() === before, "compaction must not change served vectors")
    assert(codeRows() === codesBefore, "compaction must not change served codes")
    assert(Similarity.readDeltaManifest(fs, root).get === Seq("batch=100"))
    for (store <- Seq("deltas", "codes_deltas"))
      assert(Similarity.servableDeltaDirsListing(fs, root, store)
        .map(d => new org.apache.hadoop.fs.Path(d).getName) === Seq("batch=100"),
        s"$store must hold exactly the merged batch")
    // a TORN batch (vectors committed, codes never written) rides through:
    // invisible before AND after compaction, and its replay completes it
    Similarity.IvfIndex.open(spark, root).writeVectorDelta(d3, batchId = 3L)
    val mid = rows()
    assert(mid === before, "torn batch must stay invisible")
    Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 101L)
    assert(rows() === before, "compaction must not surface or lose the torn batch")
    Similarity.IvfIndex.open(spark, root).append(d3, batchId = 3L) // the replay
    assert(rows().size === e.count(), "replay after compaction completes the batch")
    // crash between merged-write and manifest flip: simulate by writing a
    // merged dir WITHOUT flipping — readers must be unaffected, and the
    // re-run converges (overwrites the stale merged dir, then flips)
    val preCrash = rows()
    val stale = Similarity.IvfIndex.open(spark, root).vectors
      .filter(col("cell") >= 0) // all rows — content irrelevant, must be overwritten
    stale.select(col("vid"), col("ve"), col("cell")).limit(3)
      .write.mode("overwrite").parquet(s"$root/deltas/batch=102")
    assert(rows() === preCrash, "unrecorded merged dir must be invisible")
    Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 102L)
    assert(rows() === preCrash, "re-run with the crashed id must converge")
    assert(Similarity.readDeltaManifest(fs, root).get === Seq("batch=102"))
    // crash between flip and sweep: a committed-but-unlisted garbage dir
    // remains — readers never open it, and the next compaction's sweep
    // (the ≤1-batch no-op path) removes it
    val garbage = new org.apache.hadoop.fs.Path(s"$root/deltas/batch=55")
    Similarity.IvfIndex.open(spark, root).vectors.limit(2)
      .select(col("vid"), col("ve"), col("cell"))
      .write.mode("overwrite").parquet(garbage.toString)
    assert(rows() === preCrash, "committed-but-unlisted garbage must be invisible")
    Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 103L)
    assert(!fs.exists(garbage), "the no-op sweep must remove unlisted garbage")
    assert(rows() === preCrash)
    // single-writer contract: compaction refuses under a purge marker
    fs.create(new org.apache.hadoop.fs.Path(s"$root/__purge_inprogress"), true).close()
    try {
      val e2 = intercept[IllegalArgumentException] {
        Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 104L)
      }
      assert(e2.getMessage.contains("purge"))
    } finally {
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/__purge_inprogress"), false)
      ()
    }
  }

  /** (data files, `cell=` dirs) directly under a store dir. */
  private def layoutOf(dir: String): (Int, Seq[String]) = {
    val children = new java.io.File(dir).listFiles().toSeq
    (children.count(f => f.isFile && f.getName.endsWith(".parquet")),
      children.filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName))
  }

  test("delta batches are flat: one file per store per append, a flat merged batch, rows unchanged") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val base = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val root = java.nio.file.Files.createTempDirectory("dflat").toString + "/idx"
    Similarity.IvfIndex.build(base, Similarity.Quantizer.sampled(base), Some(root))
    Similarity.IvfIndex.open(spark, root).withPq(base, base.count())
    (1 to 2).foreach { i =>
      Similarity.IvfIndex.open(spark, root)
        .append(e.filter(pmod(col("vec_id"), lit(4)) === i), i.toLong)
    }
    for (store <- Seq("deltas", "codes_deltas"); b <- 1 to 2)
      assert(layoutOf(s"$root/$store/batch=$b") === ((1, Nil)), s"$store/batch=$b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vid"), col("cell")).as[(Long, Int)].collect().toSeq.sorted
    val idx = Similarity.IvfIndex.open(spark, root)
    val (vecs, codes) = (rows(idx.vectors), rows(idx.codes))
    assert(vecs.map(_._1) === e.filter(pmod(col("vec_id"), lit(4)) <= 2)
      .select("vec_id").as[Long].collect().toSeq.sorted)
    assert(codes === vecs, "every served vector has its code, in the same cell")
    idx.compact(mergedBatchId = 100L)
    for (store <- Seq("deltas", "codes_deltas")) {
      val (files, cellDirs) = layoutOf(s"$root/$store/batch=100")
      assert(files >= 1 && cellDirs.isEmpty, s"$store merged batch must be flat")
    }
    val compacted = Similarity.IvfIndex.open(spark, root)
    assert(rows(compacted.vectors) === vecs && rows(compacted.codes) === codes)
  }

  test("purge of flat delta batches: an all-tombstoned batch serves empty, a crashed batch swap heals") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    def part(i: Int) = e.filter(pmod(col("vec_id"), lit(4)) === i)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.head).as[Long].collect().toSeq.sorted
    val root = java.nio.file.Files.createTempDirectory("dpurge").toString + "/idx"
    Similarity.IvfIndex.build(part(0), Similarity.Quantizer.sampled(part(0)), Some(root))
    val small = part(2).filter(col("vec_id") < 40)
    Seq(part(1) -> 1L, small -> 2L, part(3) -> 3L).foreach { case (d, b) =>
      Similarity.IvfIndex.open(spark, root).append(d, b)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def vids() = ids(Similarity.IvfIndex.open(spark, root).vectors)
    def files(b: Int) = new java.io.File(s"$root/deltas/batch=$b").listFiles().map(_.getName).toSet
    val batch3Files = files(3)
    // every row of batch 2 and one row of batch 1
    val tomb = ids(small) :+ ids(part(1)).head
    Similarity.IvfIndex.open(spark, root).purge(tomb.toDF("vec_id"))
    val want = (ids(part(0)) ++ ids(part(1)) ++ ids(small) ++ ids(part(3)))
      .filterNot(tomb.toSet).sorted
    assert(vids() === want)
    assert(Similarity.readDeltaManifest(fs, root).get === Seq("batch=1", "batch=2", "batch=3"))
    assert(spark.read.schema(Similarity.IvfIndex.VectorSchema)
      .parquet(s"$root/deltas/batch=2").count() === 0L, "batch 2 publishes empty")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/deltas/batch=2/_SUCCESS")))
    assert(layoutOf(s"$root/deltas/batch=1") === ((1, Nil)), "the rewrite stays flat")
    assert(files(3) === batch3Files, "a batch without tombstones keeps its files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/deltas__purging")))
    // the crash window between DirSwap's renames: batch 1 parked, primary missing
    val b1 = new org.apache.hadoop.fs.Path(s"$root/deltas/batch=1")
    val parked = new org.apache.hadoop.fs.Path(s"$root/deltas/batch=1__old")
    assert(fs.rename(b1, parked))
    val marker = new org.apache.hadoop.fs.Path(s"$root/__purge_inprogress")
    fs.create(marker).close()
    try {
      assert(vids() === want.filterNot(ids(part(1)).toSet),
        "marker-up reader must serve exactly the intact batches")
      assert(fs.exists(parked) && !fs.exists(b1), "reader healed while the purge marker was up")
      assert(Similarity.servableDeltaDirsListing(fs, root, "deltas")
        .map(d => new org.apache.hadoop.fs.Path(d).getName).sorted === Seq("batch=2", "batch=3"),
        "a parked dir is not a batch")
    } finally { fs.delete(marker, false); () }
    assert(vids() === want, "the read after the marker heals the parked batch")
    assert(fs.exists(b1) && !fs.exists(parked))
  }

  test("a crash between the manifest flip's delete and rename serves the complete tmp") {
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    def part(i: Int) = e.filter(pmod(col("vec_id"), lit(4)) === i)
    val root = java.nio.file.Files.createTempDirectory("dflip").toString + "/idx"
    Similarity.IvfIndex.build(part(0), Similarity.Quantizer.sampled(part(0)), Some(root))
    (1 to 2).foreach(i => Similarity.IvfIndex.open(spark, root).append(part(i), i.toLong))
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    def vids() = Similarity.IvfIndex.open(spark, root).vectors
      .select("vid").as[Long].collect().toSeq.sorted
    // keep the batches compaction folds and then sweeps
    val side = java.nio.file.Files.createTempDirectory("dflip-side").toString
    for (b <- 1 to 2) org.apache.hadoop.fs.FileUtil.copy(fs,
      path(s"$root/deltas/batch=$b"), fs, path(s"$side/batch=$b"), false, conf)
    Similarity.IvfIndex.open(spark, root).compact(mergedBatchId = 100L)
    val compacted = vids()
    // the state of a compaction that died between the flip's delete and
    // its rename: the merged batch beside the batches it folds, no
    // manifest, the complete tmp
    for (b <- 1 to 2) org.apache.hadoop.fs.FileUtil.copy(fs,
      path(s"$side/batch=$b"), fs, path(s"$root/deltas/batch=$b"), false, conf)
    val (manifest, tmp) = (path(s"$root/__delta_manifest"), path(s"$root/__delta_manifest.tmp"))
    assert(fs.rename(manifest, tmp))
    val served = vids()
    assert(served === compacted, "the complete tmp must govern the read")
    assert(served.distinct.size === served.size, "no row may be served twice")
    // a tmp without its sentinel is a torn write: readers fall back to the listing
    def writeTmp(text: String): Unit = {
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    val complete = java.nio.file.Files.readString(java.nio.file.Paths.get(tmp.toString))
    writeTmp(complete.linesIterator.filter(_.startsWith("batch=")).mkString("", "\n", "\n"))
    assert(Similarity.readDeltaManifest(fs, root).isEmpty)
    writeTmp(complete)
    // the next commit converges from the tmp's set
    Similarity.IvfIndex.open(spark, root).append(part(3), 3L)
    assert(Similarity.readDeltaManifest(fs, root).get === Seq("batch=100", "batch=3"))
    assert(fs.exists(manifest) && !fs.exists(tmp))
    assert(vids() === (compacted ++ part(3).select("vec_id").as[Long].collect()).sorted)
  }

  test("PQ generation purge: RTBF reaches base codes and code deltas, survivors intact") {
    import graft.streaming.IndexLifecycle
    // an st12-shaped generation: init (base codes) + one delta tick
    // (codes_deltas/batch=1), then a purge campaign hitting vectors in
    // BOTH stores. The r12 contract: a 16-byte sketch of a forgotten
    // embedding is still retained data — the cascade must clear codes
    // like it clears assignments, and survivors' codes must be
    // bit-identical afterwards.
    val e = Similarity.clusteredEmbeddings(Tables.embeddings(spark, sf))
    val lcRoot = java.nio.file.Files.createTempDirectory("pqpurge").toString
    val base = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val delta = e.filter(pmod(col("vec_id"), lit(3)) === 1)
    IndexLifecycle.init(spark, lcRoot, base)
    val g = IndexLifecycle.currentRoot(spark, lcRoot).get
    // in-distribution delta tick (clustered fixture, no drift)
    assert(!IndexLifecycle.tick(spark, lcRoot, delta, 1L), "delta tick must not cut over")
    val before = Similarity.IvfIndex.open(spark, g).codes
      .select(col("vid"), col("code")).as[(Long, Seq[Byte])].collect().toMap
    val nAll = before.size
    // tombstones: one base-resident vid, one delta-resident vid
    val baseVid = base.select(min(col("vec_id"))).head().getLong(0)
    val deltaVid = delta.select(min(col("vec_id"))).head().getLong(0)
    val tomb = Seq(baseVid, deltaVid).toDF("vid")
    Similarity.IvfIndex.open(spark, g).purge(tomb)
    val after = Similarity.IvfIndex.open(spark, g).codes
      .select(col("vid"), col("code")).as[(Long, Seq[Byte])].collect().toMap
    assert(!after.contains(baseVid) && !after.contains(deltaVid),
      "tombstoned vids must leave the code stores")
    assert(after.size === nAll - 2, "exactly the tombstones leave")
    after.foreach { case (vid, code) =>
      assert(code === before(vid), s"survivor $vid code changed")
    }
    // the full-precision side purged too, and serving still works
    val asg = Similarity.IvfIndex.open(spark, g).vectors
      .select(col("vid")).as[Long].collect().toSet
    assert(!asg.contains(baseVid) && !asg.contains(deltaVid))
    val q = e.filter(col("vec_id") < 8 && col("vec_id") =!= baseVid
      && col("vec_id") =!= deltaVid)
    assert(IndexLifecycle.serve(spark, lcRoot, q, 5).count() > 0)
  }

  test("s25 persisted-index multi-probe: gates hold across SFs; single-probe never wins") {
    // the r12 sweep: the in-query gates (multi ≥ single-probe
    // counterfactual, recall ≥ half the probed share, np > 1) must hold
    // on the RAW near-uniform corpus at both test SFs — collect()
    // evaluates the raise_error column, so a gate breach fails here.
    val op = graft.SparkEntry.registry.find(_.name == "s25_ivf_multiprobe_serve").get
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = op.run(spark, dir)
        .select("qid", "vid", "recall", "recall_single_probe", "nprobe", "nlist")
        .collect()
      assert(rows.nonEmpty, s"$dir: no served rows")
      val rMp = rows.head.getDouble(2)
      val rSp = rows.head.getDouble(3)
      val np = rows.head.getLong(4).toInt
      val nl = rows.head.getLong(5).toInt
      assert(np > 1 && np <= nl, s"$dir: nprobe $np not multi on nlist $nl")
      assert(rMp + 1e-9 >= rSp, s"$dir: multi $rMp below single $rSp")
      assert(rMp >= np.toDouble / nl / 2, s"$dir: recall $rMp under half scan share")
      // candidate superset ⇒ the serving pair set itself must be at
      // least as close to exact: every single-probe HIT stays a hit
      assert(rows.length === rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
    }
  }
}

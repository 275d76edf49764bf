package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // a corpus with planted near-duplicates:
  // 1/2 identical; 3 near-dup of 1 (one word changed); 4/5 unrelated
  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base),
    (3L, base.replace("lazy", "sleepy")),
    (4L, "completely different content about spark sql query engines and columnar storage formats today"),
    (5L, "yet another unrelated document mentioning benchmarks optimizers and shuffle partitions in clusters")
  ).toDF("doc_id", "text")

  test("minhash LSH finds planted near-dups and jaccard matches brute force") {
    val pairs = Dedup.minhashPairs(docs, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
    // brute-force check of the reported jaccard for (1,3)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val expected = sh(1L).toSet.intersect(sh(3L).toSet).size.toDouble /
      sh(1L).toSet.union(sh(3L).toSet).size
    assert(math.abs(pairs((1L, 3L)) - expected) < 1e-12)
  }

  test("simhash pairs: small edits on LONG docs collide, unrelated don't") {
    // SimHash detects near-dups when the EDIT FRACTION is small — with 200
    // tokens, a one-token change flips ~1-2 of 64 bits; with 17 tokens it
    // flips ~12 (undetectable by design). Use long docs, as in real corpora.
    val words = (0 until 200).map(i => s"w${i % 97}tok$i")
    val longBase = words.mkString(" ")
    val oneEdit = words.updated(100, "CHANGED").mkString(" ")
    val longDocs = Seq(
      (1L, longBase), (2L, longBase), (3L, oneEdit),
      (4L, (0 until 200).map(i => s"other${i}x").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(longDocs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must collide with hamming 0")
    assert(pairs.contains((1L, 3L)), "one-token edit in 200 tokens must stay within hamming 3")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }, "unrelated doc must not pair")
  }

  test("bucket cap drops degenerate buckets (skew guard)") {
    // 60 identical docs: every band bucket has 60 members > maxBucket=50 →
    // no candidate pairs at all (instead of 1770 quadratic pairs)
    val many = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(many, maxBucket = 50).count() === 0)
    // with the cap lifted, all 1770 pairs appear
    assert(Dedup.minhashPairs(many, maxBucket = 100).count() === 60L * 59 / 2)
  }

  test("simhash bucket cap drops degenerate band buckets (skew guard)") {
    // 60 identical docs collapse to ONE simhash signature: every band
    // bucket holds all 60 → with a cap of 50 the quadratic self-join is
    // refused (0 pairs instead of 1770); lifted, all pairs reappear
    val many = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(many, maxBucket = 50).count() === 0)
    assert(Dedup.simhashPairs(many, maxBucket = 100).count() === 60L * 59 / 2)
  }

  test("simhash banding parameters enforce the pigeonhole constraint") {
    // bands < maxHamming + 1 would silently LOSE pairs; bands*bandBits
    // beyond the 60-bit signature would band on garbage bits
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 3, bands = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, bands = 4, bandBits = 16)
    }
    // a legal non-default banding (5 bands × 12 bits covers hamming ≤ 4)
    // still finds the identical-doc pair
    val pairs = Dedup.simhashPairs(docs, maxHamming = 4, bands = 5, bandBits = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("dedupClusters: chains collapse to min-labeled components") {
    // a 4-node chain (transitivity across pairs), a 2-clique, a singleton pair
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 0.9), (3L, 4L, 0.8), (10L, 11L, 0.7))
      .toDF("doc_id_a", "doc_id_b", "jaccard")
    val out = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 10L, 11L))
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_)._1 == 1L)) // chain merges transitively
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_)._2 == 4L))
    assert(out(10L) === ((10L, 2L, true)) && out(11L) === ((10L, 2L, false)))
    assert(out.count(_._2._3) === 2) // one keeper per component
  }

  test("dedupClusters: closure rounds are logged and stay within the log-diameter bound") {
    // a 16-node chain is the worst case per node count (diameter 15);
    // pointer jumping must close it in O(log d) windows, far under the
    // maxRounds=50 refusal. The tracked round count is the
    // observability knob: at corpus scale the bucket caps keep
    // components shallow, so rounds trending toward the cap means the
    // pair graph degenerated, not that the corpus grew.
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
      .withColumn("jaccard", lit(1.0))
    val out = Dedup.dedupClusters(chain).collect()
    assert(out.forall(_.getLong(1) == 1L), "chain must collapse to min label")
    val state = graft.EngineState.of(spark)
    val rounds = state.lastClosureRounds.get
    assert(rounds >= 1 && rounds <= 12,
      s"diameter-15 chain took $rounds rounds; pointer jumping should need ~2·log2(15)")
    // and the real d8 pair graph (bucket-capped LSH pairs) converges in
    // single-digit rounds at this SF
    Dedup.dedupClusters(Dedup.minhashPairs(graft.Tables.documents(spark, sf))).collect()
    assert(state.lastClosureRounds.get >= 1 && state.lastClosureRounds.get <= 12,
      s"d8 closure took ${state.lastClosureRounds.get} rounds at test SF")
  }

  test("property: dedupClusters equals driver union-find on random graphs") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(25)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(nd => nd -> nodes.filter(m => find(m) == find(nd)).min).toMap
      val got = Dedup.dedupClusters(
        edges.toDF("doc_id_a", "doc_id_b").withColumn("jaccard", lit(1.0)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("leakage-safe split: no LSH pair crosses splits; singletons reduce to q76") {
    val docs = graft.Tables.documents(spark, sf)
    val out = Dedup.leakageSafeSplit(docs)
      .select(col("doc_id"), col("comp_id"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size === docs.count(), "every doc assigned exactly once")

    // the zero-leakage law: both ends of every near-dup candidate pair
    // land in the SAME split (per-doc q76 hashing cannot guarantee this)
    val pairs = Dedup.minhashPairs(docs)
      .select(col("doc_id_a"), col("doc_id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must contain near-dup pairs to test")
    pairs.foreach { case (a, b) =>
      assert(out(a)._2 === out(b)._2,
        s"pair ($a,$b) crosses splits: ${out(a)._2} vs ${out(b)._2}")
    }
    // ... and the per-doc q76 split DOES leak on this corpus (the gap
    // d27 exists to close) — informational, not load-bearing
    val q76 = graft.SparkEntry.registry.find(_.name == "q76_hash_split").get
      .run(spark, sf).select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val leaks = pairs.count { case (a, b) => q76(a) != q76(b) }
    info(s"q76 per-doc split leaks $leaks of ${pairs.length} near-dup pairs; d27 leaks 0")

    // singletons (docs in no pair) get exactly their q76 assignment
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val singles = out.keySet -- paired
    assert(singles.nonEmpty)
    singles.foreach { id =>
      assert(out(id)._1 === id, s"singleton $id must be its own representative")
      assert(out(id)._2 === q76(id), s"singleton $id split must equal q76")
    }
  }

  test("hot-ngram boilerplate: shared 8-gram spans flagged, unique docs clean") {
    val span = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val bdocs = Seq(
      (1L, s"$span alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$span iota kappa lambda mu nu xi omicron pi"),
      (3L, "wholly unique content with no shared spans at all here today ok fine")
    ).toDF("doc_id", "text")
    // run the REGISTERED pipeline (the registry delegates to this fn)
    val out = Dedup.hotNgramCoverage(bdocs)
      .select(col("doc_id"), col("n_hot"), col("is_boilerplate"))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // docs 1/2 share the 12-token span → 5 shared 8-grams each; doc 3 none
    assert(out(1L) === ((5L, false)))
    assert(out(2L) === ((5L, false)))
    assert(out(3L) === ((0L, false)))
    // a doc that is pure boilerplate trips the ≥50% flag
    val allShared = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    assert(Dedup.hotNgramCoverage(allShared)
      .select(col("is_boilerplate")).as[Boolean].collect().forall(identity))
  }

  test("decontamination: train doc sharing a 13-gram with a bench doc is flagged") {
    val span = (1 to 13).map(i => s"eval$i").mkString(" ")
    val cdocs = Seq(
      (10L, s"$span plus benchmark answer key material here"),  // bench (10 % 10 == 0)
      (11L, s"training doc that copied $span verbatim sadly"),  // contaminated
      (13L, "clean training doc with original words only throughout the text")
    ).toDF("doc_id", "text")
    // run the REGISTERED pipeline (the registry delegates to this fn)
    val out = Dedup.decontaminate(cdocs)
      .select(col("doc_id"), col("n_contaminated"), col("is_contaminated"))
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!out.contains(10L), "bench docs are not scored as training docs")
    assert(out(11L)._1 >= 1L && out(11L)._2, "copied 13-gram must be caught")
    assert(out(13L) === ((0L, false)), "original doc must be clean")
  }

  test("corpusCleanFull (tokenize-once) equals the independently-composed stages") {
    // the tokenize-once artifact must not change any stage's semantics:
    // compare verdicts against the five stages computed directly from raw
    // text, on a corpus that fires every drop reason
    val r = new scala.util.Random(7)
    val vocab = for (a <- 'a' to 'j'; b <- 'a' to 'h') yield s"$a${b}word"
    def prose(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val base = prose(60)
    val evalSpan = ('a' to 'm').map(c => s"${c}eval").mkString(" ")
    // 20 shared tokens → 13 of ~16 8-grams shared (≥ 50% coverage fires)
    val sharedSpan = ('a' to 't').map(c => s"${c}boiler").mkString(" ")
    val planted = Seq(
      1L -> base, 2L -> base,                         // 2 = exact_dup
      3L -> base.replace(base.split(" ")(30), "EDITED"), // near-dup of 1
      10L -> s"$evalSpan ${prose(20)}",               // bench doc (10 % 10 == 0)
      11L -> s"${prose(10)} $evalSpan ${prose(10)}",  // contaminated
      12L -> s"$sharedSpan ${prose(3)}", 13L -> s"$sharedSpan ${prose(4)}", // boilerplate
      14L -> "1234567 9999999 !!! ??? 88888 //// 0000000 +++ 55555 :::::" // low_quality
    )
    val filler = (20L until 40L).filter(_ % 10 != 0).map(i => i -> prose(40))
    val docs = (planted ++ filler).toDF("doc_id", "text")

    val got = Dedup.corpusCleanFull(docs)
      .select("doc_id", "reason").as[(Long, String)].collect().toMap

    // stage flags recomputed from raw text via the docs-taking entry points
    val exact = docs.select(col("doc_id"), Dedup.contentHash(col("text")).as("h"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("rn") > 1).select("doc_id").as[Long].collect().toSet
    val near = Dedup.dedupClusters(Dedup.minhashPairs(docs))
      .filter(!col("is_keeper")).select("doc_id").as[Long].collect().toSet
    val cont = Dedup.decontaminate(docs).filter(col("is_contaminated"))
      .select("doc_id").as[Long].collect().toSet
    val boiler = Dedup.hotNgramCoverage(docs).filter(col("is_boilerplate"))
      .select("doc_id").as[Long].collect().toSet
    val lowQ = docs.filter(
      (length(col("text")) - length(regexp_replace(col("text"), "[^A-Za-z]", ""))) * lit(1.0)
        / greatest(length(col("text")), lit(1)) > 0.19)
      .select("doc_id").as[Long].collect().toSet
    val expected = docs.select("doc_id").as[Long].collect().map { id =>
      id -> (if (exact(id)) "exact_dup"
        else if (near(id)) "near_dup"
        else if (cont(id)) "contaminated"
        else if (boiler(id)) "boilerplate"
        else if (lowQ(id)) "low_quality"
        else "kept")
    }.toMap
    assert(got === expected)
    // and the plants actually exercised every reason
    assert(got(2L) === "exact_dup" && got(3L) === "near_dup" &&
      got(11L) === "contaminated" && got(14L) === "low_quality")
    // 12/13 are ALSO near-dups of each other (20 of ~23 tokens shared):
    // the cluster loser (13) takes the higher-precedence near_dup verdict
    // and the keeper (12) falls through to boilerplate — the precedence
    // chain exercised end-to-end
    assert(got(12L) === "boilerplate" && got(13L) === "near_dup")
  }

  test("property: label-store folds are partition-invariant == one-shot closure (random graphs)") {
    // the st11 composition law, attacked with randomness: however a
    // random edge set is sliced into ticks, folding the slices through
    // mergeClosureLabels must land on the same labels as the one-shot
    // distributed closure over the union
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(35)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      val expected = Dedup.dedupClusters(
        edges.toDF("doc_id_a", "doc_id_b").withColumn("jaccard", lit(1.0)))
        .select("doc_id", "comp_id").as[(Long, Long)].collect().toMap
      val nTicks = 1 + rng.nextInt(4)
      val slices = edges.groupBy(_ => rng.nextInt(nTicks)).values.toSeq
      val labelsDir = java.nio.file.Files
        .createTempDirectory(s"st11-prop-$trial").toString + "/labels"
      slices.foreach { slice =>
        Dedup.mergeClosureLabels(spark, labelsDir,
          slice.toDF("doc_id_a", "doc_id_b"))
      }
      val got = Dedup.readClosureLabels(spark, labelsDir)
        .as[(Long, Long)].collect().toMap
      assert(got === expected,
        s"trial $trial: ${slices.length}-tick fold diverged from one-shot closure")
      // and re-folding EVERY slice again is a fixpoint no-op
      slices.foreach { slice =>
        Dedup.mergeClosureLabels(spark, labelsDir,
          slice.toDF("doc_id_a", "doc_id_b"))
      }
      assert(Dedup.readClosureLabels(spark, labelsDir)
        .as[(Long, Long)].collect().toMap === expected,
        s"trial $trial: replayed folds must be a no-op")
    }
    Dedup.releaseSpills(spark)
  }

  test("leakage-safe split from MAINTAINED labels: st11 consumption path, zero leakage, singletons = q76") {
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    // labels as the st11 fold produces them (2-tick incremental closure)
    val labels = Dedup.incrementalClosure(docs, col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("comp_id").as("comp"))
    val out = Dedup.leakageSafeSplitFromLabels(docs, labels)
      .select("doc_id", "comp_id", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size === nDocs)
    // zero leakage w.r.t. the maintained component set: every doc in a
    // component carries its representative's split
    val comps = labels.as[(Long, Long)].collect()
    comps.foreach { case (d, c) =>
      assert(out(d)._1 === c)
      assert(out(d)._2 === out(c)._2,
        s"doc $d split ${out(d)._2} != its representative $c's ${out(c)._2}")
    }
    // never-paired docs reduce to the per-doc q76 discipline (own hash)
    val labeled = comps.map(_._1).toSet
    val q76 = graft.SparkEntry.registry.find(_.name == "q76_hash_split").get
      .run(spark, sf).select("doc_id", "split").as[(Long, String)].collect().toMap
    out.foreach { case (d, (c, s)) =>
      if (!labeled.contains(d)) {
        assert(c === d, s"unlabeled doc $d must represent itself")
        assert(s === q76(d), s"singleton $d must take its q76 split")
      }
    }
    Dedup.releaseSpills(spark)
  }

  test("leakage-safe split from labels: an orphaned representative drops no members") {
    val docs = Tables.documents(spark, sf)
    val nDocs = docs.count()
    val ids = docs.select("doc_id").orderBy("doc_id").limit(2)
      .as[Long].collect()
    // the post-purge-before-re-election state: a component whose rep id
    // (-999, a purged min-id) is absent from docs — before the r11 fix
    // the inner join silently dropped every member of that component
    val labels = Seq((ids(0), -999L), (ids(1), -999L)).toDF("doc_id", "comp")
    val out = Dedup.leakageSafeSplitFromLabels(docs, labels)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.size === nDocs, "every doc must receive a split row")
    // orphaned members fall back to their OWN content-hash bucket — the
    // q76 per-doc discipline
    val q76 = graft.SparkEntry.registry.find(_.name == "q76_hash_split").get
      .run(spark, sf).select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out(ids(0)) === q76(ids(0)) && out(ids(1)) === q76(ids(1)),
      "orphaned members must take their own-hash split")
  }

  test("purgeClosureLabels: RTBF cascade — zero tombstones, labels == fresh closure over purged corpus") {
    val docs = Tables.documents(spark, sf)
    val labelsDir = java.nio.file.Files
      .createTempDirectory("st11-purge").toString + "/labels"
    Dedup.mergeClosureLabels(spark, labelsDir, Dedup.minhashPairs(docs))
    val before = Dedup.readClosureLabels(spark, labelsDir)
      .as[(Long, Long)].collect()
    assert(before.nonEmpty, "fixture must produce clusters")
    // tombstone every component REPRESENTATIVE (the hard case: min-id
    // re-election everywhere) plus one non-rep member
    val reps = before.map(_._2).distinct
    val nonRep = before.map(_._1).filterNot(reps.contains).headOption
    val tombIds = (reps ++ nonRep).distinct
    val tomb = tombIds.toSeq.toDF("doc_id")
    val purgedDocs = docs.join(tomb, Seq("doc_id"), "left_anti")
    Dedup.purgeClosureLabels(spark, labelsDir, tomb, purgedDocs)
    val after = Dedup.readClosureLabels(spark, labelsDir)
      .as[(Long, Long)].collect()
    val tombSet = tombIds.toSet
    assert(after.forall { case (d, c) => !tombSet(d) && !tombSet(c) },
      "no tombstoned id may survive in doc_id or comp")
    // the store must equal a from-scratch closure over the purged corpus
    // (fixture is far below cap saturation, so the documented equality
    // boundary does not bind here)
    val expected = Dedup.dedupClusters(Dedup.minhashPairs(purgedDocs))
      .select("doc_id", "comp_id").as[(Long, Long)].collect().toMap
    assert(after.toMap === expected,
      "post-purge labels must equal the fresh closure over the purged corpus")
    // re-purge is a no-op
    Dedup.purgeClosureLabels(spark, labelsDir, tomb, purgedDocs)
    assert(Dedup.readClosureLabels(spark, labelsDir)
      .as[(Long, Long)].collect().toMap === expected)
    Dedup.releaseSpills(spark)
  }

  test("t34 dedup-corrected mixture: mass conservation, weights sum to 1, keeper rule") {
    val docs = Tables.documents(spark, sf)
    val out = Dedup.dedupCorrectedMixture(docs)
      .select("source", "n_tok_raw", "n_tok_dedup", "weight")
      .as[(String, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (src, raw, dedup, _) =>
      assert(dedup <= raw, s"source $src gained tokens from dedup")
      assert(dedup > 0, s"source $src lost all mass")
    }
    // weights are a distribution (6-dp rounding slack per source)
    assert(math.abs(out.map(_._4).sum - 1.0) <= out.length * 1e-6)
    // keeper rule re-derived: total dedup mass == sum of token counts of
    // unpaired docs + cluster min-label keepers
    val keepers = Dedup.dedupClusters(Dedup.minhashPairs(docs))
      .select("doc_id", "is_keeper").as[(Long, Boolean)].collect().toMap
    val want = docs.select(col("doc_id"),
        size(graft.llm.TextStats.tokens(col("text"))).cast("long").as("nt"))
      .as[(Long, Long)].collect()
      .collect { case (id, nt) if keepers.getOrElse(id, true) => nt }.sum
    assert(out.map(_._3).sum === want, "deduped mass != keeper mass")
    Dedup.releaseSpills(spark)
  }

  test("spill TTL pruner honors the spark.graft.spill.ttl.minutes conf (GraftConfig surface)") {
    val base = java.nio.file.Files.createTempDirectory("graft-ttl-test").toString
    def mk(name: String, ageMin: Long): java.io.File = {
      val f = new java.io.File(base, name)
      f.mkdirs()
      f.setLastModified(System.currentTimeMillis() - ageMin * 60000L)
      f
    }
    // two FOREIGN-session run dirs (no this-JVM session tag): one 30
    // minutes old, one 3 hours old; plus a foreign-but-unknown-prefix
    // dir the pruner must never touch
    val young = mk("cc-deadbeef-aaaa", 30)
    val old = mk("tok-deadbeef-bbbb", 180)
    val other = mk("user-data", 500)
    // one 3-hour-old foreign run dir per prefix the pruner once missed
    val missed = Seq("ivfrx", "ivflc", "ivfsq8", "bpelc", "cap", "fdoor",
      "forget", "incartb", "incverb", "lmk", "lshdiag", "ph")
      .map(p => mk(s"$p-deadbeef-cccc", 180))
    val prev = spark.conf.getOption(graft.GraftConfig.SpillTtlKey)
    try {
      // default TTL 60 min: only the 3-hour dir goes
      spark.conf.unset(graft.GraftConfig.SpillTtlKey)
      assert(graft.GraftConfig.spillTtlMinutes(spark) === 60L)
      Dedup.pruneStaleRuns(spark, base)
      assert(young.exists() && !old.exists() && other.exists())
      assert(missed.forall(!_.exists()),
        s"stale foreign run dirs survived: ${missed.filter(_.exists()).map(_.getName)}")
      // tightened to 5 min via the documented conf key: the 30-minute
      // dir now goes too; unrelated dirs still untouched
      spark.conf.set(graft.GraftConfig.SpillTtlKey, "5")
      assert(graft.GraftConfig.spillTtlMinutes(spark) === 5L)
      Dedup.pruneStaleRuns(spark, base)
      assert(!young.exists() && other.exists(),
        "conf-tightened TTL must reclaim the younger foreign run dir")
    } finally {
      prev.fold(spark.conf.unset(graft.GraftConfig.SpillTtlKey))(v =>
        spark.conf.set(graft.GraftConfig.SpillTtlKey, v))
    }
  }

  test("releaseSpills: repeated corpusCleanFull calls do not accumulate spills") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spill-test").toString
    val docs = (1L to 30L).map(i => (i, s"some plain document number $i with words"))
      .toDF("doc_id", "text")
    def runDirs(): Seq[String] = {
      val f = new java.io.File(dir)
      Option(f.listFiles()).toSeq.flatten.map(_.getName)
        .filter(n => n.startsWith("tok-") || n.startsWith("cc-"))
    }
    // two full runs, each consumed, WITHOUT release: one tok + >=1 cc
    // run dir per call stays behind (the returned plan reads them)
    Dedup.corpusCleanFull(docs, spillDir = Some(dir)).collect()
    Dedup.corpusCleanFull(docs, spillDir = Some(dir)).collect()
    assert(runDirs().count(_.startsWith("tok-")) === 2,
      s"expected one tok artifact per call, saw: ${runDirs()}")
    // release after consumption reclaims every run dir of this session
    val removed = Dedup.releaseSpills(spark)
    assert(removed >= 2, s"expected >=2 dirs removed, got $removed")
    assert(runDirs().isEmpty, s"spills survived release: ${runDirs()}")
    // and the next call still works from a clean slate
    val again = Dedup.corpusCleanFull(docs, spillDir = Some(dir))
    assert(again.count() === 30L)
    Dedup.releaseSpills(spark)
    assert(runDirs().isEmpty)
  }

  test("bloom prefilter: no false negatives, measured FPR within the gate") {
    val snapshot = (1L to 200L)
      .map(i => (i, s"snapshot document number $i with some shared prose"))
      .toDF("doc_id", "text")
    val newBatch = ((1L to 50L)
      .map(i => (1000L + i, s"snapshot document number $i with some shared prose")) ++
      (1L to 150L)
        .map(i => (2000L + i, s"genuinely new crawl document $i about other matters")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomPrefilter(newBatch, snapshot).collect()
    val hits = out.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the hard bloom guarantee (also raise_error-gated inside the query):
    // every true duplicate must hit the sketch
    (1001L to 1050L).foreach(id => assert(hits(id), s"false negative for doc $id"))
    // the emitted fpr is the measured global rate; the in-query gate
    // bounds it at 5x the configured fpp (0.05 for the 0.01 default)
    assert(out.head.getDouble(3) <= 0.05)
    assert(out.length === 200)
  }

  test("replayable bloom prefilter: same contract as the native sketch on the same fixture") {
    // the d13 registry variant (sha256-chunk bit math, DuckDB-replayed):
    // identical guarantees — every true dup hits, measured FPR within
    // the 5×fpp gate — on the native test's exact fixture.
    val snapshot = (1L to 200L)
      .map(i => (i, s"snapshot document number $i with some shared prose"))
      .toDF("doc_id", "text")
    val newBatch = ((1L to 50L)
      .map(i => (1000L + i, s"snapshot document number $i with some shared prose")) ++
      (1L to 150L)
        .map(i => (2000L + i, s"genuinely new crawl document $i about other matters")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomPrefilterReplayable(newBatch, snapshot).collect()
    val hits = out.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (1001L to 1050L).foreach(id => assert(hits(id), s"false negative for doc $id"))
    assert(out.head.getDouble(3) <= 0.05)
    assert(out.length === 200)
  }

  test("replayable bloom: oversized bitmap fails loudly at the ceiling, not at the broadcast") {
    // r14 verdict #5: the broadcast-tier claim carries a require — a
    // snapshot whose bitmap would exceed maxBits must fail at sizing
    // time with the escape hatches named, never stall shipping a
    // multi-GB literal/broadcast.
    val snapshot = (1L to 100L).map(i => (i, s"snapshot doc $i")).toDF("doc_id", "text")
    val newBatch = Seq((1000L, "probe doc")).toDF("doc_id", "text")
    // 100 rows size to (48·100+4)/5 = 960 bits — a 512-bit ceiling trips
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomPrefilterReplayable(newBatch, snapshot, maxBits = 512L)
    }
    assert(e.getMessage.contains("bloomPrefilter"), "failure must name the escape hatch")
    // and the same fixture passes under the default ceiling
    assert(Dedup.bloomPrefilterReplayable(newBatch, snapshot).count() === 1)
  }

  test("snapshot dedup is asymmetric: new docs judged, snapshot consulted only") {
    val snapshot = Seq(
      (1L, base),
      (2L, "some other snapshot document that describes cluster scheduling and memory tuning")
    ).toDF("doc_id", "text")
    val newBatch = Seq(
      (10L, base),                             // exact copy of snapshot 1
      (11L, base.replace("lazy", "sleepy")),   // near-dup of snapshot 1
      (12L, "entirely novel content never seen before about streaming watermarks and state stores"),
      (13L, base.replace("lazy", "sleepy"))    // near-dup too — but of a SNAPSHOT doc, not of 11
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstSnapshot(newBatch, snapshot)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(10L -> "exact_dup", 11L -> "near_dup",
      12L -> "kept", 13L -> "near_dup"))
    // asymmetry: 11 and 13 duplicate EACH OTHER exactly, but within-batch
    // pairs are not this operator's job (d1/d3 own that) — both are
    // judged against the snapshot alone, and snapshot ids never appear
    assert(!out.contains(1L) && !out.contains(2L))
  }

  test("duplicate spans: shared runs merge into intervals, coverage is a union") {
    // doc 1 and 2 share two 15-token runs (A at positions 1-15, B at
    // 21-35 in doc 1) separated by 5 unique tokens; doc 3 is unrelated.
    // With n=5 grams: A yields hot gram starts 1..11 (one span covering
    // tokens 1..15), B likewise. The 5-token unique gap (< n would merge;
    // here gap ≥ n keeps them separate) must produce TWO spans per doc,
    // and coverage must be the interval UNION (overlapping gram intervals
    // within a run never double-count).
    val runA = (0 until 15).map(i => s"alpha$i")
    val runB = (0 until 15).map(i => s"beta$i")
    def mid(tag: String) = (0 until 5).map(i => s"${tag}gap$i")
    val d1 = (runA ++ mid("one") ++ runB).mkString(" ")
    val d2 = (runA ++ mid("two") ++ runB).mkString(" ")
    val d3 = (0 until 35).map(i => s"unique${i}z").mkString(" ")
    val corpus = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(corpus, n = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(5)))).toMap
    assert(out(1L) === ((35L, 2L, 30L, true)),
      s"doc 1: expected 2 spans covering 30 of 35 tokens, got ${out(1L)}")
    assert(out(2L) === ((35L, 2L, 30L, true)))
    assert(out(3L) === ((35L, 0L, 0L, false)), "unrelated doc must be clean")
    // WITHIN-doc repetition is hot too (multiset count, the suffix-array
    // view): runA twice back-to-back makes gram starts 1..11 and 16..26
    // hot; start 16 == prev_end(15)+1, so the two runs merge into ONE
    // span covering the whole 30-token repeated region.
    val d4 = (runA ++ runA ++ mid("tail")).mkString(" ")
    val merged = Dedup.duplicateSpans(
      Seq((1L, d4), (2L, d3)).toDF("doc_id", "text"), n = 5)
      .filter(col("doc_id") === 1L).collect()(0)
    assert(merged.getLong(2) === 1L,
      "adjacent duplicated intervals must merge into ONE span")
    assert(merged.getLong(3) === 30L, "merged coverage is the union, not the sum")
  }

  test("span removal: n_removed equals d11 dup_tokens; known excision verified") {
    // law on the real corpus: the position union and the span union are
    // the same set, so the transform removes exactly what d11 reports
    val docs = graft.Tables.documents(spark, sf)
    val d11 = Dedup.duplicateSpans(docs).select("doc_id", "dup_tokens")
      .as[(Long, Long)].collect().toMap
    val d28 = Dedup.removeDuplicateSpans(docs)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(d28.keySet === d11.keySet)
    d28.foreach { case (id, rem) => assert(rem === d11(id), s"doc $id") }
    assert(d28.values.sum > 0, "corpus must contain duplicated spans to test")

    // hand-built case (n=3, minCount=2): docs share the run "a b c d",
    // so positions of the two hot 3-grams (a b c / b c d) are excised
    // and the distinct suffixes survive
    val tiny = Seq((1L, "a b c d x y z"), (2L, "a b c d q r s"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(tiny, n = 3, minCount = 2)
      .select("doc_id", "n_tokens", "n_kept", "n_removed", "cleaned_hash")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // hot grams: "a b c" (both docs, start 1) and "b c d" (start 2) →
    // covered positions 1..4; survivors are tokens 5..7
    assert(out(1L)._1 === 7L && out(1L)._2 === 3L && out(1L)._3 === 4L)
    assert(out(2L)._3 === 4L)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def hex(s: String) = sha.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(out(1L)._4 === hex("x y z"), "doc 1 cleaned text must be its suffix")
    assert(out(2L)._4 === hex("q r s"), "doc 2 cleaned text must be its suffix")
  }

  test("prefix dedup: truncation pairs grouped, longest capture kept") {
    // one page captured at three truncation points + an unrelated doc
    // sharing NO prefix + a shorter-prefix near-miss (differs at token 4)
    val docs = Seq(
      (1L, "alpha beta gamma delta one two three", 37L),
      (2L, "alpha beta gamma delta one", 26L),          // truncated capture
      (3L, "alpha beta gamma delta", 22L),              // worse truncation
      (4L, "alpha beta gamma OTHER tail tail tail", 37L), // 4th token differs
      (5L, "totally different document here", 31L)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.prefixDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    // only the truncation family groups; the near-miss and singleton drop
    assert(out.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(out.forall(_._2 === 3L))
    assert(out.filter(_._3).map(_._1).toSeq === Seq(1L), "longest must win")
    // n_chars tie inside a group → lowest doc_id wins, deterministically
    val tied = Seq(
      (9L, "p q r s x", 9L), (7L, "p q r s y", 9L), (8L, "p q r s z", 9L)
    ).toDF("doc_id", "text", "n_chars")
    val kept = Dedup.prefixDedup(tied).filter(col("kept")).select("doc_id")
      .as[Long].collect().toSeq
    assert(kept === Seq(7L))
  }

  test("stutter removal: runs collapse to one, order preserved, idempotent") {
    val docs = Seq(
      (1L, "the the the cat sat sat"),
      (2L, "a b a b a"),                    // non-consecutive repeats untouched
      (3L, "x x x x x x"),                  // whole doc one run
      (4L, "clean text with no runs")
    ).toDF("doc_id", "text")
    val out = Dedup.stutterRemoval(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))).toMap
    assert(out(1L) === ((6L, 3L, 3L, "the cat sat")))
    assert(out(2L) === ((5L, 5L, 0L, "a b a b a")))
    assert(out(3L) === ((6L, 1L, 5L, "x")))
    assert(out(4L) === ((5L, 5L, 0L, "clean text with no runs")))
    // idempotence: cleaning the cleaned text removes nothing
    val again = Dedup.stutterRemoval(
      docs.sparkSession.createDataFrame(
        out.toSeq.map { case (id, (_, _, _, t)) => (id, t) })
        .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(again.values.forall(_ === 0L), "second pass removed tokens")
  }

  test("contamination score: plain-Scala re-derivation + exact bucket boundaries") {
    // grams re-derived with stdlib sliding windows, never the engine's
    // own expressions; sliding(4) yields the single partial window for
    // short docs, mirroring the engine's greatest(len-3, 1) floor
    def grams(s: String): Set[String] =
      s.trim.split("\\s+").toSeq.sliding(Dedup.ContamN).map(_.mkString(" ")).toSet
    val benchTexts = Map(10L -> "b1 b2 b3 b4 b5 b6 b7", 20L -> "c1 c2 c3 c4")
    val trainTexts = Map(
      1L -> "b1 b2 b3 b4 b5 b6 b7",                    // verbatim copy → 1.0 high
      2L -> "b1 b2 b3 b4 z1 z2 z3 z4",                 // 1/5 hit → medium
      3L -> "u1 u2 u3 u4 u5 u6",                       // no overlap → clean
      4L -> "b1 b2 b3 b4 b5 x1 x2",                    // 2/4 = exactly 50% → high
      5L -> ("b1 b2 b3 b4 " + (1 to 19).map(i => s"q$i").mkString(" ")) // 1/20 = exactly 5% → medium
    )
    val docs = (benchTexts ++ trainTexts).toSeq.map { case (id, t) => (id, t) }
      .toDF("doc_id", "text")
    val out = Dedup.contaminationScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))).toMap
    assert(out.keySet === trainTexts.keySet, "bench docs must never be scored")
    val benchGrams = benchTexts.values.flatMap(grams).toSet
    for ((id, t) <- trainTexts) {
      val g = grams(t)
      val hit = g.count(benchGrams)
      assert(out(id)._1 === g.size.toLong, s"doc $id n_grams")
      assert(out(id)._2 === hit.toLong, s"doc $id n_hit")
      assert(math.abs(out(id)._3 - hit.toDouble / g.size) < 1e-9, s"doc $id frac")
    }
    assert(out(1L)._4 === "high")
    assert(out(2L)._4 === "medium")
    assert(out(3L)._4 === "clean")
    assert(out(4L)._4 === "high", "the 50% boundary is inclusive")
    assert(out(5L)._4 === "medium", "the 5% boundary is inclusive")
    // the keyed-shuffle path (registry form) must agree with the
    // broadcast path row-for-row
    val shuffled = Dedup.contaminationScore(docs, broadcastBench = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shuffled === out.map { case (k, v) => k -> v._2 })
  }

  test("cluster keep-best: quality rank wins over min-label, integer tiebreaks") {
    // trio of near-dups (word-3-gram Jaccard ≈ 0.93 pairwise): identical
    // 30-token base, differing only at the last token. doc 5 carries the
    // only stopword, so it must be kept even though min-label makes doc 3
    // the comp_id. doc 7 is unrelated and must not appear.
    val base = (1 to 29).map(i => s"tok$i").mkString(" ")
    val t3 = s"$base endA"
    val t5 = s"$base the" // one stopword → highest quality
    val t9 = s"$base endB"
    val t7 = (1 to 30).map(i => s"other$i").mkString(" ")
    // second cluster: byte-identical texts → quality + n_chars tie →
    // lowest doc_id kept
    val dup = (1 to 30).map(i => s"dup$i").mkString(" ")
    val docs = Seq((3L, t3), (5L, t5), (9L, t9), (7L, t7), (11L, dup), (4L, dup))
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.clusterKeepBest(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out.keySet === Set(3L, 5L, 9L, 4L, 11L), "singleton doc 7 must drop")
    assert(Seq(3L, 5L, 9L).forall(id => out(id)._1 === 3L && out(id)._2 === 3L),
      "trio clusters under min label 3")
    assert(out(5L)._3 === 1L && out(3L)._3 === 0L, "stopword counts")
    assert(out.filter(_._2._1 === 3L).collect { case (id, v) if v._4 => id }.toSeq
      === Seq(5L), "quality keeper, not the min-label keeper")
    assert(out(4L)._4 && !out(11L)._4, "full tie → lowest doc_id kept")
  }

  test("exact dedup keeps lowest doc_id per hash") {
    val dup = Seq((10L, "same"), (7L, "same"), (8L, "other")).toDF("doc_id", "text")
    val survivors = Dedup.registry.find(_.name == "d1_exact_dedup").get
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"))
    val out = dup.select(col("doc_id"), Dedup.contentHash(col("text")).as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(7L, 8L))
  }

  test("incremental gate: the growing index catches dups of STREAM docs, order decides") {
    // snapshot holds only X; the stream introduces B (novel), an exact
    // copy of B, and a near-variant of B. None of them resemble X, so a
    // fixed-snapshot gate (d12 semantics) would keep all three — the
    // growing index must keep only the first.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearB = (1 to 40).map(i => if (i > 36) s"alt$i" else s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, "completely unrelated snapshot content about nothing shared"),
      (1L, base),   // novel → kept
      (2L, base),   // exact copy of stream doc 1 → exact_dup
      (3L, nearB)   // ~90% shared 3-grams with doc 1 → near_dup
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(docs, col("doc_id") === 0L)
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "kept", 2L -> "exact_dup", 3L -> "near_dup"),
      s"growing-index verdicts wrong: $out")
    // and the mirror: doc order decides who is the original — swap ids
    // and the copy becomes the keeper
    val swapped = Seq(
      (0L, "completely unrelated snapshot content about nothing shared"),
      (1L, base), (2L, nearB), (3L, base)).toDF("doc_id", "text")
    val out2 = Dedup.incrementalNearDup(swapped, col("doc_id") === 0L)
      .as[(Long, String)].collect().toMap
    assert(out2(1L) === "kept" && out2(3L) === "exact_dup")
  }

  test("batched kernel fails loudly on a batchOf/nBatches pair that strands docs") {
    // r18 ADVICE: a non-snapshot doc whose batchOf lands outside
    // [0, nBatches) was silently neither judged nor indexed — the
    // caller got a quietly smaller result. Now: loud, with the range.
    val strandDocs = Seq((0L, "seed snapshot content here"),
      (1L, "batch zero doc"), (2L, "batch one doc"),
      (3L, "stranded doc three"), (4L, "stranded doc four"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupBatches(strandDocs, col("doc_id") === 0L,
        col("doc_id") - 1, 2) // docs 3,4 → batch 2,3: outside [0, 2)
    }
    assert(ex.getMessage.contains("outside [0, 2)") &&
      ex.getMessage.contains("2 doc(s)"), ex.getMessage)
    // a NULL batchOf is the same hole (never judged, never indexed)
    val exNull = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupBatches(strandDocs, col("doc_id") === 0L,
        when(col("doc_id") === 1L, 0L), 2) // docs 2-4 → null
    }
    assert(exNull.getMessage.contains("outside [0, 2)"), exNull.getMessage)
    // and a covering pair still works end to end
    val ok = Dedup.incrementalNearDupBatches(strandDocs, col("doc_id") === 0L,
      (col("doc_id") - 1) % 2, 2)
    assert(ok.select(col("doc_id")).as[Long].collect().toSet
      === Set(1L, 2L, 3L, 4L))
    // r19 ADVICE: a non-snapshot batchOf that EVALUATES to -1 must not
    // slip through disguised as the snapshot sentinel (it would be
    // swept into every batch's index yet judged by none)
    val exNeg = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDupBatches(strandDocs, col("doc_id") === 0L,
        when(col("doc_id") === 1L, lit(-1L)).otherwise(lit(0L)), 2)
    }
    assert(exNeg.getMessage.contains("1 doc(s)") &&
      exNeg.getMessage.contains("[-1, -1]"), exNeg.getMessage)
  }
}

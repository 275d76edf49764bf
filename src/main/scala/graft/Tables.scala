package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's Parquet star schema (TESTDATA.md / FIXTURES.md §B).
  *
  * All operators take a scale-factor directory (`/root/testdata/sf0.01` etc.)
  * and read columnar Parquet; Catalyst pushes filters/projections down to the
  * scan, so at 100 TB a query touching 2 of 11 lineitem columns reads only
  * those column chunks. Never cache here — callers decide lifetime.
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Loose type families for the testdata seam: the driver has regenerated
    * tables with changed physical types mid-round (r7: events.ts
    * TIMESTAMP(NANOS) → (MICROS)), so the contract we enforce is column
    * NAMES plus a type FAMILY — tight enough that a renamed or re-typed
    * column fails with a which-table/which-column message at load, loose
    * enough that an equivalent re-encoding (date↔timestamp, int↔long,
    * nanos-as-long) still loads.
    */
  private sealed trait Family { def ok(t: DataType): Boolean }
  private case object Num extends Family {
    def ok(t: DataType): Boolean = t.isInstanceOf[NumericType]
  }
  private case object Chrono extends Family { // incl. nanos-as-long encoding
    def ok(t: DataType): Boolean = t match {
      case DateType | TimestampType | TimestampNTZType | LongType => true
      case _ => false
    }
  }
  private case object Str extends Family {
    def ok(t: DataType): Boolean = t == StringType
  }
  private case object FloatArr extends Family {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
  }

  private val expectedCols: Map[String, Seq[(String, Family)]] = Map(
    "region"   -> Seq("r_regionkey" -> Num, "r_name" -> Str),
    "nation"   -> Seq("n_nationkey" -> Num, "n_name" -> Str, "n_regionkey" -> Num),
    "customer" -> Seq("c_custkey" -> Num, "c_name" -> Str, "c_nationkey" -> Num,
      "c_acctbal" -> Num, "c_mktsegment" -> Str),
    "supplier" -> Seq("s_suppkey" -> Num, "s_name" -> Str, "s_nationkey" -> Num,
      "s_acctbal" -> Num),
    "part"     -> Seq("p_partkey" -> Num, "p_name" -> Str, "p_brand" -> Str,
      "p_type" -> Str, "p_size" -> Num, "p_retailprice" -> Num),
    "orders"   -> Seq("o_orderkey" -> Num, "o_custkey" -> Num, "o_orderstatus" -> Str,
      "o_totalprice" -> Num, "o_orderdate" -> Chrono, "o_orderpriority" -> Str),
    "lineitem" -> Seq("l_orderkey" -> Num, "l_partkey" -> Num, "l_suppkey" -> Num,
      "l_linenumber" -> Num, "l_quantity" -> Num, "l_extendedprice" -> Num,
      "l_discount" -> Num, "l_tax" -> Num, "l_returnflag" -> Str,
      "l_linestatus" -> Str, "l_shipdate" -> Chrono),
    "events"   -> Seq("event_id" -> Num, "ts" -> Chrono, "user_id" -> Num,
      "event_type" -> Str, "value" -> Num, "props" -> Str),
    "documents" -> Seq("doc_id" -> Num, "text" -> Str, "lang" -> Str,
      "source" -> Str, "n_chars" -> Num),
    "embeddings" -> Seq("vec_id" -> Num, "embedding" -> FloatArr, "label" -> Num))

  private def validate(name: String, schema: StructType): Unit =
    expectedCols.get(name).foreach { exp =>
      val actual = schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = exp.map(_._1).filterNot(actual.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"table '$name': missing column(s) ${missing.mkString(", ")} " +
            s"(loaded schema has: ${schema.fieldNames.mkString(", ")}) — " +
            "did the driver regenerate testdata with a new layout?")
      for ((c, fam) <- exp; t = actual(c); if !fam.ok(t))
        throw new IllegalStateException(
          s"table '$name' column '$c': loaded type $t is outside the expected " +
            s"$fam family — did the driver regenerate testdata with a new encoding?")
    }

  /** A star-schema table, resolved once per session — CATALOG metadata,
    * not data. `spark.read.parquet(path)` re-lists the directory and
    * re-reads a footer for schema inference on EVERY call; a
    * catalog-backed engine resolves a table once per session and reuses
    * the relation (what `saveAsTable`/HMS users get for free — Spark's
    * own filesourceTableRelationCacheSize exists for exactly this). The
    * memo holds the resolved LOGICAL PLAN only: every action against it
    * still scans the parquet files — no rows, aggregates, or
    * intermediates are retained (and the input star schema is immutable
    * by the driver contract, so the cached file listing cannot go
    * stale). It lives in the context's [[EngineState]], keyed by
    * (session, dir, name), and is evicted when the context stops: a dir
    * regenerated in place under a live context keeps serving the first
    * listing and schema check until then.
    *
    * Callers share the returned instance: two raw results of one
    * accessor joined with `df("col")` conditions carry the same
    * attribute ids, and rely on Spark's self-join dedup to tell the
    * sides apart — alias both sides before such a join.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    EngineState.of(spark).relations.computeIfAbsent((spark, dir, name), { _ =>
      val df = spark.read.parquet(s"$dir/$name.parquet")
      validate(name, df.schema)
      df
    })

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** `events.ts` has shipped as BOTH Parquet TIMESTAMP(MICROS) (reads as a
    * native TimestampType/NTZ) and TIMESTAMP(NANOS) (rejected by the
    * vectorized reader unless `spark.sql.legacy.parquet.nanosAsLong=true`
    * surfaces it as a raw nanosecond LongType). Branch on the loaded type so
    * either encoding works: longs get integer-division conversion (`div`,
    * not `/` — a double divide would lose precision above 2^53 ns);
    * timestamps pass through as-is. The nanosAsLong session flag is owned by
    * [[GraftSession.builder]]; a loader must not mutate session conf.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType =>
        raw
      case TimestampNTZType =>
        // UTC session tz (GraftSession) makes this cast a pure re-tag; it
        // restores the TimestampType every downstream consumer was built on.
        raw.withColumn("ts", raw("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: expected LongType (nanos-as-long) or Timestamp(NTZ)Type, got $other. " +
            "If events.parquet is TIMESTAMP(NANOS), build the session with GraftSession.builder " +
            "(or set spark.sql.legacy.parquet.nanosAsLong=true).")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Ensure at least the session's default parallelism ahead of a
    * row-AMPLIFYING transform (char-gram explode, per-row decode): a
    * small single-file scan otherwise pins the whole downstream stage on
    * one task. No-op — no shuffle — when the scan already has enough
    * partitions, which is always the case at real scale; the shuffle it
    * does introduce moves only the small pre-amplification rows.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // one planning per table instance: `rdd` is a lazy val on a Dataset
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Name-based loader that routes through the schema-aware accessors
    * (`events` needs the nanos handling).
    */
  def load(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case other    => table(s, d, other)
  }
}

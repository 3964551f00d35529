package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's public entry point — one object a user drives without
  * knowing the internal package layout:
  *
  * {{{
  * val g = Graft.local()                       // or Graft(existingSession, dir)
  * g.tableNames                                // -> region, nation, ..., embeddings
  * g.table("lineitem").show()
  * g.ops                                       // -> 100+ operator names
  * g.run("dedup_minhash").show()               // any operator as a DataFrame
  * g.explain("ta_tfidf")                       // formatted physical plan
  * g.sql("SELECT count(*) FROM documents")     // tables pre-registered as views
  * }}}
  *
  * Operators needing more than (session, dir) — the parameterized
  * entries like [[operators.Pipeline.rrfFuse]] or
  * [[operators.Relational.q18AsOfSalted]] — remain on their operator
  * objects; [[run]] executes each one at its gate operating point.
  */
final class Graft private (val spark: SparkSession, val dataDir: String) {

  /** One source of truth: loader per table name — [[tableNames]], view
    * registration, and [[table]] all derive from it. */
  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region"     -> (Tables.region _),
    "nation"     -> (Tables.nation _),
    "customer"   -> (Tables.customer _),
    "supplier"   -> (Tables.supplier _),
    "part"       -> (Tables.part _),
    "orders"     -> (Tables.orders _),
    "lineitem"   -> (Tables.lineitem _),
    "events"     -> (Tables.events _),
    "documents"  -> (Tables.documents _),
    "embeddings" -> (Tables.embeddings _))

  /** Fixture tables available under [[dataDir]]. */
  val tableNames: Seq[String] = loaders.map(_._1)

  def table(name: String): DataFrame =
    loaders.collectFirst { case (`name`, load) => load(spark, dataDir) }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table '$name' (have: ${tableNames.mkString(", ")})"))

  /** Every registered operator, by gate name. */
  def ops: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Run an operator at its gate operating point. The returned frame is
    * lazy — call an action (show/count/write) to execute. */
  def run(op: String): DataFrame = SparkEntry.queries.get(op) match {
    case Some(q) => q(spark, dataDir)
    case None => throw new IllegalArgumentException(
      s"unknown operator '$op' — see Graft.ops for the catalog")
  }

  /** The operator's formatted physical plan (what actually executes —
    * check PushedFilters / WholeStageCodegen / Exchange placement). */
  def explain(op: String): String =
    run(op).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** ANSI SQL over the fixture tables (registered as temp views once
    * per facade). */
  def sql(query: String): DataFrame = spark.sql(query)

  // ------------------------------------------------ two-corpus ops ----
  // The gate wrappers in SparkEntry split ONE fixture table to exercise
  // these; production use is two genuinely different corpora (today's
  // crawl vs the ingested snapshot, training corpus vs eval benchmark).
  // Uniform input contract: BOTH frames are documents-shaped —
  // (doc_id LONG, text STRING) — extra columns are ignored. The facade
  // derives fingerprints/signatures internally where the underlying
  // operator wants a prepared frame.

  private def fingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    docs.select(col("doc_id"),
      md5(operators.TextAnalysis.normalized(col("text"))).as("fp_norm"))
  }

  /** name -> ((left, right) => result); see [[runVs]] for semantics. */
  private val vsCatalog: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    // perplexity of `left` under a bigram LM trained on `right`
    "ta_lm_score_vs" -> ((corpus, ref) =>
      operators.CorpusOps.taLmScoreVs(corpus, ref)),
    // flag docs of `left` sharing contamination n-grams with `right`
    "ta_decontaminate_vs" -> ((corpus, bench) =>
      operators.Cleaning.taDecontaminateVs(corpus, bench)),
    // exact-dup check of `left` (incoming batch) vs `right` (snapshot):
    // (doc_id, fp_norm, is_new)
    "dedup_incremental_vs" -> ((incoming, snapshot) =>
      operators.Cleaning.dedupIncrementalVs(
        fingerprints(incoming), fingerprints(snapshot))),
    // near-dup (MinHash) check of `left` vs `right`: best-match estimate
    // per incoming doc
    "dedup_minhash_vs" -> ((batch, snapshot) =>
      operators.Dedup.dedupMinhashVs(spark, batch, snapshot)),
    // asymmetric containment of `left` (batch) docs vs `right`
    // (snapshot): new×old pairs with containment ≥ the threshold
    "dedup_containment_vs" -> ((batch, snapshot) =>
      operators.Dedup.containmentVs(batch, snapshot)))

  /** Two-corpus operators available through [[runVs]]. */
  def vsOps: Seq[String] = vsCatalog.map(_._1)

  /** Run a two-corpus operator. Both inputs must be documents-shaped
    * (`doc_id LONG, text STRING`); `left` is the corpus being scored /
    * deduped, `right` the reference / benchmark / snapshot. */
  def runVs(op: String, left: DataFrame, right: DataFrame): DataFrame =
    vsCatalog.collectFirst { case (`op`, f) => f(left, right) }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown two-corpus operator '$op' (have: ${vsOps.mkString(", ")})"))
}

object Graft {

  /** Release ALL engine-held block storage: cached Datasets
    * (CacheManager) PLUS raw persisted/localCheckpointed RDDs — which
    * `spark.catalog.clearCache` does NOT touch. SparkContext's
    * persistentRdds registry holds STRONG references (Spark 4:
    * `concurrent.Map[Int, RDD]`), so a localCheckpointed round table
    * (the Pregel/CC/BPE loop state) stays pinned until explicitly
    * unpersisted — GC and ContextCleaner can never reclaim it, and a
    * long-lived session accumulates block storage per call (the r12
    * leak-sweep discovery: stream_pack_bpe left the BPE trainer's 7
    * per-round checkpoints live after clearCache).
    *
    * THE HARNESS CONTRACT: Bench, Verify and ScaleRehearsal call this
    * between queries; a library caller embedding operators in a
    * long-lived session owns the same one-line sweep. Safe at any
    * query boundary by construction — no operator carries cross-query
    * RDD state (durable state lives in parquet tables), which the
    * DedupSpec leak sweep pins. */
  def releaseState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Size-compacted localCheckpoint for ITERATIVE LOOP STATE (r16,
    * guide §2: derive partitioning from data size, never a constant).
    * A checkpointed round table pins whatever partition count its plan
    * happened to execute with (32 from the session default, 64+ after
    * unions) — AQE cannot coalesce through a LogicalRDD — so every
    * subsequent round launches that many tasks even when the whole
    * state is a few hundred KB (JobProbe r16: stream_cc's checkpoint
    * map stages ran 128 tasks × ~0.2 s runtime for ~1 MB of labels,
    * almost all of it task-launch contention). After the eager
    * checkpoint materializes, the state's TRUE size is known from the
    * block manager; tiny states coalesce (narrow, no shuffle) to
    * ceil(bytes / targetBytes) partitions. At production scale the
    * state is GBs and the coalesce is a no-op — this is a small-input
    * floor, the same shape as Tables.fanOutSmall's small-input
    * fan-out. Hash partitioning is NOT preserved through coalesce, but
    * loop states are re-shuffled by their round joins anyway (the
    * mapPartitions-era kernels never preserved it either). */
  private[graft] def compactCheckpoint(df: DataFrame,
      targetBytes: Long = 8L << 20): DataFrame = {
    val ck = df.localCheckpoint()
    val rdd = ck.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.headOption
    val parts = rdd.map(_.getNumPartitions).getOrElse(1)
    // AppStatusStore is fed by the async listener bus, so the block info
    // can lag the eager checkpoint job by a beat. UNKNOWN SIZE MUST MEAN
    // UNTOUCHED (r17, ADVICE): the r16 code fell back to Long.MaxValue,
    // whose ceil-division OVERFLOWED to a negative want clamped to 1 —
    // silently collapsing a possibly-GB production state to ONE
    // partition, the opposite of the documented no-op. A short bounded
    // poll (≤5×4 ms, only while the info is absent) keeps the fixture
    // behavior deterministic; past it the state stays as checkpointed.
    def lookup(id: Int): Option[Long] =
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id)
        .map(i => i.memSize + i.diskSize)
    val bytesOpt: Option[Long] = rdd.flatMap { r =>
      var info = lookup(r.id)
      var tries = 0
      while (info.isEmpty && tries < 5) {
        Thread.sleep(4); info = lookup(r.id); tries += 1
      }
      info
    }
    bytesOpt match {
      case None => ck // size unknown — leave the state untouched
      case Some(bytes) =>
        val want = math.max(1L, math.min(parts.toLong,
          (bytes + targetBytes - 1) / targetBytes)).toInt
        if (want < parts) ck.coalesce(want) else ck
    }
  }

  /** Release the block storage behind a localCheckpointed frame —
    * the in-operator half of the leak discipline: iterative loops
    * call this on each SUPERSEDED round's checkpoint so live storage
    * during a query stays O(current round), not O(all rounds); the
    * FINAL round's blocks are [[releaseState]]'s job at the query
    * boundary. A no-op on frames that are not localCheckpoints. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Wrap an existing session. Registers the fixture tables as temp
    * views and the engine's native functions (dot_i64). */
  def apply(spark: SparkSession, dataDir: String): Graft = {
    val g = new Graft(spark, dataDir)
    graft.functions.DotProductI64.register(spark)
    g.tableNames.foreach(n => g.table(n).createOrReplaceTempView(n))
    g
  }

  /** The engine's one session factory: a local session at the standard
    * operating point (AQE on, 32 shuffle partitions, UTC, ns-parquet
    * handling, warehouse under the JVM tmpdir). Bench, Verify,
    * ScaleRehearsal, Probe and [[local]] all take their session from
    * here, so the configuration the oracle verifies is the one the
    * benchmarks time.
    *
    * If a SparkSession already exists in this JVM, getOrCreate returns
    * IT and the builder configs (master/cpus and the static warehouse
    * dir included) are ignored — so the session-level settings the
    * engine depends on are re-applied explicitly below, and they take
    * effect either way; only the builder settings are best-effort on a
    * pre-existing session. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.ui.enabled", "false")
      // bucketed-table queries (q38) saveAsTable into the warehouse;
      // pin it to tmp so a run never depends on CWD writability
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    // runtime-settable session confs: applied even when getOrCreate
    // returned someone else's session
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[session]] with the fixture tables under `dataDir` registered —
    * the self-contained entry for a user or a benchmark. */
  def local(dataDir: String = "/root/testdata/sf0.001",
      cpus: Int = Runtime.getRuntime.availableProcessors()): Graft =
    apply(session(cpus), dataDir)

  /** Cores for the harness mains: `SPARK_GRAFT_CPUS`, default every
    * core of this machine (the [[local]] default). Read on each call so
    * a bad value fails the caller with a named cause. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(raw: Option[String]): Int =
    positiveSetting("SPARK_GRAFT_CPUS", raw,
      Runtime.getRuntime.availableProcessors())

  /** An optional positive-integer setting: `default` when absent, else
    * the value — or an IllegalArgumentException naming `name` when it is
    * malformed or not positive. */
  private[graft] def positiveSetting(name: String, raw: Option[String],
      default: => Int): Int =
    raw.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }
}

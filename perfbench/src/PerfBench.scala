package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Graft, SessionTuning, SparkEntry, Tpch}
import graft.dsl.{OutputColumn, TableSpec}
import graft.functions.Anonymizer
import graft.operators.{CorpusPipeline, Dedup, IndexStore, TextAnalysis}
import graft.plans.{FilterPropagation, Lineage}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The engine side of the repo benchmark: one workload, one closed loop
  * with a single caller, timed around calls into the program's public
  * functions. It lives under `graft` because `IndexStore` is package-private
  * there. It writes one raw JSON record, which `perfbench/run.py` turns
  * into metrics and checks against the oracles.
  *
  * Usage: PerfBench <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> <out.json>
  */
object PerfBench {

  final case class Args(workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, cores: Int, out: String)

  /** One timed operation. `core` is the program call alone — in a traced
    * run the op also carries the layer-breakdown passes around it. */
  final case class Op(ms: Double, coreMs: Double, rows: Long, traced: Boolean, ok: Boolean,
      error: String, check: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toInt, argv(6))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SessionTuning.tune(spark)
    val trace = new Trace(s"${a.workload}-${ProcessHandle.current().pid()}")
    spark.sparkContext.addSparkListener(trace.sparkListener)
    spark.streams.addListener(trace.streamListener)
    // From JVM start: process launch and class loading are set-up too.
    val sessionS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = a.workload match {
      case "anon_copy"    => new AnonCopy(spark, a, trace)
      case "index_ingest" => new IndexIngest(spark, a, trace)
      case "corpus_dedup" => new CorpusDedup(spark, a, trace)
    }
    val s = System.nanoTime()
    w.setUp()
    val setupS = (System.nanoTime() - s) / 1e9
    val ops = w.measure()
    val extra = try w.finish() catch { case NonFatal(e) => Map("finish_error" -> e.toString) }
    val record = Map(
      "workload" -> a.workload, "cores" -> a.cores, "seconds" -> a.seconds, "trace" -> a.trace,
      "setup" -> Map("session_s" -> sessionS, "setup_s" -> setupS),
      "ops" -> ops.map(o => Map("ms" -> o.ms, "core_ms" -> o.coreMs, "rows" -> o.rows,
        "traced" -> o.traced, "ok" -> o.ok, "error" -> o.error, "check" -> o.check)),
      "progress" -> trace.progress.map(p => Map("batch_id" -> p.batchId, "start" -> p.start,
        "rows" -> p.rows, "durations" -> p.durations)),
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => w.oracles.contains(k) },
      "extra" -> extra,
      "trace_record" -> (if (a.trace) trace.toJson else Map.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(record))
    spark.stop()
  }

  def walkFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** (data files, bytes) under `dir`, skipping checksum and marker files. */
  def dataFiles(dir: String): (Int, Long) = {
    val fs = walkFiles(dir).filter(f => f.getFileName.toString.endsWith(".parquet"))
    (fs.size, fs.map(Files.size).sum)
  }
}

import PerfBench._

/** A workload: set up (load, warm up), then a closed loop of operations for
  * `seconds` of operation time (at least two, so a run has a median), then
  * a final check. */
trait Workload {
  /** The repository oracles (`SparkEntry.oracleSql` keys) its check uses. */
  def oracles: Set[String] = Set.empty
  def setUp(): Unit
  def measure(): Seq[Op]
  def finish(): Map[String, Any] = Map.empty

  protected def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime(); val r = body; (r, (System.nanoTime() - s) / 1e6)
  }
}

/** A loop that calls `op` directly. A traced run traces every other
  * operation, so it reports its own tracing overhead without confusing it
  * with warm-up drift. */
abstract class ClosedLoop(spark: SparkSession, a: Args, trace: Trace) extends Workload {
  /** One operation; returns the program call's ms, the rows it consumed,
    * and the check to run on its output once the clock has stopped. */
  def op(i: Int): (Double, Long, () => Map[String, Any])

  /** Operations run in set-up before the clock starts: the driver-side
    * planning code is still being compiled by the JIT for the first few,
    * which run 15-25% slower than the rest. */
  protected def warmUpOps: Int = 4

  def measure(): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    var spent = 0.0
    var failed = false
    while ((spent < a.seconds * 1000 || ops.size < 2) && !failed) {
      trace.on = a.trace && ops.size % 2 == 1
      trace.req = ops.size
      val s = System.nanoTime()
      val o =
        try {
          val (core, rows, check) = trace.span("op")(op(ops.size))
          val ms = (System.nanoTime() - s) / 1e6
          val traced = trace.on
          trace.off(spark.sparkContext)
          Op(ms, core, rows, traced, ok = true, null, check())
        } catch {
          case NonFatal(e) =>
            failed = true
            Op((System.nanoTime() - s) / 1e6, Double.NaN, 0L, trace.on, ok = false, e.toString, Map.empty)
        }
      trace.off(spark.sparkContext)
      spent += o.ms
      ops += o
    }
    ops.toSeq
  }
}

/** The reference's own job: an anonymized, FK-subsetted copy of the whole
  * catalog to parquet with `q_graft_e2e`'s specs. */
final class AnonCopy(spark: SparkSession, a: Args, trace: Trace) extends ClosedLoop(spark, a, trace) {
  override def oracles = Set("q_graft_e2e")
  private val out = s"${a.work}/copy"
  private var catalog: Map[String, DataFrame] = _
  private var sourceRows, sourceBytes = 0L
  /** After four copies a copy still runs 5-10% slower than after eight, so
    * a shorter warm-up leaves the timed loop on that slope and its median
    * depends on how fast the JIT caught up in that run. */
  override protected def warmUpOps = 8

  /** The anonymized column of each table and its anonymizer. */
  private val anonymizers = Map[String, Anonymizer](
    "c_name" -> Anonymizer.FullName, "s_name" -> Anonymizer.Redact,
    "p_brand" -> Anonymizer.PartialRedact(2, 2), "o_orderpriority" -> Anonymizer.LoremText)

  private def specs(anon: Boolean): Seq[(String, TableSpec)] = {
    def m(c: OutputColumn.SourceColumn): OutputColumn = if (anon) c.mapString(anonymizers(c.name)) else c
    Seq(
      "region"   -> TableSpec.select(row => Seq(row.r_name)),
      "nation"   -> TableSpec.select(row => Seq(row.n_name)),
      "customer" -> TableSpec.select(row => Seq(m(row.c_name), row.c_acctbal, row.c_mktsegment))
        .where("c_mktsegment = 'BUILDING'"),
      "supplier" -> TableSpec.select(row => Seq(m(row.s_name), row.s_acctbal)),
      "part"     -> TableSpec.select(row => Seq(
          m(row.p_brand), row.p_name, row.p_type, row.p_size, row.p_retailprice)),
      "orders"   -> TableSpec.select(row => Seq(
          row.o_orderstatus, row.o_totalprice, row.o_orderdate, m(row.o_orderpriority))),
      "lineitem" -> TableSpec.select(row => Seq(
          row.l_quantity, row.l_extendedprice, row.l_discount, row.l_tax,
          row.l_returnflag, row.l_linestatus, row.l_shipdate)))
  }

  /** Input of the functions measurement: each anonymized column of one
    * copy's subset, repeated to about `FuncRows` rows in all and cached, so
    * the anonymizers' cost stands well above the noise of a pass. */
  private val FuncRows  = 2000000L
  private val FuncPairs = 5
  private var funcInput: Seq[(String, DataFrame)] = Nil
  private var funcRows = 0L

  def setUp(): Unit = {
    catalog = Tpch.catalog(spark, a.data)
    sourceRows = catalog.values.map(_.count()).sum
    sourceBytes = Tpch.tables.map(t => Files.size(Paths.get(s"${a.data}/$t.parquet"))).sum
    for (_ <- 1 to warmUpOps) new Graft(catalog, Tpch.manifest).run(out, spark)(specs(anon = true): _*)
    if (a.trace) {
      val plain = new Graft(catalog, Tpch.manifest).plan(specs(anon = false): _*)
      val cols = Seq("customer" -> "c_name", "supplier" -> "s_name", "part" -> "p_brand", "orders" -> "o_orderpriority")
        .map { case (t, c) => c -> plain(t).select(c).persist() }
      val copyRows = cols.map(_._2.count()).sum
      val k = math.max(1L, FuncRows / copyRows)
      funcInput = cols.map { case (c, df) =>
        val rep = df.crossJoin(spark.range(k)).select(c).repartition(a.cores).persist()
        funcRows += rep.count()
        df.unpersist()
        c -> rep
      }
      for (_ <- 1 to 2) { anonPass(plain = true); anonPass(plain = false) }
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over the functions input: the bare columns, or the same
    * columns through their anonymizers. */
  private def anonPass(plain: Boolean): Unit = funcInput.foreach { case (c, df) =>
    noop(df.select(if (plain) col(c) else OutputColumn.SourceColumn(c).mapString(anonymizers(c)).toColumn(df)))
  }

  def op(i: Int): (Double, Long, () => Map[String, Any]) = {
    val g = new Graft(catalog, Tpch.manifest)
    if (trace.on) {
      val plans = trace.span("plans.plan")(g.plan(specs(anon = true): _*))
      val where = specs(anon = true).toMap.view.mapValues(_.whereClause).toMap
      trace.span("plans.propagate")(
        FilterPropagation.computeFilteredTables(catalog, Tpch.manifest, t => where.get(t).flatten))
      // Bare and anonymizing passes in pairs, alternating which runs first.
      for (p <- 0 until FuncPairs; plain <- if (p % 2 == 0) Seq(true, false) else Seq(false, true))
        trace.span(if (plain) "functions.scan_noop" else "functions.anon_noop")(anonPass(plain))
      // The copy's frames computed without being written: the base of the
      // sink's share of Graft.run.
      trace.span("sinks.frames_noop")(plans.values.foreach(noop))
    }
    val (counts, ms) = timed(trace.span("graft.run")(g.run(out, spark)(specs(anon = true): _*)))
    (ms, sourceRows, () => {
      val (files, bytes) = dataFiles(out)
      Map("counts" -> counts, "files_out" -> files, "bytes_out" -> bytes,
        "source_rows" -> sourceRows, "source_bytes" -> sourceBytes, "func_rows" -> funcRows)
    })
  }

  /** Every copy's row counts are checked; the full summary of the last
    * copy (still on disk when the loop ends). */
  override def finish(): Map[String, Any] = Map("last_summary" -> summary())

  /** `q_graft_e2e`'s per-table summary of the written copy: rows, a
    * stableHash checksum over key + anonymized string columns, and an exact
    * decimal sum — compared with the DuckDB oracle outside the timed loop. */
  private def summary(): Seq[Seq[Any]] = {
    val hashU = udf((x: String) => Anonymizer.stableHash(x))
    def one(tbl: String, strCols: Seq[String], numCol: Option[String]): DataFrame =
      spark.read.parquet(s"$out/$tbl").agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(hashU(concat_ws("|", strCols.map(col): _*))), lit(0L)).as("str_checksum"),
        numCol.map(c => sum(col(c).cast(DecimalType(18, 2))).cast("double")).getOrElse(lit(0.0)).as("num_sum"))
        .select(lit(tbl).as("table_name"), col("n_rows"), col("str_checksum"), col("num_sum"))
    Seq(
      one("region", Seq("r_regionkey", "r_name"), None),
      one("nation", Seq("n_nationkey", "n_name"), None),
      one("customer", Seq("c_custkey", "c_name", "c_mktsegment"), Some("c_acctbal")),
      one("supplier", Seq("s_suppkey", "s_name"), Some("s_acctbal")),
      one("part", Seq("p_partkey", "p_brand"), Some("p_retailprice")),
      one("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"), Some("o_totalprice")),
      one("lineitem", Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"), Some("l_extendedprice"))
    ).reduce(_ unionByName _).collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
  }
}

/** One bulk batch over a seeded corpus: quality filter, then exact +
  * near-duplicate removal. */
final class CorpusDedup(spark: SparkSession, a: Args, trace: Trace) extends ClosedLoop(spark, a, trace) {
  import spark.implicits._
  override def oracles = Set("q_quality_filter", "q_dedup_corpus")
  private var docs: DataFrame = _
  private var rows = 0L
  // q_quality_filter's thresholds.
  private val thr = TextAnalysis.QualityThresholds(
    minTokens = 20, maxTokens = 1000, maxDupTokenFrac = 0.6, maxTopBigramFrac = 0.5, minAlphaRatio = 0.5)

  private def run(): Array[Long] =
    Dedup.deduplicateCorpus(TextAnalysis.filterByQuality(docs, "text", "doc_id", thr), "text", "doc_id",
      n = 3, threshold = 0.8).select(col("doc_id").cast("long")).as[Long].collect()

  def setUp(): Unit = {
    docs = spark.read.parquet(s"${a.data}/documents.parquet")
    rows = docs.count()
    for (_ <- 1 to warmUpOps) run()
  }

  def op(i: Int): (Double, Long, () => Map[String, Any]) = {
    val (kept, ms) = timed(trace.span("dedup.corpus")(run()))
    val stages = if (trace.on) staged() else Map.empty[String, Any]
    (ms, rows, () => Map("kept" -> idDigest(kept)) ++ stages)
  }

  /** (count, Σ id, Σ id²) — order-free digest of a kept-id set. */
  private def idDigest(ids: Array[Long]): Seq[Long] = Seq(ids.length.toLong, ids.sum, ids.map(x => x * x).sum)

  /** The same pipeline with each stage materialized on its own, for the
    * per-stage layer times (the composition `deduplicateCorpus` runs). */
  private def staged(): Map[String, Any] = {
    val q = trace.span("text.quality") {
      val q = TextAnalysis.filterByQuality(docs, "text", "doc_id", thr).persist(); q.count(); q
    }
    val canon = trace.span("dedup.exact") {
      val id = col("doc_id").cast("long")
      val ids = q.groupBy(md5(col("text").cast("binary"))).agg(min(id).as("_cid")).select("_cid")
      val c = q.join(ids, id === col("_cid"), "left_semi").persist(); c.count(); c
    }
    val pairs = trace.span("dedup.pairs")(Lineage.truncate(Dedup.ngramJaccardPairs(canon, "text", "doc_id", 3, 0.8)))
    val nPairs = pairs.count()
    val clusters = trace.span("dedup.cluster")(Dedup.duplicateClusters(pairs))
    val nClusters = clusters.select("cluster_rep").distinct().count()
    val kept = trace.span("dedup.keep")(
      Dedup.dedupByClusters(canon, "doc_id", clusters).select(col("doc_id").cast("long")).as[Long].collect())
    q.unpersist(); canon.unpersist()
    Map("pairs_out" -> nPairs, "clusters_out" -> nClusters, "staged_kept" -> idDigest(kept))
  }
}

/** Continuous ingest: one Structured Streaming foreachBatch query feeding
  * a persisted MinHash signature index (generation-overwrite layout) and a
  * term-bucketed BM25 index (relation-subdirectory layout), with forgets, a
  * default-policy maintenance sweep and a fixed probe set per batch. The
  * loop is closed: the next batch file is released into the watched
  * directory only when the previous batch's body has finished. */
final class IndexIngest(spark: SparkSession, a: Args, trace: Trace) extends Workload {
  private val staged  = s"${a.data}/stream"
  private val watch   = s"${a.work}/watch"
  private val sigDir  = s"${a.work}/idx/sig"
  private val bm25Dir = s"${a.work}/idx/bm25"
  private lazy val probeDocs = spark.read.parquet(s"${a.data}/probe_docs.parquet").persist()
  private lazy val queries   = spark.read.parquet(s"${a.data}/queries.parquet").persist()
  private val batchFiles = Files.list(Paths.get(staged)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
  private val released   = ArrayBuffer.empty[Path]
  private val perBatch   = ArrayBuffer.empty[Map[String, Any]]
  @volatile private var stopFeeding = false

  /** Both indexes at once, as maintainIndexes treats them: each step of a
    * batch runs the two families concurrently. */
  private def both[A, B](sig: => A, bm25: => B): (A, B) = {
    val r = IndexStore.inParallel(() => sig, () => bm25)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  private def probe(sig: String, bm25: String): (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) =
    both(Dedup.matchVsPersistedIndex(probeDocs, "text", "doc_id", sig).collect(),
      TextAnalysis.bm25TopKFromPersisted(spark, bm25, queries, "query_id", "q_text", k = 10).collect())

  /** The initial build: both indexes over the starting corpus, then one
    * probe to warm the read path. */
  def setUp(): Unit = {
    val docs = spark.read.parquet(s"${a.data}/documents.parquet").select("doc_id", "text")
    both(Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(docs, "text", "doc_id"), sigDir),
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(docs, "text", "doc_id"), bm25Dir))
    probe(sigDir, bm25Dir)
  }

  /** (data files, bytes) of both indexes' current generations. */
  private def liveFiles(): (Int, Long) =
    Seq(sigDir, bm25Dir).map(d => dataFiles(IndexStore.dataDir(spark, d))).reduce((x, y) => (x._1 + y._1, x._2 + y._2))

  private def spentMs: Long = trace.synchronized(trace.progress.map(_.durations.getOrElse("triggerExecution", 0L)).sum)

  /** One micro-batch. A traced run traces every batch (batches alternate
    * between compacting and not, so an alternate-batch A/B would compare
    * unlike batches); its overhead is the tracing work done inside the
    * batch, timed directly: the index FS walk and the listener drain. */
  private def body(b: DataFrame, batchId: Long): Unit = {
    trace.on = a.trace
    trace.req = batchId.toInt
    val t0 = System.nanoTime()
    val (actions, probeMs) = trace.span("op") {
      val docs = b.persist()
      trace.span("index.append")(both(
        IndexStore.withBatchToken(spark, sigDir, "ingest_sig", batchId) {
          Dedup.appendToSignatureIndexExactlyOnce(
            Dedup.buildSignatureIndex(docs, "text", "doc_id"), sigDir, "ingest_sig", batchId)
        },
        IndexStore.withBatchToken(spark, bm25Dir, "ingest_bm25", batchId) {
          TextAnalysis.appendToBm25IndexExactlyOnce(docs, "text", "doc_id", bm25Dir, "ingest_bm25", batchId)
        }))
      val forget = docs.where(col("doc_id") % 3 === 0).select("doc_id")
      trace.span("index.delete")(both(
        Dedup.deleteFromPersistedIndex(forget, "doc_id", sigDir),
        TextAnalysis.deleteFromBm25Index(forget, "doc_id", bm25Dir)))
      val actions = trace.span("index.maintain")(
        CorpusPipeline.maintainIndexes(spark, Seq(sigDir, bm25Dir)).select("action").collect().map(_.getString(0)))
      val (_, probeMs) = timed(trace.span("index.probe")(probe(sigDir, bm25Dir)))
      docs.unpersist()
      (actions, probeMs)
    }
    val traced = trace.on
    val tw = System.nanoTime()
    val segs = if (traced) liveFiles()._1 else -1
    trace.off(spark.sparkContext)
    perBatch.synchronized {
      perBatch += Map("batch_id" -> batchId, "probe_ms" -> probeMs, "traced" -> traced,
        "compactions" -> actions.count(_ != "none"), "segments" -> segs,
        "trace_ms" -> (System.nanoTime() - tw) / 1e6)
    }
    // The finishing batch's own time counts toward the budget, so the
    // loop does not overrun by one batch.
    release((System.nanoTime() - t0) / 1e6)
  }

  /** Move the next generated batch file into the watched directory, unless
    * the measured time is used up. */
  private def release(running: Double = 0.0): Unit = perBatch.synchronized {
    if (!stopFeeding && released.size < batchFiles.size && (released.size < 2 || spentMs + running < a.seconds * 1000)) {
      val f = batchFiles(released.size)
      Files.copy(f, Paths.get(watch).resolve(f.getFileName))
      released += f
    } else stopFeeding = true
  }

  def measure(): Seq[Op] = {
    Files.createDirectories(Paths.get(watch))
    val schema = spark.read.parquet(batchFiles.head.toString).schema
    release()
    val query = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(watch)
      .writeStream
      .option("checkpointLocation", s"${a.work}/checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => body(b, id))
      .start()
    var error: String = null
    try {
      // Wait until every released file has been committed and no more
      // will be released; then the query is idle and stops cleanly.
      trace.synchronized {
        while (!(stopFeeding && trace.progress.size >= released.size) && query.exception.isEmpty && query.isActive)
          trace.wait(200)
      }
    } finally {
      query.stop()
      error = query.exception.map(_.toString).orNull
    }
    val byBatch = perBatch.map(m => m("batch_id").asInstanceOf[Long] -> m).toMap
    val ops = trace.progress.toSeq.sortBy(_.batchId).map { p =>
      val ms = p.durations.getOrElse("triggerExecution", 0L).toDouble
      val info = byBatch.getOrElse(p.batchId, Map.empty[String, Any])
      Op(ms, ms, p.rows, info.getOrElse("traced", false).asInstanceOf[Boolean], ok = info.nonEmpty,
        null, info + ("durations" -> p.durations))
    }
    if (error != null) ops :+ Op(0.0, Double.NaN, 0L, traced = false, ok = false, error, Map.empty)
    else ops
  }

  /** The final probe against the maintained indexes must equal the same
    * probe against a fresh build on the surviving documents. */
  override def finish(): Map[String, Any] = {
    val survivors = spark.read.parquet(s"${a.data}/documents.parquet").select("doc_id", "text")
      .unionByName(spark.read.parquet(released.map(_.toString).toSeq: _*).where(col("doc_id") % 3 =!= 0))
    val freshSig = s"${a.work}/fresh/sig"
    val freshBm25 = s"${a.work}/fresh/bm25"
    both(Dedup.persistSignatureIndex(Dedup.buildSignatureIndex(survivors, "text", "doc_id"), freshSig),
      TextAnalysis.persistBm25Index(TextAnalysis.buildBm25Index(survivors, "text", "doc_id"), freshBm25))
    def norm(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.toSeq.mkString("|")).sorted.toSeq
    val (ms, mb) = probe(sigDir, bm25Dir)
    val (fs, fb) = probe(freshSig, freshBm25)
    Map(
      "final_probe_ok" -> (norm(ms) == norm(fs) && norm(mb) == norm(fb)),
      "survivors" -> survivors.count(),
      "live_bytes" -> liveFiles()._2)
  }
}

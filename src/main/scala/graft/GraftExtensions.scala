package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SQL surface for the engine's native expressions: register with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and every kernel is callable
  * from plain SQL — `SELECT cosine_sim(a, b)`, `word_shingles(text, 3)` —
  * not just the Scala DSL. Registration is Catalyst-level
  * (`injectFunction`), so the functions participate in codegen exactly
  * like the DSL forms; nothing here is a UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // OPTIMIZE / VACUUM maintenance verbs (delegating parser — every
    // stock statement passes through untouched)
    ext.injectParser((_, delegate) => new graft.sources.BtrSparkSqlParser(delegate))
    // day-level predicates (to_date(ts) = D, year(d) = Y) become source
    // timestamp/date ranges, so they push down, chunk-skip and prune
    // days(ts) directories (see DateRangeRewrite)
    ext.injectOptimizerRule(_ => graft.plans.DateRangeRewrite)
  }
}

object GraftExtensions {

  private def arity(args: Seq[Expression], n: Int, fn: String, usage: String): Seq[Expression] = {
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s) — $usage — got ${args.length}")
    args
  }

  // any foldable integral expression works: `word_shingles(text, 2+1)`
  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case f if f.foldable => f.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer constant, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a constant integer expression, got $other")
  }

  private def boolLit(e: Expression, fn: String, arg: String): Boolean = e match {
    case f if f.foldable => f.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a boolean constant, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a constant boolean expression, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "",
      "", "4.0.0", "", "internal")

  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double vectors"),
      (args: Seq[Expression]) => {
        val a = arity(args, 2, "cosine_sim", "cosine_sim(a, b)"); CosineExpr(a(0), a(1))
      }),
    (FunctionIdentifier("md5hash60"),
      info("md5hash60", "md5hash60(s) - engine-portable 60-bit md5 hash"),
      (args: Seq[Expression]) =>
        Md5Hash60Expr(arity(args, 1, "md5hash60", "md5hash60(s)").head)),
    (FunctionIdentifier("quantize_vec"),
      info("quantize_vec",
        "quantize_vec(vec) - per-vector int8 scalar quantization of a float/double " +
          "vector: struct<qvec: binary, qs: double, qo: double, qn: double> " +
          "(codes, scale, offset, exact L2 norm) - 1 byte/dim embedding storage"),
      (args: Seq[Expression]) =>
        QuantizeVecExpr(arity(args, 1, "quantize_vec", "quantize_vec(vec)").head)),
    (FunctionIdentifier("quant_cos"),
      info("quant_cos",
        "quant_cos(qvec, qs, qo, qn, query) - approximate cosine of an int8-quantized " +
          "vector (see quantize_vec) against a float/double query vector"),
      (args: Seq[Expression]) => {
        val a = arity(args, 5, "quant_cos", "quant_cos(qvec, qs, qo, qn, query)")
        QuantCosExpr(a(0), a(1), a(2), a(3), a(4))
      }),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(text, n[, distinct]) - word n-gram shingles (distinct by default; " +
          "false keeps every positional window)"),
      (args: Seq[Expression]) => {
        if (args.length != 2 && args.length != 3) throw new IllegalArgumentException(
          s"word_shingles expects 2 or 3 arguments — word_shingles(text, n[, distinct]) — " +
            s"got ${args.length}")
        val dist = if (args.length == 3) boolLit(args(2), "word_shingles", "distinct") else true
        WordShinglesExpr(args(0), intLit(args(1), "word_shingles", "n"), dist)
      }),
    (FunctionIdentifier("repetition_stats"),
      info("repetition_stats",
        "repetition_stats(text) - one-pass token/bigram/trigram totals, distincts and top-1 counts"),
      (args: Seq[Expression]) =>
        RepetitionStatsExpr(arity(args, 1, "repetition_stats", "repetition_stats(text)").head)),
    (FunctionIdentifier("char_shingles"),
      info("char_shingles", "char_shingles(text, n) - distinct character n-gram shingles"),
      (args: Seq[Expression]) => {
        val a = arity(args, 2, "char_shingles", "char_shingles(text, n)")
        CharShinglesExpr(a(0), intLit(a(1), "char_shingles", "n"))
      }),
    (FunctionIdentifier("simhash"),
      info("simhash", "simhash(text, bits) - SimHash signature over whitespace tokens (xxhash64)"),
      (args: Seq[Expression]) => {
        val a = arity(args, 2, "simhash", "simhash(text, bits)")
        SimHashExpr(a(0), intLit(a(1), "simhash", "bits"), useMd5 = false)
      }),
    (FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(text) - engine-portable 60-bit md5-hashed SimHash"),
      (args: Seq[Expression]) =>
        SimHashExpr(arity(args, 1, "simhash60", "simhash60(text)").head, 60, useMd5 = true)),
    (FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(shingles, k) - MinHash signature (k seeded permutation minima) " +
          "over a string-array shingle column; identical to the Scala DSL's minhash"),
      (args: Seq[Expression]) => {
        val a = arity(args, 2, "minhash_sig", "minhash_sig(shingles, k)")
        val k = intLit(a(1), "minhash_sig", "k")
        if (k < 1 || k > 1024) throw new IllegalArgumentException(
          s"minhash_sig: k must be in 1..1024, got $k")
        val (pa, pb) = TextOps.minhashParams(k)
        MinHashExpr(a(0), pa, pb)
      })
  )

  private def strLit(e: Expression, fn: String): String = e match {
    case f if f.foldable => f.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$fn: path must be a string constant, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: path must be a constant string expression, got $other")
  }

  /** Table-valued inspection functions — `SELECT * FROM btr_describe('/p')`.
    * Each builder resolves the path literal at analysis time and returns
    * the inspection DataFrame's logical plan (execution stays lazy; the
    * metadata reads run when the query does).
    */
  private def tvf(name: String, usage: String)(
      f: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
  ): (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier(name), info(name, usage),
      (args: Seq[Expression]) => {
        val a = arity(args, 1, name, s"$name(path)")
        f(org.apache.spark.sql.SparkSession.active, strLit(a.head, name))
          .queryExecution.logical
      })

  /** Read-only IVF index inspection: all arguments are constants and the
    * returned one-row relation is computed when the function resolves.
    * Index maintenance is the `IVF BUILD/REFRESH/REBUILD/VACUUM INDEX`
    * verbs ([[graft.sources.BtrIvfCommands]]), which run at `run()`.
    */
  private def ivfTvf(name: String, usage: String, minArgs: Int, maxArgs: Int)(
      f: (org.apache.spark.sql.SparkSession, Seq[Expression]) => org.apache.spark.sql.DataFrame
  ): (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier(name), info(name, usage),
      (args: Seq[Expression]) => {
        if (args.length < minArgs || args.length > maxArgs)
          throw new IllegalArgumentException(
            s"$name expects $minArgs..$maxArgs arguments — $usage — got ${args.length}")
        f(org.apache.spark.sql.SparkSession.active, args).queryExecution.logical
      })

  private[graft] val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    tvf("btr_describe",
      "btr_describe(path) - per-column scheme/chunk/byte breakdown of a btr table")(
      graft.functions.BtrInspect.describe),
    tvf("btr_table_stats",
      "btr_table_stats(path) - commit-time ingest statistics (advisory sidecar)")(
      graft.functions.BtrInspect.tableStats),
    tvf("btr_clustering",
      "btr_clustering(path) - per-column row-group min/max overlap depth (OPTIMIZE decision metric)")(
      graft.functions.BtrInspect.clusteringQuality),
    tvf("btr_file_consistency",
      "btr_file_consistency(path) - chunk blobs must tile each data file exactly")(
      graft.functions.BtrInspect.fileConsistency),
    tvf("btr_ndv",
      "btr_ndv(path) - per-column distinct-count estimates from the footer HLL sketches")(
      graft.functions.BtrInspect.ndvEstimates),
    tvf("btr_history",
      "btr_history(path) - snapshot versions readable via VERSION/TIMESTAMP AS OF")(
      graft.functions.BtrInspect.history),
    tvf("btr_dv",
      "btr_dv(path) - committed deletion-vector blobs: target, masked rows, bytes")(
      graft.functions.BtrInspect.deletionVectors),
    tvf("btr_partitions",
      "btr_partitions(path) - per-partition-dir files/rows/bytes/mask debt (metadata only)")(
      graft.functions.BtrInspect.partitions),
    // ---- IVF index inspection (read-only) ----------------------------
    ivfTvf("ivf_index_staleness",
      "ivf_index_staleness(tableDir, idCol, vecCol, indexDir) - corpus rows the " +
        "index has not assigned yet (monitoring; the query path falls back on them)",
      4, 4) { (spark, args) =>
      import spark.implicits._
      val Seq(table, idCol, vecCol, idxDir) = args.map(strLit(_, "ivf_index_staleness"))
      val n = graft.functions.SimilarityOps.ivfIndexStaleness(
        graft.sources.BtrIvfCommands.corpusDf(spark, table, idCol, vecCol, None), idxDir)
      Seq(Tuple1(n)).toDF("stale_rows")
    }
    ,
    ivfTvf("ivf_index_fresh",
      "ivf_index_fresh(indexDir, tableDir) - true when the index's recorded corpus " +
        "high-water (build snapshot or refresh) covers the corpus table's latest " +
        "commit, i.e. ivfTopKIndexed(trustIndex=true) may serve with zero corpus I/O",
      2, 2) { (spark, args) =>
      import spark.implicits._
      val Seq(idxDir, table) = args.map(strLit(_, "ivf_index_fresh"))
      val f = graft.functions.SimilarityOps.ivfIndexFresh(idxDir, table)
      Seq(Tuple1(f)).toDF("fresh")
    }
    ,
    ivfTvf("ivf_index_drift",
      "ivf_index_drift(tableDir, idCol, vecCol, indexDir[, sampleRows]) - corpus " +
        "drift ratio vs the build-time mean centroid cosine (~1 healthy, <0.8 re-fit)",
      4, 5) { (spark, args) =>
      import spark.implicits._
      val Seq(table, idCol, vecCol, idxDir) = args.take(4).map(strLit(_, "ivf_index_drift"))
      val rows = if (args.length == 5) intLit(args(4), "ivf_index_drift", "sampleRows") else 10000
      val d = graft.functions.SimilarityOps.ivfIndexDriftProbe(
        graft.sources.BtrIvfCommands.corpusDf(spark, table, idCol, vecCol, None), idxDir,
        sampleRows = rows)
      Seq(Tuple1(d)).toDF("drift")
    }
    ,
    ivfTvf("ivf_index_state",
      "ivf_index_state(indexDir) - current build: tables root, build version, " +
        "recorded corpus version, stored-vector storage (f64/f32/i8) and base cell " +
        "count (pure inspection, no action)",
      1, 1) { (spark, args) =>
      import spark.implicits._
      val idx = strLit(args.head, "ivf_index_state")
      val st = graft.functions.SimilarityOps.ivfIndexState(idx)
      val (storage, nlist) = graft.functions.SimilarityOps.ivfIndexLayoutOf(spark, idx)
      Seq((st.root, st.buildVersion, st.corpusVersion.getOrElse(-1L), storage, nlist))
        .toDF("root", "build_version", "corpus_version", "storage", "nlist")
    }
    ,
    // change feed: file-level incremental reads (see BtrChanges) — the
    // 2-arg form reads up to the latest version
    (FunctionIdentifier("btr_changes"),
      info("btr_changes",
        "btr_changes(path, from[, to]) - rows added in snapshot range (from, to] " +
          "with _change_type/_commit_version (file-level fast path; refuses " +
          "removed history loudly)"),
      (args: Seq[Expression]) => {
        if (args.length != 2 && args.length != 3) throw new IllegalArgumentException(
          s"btr_changes expects 2 or 3 arguments — btr_changes(path, from[, to]) — " +
            s"got ${args.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        val dir = strLit(args.head, "btr_changes")
        val from = intLit(args(1), "btr_changes", "from").toLong
        val to: Long =
          if (args.length == 3) intLit(args(2), "btr_changes", "to").toLong
          else graft.sources.BtrLog.latestVersionOf(dir).getOrElse(
            throw new IllegalArgumentException(s"btr_changes: no snapshot log at $dir"))
        graft.sources.BtrChanges.between(spark, dir, from, to)
          .queryExecution.logical
      })
  )

  /** Register the SQL functions on an ALREADY-RUNNING session (the
    * config-free path; `spark.sql.extensions` wires them at startup).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, fi, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, fi, builder)
    }
    tableFunctions.foreach { case (id, fi, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, fi, builder)
    }
    // already-built sessions can't take injectOptimizerRule; the
    // experimental hook lands the same rule in the user-provided
    // fixpoint batch
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DateRangeRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DateRangeRewrite
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SimilarityOps

/** IVF index measurement probes, one mode per question. Every mode prints
  * one JSON line per measured point (and writes them to `out.json` when
  * given); serve and brute-force times are the minimum of 3 runs into a
  * noop sink after one warm-up run.
  *
  *   runMain graft.tools.IvfProbe <mode> <sfDir> [copies] [out.json] [storage=f64]
  *
  * Corpora are grown from `<sfDir>/embeddings.parquet`'s row count n:
  *   - PLANTED (skew, sweep, recall): n × copies distinct vectors; vector
  *     `cid` sits in cluster `cid / clusterSize` at radius
  *     `sigStep · (cid % clusterSize)` from its center, so each query (the
  *     j=0 member) has clusterSize−1 true neighbours at distinct,
  *     monotonically spaced cosines and recall@k is countable. "sep"
  *     (20, 0.035) keeps rank gaps above the i8 quantization noise;
  *     "graded" (100, 0.006) puts them a tenth below it. Jittered
  *     replicas tie hundreds deep around every query, and uniform-hash
  *     vectors have top-k gaps below the quantization noise, so neither
  *     measures recall.
  *   - REPLICATED (heap, scale): the embeddings `copies` times, replica r
  *     shifting ids by r·10⁹ and jittering every component by ≤ 1e-2.
  *
  * Modes (default copies 500; scale 50):
  *   - skew: f64 build per variant × dim {64, 256} with nlist ∝ corpus;
  *     cell occupancy (max / p99 / mean / top-10 share), the probed-cell
  *     row mass of a 64-query batch at nprobe 4 (the serve cost driver),
  *     build and serve seconds. Indexes stay in /tmp/btr-ann-skew for
  *     `sweep`; SPARK_GRAFT_IVF_NOSPLIT=1 builds the unsplit control.
  *   - sweep: serves the skew indexes (split and, when present, nosplit)
  *     at nprobe {4, 6, 8, 12} on dim 256: recall@10 vs brute force and
  *     serve seconds, so layouts compare at equal recall.
  *   - heap: builds f64, f32 and i8 indexes back to back over the
  *     replicated corpus, sampling heap every 100 ms: per-build peak,
  *     heap retained after GC (a climb is cross-build retention), files
  *     per cell, and one `jcmd GC.class_histogram` at the first crossing
  *     of 70% of max heap.
  *   - scale: replicated corpus at 1×, 4× and 10× copies with nlist ∝
  *     corpus (constant rows per cell); assign bytes, build, serve and
  *     brute-force seconds. Serve should stay flat while brute force
  *     grows with the corpus. `storage` picks f64/f32/i8.
  *   - recall: f64 and i8 builds per variant × dim {64, 256}; the f64
  *     serve's recall vs brute force, and the i8 serve's recall vs the
  *     same-nprobe f64 serve at rerankFactor {1, 2, 4, 8}.
  */
object IvfProbe {
  val Modes: Seq[String] = Seq("skew", "sweep", "heap", "scale", "recall")

  private val K = 10
  private val NQueries = 64
  private val Variants = Seq(("sep", 20, 0.035), ("graded", 100, 0.006))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes.contains(args(0)),
      s"usage: IvfProbe <${Modes.mkString("|")}> <sfDir> [copies] [out.json] [storage]")
    val mode = args(0)
    val copies = if (args.length > 2) args(2).toInt else if (mode == "scale") 50 else 500
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val lines = run(spark, mode, args(1), copies, args.lift(4).getOrElse("f64"))
      args.lift(3).foreach { out =>
        val w = new java.io.PrintWriter(new java.io.File(out))
        try lines.foreach(w.println) finally w.close()
      }
    } finally spark.stop()
  }

  /** Runs one mode and returns its JSON lines (also printed). */
  def run(spark: SparkSession, mode: String, sfDir: String, copies: Int,
      storage: String = "f64"): Seq[String] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(line: String): Unit = { lines += line; println(line) }
    mode match {
      case "skew" => skew(spark, sfDir, copies, emit)
      case "sweep" => sweep(spark, sfDir, copies, emit)
      case "heap" => heap(spark, sfDir, copies, emit)
      case "scale" => scale(spark, sfDir, copies, storage, emit)
      case "recall" => recall(spark, sfDir, copies, emit)
      case other => throw new IllegalArgumentException(
        s"unknown IvfProbe mode '$other' (expected ${Modes.mkString("/")})")
    }
    lines.toSeq
  }

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  private def plantedCorpus(spark: SparkSession, n: Long, dim: Int, clusterSize: Int,
      sigStep: Double): DataFrame = {
    val cl = (col("id") / clusterSize.toLong).cast("long")
    val sigma = pmod(col("id"), lit(clusterSize.toLong)).cast("double") * sigStep
    spark.range(n).select(col("id").as("cid"),
      transform(sequence(lit(1), lit(dim)), i =>
        (((pmod(hash(cl, i), lit(2001)) - lit(1000)).cast("double") / 1000d) +
          sigma * ((pmod(hash(col("id"), i, lit(7)), lit(2001)) - lit(1000))
            .cast("double") / 1000d)).cast("float"))
        .as("cvec"))
  }

  /** The j=0 (near-center) member of the first [[NQueries]] clusters,
    * cached; the rankers exclude qid == cid, leaving the planted
    * neighbours.
    */
  private def plantedQueries(corpus: DataFrame, clusterSize: Int): DataFrame = {
    val q = corpus.where(pmod(col("cid"), lit(clusterSize.toLong)) === 0L)
      .limit(NQueries)
      .select(col("cid").as("qid"), col("cvec").as("qvec"))
      .cache()
    q.count()
    q
  }

  private def replicatedCorpus(base: DataFrame, copies: Int): DataFrame =
    base.crossJoin(base.sparkSession.range(copies).select(col("id").as("r")))
      .select(
        (col("cid") + col("r") * 1000000000L).as("cid"),
        transform(col("cvec"),
          (x, i) => (x + (pmod(hash(col("cid"), col("r"), i), lit(1000)).cast("float")
            - 500f) / 50000f).cast("float")).as("cvec"))

  /** nlist ∝ corpus: 32 cells per 100k rows, at least 32. */
  private def nlistFor(n: Long): Int = (32 * (n / 100000L).max(1L)).toInt

  private def fresh(dir: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** One warm-up run, then the minimum of 3 timed runs into a noop sink. */
  private def minOf3(df: () => DataFrame): Double = {
    def once(): Unit = df().write.mode("overwrite").format("noop").save()
    once()
    (1 to 3).map(_ => secs(once())).min
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Share of the reference (qid, cid) pairs that `got` returns. */
  private def recallOf(got: Set[(Long, Long)], ref: Set[(Long, Long)]): Double =
    (got & ref).size.toDouble / ref.size

  private def skewDir(variant: String, dim: Int, noSplit: Boolean): String =
    s"/tmp/btr-ann-skew/$variant-d$dim" + (if (noSplit) "-nosplit" else "")

  private def skew(spark: SparkSession, sfDir: String, copies: Int,
      emit: String => Unit): Unit = {
    val nprobe = 4
    val n = embeddings(spark, sfDir).count() * copies
    val noSplit = sys.env.getOrElse("SPARK_GRAFT_IVF_NOSPLIT", "0") == "1"
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(64, 256)) {
      val corpus = plantedCorpus(spark, n, dim, clusterSize, sigStep)
      val nlist = nlistFor(n)
      val dir = fresh(skewDir(variant, dim, noSplit))
      val buildSec = secs {
        SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist, fitSampleRows = 10000,
          maxCellOccupancyFactor =
            if (noSplit) Double.MaxValue else SimilarityOps.DefaultCellSplitFactor)
      }
      val occ = spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
        .groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val sizes = occ.values.toSeq.sorted
      val cells = sizes.length
      val total = sizes.sum
      val mean = total.toDouble / cells
      val max = sizes.last
      val p99 = sizes((cells * 99) / 100 min (cells - 1))
      val top10Share = sizes.takeRight(10).sum.toDouble / total
      val queries = plantedQueries(corpus, clusterSize)
      // the rows the serving scan must rank per batch, probed exactly as
      // serving probes (split builds scale nprobe to keep the cell share)
      val (cents, marker) = SimilarityOps.centroidsWithMarkerAt(
        spark, SimilarityOps.ivfIndexState(dir).root)
      val centers = cents.map(_._2)
      val nprobeEff = math.min(centers.length,
        SimilarityOps.effectiveNprobe(nprobe, centers.length, marker, "IvfProbe"))
      val probed = queries.select(explode(graft.functions.NearestCentersExpr.of(
          col("qvec"), centers, nprobeEff)).as("cluster"))
        .distinct().collect().map(_.getInt(0)).toSet
      val probedMass = probed.toSeq.map(c => occ.getOrElse(c, 0L)).sum
      val serveSec = minOf3(() => SimilarityOps.ivfTopKServe(queries, dir, K, nprobe))
      emit(f"""{"variant":"$variant","dim":$dim,"corpus":$total,"nlist":$nlist,"cells":$cells,"occ_max":$max,"occ_p99":$p99,"occ_mean":$mean%.1f,"occ_max_over_mean":${max / mean}%.2f,"top10_share":$top10Share%.4f,"probed_cells":${probed.size},"probed_mass":$probedMass,"probed_share":${probedMass.toDouble / total}%.4f,"build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f}""")
      queries.unpersist()
    }
  }

  private def sweep(spark: SparkSession, sfDir: String, copies: Int,
      emit: String => Unit): Unit = {
    val n = embeddings(spark, sfDir).count() * copies
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(256)) {
      val corpus = plantedCorpus(spark, n, dim, clusterSize, sigStep)
      val queries = plantedQueries(corpus, clusterSize)
      val truth = pairs(SimilarityOps.bruteForceTopK(queries, corpus, K))
      for ((layout, noSplit) <- Seq(("split", false), ("nosplit", true));
           nprobe <- Seq(4, 6, 8, 12)) {
        val dir = skewDir(variant, dim, noSplit)
        if (new java.io.File(dir).isDirectory) {
          def serve() = SimilarityOps.ivfTopKServe(queries, dir, K, nprobe)
          val sec = minOf3(() => serve())
          val recall = recallOf(pairs(serve()), truth)
          emit(f"""{"variant":"$variant","dim":$dim,"layout":"$layout","nprobe":$nprobe,"serve_sec":$sec%.3f,"recall_vs_brute":$recall%.4f}""")
        }
      }
      queries.unpersist()
    }
  }

  private def heap(spark: SparkSession, sfDir: String, copies: Int,
      emit: String => Unit): Unit = {
    val rt = Runtime.getRuntime
    val pid = ProcessHandle.current().pid()
    @volatile var peak = 0L
    @volatile var histo = ""
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val used = rt.totalMemory() - rt.freeMemory()
        if (used > peak) peak = used
        if (histo.isEmpty && used > (rt.maxMemory() * 0.70).toLong) {
          histo = try {
            val p = new ProcessBuilder("jcmd", pid.toString, "GC.class_histogram")
              .redirectErrorStream(true).start()
            val out = new String(p.getInputStream.readAllBytes())
            p.waitFor()
            out.linesIterator.take(34).mkString("\n")
          } catch { case e: Throwable => s"histogram failed: ${e.getMessage}" }
        }
        Thread.sleep(100)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try {
      val base = embeddings(spark, sfDir)
      val corpus = replicatedCorpus(base, copies)
      def gb(x: Long): Double = x / 1e9
      emit(f"""{"max_heap_gb":${gb(rt.maxMemory())}%.2f,"corpus":${base.count() * copies}}""")
      for (st <- SimilarityOps.VectorStorages) {
        val dir = fresh(s"/tmp/btr-ivf-heap-probe/$st")
        peak = 0L
        val sec = secs {
          SimilarityOps.ivfIndexBuild(corpus, dir, nlist = 16, fitSampleRows = 10000,
            vectorStorage = st)
        }
        System.gc(); Thread.sleep(500); System.gc()
        val retained = rt.totalMemory() - rt.freeMemory()
        // one file per cell = the co-located write layout
        val cellDirs = Option(new java.io.File(
          SimilarityOps.ivfIndexAssignPath(dir)).listFiles())
          .getOrElse(Array.empty).filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        val maxFilesPerCell =
          if (cellDirs.isEmpty) 0
          else cellDirs.map(d => Option(d.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".btr"))).max
        emit(f"""{"storage":"$st","build_sec":$sec%.1f,"peak_heap_gb":${gb(peak)}%.2f,"retained_after_gc_gb":${gb(retained)}%.2f,"max_files_per_cell":$maxFilesPerCell}""")
      }
    } finally sampling = false
    if (histo.nonEmpty) { emit("histogram:"); emit(histo) }
  }

  private def scale(spark: SparkSession, sfDir: String, baseCopies: Int, storage: String,
      emit: String => Unit): Unit = {
    val base = embeddings(spark, sfDir)
    val nBase = base.count()
    val queries = base.limit(8).select(col("cid").as("qid"), col("cvec").as("qvec")).cache()
    queries.count()
    val serveSecs = for (m <- Seq(1, 4, 10)) yield {
      val copies = baseCopies * m
      val corpus = replicatedCorpus(base, copies)
      val nlist = 32 * m // constant rows/cell: the production sizing rule
      val dir = fresh(s"/tmp/btr-ann-scale/m$m")
      val buildSec = secs {
        SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist, fitSampleRows = 10000,
          vectorStorage = storage)
      }
      val assignBytes = org.apache.commons.io.FileUtils.sizeOfDirectory(
        new java.io.File(SimilarityOps.ivfIndexAssignPath(dir)))
      val serveSec = minOf3(() => SimilarityOps.ivfTopKServe(queries, dir, k = K, nprobe = 4))
      val bruteSec = minOf3(() => SimilarityOps.bruteForceTopK(queries, corpus, K))
      emit(f"""{"m":$m,"corpus":${nBase * copies},"nlist":$nlist,"storage":"$storage","assign_bytes":$assignBytes,"build_sec":$buildSec%.2f,"serve_sec":$serveSec%.3f,"brute_sec":$bruteSec%.3f}""")
      serveSec
    }
    queries.unpersist()
    emit(f"""{"serve_flatness_10x_over_1x":${serveSecs.last / serveSecs.head}%.2f}""")
  }

  private def recall(spark: SparkSession, sfDir: String, copies: Int,
      emit: String => Unit): Unit = {
    val nprobe = 4
    val n = embeddings(spark, sfDir).count() * copies
    for ((variant, clusterSize, sigStep) <- Variants; dim <- Seq(64, 256)) {
      val corpus = plantedCorpus(spark, n, dim, clusterSize, sigStep)
      val nlist = nlistFor(n)
      val queries = plantedQueries(corpus, clusterSize)
      val dirs = Seq("f64", "i8").map { st =>
        val dir = fresh(s"/tmp/btr-ann-recall/$variant-d$dim-$st")
        SimilarityOps.ivfIndexBuild(corpus, dir, nlist = nlist,
          fitSampleRows = 10000, vectorStorage = st)
        st -> dir
      }.toMap
      // same-nprobe f64 serve = the quantization-free reference; brute
      // force = ground truth for the nprobe ceiling (context only)
      def serveF64() = SimilarityOps.ivfTopKServe(queries, dirs("f64"), K, nprobe)
      val f64Sec = minOf3(() => serveF64())
      val exactF64 = pairs(serveF64())
      val f64Recall = recallOf(exactF64,
        pairs(SimilarityOps.bruteForceTopK(queries, corpus, K)))
      emit(f"""{"variant":"$variant","dim":$dim,"corpus":$n,"nlist":$nlist,"f64_serve_sec":$f64Sec%.3f,"f64_recall_vs_brute":$f64Recall%.4f}""")
      for (rf <- Seq(1, 2, 4, 8)) {
        def serveI8() =
          SimilarityOps.ivfTopKServe(queries, dirs("i8"), K, nprobe, rerankFactor = rf)
        val sec = minOf3(() => serveI8())
        val recall = recallOf(pairs(serveI8()), exactF64)
        emit(f"""{"variant":"$variant","dim":$dim,"storage":"i8","rerank_factor":$rf,"serve_sec":$sec%.3f,"recall_at_$K%d_vs_f64":$recall%.4f}""")
      }
      queries.unpersist()
    }
  }
}

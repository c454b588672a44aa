package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One run of one workload:
  *
  *   perfbench.Main --workload <scan|lookup|ingest|pipeline> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --data <dir> --cores <n>
  *
  * Set-up cuts the workload's inputs from the test tables in `--data`,
  * converts them to btr four times (the median is `setup_s`), computes
  * every op's oracle and runs each op three times untimed. The closed
  * loop then runs ops back to back, in as many whole cycles of the op
  * list as fill about `--seconds`. With `--trace 1` ops alternate
  * between traced and untraced; traced ops record spans and listener
  * counters, and the layer probes run after the loop. The last stdout
  * line is the result.
  */
object Main extends AdaptiveSparkPlanHelper {
  private val SetUpReps = 4
  /** Untimed passes over the ops before the loop. With two, the first
    * cycle of an `ingest` loop still ran slower than its later ones.
    */
  private val WarmPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      need("work"), need("data"), need("cores").toInt)
  }

  private def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  /** Latencies and counts of one pass of the loop. `rows` counts the
    * source rows of the pass's ops.
    */
  final class Pass {
    val latMs = ArrayBuffer.empty[Double]
    val byKind = mutable.Map.empty[String, ArrayBuffer[Double]]
    val byName = mutable.Map.empty[String, ArrayBuffer[Double]]
    var attempted, failed, rows = 0L
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  private def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val info = (k: String, v: Any) => println(s"# $k $v")
    info("session_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)

    val ctx = new Ctx(spark, a.seed, a.work, a.data)
    val wl = Workload(a.workload, ctx)
    val stageT0 = System.nanoTime()
    wl.stage(a.cores)
    info("stage_s", (System.nanoTime() - stageT0) / 1e9)
    val setUpS = (1 to SetUpReps).map { r =>
      val t0 = System.nanoTime()
      wl.setUp(r)
      (System.nanoTime() - t0) / 1e9
    }
    info("setup_reps_s", setUpS.mkString(","))
    val dirs = wl.btrDirs.values.toSeq.sorted
    val rawBytes = wl.convertedRawBytes()
    val storedOverRaw = dirs.map(Sizes.bytes(_, data = true)).sum.toDouble / rawBytes
    val setUpWriteAmp = dirs.map(Sizes.bytes(_, data = false)).sum.toDouble / rawBytes

    val ops = wl.ops()
    val listener = new OpListener
    val tr = new Trace(a.trace)
    var nextId = 0
    val opLog = ArrayBuffer.empty[(Int, Op)]

    /** Runs one op and captures its result; returns the latency and the
      * failure, if it threw.
      */
    def execute(op: Op, traced: Boolean): (Double, Option[String]) = {
      op.prepare()
      val id = nextId
      nextId += 1
      tr.op = id
      tr.enabled = traced
      if (traced) sc.setLocalProperty(OpListener.Prop, id.toString)
      val t0 = System.nanoTime()
      val err = try { tr.span("op")(op.run(tr)); None }
      catch { case e: Exception => Some(s"failed: $e") }
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(OpListener.Prop, null)
      op.finish()
      if (err.isEmpty) tr.span("check")(op.observe())
      opLog += ((id, op))
      (ms, err)
    }

    def tally(pass: Pass, op: Op, bad: Option[String]): Unit = {
      pass.attempted += 1
      bad match {
        case Some(msg) =>
          pass.failed += 1
          System.err.println(s"op ${op.name} $msg")
        case None => pass.rows += op.sourceRows
      }
    }

    /** The closed loop. It runs whole cycles of `ops`, so every op weighs
      * the same in every run: at least two, and another one while that
      * ends the loop nearer to `seconds` than stopping would. In a traced
      * run the i-th op of cycle c is traced when i + c is odd, so each op
      * alternates between the traced and the untraced pass from one cycle
      * to the next, whatever the cycle's length. Returns the cycles run.
      */
    val plain, traced, all = new Pass
    val tracedIds = mutable.Set.empty[Int]
    def loop(seconds: Double): Int = {
      val samples = ArrayBuffer.empty[(Op, Double, Boolean)]
      val t0 = System.nanoTime()
      def more(cycles: Int) = {
        val s = (System.nanoTime() - t0) / 1e9
        cycles < 2 || s + s / cycles / 2 < seconds
      }
      var i = 0
      while (i % ops.size != 0 || more(i / ops.size)) {
        val op = ops(i % ops.size)
        val on = a.trace && (i % ops.size + i / ops.size) % 2 == 1
        if (on) tracedIds += nextId
        val (ms, err) = execute(op, on)
        tally(all, op, err.orElse(tr.span("check")(op.check())))
        samples += ((op, ms, on))
        i += 1
      }
      samples.foreach { case (op, ms, on) =>
        val pass = if (on) traced else plain
        pass.rows += op.sourceRows
        pass.latMs += ms
        pass.byKind.getOrElseUpdate(op.kind, ArrayBuffer.empty) += ms
        pass.byName.getOrElseUpdate(op.name, ArrayBuffer.empty) += ms
      }
      tr.enabled = false
      i / ops.size
    }

    // untimed warm-up, every op once in loop order, concurrent with the
    // oracles where the workload allows; its results are checked once the
    // oracles are in
    if (a.trace) sc.addSparkListener(listener)
    val warmT0 = System.nanoTime()
    def oracles(): Unit =
      if (!wl.concurrentOracles) ops.foreach(_.expect())
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
        try wl.oracleGroups(ops).map(g => pool.submit[Unit](() => g.foreach(_.expect()))).foreach(_.get())
        finally pool.shutdown()
      }
    if (!wl.concurrentOracles) oracles()
    val warmRuns = ArrayBuffer.empty[(Op, Option[String])]
    var warmError: Throwable = null
    val warmThread = new Thread(() =>
      try ops.foreach(op => warmRuns += ((op, execute(op, a.trace)._2)))
      catch { case e: Throwable => warmError = e })
    warmThread.start()
    if (wl.concurrentOracles) oracles()
    info("oracle_s", (System.nanoTime() - warmT0) / 1e9)
    warmThread.join()
    if (warmError != null) throw warmError
    info("warmup_s", (System.nanoTime() - warmT0) / 1e9)
    val warm = new Pass
    warmRuns.foreach { case (op, err) => tally(warm, op, err.orElse(op.check())) }
    val warmIds = opLog.map(_._1).toSet
    // more passes, so the loop starts with the JIT past its first burst
    for (_ <- 2 to WarmPasses) ops.foreach(op => tally(warm, op, execute(op, a.trace)._2.orElse(op.check())))
    info("warmup_passes_s", (System.nanoTime() - warmT0) / 1e9)
    val writes = ops.collect { case w: WriteOp => w }
    val writeAmp =
      if (writes.isEmpty) setUpWriteAmp
      else writes.map(_.bytesWritten).sum.toDouble / writes.map(_.rawBytesIn).sum
    if (writes.nonEmpty) info("bytes_written", writes.map(w => s"${w.name}=${w.bytesWritten}").mkString(","))
    info("first_op_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)

    tr.spans.clear()
    val steal0 = cpuTicks()
    val loopT0 = System.nanoTime()
    val cycles = loop(a.seconds)
    info("loop_s", (System.nanoTime() - loopT0) / 1e9)
    val steal1 = cpuTicks()
    info("steal_share", (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2))
    if (a.trace) org.apache.spark.perfbench.Bus.drain(sc)
    val failed = warm.failed + all.failed
    val attempted = warm.attempted + all.attempted
    info("fail_ratio", failed.toDouble / attempted)
    info("ops", s"${all.attempted} in $cycles cycles")
    plain.byName.toSeq.sortBy(_._1).foreach { case (k, v) =>
      info(s"op_ms.$k", v.map(x => f"$x%.1f").mkString(","))
    }

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!a.trace) {
      metrics += (("setup_s", median(setUpS), "s"))
      metrics += (("op_p50_ms", median(plain.latMs.toSeq), "ms"))
      metrics += (("op_p90_ms", percentile(plain.latMs.toSeq, 0.9), "ms"))
      // over the ops' own latencies: the untimed preparation and checks
      // between ops are the benchmark's work, not the program's
      metrics += (("rows_per_s", plain.rows / (plain.latMs.sum / 1e3), "rows/s"))
      metrics += (("stored_over_raw", storedOverRaw, "ratio"))
      metrics += (("write_amp", writeAmp, "ratio"))
      metrics += (("peak_rss_mb", peakRssMb(), "MB"))
      info("peak_heap_mb", peakHeapMb())
    } else {
      metrics ++= layerMetrics(spark, wl, dirs, listener, tr, opLog.filter(e => tracedIds(e._1)).toSeq, traced)
      metrics += (("trace.overhead", median(traced.latMs.toSeq) / median(plain.latMs.toSeq) - 1, "ratio"))
      val counters = deterministicCounters(listener, opLog.filter(e => warmIds.contains(e._1)).toSeq,
        storedOverRaw, writeAmp, metrics.filter(_._1.startsWith("format.chunks_by_scheme.")).toSeq)
      println(s"# counters $counters")
      tr.write(s"${a.work}/spans-${a.workload}-${a.seed}.jsonl")
    }
    metrics.foreach { case (n, v, u) => println(s"# metric $n $v $u") }
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** (steal, total) CPU ticks of the machine: the time the host ran
    * something else on this machine's virtual CPUs, for reading a run's
    * latencies.
    */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.take(8).sum)
    } finally src.close()
  }

  /** Sum of the heap memory pools' peak use since the JVM started. */
  private def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The per-layer metrics of the loop's traced ops. */
  private def layerMetrics(spark: SparkSession, wl: Workload, dirs: Seq[String], l: OpListener,
      tr: Trace, ops: Seq[(Int, Op)], p: Pass): Seq[(String, Double, String)] = {
    val out = ArrayBuffer.empty[(String, Double, String)]
    val n = math.max(1, ops.size).toDouble
    val cs = ops.flatMap { case (id, _) => l.byOp.get(id) }
    def per(f: l.Counters => Long) = cs.map(f).sum / n

    val fmt = Layers.format(dirs, wl.btrDirs(wl.mainTable))
    Seq("int", "double", "string").foreach { f =>
      out += ((s"format.decode_mbps.$f", fmt.decodeMBps(f), "MB/s"))
      out += ((s"format.encode_mbps.$f", fmt.encodeMBps(f), "MB/s"))
    }
    val schemes = Layers.chunksByScheme(spark, dirs)
    val known = Seq("raw", "one_value", "for_bp", "delta_bp", "dict", "rle", "freq", "pfor",
      "pseudodec", "alp", "double_bp", "fsst")
    known.foreach(s => out += ((s"format.chunks_by_scheme.$s", schemes.getOrElse(s, 0L).toDouble, "count")))
    out += (("format.chunks_by_scheme.other",
      schemes.filter { case (k, _) => !known.contains(k) }.values.sum.toDouble, "count"))
    out += (("format.sample_over_tryall", fmt.sampleOverTryall, "ratio"))

    val reader = Layers.readerRowsPerS(spark, wl.btrDirs(wl.mainTable))
    out += (("reader.rows_per_s_thread", reader, "rows/s"))
    out += (("reader.over_kernel", reader / fmt.kernelRowsPerS, "ratio"))

    val plans = tr.spans.filter(_.name == "plan").map(s => (s.endUs - s.startUs) / 1e3)
    out += (("plan.p50_ms", median(plans.toSeq), "ms"))
    out += (("plan.share", plans.sum / p.latMs.sum, "ratio"))

    out += (("exec.jobs", per(_.jobs), "count"))
    out += (("exec.stages", per(_.stages), "count"))
    out += (("exec.tasks", per(_.tasks), "count"))
    out += (("exec.run_s", per(_.runMs) / 1e3, "s"))
    out += (("exec.cpu_s", per(_.cpuNs) / 1e9, "s"))
    out += (("exec.gc_s", per(_.gcMs) / 1e3, "s"))
    out += (("exec.sched_wait_s", per(_.waitMs) / 1e3, "s"))
    out += (("exec.input_bytes", per(_.inBytes), "bytes"))
    out += (("exec.input_records", per(_.inRecords), "count"))
    out += (("exec.shuffle_read_bytes", per(_.shuffleRead), "bytes"))
    out += (("exec.shuffle_write_bytes", per(_.shuffleWrite), "bytes"))
    out += (("exec.spill_bytes", per(_.spill), "bytes"))

    // write layer: ingest ops only; zero elsewhere
    val writes = ops.collect { case (id, w: WriteOp) => (id, w) }
    val opEnds = tr.spans.filter(_.name == "op").map(s => s.op -> s.endUs / 1000L).toMap
    val commits = writes.flatMap { case (id, _) =>
      l.byOp.get(id).filter(_.lastJobEndMs > 0).map(c => (opEnds(id) - c.lastJobEndMs).toDouble)
    }
    out += (("write.task_s", writes.flatMap(w => l.byOp.get(w._1)).map(_.runMs).sum / 1e3 /
      math.max(1, writes.size), "s"))
    out += (("write.commit_ms", median(commits), "ms"))
    Seq("delete", "update", "merge", "purge").foreach { k =>
      out += ((s"write.dml_ms.$k", median(p.byKind.getOrElse(k, Nil).toSeq), "ms"))
    }
    val rewrites = writes.filter(_._2.kind != "append")
    out += (("write.bytes_rewritten", rewrites.map(_._2.dataBytesWritten).sum.toDouble /
      math.max(1, rewrites.size), "bytes"))

    // functions layer: pipeline operators only; zero elsewhere
    Seq("minhash", "simhash", "ngram", "keywords", "ivf_serve").foreach { k =>
      out += ((s"functions.op_ms.$k", median(p.byKind.getOrElse(k, Nil).toSeq), "ms"))
    }
    val fnOps = ops.filter { case (_, o) => o.kind != "query" && !o.isInstanceOf[WriteOp] }
    val exchanges = fnOps.flatMap(_._2.lastDf).map(df =>
      collectWithSubqueries(df.queryExecution.executedPlan) { case e: Exchange => e }.size.toDouble)
    out += (("functions.exchanges", if (exchanges.isEmpty) 0.0 else exchanges.sum / exchanges.size, "count"))
    val persisted = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    out += (("functions.persisted_bytes_after", persisted.toDouble, "bytes"))

    val self = { tr.addScheduler(l, ops.map(_._1).toSet); tr.selfUs() }
    Seq("op", "plan", "exec", "job", "stage", "check").foreach { s =>
      out += ((s"trace.self_ms.$s", self.getOrElse(s, 0L) / 1e3 / n, "ms"))
    }
    out.toSeq
  }

  /** Counters that must repeat exactly for one seed: per warm-up op from
    * the listener, plus the byte ratios and scheme counts.
    */
  private def deterministicCounters(l: OpListener, warm: Seq[(Int, Op)], storedOverRaw: Double,
      writeAmp: Double, schemes: Seq[(String, Double, String)]): String = {
    val perOp = warm.map { case (id, op) =>
      val c = l.byOp.getOrElse(id, new l.Counters)
      s""""${op.name}": [${c.jobs}, ${c.stages}, ${c.tasks}, ${c.inBytes}, ${c.inRecords}, """ +
        s"""${c.shuffleRead}, ${c.shuffleWrite}]"""
    }
    val sch = schemes.map { case (n, v, _) => s""""$n": $v""" }
    s"""{"ops": {${perOp.mkString(", ")}}, "stored_over_raw": $storedOverRaw, """ +
      s""""write_amp": $writeAmp, "schemes": {${sch.mkString(", ")}}}"""
  }
}

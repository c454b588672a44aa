package perfbench

import graft.format._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Layer probes of the traced run. Each calls one module's public
  * functions directly, on the workload's own btr tables.
  */
object Layers {
  private final case class Chunk(family: String, tag: Int, rows: Int, blob: Array[Byte], main: Boolean)

  private def family(tag: Int): Option[String] =
    if (PhysType.isIntFamily(tag) || tag == PhysType.Float) Some("int")
    else if (tag == PhysType.Double) Some("double")
    else if (PhysType.isStringFamily(tag)) Some("string")
    else None

  /** Scalar column chunks of a table, located through the file footers. */
  private def chunks(dir: String, main: Boolean): Seq[Chunk] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    val parts = BtrTableMeta.readPartitionCols(fs, root)
    val fields = BtrTableMeta.readSchema(fs, root).fields.filterNot(f => parts.contains(f.name))
    BtrTableMeta.listDataFilesWithPartitions(fs, root).toSeq.flatMap { e =>
      val footer = BtrFile.readFooter(fs, e.path, fs.getFileStatus(e.path).getLen)
      val in = fs.open(e.path)
      try footer.rowGroups.toSeq.flatMap { rg =>
        rg.columns.indices.flatMap { c =>
          val tag = if (footer.tagOf(c) != 0) footer.tagOf(c) else PhysType.of(fields(c).dataType)
          family(tag).map { fam =>
            val blob = new Array[Byte](rg.columns(c).length)
            in.readFully(rg.columns(c).offset, blob)
            Chunk(fam, tag, rg.numRows, blob, main)
          }
        }
      } finally in.close()
    }
  }

  private def decodedBytes(c: Chunk, d: ChunkCodec.Decoded): Long =
    if (c.family == "string") d.strLens.iterator.map(_.toLong).sum + 4L * c.rows
    else c.rows.toLong * (if (c.family == "int") PhysType.physWidth(c.tag) else 8)

  private def toChunk(c: Chunk, d: ChunkCodec.Decoded): ColumnChunk = {
    val cc = new ColumnChunk(c.tag, c.rows)
    cc.isNull = d.isNull
    c.family match {
      case "int" => cc.longs = d.longs
      case "double" => cc.doubles = d.doubles
      case _ =>
        var off = 0
        cc.strings = d.strLens.map { n =>
          val s = java.util.Arrays.copyOfRange(d.strBytes, off, off + n); off += n; s
        }
    }
    cc
  }

  private val EncodeChunks = 8

  final case class Format(decodeMBps: Map[String, Double], encodeMBps: Map[String, Double],
      kernelRowsPerS: Double, sampleOverTryall: Double)

  /** `ChunkCodec.decode` on one thread over every scalar chunk of the
    * tables, and `encode` over the first `EncodeChunks` chunks of each
    * type. Three passes; the first warms the JIT and is not timed.
    * Encode runs the writer's default sampled selection;
    * `sampleOverTryall` compares its output size with `tryall`'s on the
    * same chunks. `kernelRowsPerS` is the main table's rows over the time
    * to decode all of its chunks once.
    */
  def format(dirs: Seq[String], mainDir: String): Format = {
    val all = dirs.flatMap(d => chunks(d, d == mainDir))
    val decNs = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val encNs = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bytes = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val encBytes = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var mainNs = 0L
    var sampled = 0L
    var tried = 0L
    val decoded = new Array[ChunkCodec.Decoded](all.size)
    for (pass <- 0 until 3; (c, i) <- all.zipWithIndex) {
      val t0 = System.nanoTime()
      val d = ChunkCodec.decode(new BufReader(c.blob), c.tag, c.rows)
      val ns = System.nanoTime() - t0
      decoded(i) = d
      if (pass > 0) {
        decNs(c.family) += ns
        bytes(c.family) += decodedBytes(c, d)
        if (c.main) mainNs += ns
      }
    }
    val tryAll = BtrConfig.Default.copy(tryAll = true)
    val encoded = all.zipWithIndex.groupBy(_._1.family).values.flatMap(_.take(EncodeChunks)).toSeq.sortBy(_._2)
    for (pass <- 0 until 3; (c, i) <- encoded) {
      val cc = toChunk(c, decoded(i))
      val out = new BufWriter(c.blob.length + 1024)
      val t0 = System.nanoTime()
      ChunkCodec.encode(out, cc, BtrFile.DefaultCascadeDepth, BtrConfig.Default)
      val ns = System.nanoTime() - t0
      if (pass > 0) {
        encNs(c.family) += ns
        encBytes(c.family) += decodedBytes(c, decoded(i))
      }
      if (pass == 2) {
        sampled += out.result().length
        val alt = new BufWriter(c.blob.length + 1024)
        ChunkCodec.encode(alt, cc, BtrFile.DefaultCascadeDepth, tryAll)
        tried += alt.result().length
      }
    }
    val fams = Seq("int", "double", "string")
    def mbps(b: collection.Map[String, Long], ns: collection.Map[String, Long]) = fams.map { f =>
      f -> (if (ns(f) > 0) b(f) / 1e6 / (ns(f) / 1e9) else 0.0)
    }.toMap
    Format(mbps(bytes, decNs), mbps(encBytes, encNs), if (mainNs > 0) rowsOf(mainDir) / (mainNs / 2 / 1e9) else 0.0,
      if (tried > 0) sampled.toDouble / tried else 0.0)
  }

  def rowsOf(dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(BtrTableMeta.hadoopConf())
    BtrTableMeta.listDataFilesWithPartitions(fs, root).iterator.map { e =>
      BtrFile.readFooter(fs, e.path, fs.getFileStatus(e.path).getLen).numRows
    }.sum
  }

  /** Chunk counts by the root scheme of `btr_describe`'s scheme tree. */
  def chunksByScheme(spark: SparkSession, dirs: Seq[String]): Map[String, Long] =
    dirs.flatMap { d =>
      graft.functions.BtrInspect.describe(spark, d).select("scheme_tree").collect().map(_.getString(0))
    }.groupBy(t => t.takeWhile(c => c != '(')).map { case (k, v) => k -> v.size.toLong }

  /** Rows per second of one reader over every planned input partition of
    * a full scan, driven on this thread with no scheduler.
    */
  def readerRowsPerS(spark: SparkSession, dir: String): Double = {
    val plan = spark.read.format("btr").load(dir).queryExecution.sparkPlan
    val scan = plan.collectFirst { case s: BatchScanExec => s }
      .getOrElse(throw new IllegalStateException(s"no batch scan in the plan of $dir"))
    def pass(): Long = scan.inputPartitions.iterator.map { p =>
      val r = scan.readerFactory.createColumnarReader(p)
      var rows = 0L
      try while (r.next()) rows += r.get().numRows()
      finally r.close()
      rows
    }.sum
    pass()
    val t0 = System.nanoTime()
    val rows = pass() + pass()
    rows / ((System.nanoTime() - t0) / 1e9)
  }
}

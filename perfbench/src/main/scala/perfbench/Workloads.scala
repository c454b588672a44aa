package perfbench

import graft.functions.{SimilarityOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

final class Ctx(val spark: SparkSession, seed: Long, val work: String, val data: String) {
  val rnd = new Random(seed)
}

/** One workload: its inputs, cut from the sf0.1 test tables under
  * `data`, the program set-up that turns them into btr tables, and the
  * ops of its closed loop in seed order.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** The workload's inputs: name -> rows of a test table. Staging writes
    * each as parquet under `<work>/in`, split by `key` into one file per
    * core, so the oracles, the btr conversion and the appends read them
    * in parallel.
    */
  protected def inputs: Seq[Input]
  /** Btr tables set-up writes: name -> (input name, partition columns). */
  protected def converted: Seq[(String, (String, Seq[String]))]
  /** The table the reader probe scans. */
  def mainTable: String
  /** The loop's ops, in the order the loop runs them (it cycles). */
  def ops(): Seq[Op]
  /** Groups of ops whose oracles depend on each other, in order; the
    * groups' oracles run concurrently.
    */
  def oracleGroups(ops: Seq[Op]): Seq[Seq[Op]] = ops.map(Seq(_))
  /** Whether oracles may run concurrently with each other and with the
    * first warm-up pass.
    */
  def concurrentOracles: Boolean = true

  protected def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  lazy val pqDirs: Map[String, String] = inputs.map(i => i.name -> s"$work/in/${i.name}").toMap
  /** Rows and decoded bytes of each staged input. */
  private var staged: Map[String, (Long, Long)] = Map.empty
  protected def rows(input: String): Long = staged(input)._1
  protected def decodedBytes(input: String): Long = staged(input)._2

  /** Writes the inputs under `<work>/in` and measures them. */
  def stage(cores: Int): Unit = staged = inputs.map { i =>
    i.rows.repartition(cores, col(i.key)).write.parquet(pqDirs(i.name))
    i.name -> Inputs.measure(spark.read.parquet(pqDirs(i.name)))
  }.toMap

  var btrDirs: Map[String, String] = Map.empty

  /** Program set-up into a fresh directory; the loop reads the tables of
    * the last repetition.
    */
  def setUp(rep: Int): Unit = {
    btrDirs = converted.map { case (n, _) => n -> s"$work/set-up-$rep/$n" }.toMap
    converted.foreach { case (n, (src, parts)) =>
      spark.read.parquet(pqDirs(src)).write.format("btr").mode("overwrite").partitionBy(parts: _*)
        .save(btrDirs(n))
    }
  }

  /** Decoded bytes of the user data in the converted tables. */
  def convertedRawBytes(): Long = converted.map { case (_, (src, _)) => decodedBytes(src) }.sum

  protected def btr = new Tables(spark, btrDirs, btr = true)
  protected def pq = new Tables(spark, pqDirs ++ converted.map { case (n, (src, _)) => n -> pqDirs(src) }, btr = false)
  protected def query(name: String, rows: Long, kind: String = "query")(q: Tables => DataFrame): Op =
    new QueryOp(name, kind, rows, () => q(btr), () => q(pq))
}

/** A workload input: `rows` of a test table, split into files by `key`. */
final case class Input(name: String, rows: DataFrame, key: String)

object Inputs {
  /** Rows and dense decoded bytes of a table: fixed-width values at their
    * width, strings as UTF-8 bytes plus a 4-byte offset, arrays as their
    * elements plus a 4-byte length.
    */
  def measure(df: DataFrame): (Long, Long) = {
    def width(t: DataType): Long = t match {
      case IntegerType | FloatType | DateType => 4L
      case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
      case other => throw new IllegalArgumentException(s"no width for $other")
    }
    val terms = df.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case StringType => sum(octet_length(c)) + count(lit(1)) * 4
        case ArrayType(e, _) => sum(size(c)) * width(e) + count(lit(1)) * 4
        case t => count(lit(1)) * width(t)
      }
    }
    val r = df.agg(count(lit(1)), terms.reduce(_ + _)).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "scan" => new Scan(ctx)
    case "lookup" => new Lookup(ctx)
    case "ingest" => new Ingest(ctx)
    case "pipeline" => new Pipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Decode-heavy analytics: the battery's single-table full-decode
  * shapes plus hash projections over seed-chosen column subsets. Seven
  * ops, so the median falls on one op rather than between two.
  */
final class Scan(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  protected def inputs = Seq(Input("lineitem", table("lineitem"), "l_orderkey"))
  protected def converted = Seq("lineitem" -> ("lineitem", Nil))
  def mainTable = "lineitem"

  def ops(): Seq[Op] = {
    val nLine = rows("lineitem")
    val battery = Seq(
      query("q1", nLine)(t => t("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))),
          avg("l_quantity"), avg("l_extendedprice"), avg("l_discount"), count(lit(1)))),
      query("q6", nLine)(t => t("lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long")), count(lit(1)))),
      // the battery's q_rt_identity returns every row; a checksum over
      // every column decodes the same bytes without a 600k-row collect
      query("identity", nLine)(t => {
        val li = t("lineitem")
        li.agg(count(lit(1)), sum(hash(li.columns.toSeq.map(col): _*)))
      }))
    val statOps = Seq(query("stats", nLine)(_("lineitem").agg(
      count(lit(1)), countDistinct(col("l_suppkey")), min("l_suppkey"), max("l_suppkey"),
      min("l_discount"), max("l_discount"), min("l_returnflag"), max("l_returnflag"))))
    // the seed deals the columns into three checksums, each kind of
    // column in turn, so every column is decoded once per cycle and each
    // checksum gets a like mix of encodings whatever the seed
    val kinds = Seq(Seq("l_orderkey", "l_partkey", "l_suppkey"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_shipdate"))
    val dealt = kinds.flatMap(k => rnd.shuffle(k)).zipWithIndex.groupBy(_._2 % 3).values
    val projections = dealt.map(_.map(_._1).sorted).toSeq.sortBy(_.head).map { cs =>
      query(s"hash_${cs.mkString("+")}", nLine)(_("lineitem").agg(sum(hash(cs.map(col): _*))))
    }
    rnd.shuffle(battery ++ statOps ++ projections)
  }
}

/** Selective reads: point lookups, narrow ranges, partition-pruned
  * filters and aggregates the footers can answer.
  */
final class Lookup(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  protected def inputs = Seq(Input("lineitem", table("lineitem"), "l_orderkey"),
    Input("orders", table("orders"), "o_orderkey"))
  protected def converted = Seq(
    "lineitem" -> ("lineitem", Nil),
    "orders" -> ("orders", Nil),
    "lineitem_by_flag" -> ("lineitem", Seq("l_returnflag")))
  def mainTable = "lineitem"

  def ops(): Seq[Op] = {
    val (nLine, nOrders) = (rows("lineitem"), rows("orders"))
    // keys of the test tables start at 0
    def okey() = (rnd.nextLong() & Long.MaxValue) % nOrders
    def flag() = Seq("A", "N", "R")(rnd.nextInt(3))
    val narrow = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice").map(col)
    val points = (0 until 2).map { _ =>
      val k = okey()
      query(s"point_okey_$k", nLine)(_("lineitem").filter(col("l_orderkey") === k).select(narrow: _*))
    } ++ {
      val k = rnd.nextInt((nLine / 30).toInt)
      Seq(query(s"point_pkey_$k", nLine)(_("lineitem").filter(col("l_partkey") === k).select(narrow: _*)))
    } ++ {
      val k = okey()
      Seq(query(s"point_order_$k", nOrders)(_("orders").filter(col("o_orderkey") === k)))
    }
    val ranges = {
      val k = okey()
      val day = java.time.LocalDate.of(1995, 1, 2).plusDays(rnd.nextInt(2400).toLong)
      val from = java.sql.Timestamp.valueOf(day.atStartOfDay())
      val to = java.sql.Timestamp.valueOf(day.plusDays(1).atStartOfDay())
      Seq(
        query(s"range_okey_$k", nLine)(_("lineitem").filter(col("l_orderkey").between(k, k + 50))
          .agg(count(lit(1)), sum("l_quantity"))),
        query(s"range_day_$day", nLine)(_("lineitem")
          .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(to))
          .agg(count(lit(1)), sum("l_extendedprice"))))
    }
    val (f, k) = (flag(), okey())
    val pruned = Seq(query(s"part_${f}_$k", nLine)(_("lineitem_by_flag")
      .filter(col("l_returnflag") === f && col("l_orderkey").between(k, k + 200))
      .agg(count(lit(1)), sum("l_quantity"))))
    val meta = Seq(
      query("meta_count", nLine)(_("lineitem").agg(count(lit(1)))),
      query("meta_minmax", nLine)(_("lineitem").agg(min("l_orderkey"), max("l_orderkey"),
        min("l_shipdate"), max("l_shipdate"))),
      query("meta_sum", nLine)(_("lineitem").agg(sum("l_linenumber"))),
      query(s"meta_part_count_$f", nLine)(_("lineitem_by_flag").filter(col("l_returnflag") === f)
        .agg(count(lit(1)))))(rnd.nextInt(4))
    rnd.shuffle(points ++ ranges ++ pruned :+ meta)
  }
}

/** LLM-data operators over `documents` and `embeddings`; the IVF index
  * is built in set-up from the btr embeddings.
  */
final class Pipeline(ctx: Ctx) extends Workload(ctx) {
  import ctx._
  protected def inputs = Seq(Input("documents", table("documents"), "doc_id"),
    Input("embeddings", table("embeddings"), "vec_id"))
  protected def converted = inputs.map(i => i.name -> (i.name, Nil))
  def mainTable = "documents"
  private def indexDir = s"${btrDirs("embeddings")}-ivf"
  // the text and similarity operators keep session-keyed intermediates
  // until their next call, so two calls must not overlap
  override def concurrentOracles = false

  override def setUp(rep: Int): Unit = {
    super.setUp(rep)
    SimilarityOps.ivfIndexBuild(btr("embeddings").select(col("vec_id").as("cid"),
      col("embedding").as("cvec")), indexDir, nlist = 16)
  }

  def ops(): Seq[Op] = {
    val (nDocs, nVecs) = (rows("documents"), rows("embeddings"))
    def docRange(t: Tables, a: Long, n: Long) = t("documents").filter(col("doc_id").between(a, a + n - 1))
    // seed-chosen doc_id ranges; ids start at 0
    val span = nDocs / 5
    val c = rnd.nextInt((nDocs - span).toInt)
    val a = rnd.nextInt((nDocs - 150).toInt)
    val b = rnd.nextInt((nDocs - span).toInt)
    val ops = Seq(
      query(s"minhash_$c", span, "minhash")(t => TextOps.minhashDedup(docRange(t, c, span), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.8)),
      query(s"simhash_$c", span, "simhash")(t => TextOps.simhashDedup(docRange(t, c, span), "doc_id", "text",
        maxDist = 3, bits = 60, useMd5 = true)),
      query(s"ngram_$a", 150, "ngram")(t => TextOps.ngramJaccardPairs(docRange(t, a, 150), "doc_id",
        "text", n = 5, threshold = 0.5)),
      query(s"keywords_$b", span, "keywords")(t => TextOps.topKeywords(docRange(t, b, span),
        "doc_id", "text", 3)))
    val serve = {
      val ids = Seq.fill(10)(rnd.nextInt(nVecs.toInt).toLong).distinct
      def queries(t: Tables) = t("embeddings").filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // the oracle ranks the parquet corpus through the same index:
      // serving and indexed ranking share centres and membership, so
      // their answers are equal
      val shape = Seq(col("qid"), col("cid"), col("rank"))
      new QueryOp(s"ivf_serve_${ids.head}", "ivf_serve", ids.size.toLong,
        () => SimilarityOps.ivfTopKServe(queries(btr), indexDir, 3, nprobe = 6).select(shape: _*),
        () => SimilarityOps.ivfTopKIndexed(queries(pq),
          pq("embeddings").select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          indexDir, 3, nprobe = 6).select(shape: _*))
    }
    rnd.shuffle(ops :+ serve)
  }
}

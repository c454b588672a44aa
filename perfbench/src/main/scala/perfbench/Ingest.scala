package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The write path. The loop runs one round per table in seed order; a
  * round appends a batch, a seed-chosen key range of the test table, into
  * a fresh deletion-vector table, runs one DML statement (DELETE on
  * lineitem, MERGE on orders, UPDATE on events, with seed-chosen
  * predicates), then purges the masked rows. Each step's table is checked
  * against the same steps applied to the parquet inputs.
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import ctx._

  import Ingest.Spec

  // batches of about 150k lineitem, 75k orders and 50k events rows. The
  // DML statements mask about a fifth of a batch, an eighth for MERGE, so
  // every file crosses the purge's 10% threshold whatever the seed
  private val specs = Seq(
    Spec("lineitem", "l_orderkey", 150000, 37500, "l_quantity", "delete",
      s"l_orderkey % 5 = ${rnd.nextInt(5)}",
      "l_tax", s"l_returnflag = 'R' AND l_linenumber = ${1 + rnd.nextInt(4)}"),
    Spec("orders", "o_orderkey", 150000, 75000, "o_totalprice", "merge",
      s"o_orderstatus = 'P' OR o_orderkey % 7 = ${rnd.nextInt(7)}",
      "o_totalprice", s"o_orderpriority = '${Seq("1-URGENT", "2-HIGH", "5-LOW")(rnd.nextInt(3))}'"),
    Spec("events", "event_id", 100000, 50000, "value", "update",
      s"event_type = '${Seq("view", "click", "error")(rnd.nextInt(3))}'",
      "value", s"user_id % 5 = ${rnd.nextInt(5)}"))

  /** First key of each table's batch. */
  private val firsts = specs.map(s => s.table -> rnd.nextInt((s.keyCount - s.span - s.span / 8).toInt).toLong).toMap

  /** Each table's batch, and for the MERGE table its source: the keys
    * from half a quarter-batch before the batch's end to as far after it,
    * with `bumped` raised by 100, so half the source's rows update and
    * half insert.
    */
  protected def inputs = specs.flatMap { s =>
    val (k, from, m) = (col(s.key), firsts(s.table), s.span / 4)
    val batch = Input(s.table, table(s.table).filter(k >= from && k < from + s.span), s.key)
    lazy val source = Input(s"${s.table}_m", table(s.table)
      .filter(k >= from + s.span - m / 2 && k < from + s.span + m / 2)
      .withColumn(s.bumped, col(s.bumped) + 100), s.key)
    if (s.statement == "merge") Seq(batch, source) else Seq(batch)
  }
  protected def converted = specs.map(s => s.table -> (s.table, Nil))
  def mainTable = "lineitem"
  // each step's oracle extends the previous step's in its round
  override def oracleGroups(ops: Seq[Op]): Seq[Seq[Op]] = {
    val steps = ops.collect { case w: WriteOp => w }
    steps.map(_.round).distinct.map(r => steps.filter(_.round eq r))
  }

  def ops(): Seq[Op] = {
    rnd.shuffle(specs).flatMap { s =>
      val batch = spark.read.parquet(pqDirs(s.table))
      lazy val source = spark.read.parquet(pqDirs(s"${s.table}_m"))
      val cols = batch.columns.toSeq
      val round = new Round(s"$work/loop/${s.table}", cols)
      val view = s"merge_src_${s.table}"
      val t = s"graft.`${round.dir}`"
      val append = new WriteOp(spark, s"${s.table}_append", "append", rows(s.table), round,
        decodedBytes(s.table), starts = true, { () =>
          batch.write.format("btr").option("btr.deletionVectors", "true").mode("append").save(round.dir)
        }, _ => batch)
      lazy val delete = new WriteOp(spark, s"${s.table}_delete", "delete", 0, round, 0L, starts = false,
        () => spark.sql(s"DELETE FROM $t WHERE ${s.deleteWhere}"),
        _.filter(not(expr(s.deleteWhere))))
      lazy val update = new WriteOp(spark, s"${s.table}_update", "update", 0, round, 0L, starts = false,
        () => spark.sql(s"UPDATE $t SET ${s.updateCol} = ${s.updateCol} + 1 WHERE ${s.updateWhere}"),
        _.withColumn(s.updateCol, when(expr(s.updateWhere), col(s.updateCol) + 1).otherwise(col(s.updateCol))))
      lazy val merge = new WriteOp(spark, s"${s.table}_merge", "merge", rows(s"${s.table}_m"), round,
        decodedBytes(s"${s.table}_m"), starts = false,
        () => spark.sql(
          s"""MERGE INTO $t t USING $view s ON t.${s.key} = s.${s.key}
             |WHEN MATCHED THEN UPDATE SET ${s.bumped} = s.${s.bumped}
             |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
             |  VALUES (${cols.map("s." + _).mkString(", ")})""".stripMargin),
        { st =>
          val updated = st.join(source.select(col(s.key), col(s.bumped).as("__new")), Seq(s.key), "left")
            .withColumn(s.bumped, coalesce(col("__new"), col(s.bumped))).drop("__new")
          updated.unionByName(source.join(st.select(s.key), Seq(s.key), "left_anti"))
        })
      val purge = new WriteOp(spark, s"${s.table}_purge", "purge", 0, round, 0L, starts = false,
        () => spark.sql(s"OPTIMIZE $t APPLY PURGE"), identity)
      val dmlOp = s.statement match {
        case "delete" => delete
        case "update" => update
        case _ =>
          source.createOrReplaceTempView(view)
          merge
      }
      Seq(append, dmlOp, purge)
    }
  }
}

object Ingest {
  /** One table's round: its key column, which holds `keyCount` keys
    * from 0, the number of keys in a batch, the column a MERGE source
    * changes, the round's DML statement and that statement's predicates.
    * A MERGE table's key is unique.
    */
  private final case class Spec(table: String, key: String, keyCount: Long, span: Long, bumped: String,
      statement: String, deleteWhere: String, updateCol: String, updateWhere: String)
}

/** A round's table directory and the oracle state of its steps. */
final class Round(val dir: String, val cols: Seq[String]) {
  var oracle: DataFrame = _
  var seen = Set.empty[String]
}

/** One write or DML step. The check reads the table's row count and an
  * order-free checksum and compares them with the oracle model's.
  */
final class WriteOp(spark: SparkSession, val name: String, val kind: String, val sourceRows: Long,
    val round: Round, val rawBytesIn: Long, starts: Boolean, act: () => Unit,
    model: DataFrame => DataFrame) extends Op {
  private var expected: Array[Row] = _
  private var got: Array[Row] = _
  var bytesWritten = 0L
  var dataBytesWritten = 0L

  private def signature(df: DataFrame): Array[Row] =
    df.agg(count(lit(1)), sum(pmod(xxhash64(round.cols.map(col): _*), lit(1000000007L)))).collect()

  def expect(): Unit = {
    round.oracle = model(if (starts) null else round.oracle)
    expected = signature(round.oracle)
  }

  override def prepare(): Unit = if (starts) {
    Sizes.delete(round.dir)
    round.seen = Set.empty
  }

  def run(tr: Trace): Unit = tr.span("exec")(act())

  override def finish(): Unit = {
    val now = Sizes.files(round.dir).filterNot { case (p, _) => round.seen.contains(p) }
    round.seen ++= now.map(_._1)
    bytesWritten = now.map(_._2).sum
    dataBytesWritten = now.collect { case (p, b) if p.endsWith(".btr") => b }.sum
  }

  override def observe(): Unit = got = signature(spark.read.format("btr").load(round.dir))

  def check(): Option[String] = Results.diff(expected, got)
}

/** On-disk sizes of written files. */
object Sizes {
  /** Regular files under `dir`, as (path, bytes). */
  def files(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val it = s.iterator()
        val out = Seq.newBuilder[(String, Long)]
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p)) out += p.toString -> java.nio.file.Files.size(p)
        }
        out.result()
      } finally s.close()
    }
  }

  def bytes(dir: String, data: Boolean): Long =
    files(dir).collect { case (p, b) if !data || p.endsWith(".btr") => b }.sum

  def delete(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}

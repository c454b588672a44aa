package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A workload's tables, read through the program (`btr`) or through
  * Spark's parquet reader over the same staged inputs (the oracle).
  */
final class Tables(spark: SparkSession, dirs: Map[String, String], btr: Boolean) {
  def apply(name: String): DataFrame =
    if (btr) spark.read.format("btr").load(dirs(name)) else spark.read.parquet(dirs(name))
}

/** One operation of a workload's closed loop.
  *
  * `prepare` and `finish` run untimed around the timed `run`; `observe`
  * captures the result `run` left behind, and `check` compares it with
  * the oracle `expect` computed in set-up, returning a message on
  * mismatch.
  */
trait Op {
  def name: String
  /** Groups ops for per-kind layer metrics (`minhash`, `delete`, ...). */
  def kind: String
  /** Source rows this op processes, for `rows_per_s`. */
  def sourceRows: Long
  def expect(): Unit
  def prepare(): Unit = ()
  def run(tr: Trace): Unit
  def finish(): Unit = ()
  def observe(): Unit = ()
  def check(): Option[String]
  /** The DataFrame the last `run` executed, when the op is one query. */
  def lastDf: Option[DataFrame] = None
}

/** A read-only query: `make` builds it over btr, `oracle` over parquet. */
final class QueryOp(val name: String, val kind: String, val sourceRows: Long,
    make: () => DataFrame, oracle: () => DataFrame) extends Op {
  private var expected: Array[Row] = _
  private var got: Array[Row] = _
  private var df: DataFrame = _

  def expect(): Unit = expected = oracle().collect()

  def run(tr: Trace): Unit = {
    df = tr.span("plan") { val d = make(); d.queryExecution.executedPlan; d }
    got = tr.span("exec")(df.collect())
  }

  def check(): Option[String] = Results.diff(expected, got)
  override def lastDf: Option[DataFrame] = Option(df)
}

/** Result comparison: order-insensitive row sets, doubles equal to a
  * relative 1e-9 (btr and parquet plans may sum in different orders).
  */
object Results {
  private def canon(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case f: Float => f.toDouble
    case other => other
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Sort key that a last-digit double difference cannot reorder. */
  private def key(v: Any): String = v match {
    case d: Double => f"$d%.6g"
    case s: Seq[_] => s.map(key).mkString("[", ",", "]")
    case null => "\u0000"
    case other => other.toString
  }

  def diff(expected: Array[Row], got: Array[Row]): Option[String] = {
    val e = expected.map(canon).sortBy(key)
    val g = got.map(canon).sortBy(key)
    if (e.length != g.length) Some(s"${g.length} rows, expected ${e.length}")
    else e.zip(g).collectFirst { case (x, y) if !same(x, y) => s"row ${key(y)}, expected ${key(x)}" }
  }
}

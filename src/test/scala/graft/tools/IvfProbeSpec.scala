package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every `IvfProbe` mode but `heap` (which shells out to `jcmd`) runs at
  * sf0.001 with one copy and prints the JSON keys its committed
  * `ann_*` / `ivf_*` artifacts carry, so new runs stay comparable.
  */
class IvfProbeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ivf-probe-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def keysOf(line: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    json.readTree(line).fieldNames().asScala.toSeq
  }

  private def field(line: String, key: String): String = json.readTree(line).get(key).asText

  private def keys(s: String): Seq[String] = s.split(",").toSeq

  private def run(mode: String): Seq[String] = IvfProbe.run(spark, mode, sf, copies = 1)

  test("skew then sweep: occupancy lines, then recall vs nprobe on the skew indexes") {
    val skew = run("skew")
    assert(skew.length == 4, skew) // {sep, graded} × dim {64, 256}
    skew.foreach(l => assert(keysOf(l) == keys("variant,dim,corpus,nlist,cells,occ_max," +
      "occ_p99,occ_mean,occ_max_over_mean,top10_share,probed_cells,probed_mass," +
      "probed_share,build_sec,serve_sec"), l))
    val sweep = run("sweep").filter(field(_, "layout") == "split")
    assert(sweep.length == 8, sweep) // {sep, graded} × nprobe {4, 6, 8, 12}
    sweep.foreach { l =>
      assert(keysOf(l) == keys("variant,dim,layout,nprobe,serve_sec,recall_vs_brute"), l)
      val r = field(l, "recall_vs_brute").toDouble
      assert(r >= 0.0 && r <= 1.0, l)
    }
  }

  test("scale: one line per corpus multiple, then the flatness ratio") {
    val lines = run("scale")
    assert(lines.length == 4, lines)
    assert(lines.init.map(field(_, "m")) == Seq("1", "4", "10"))
    lines.init.foreach(l => assert(keysOf(l) ==
      keys("m,corpus,nlist,storage,assign_bytes,build_sec,serve_sec,brute_sec"), l))
    assert(keysOf(lines.last) == Seq("serve_flatness_10x_over_1x"))
  }

  test("recall: an f64 context line, then i8 recall per rerankFactor") {
    val lines = run("recall")
    assert(lines.length == 20, lines) // 4 corpora × (1 context + 4 rerank factors)
    lines.grouped(5).foreach { g =>
      assert(keysOf(g.head) ==
        keys("variant,dim,corpus,nlist,f64_serve_sec,f64_recall_vs_brute"), g.head)
      assert(g.tail.map(field(_, "rerank_factor")) == Seq("1", "2", "4", "8"))
      g.tail.foreach(l => assert(keysOf(l) ==
        keys("variant,dim,storage,rerank_factor,serve_sec,recall_at_10_vs_f64"), l))
    }
  }

  test("an unknown mode is refused") {
    intercept[IllegalArgumentException](run("nope"))
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import graft.functions.SimilarityOps

/** IVF index lifecycle as SQL verbs — the one SQL surface that changes an
  * index. Each verb is a `LeafRunnableCommand` that executes at `run()`,
  * so `EXPLAIN IVF BUILD ...` shows the plan and builds NOTHING, and
  * re-analysis (DESCRIBE, views) never re-runs an action. Registered
  * through the same delegating parser as OPTIMIZE/VACUUM:
  *
  *   IVF BUILD INDEX '/idx' FROM graft.`/t` (vec_id, embedding)
  *       [NLIST 16] [STORAGE 'f64'|'f32'|'i8']
  *   IVF REFRESH INDEX '/idx' FROM graft.`/t` (vec_id, embedding)
  *       APP 'consumer' VERSIONS 3 [TO 7]       -- feed (3, 7], txn (APP, 7]
  *   IVF REBUILD INDEX '/idx' FROM graft.`/t` (vec_id, embedding)
  *       [IF DRIFT BELOW 80]                    -- percent of build-time quality
  *   IVF VACUUM INDEX '/idx' [KEEP 2]
  *
  * Table references resolve like OPTIMIZE/VACUUM (absolute backquoted
  * path or catalog-relative); the index directory is a plain quoted
  * string (it is a directory, not a catalog table). BUILD and REBUILD
  * read the table's latest snapshot and record its version, so a later
  * REFRESH converges over an overlapping feed. The read-only
  * `ivf_index_state/staleness/fresh/drift` table functions
  * ([[graft.GraftExtensions]]) read the corpus through the same
  * [[BtrIvfCommands.corpusDf]].
  */
object BtrIvfCommands {

  /** The corpus table as the `(cid, cvec)` frame the index API takes,
    * optionally read AS OF a snapshot version.
    */
  def corpusDf(spark: SparkSession, tableDir: String, idCol: String, vecCol: String,
      versionAsOf: Option[Long]): DataFrame = {
    val r0 = spark.read.format("btr")
    val r = versionAsOf.fold(r0)(v => r0.option("btr.versionAsOf", v.toString))
    r.load(tableDir).select(col(idCol).as("cid"), col(vecCol).as("cvec"))
  }
}

case class BtrIvfBuildCommand(idxDir: String, tableParts: Seq[String],
    idCol: String, vecCol: String, nlist: Int, storage: String = "f64")
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("build_version", LongType, nullable = false)(),
    AttributeReference("corpus_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val table = BtrMaintenance.resolvePath(spark, tableParts)
    val v = BtrLog.latestVersionOf(table)
    SimilarityOps.ivfIndexBuild(BtrIvfCommands.corpusDf(spark, table, idCol, vecCol, v),
      idxDir, nlist = nlist, corpusVersion = v, vectorStorage = storage)
    val st = SimilarityOps.ivfIndexState(idxDir)
    Seq(Row(st.buildVersion, st.corpusVersion.getOrElse(-1L)))
  }
}

case class BtrIvfRefreshCommand(idxDir: String, tableParts: Seq[String],
    idCol: String, vecCol: String, appId: String, from: Long, to: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rows_assigned", LongType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)(),
    AttributeReference("drift", DoubleType, nullable = false)(),
    AttributeReference("replayed", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val table = BtrMaintenance.resolvePath(spark, tableParts)
    val upTo = to.getOrElse(BtrLog.latestVersionOf(table).getOrElse(
      throw new IllegalArgumentException(s"IVF REFRESH: no snapshot log at $table")))
    val feed = BtrChanges.between(spark, table, from, upTo)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"),
        col("_change_type"), col("_commit_version"))
    val st = SimilarityOps.ivfIndexRefresh(feed, idxDir,
      txnAppId = Some(appId), txnVersion = Some(upTo))
    Seq(Row(st.rowsAssigned, st.rowsDeleted, st.drift, st.replayed))
  }
}

/** Without a drift gate the rebuild is unconditional and PRESERVES the
  * current build's layout (f64/f32/i8 storage and base nlist): a REBUILD
  * must not silently downgrade a quantized index to the BUILD defaults.
  * With a gate, [[SimilarityOps.ivfIndexRebuildIfDrifted]] probes first
  * and inherits the layout the same way.
  */
case class BtrIvfRebuildCommand(idxDir: String, tableParts: Seq[String],
    idCol: String, vecCol: String, minDriftPct: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("rebuilt", BooleanType, nullable = false)(),
    AttributeReference("drift", DoubleType, nullable = false)(),
    AttributeReference("build_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val table = BtrMaintenance.resolvePath(spark, tableParts)
    val v = BtrLog.latestVersionOf(table)
    val corpus = BtrIvfCommands.corpusDf(spark, table, idCol, vecCol, v)
    val (rebuilt, drift) = minDriftPct match {
      case Some(p) => SimilarityOps.ivfIndexRebuildIfDrifted(corpus, idxDir,
        minDrift = p / 100.0, corpusVersion = v)
      case None =>
        val (storage, nlist) = SimilarityOps.ivfIndexLayoutOf(spark, idxDir)
        SimilarityOps.ivfIndexBuild(corpus, idxDir,
          nlist = nlist, corpusVersion = v, vectorStorage = storage)
        (true, 1.0)
    }
    Seq(Row(rebuilt, drift, SimilarityOps.ivfIndexState(idxDir).buildVersion))
  }
}

case class BtrIvfVacuumCommand(idxDir: String, keepLast: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("dropped_dirs", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SimilarityOps.ivfIndexVacuum(idxDir, keepLast).toLong))
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL surface: extension-registered native functions and
  * `CREATE TABLE ... USING btr` DDL must work without touching the Scala
  * DSL — a SQL-only user can run the whole engine.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  test("native kernels are callable from plain SQL and match the DSL") {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps", Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 2.0f, 1.0f)))
      .toDF("id", "text", "a", "b").createOrReplaceTempView("ext_probe")

    val viaSql = spark.sql(
      """SELECT cosine_sim(a, b) AS c, md5hash60(text) AS h,
        | word_shingles(text, 3) AS ws, char_shingles(text, 4) AS cs,
        | simhash(text, 64) AS s64, simhash60(text) AS s60
        |FROM ext_probe""".stripMargin).head

    val viaDsl = spark.table("ext_probe").select(
      graft.functions.SimilarityOps.cosine($"a", $"b").as("c"),
      graft.functions.TextOps.md5Hash60($"text").as("h"),
      graft.functions.WordShinglesExpr.of($"text", 3).as("ws"),
      graft.functions.TextOps.charShingles($"text", 4).as("cs")).head

    assert(viaSql.getDouble(0) == viaDsl.getDouble(0))
    assert(viaSql.getLong(1) == viaDsl.getLong(1))
    assert(viaSql.getSeq[String](2) == viaDsl.getSeq[String](2))
    assert(viaSql.getSeq[String](3) == viaDsl.getSeq[String](3))
    // simhash of identical text is identical regardless of entry point
    val s2 = spark.sql("SELECT simhash(text, 64), simhash60(text) FROM ext_probe").head
    assert(viaSql.getLong(4) == s2.getLong(0) && viaSql.getLong(5) == s2.getLong(1))

    // non-literal n fails loudly, not silently
    val e = intercept[Exception](spark.sql("SELECT word_shingles(text, id + 1) FROM ext_probe").head)
    assert(e.getMessage.contains("integer literal") || e.getMessage.contains("word_shingles"))

    // positional (non-distinct) shingles and the repetition kernel from SQL
    val rep = spark.sql(
      """SELECT word_shingles('a b a b', 2, false) AS ws,
        | repetition_stats('a a a a').n_words AS nw,
        | repetition_stats('a a a a').distinct_words AS dw,
        | repetition_stats('a a a a').top_bigram_c AS tb""".stripMargin).head
    assert(rep.getSeq[String](0) == Seq("a b", "b a", "a b"))
    assert(rep.getInt(1) == 4 && rep.getInt(2) == 1 && rep.getInt(3) == 3)

    // minhash_sig from SQL is bit-identical to the Scala DSL's minhash
    val mhSql = spark.sql(
      "SELECT minhash_sig(word_shingles(text, 3), 32) AS mh FROM ext_probe").head
    val mhDsl = spark.table("ext_probe").select(
      graft.functions.TextOps.minhash(
        graft.functions.WordShinglesExpr.of($"text", 3), 32).as("mh")).head
    assert(mhSql.getSeq[Long](0) == mhDsl.getSeq[Long](0))
    val kErr = intercept[Exception](
      spark.sql("SELECT minhash_sig(word_shingles(text, 3), 0) FROM ext_probe").head)
    assert(kErr.getMessage.contains("minhash_sig"))
  }

  test("a fresh session registers the same functions independently") {
    val s2 = spark.newSession()
    GraftExtensions.register(s2)
    import s2.implicits._
    Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("v").createOrReplaceTempView("ext_probe2")
    assert(s2.sql("SELECT cosine_sim(v, v) FROM ext_probe2").head.getDouble(0) == 1.0)
  }

  test("CREATE TABLE ... USING btr DDL: insert, select, filter pushdown") {
    val dir = "/tmp/btr-sql-ddl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.sql("DROP TABLE IF EXISTS btr_sql_t")
    spark.sql(
      s"""CREATE TABLE btr_sql_t (id BIGINT, tag STRING, v DOUBLE)
         |USING btr LOCATION '$dir'""".stripMargin)
    spark.sql("INSERT INTO btr_sql_t SELECT id, concat('t', id), id * 0.5 FROM range(1000)")
    assert(spark.sql("SELECT count(*) FROM btr_sql_t").head.getLong(0) == 1000L)
    val got = spark.sql(
      "SELECT id, tag, v FROM btr_sql_t WHERE id BETWEEN 10 AND 12 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((10L, "t10", 5.0), (11L, "t11", 5.5), (12L, "t12", 6.0)))
    // data really landed as btr files
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".btr"))
    assert(files >= 1)
    spark.sql("DROP TABLE btr_sql_t")
  }

  // The maintenance parser is injected at session BUILD time in real use
  // (spark.sql.extensions=graft.GraftExtensions); a shared test JVM's
  // session predates this suite, so the tests drive the parser class
  // directly — same code path sql() takes after injection.
  test("OPTIMIZE verb: parses, resolves the catalog path, compacts") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.BtrCatalog].getName)
    val p = "/tmp/btr-maint-sql/t"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    (0 until 8).foreach { i =>
      Seq((i.toLong, s"s$i")).toDF("v", "s").coalesce(1)
        .write.format("btr").mode(if (i == 0) "overwrite" else "append").save(p)
    }
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    val cmd = parser.parsePlan(s"OPTIMIZE graft.`$p`")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    val row = cmd.run(spark).head
    assert(row.getString(0) == p)
    assert(row.getLong(1) == 8 && row.getLong(2) < 8, row.toString)
    assert(spark.read.format("btr").load(p).count() == 8)
  }

  test("OPTIMIZE ZORDER/CLUSTER/FULL and VACUUM parse to the right commands and run") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.BtrCatalog].getName)
    val p = "/tmp/btr-maint-sql/z"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    (0 until 200).map(i => (i.toLong, (i * 37 % 200).toLong)).toDF("a", "b")
      .repartition(4).write.format("btr").mode("overwrite").save(p)
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)

    val z = parser.parsePlan(s"OPTIMIZE graft.`$p` ZORDER BY (a, b)")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    assert(z.mode == "ZORDER" && z.cols == Seq("a", "b"))
    z.run(spark)
    assert(spark.read.format("btr").load(p).count() == 200)

    val c = parser.parsePlan(s"OPTIMIZE graft.`$p` CLUSTER BY (b)")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    assert(c.mode == "CLUSTER" && c.cols == Seq("b"))

    val f = parser.parsePlan(s"OPTIMIZE graft.`$p` FULL")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    assert(f.mode == "FULL" && f.cols.isEmpty)

    val v = parser.parsePlan(s"VACUUM graft.`$p` RETAIN 0 HOURS")
      .asInstanceOf[graft.sources.BtrVacuumCommand]
    assert(v.retentionMs == 0L)
    assert(v.run(spark).head.getLong(1) == 0L) // no orphaned temps to sweep

    val v24 = parser.parsePlan(s"VACUUM graft.`$p`")
      .asInstanceOf[graft.sources.BtrVacuumCommand]
    assert(v24.retentionMs == 24L * 3600 * 1000)

    // every stock statement passes through the delegate untouched
    assert(!parser.parsePlan("SELECT 1")
      .isInstanceOf[graft.sources.BtrOptimizeCommand])
    assert(parser.parsePlan("SELECT 1 AS optimize_me").getClass ==
      spark.sessionState.sqlParser.parsePlan("SELECT 1 AS optimize_me").getClass)
  }

  test("OPTIMIZE ... WHERE compacts only the matching partitions") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.BtrCatalog].getName)
    val p = "/tmp/btr-maint-sql/w"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    // 4 tiny files per partition day
    (0 until 4).foreach { i =>
      Seq(("2025-01-01", i.toLong), ("2025-01-02", i.toLong), ("2025-01-03", i.toLong))
        .toDF("day", "v").repartition($"day")
        .write.format("btr").partitionBy("day")
        .mode(if (i == 0) "overwrite" else "append").save(p)
    }
    def filesIn(day: String) =
      Option(new java.io.File(p, s"day=$day").listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".btr") && !f.getName.startsWith("_"))
    assert(filesIn("2025-01-01") == 4 && filesIn("2025-01-03") == 4)

    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    val cmd = parser.parsePlan(
      s"OPTIMIZE graft.`$p` WHERE day < '2025-01-03'")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    assert(cmd.mode == "COMPACT" && cmd.where.contains("day < '2025-01-03'"))
    cmd.run(spark)
    assert(filesIn("2025-01-01") == 1 && filesIn("2025-01-02") == 1,
      "matching partitions must compact")
    assert(filesIn("2025-01-03") == 4, "non-matching partition must stay untouched")
    assert(spark.read.format("btr").load(p).count() == 12)

    // CLUSTER rewrite scoped to ONE partition: other dirs stay untouched
    val jan3 = Option(new java.io.File(p, "day=2025-01-03").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".btr")).map(_.getName).toSet
    val cw = parser.parsePlan(
      s"OPTIMIZE graft.`$p` CLUSTER BY (v) WHERE day = '2025-01-02'")
      .asInstanceOf[graft.sources.BtrOptimizeCommand]
    assert(cw.mode == "CLUSTER" && cw.where.contains("day = '2025-01-02'"))
    cw.run(spark)
    assert(Option(new java.io.File(p, "day=2025-01-03").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".btr")).map(_.getName).toSet == jan3,
      "unselected partitions must keep their exact files")
    assert(filesIn("2025-01-02") == 1)
    assert(spark.read.format("btr").load(p).count() == 12)
    assert(spark.read.format("btr").load(p)
      .filter($"day" === "2025-01-02").select("v").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L))
  }

  test("RESTORE ... TIMESTAMP AS OF resolves the instant and rewinds") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.BtrCatalog].getName)
    val p = "/tmp/btr-maint-sql/rts"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    Seq(1, 2).toDF("x").coalesce(1).write.format("btr").mode("overwrite").save(p)
    Thread.sleep(10)
    val mid = java.time.Instant.now().toString
    Thread.sleep(10)
    Seq(3, 4).toDF("x").coalesce(1).write.format("btr").mode("append").save(p)
    assert(spark.read.format("btr").load(p).count() == 4)
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    val cmd = parser.parsePlan(s"RESTORE TABLE graft.`$p` TO TIMESTAMP AS OF '$mid'")
      .asInstanceOf[graft.sources.BtrRestoreCommand]
    cmd.run(spark)
    assert(spark.read.format("btr").load(p).as[Int].collect().sorted.toSeq == Seq(1, 2))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE works through the row-level path") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.BtrCatalog].getName)
    val p = "/tmp/btr-maint-sql/nmbs"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)
    Seq((2, "B"), (4, "D")).toDF("k", "v").createOrReplaceTempView("src_nmbs")
    spark.sql(
      s"""MERGE INTO graft.`$p` t USING src_nmbs s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = spark.read.format("btr").load(p)
      .as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((2, "B"), (4, "D")), rows.toString)
  }

  test("CREATE TABLE ... USING btr PARTITIONED BY lays down hive dirs") {
    val dir = "/tmp/btr-sql-ddl-part"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.sql("DROP TABLE IF EXISTS btr_sql_part")
    spark.sql(
      s"""CREATE TABLE btr_sql_part (id BIGINT, k STRING)
         |USING btr PARTITIONED BY (k) LOCATION '$dir'""".stripMargin)
    spark.sql(
      "INSERT INTO btr_sql_part SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(100)")
    assert(spark.sql("SELECT count(*) FROM btr_sql_part WHERE k = 'even'").head.getLong(0) == 50L)
    assert(new java.io.File(s"$dir/k=even").isDirectory && new java.io.File(s"$dir/k=odd").isDirectory)
    spark.sql("DROP TABLE btr_sql_part")
  }

  test("inspection table functions: SELECT * FROM btr_describe('/path')") {
    import spark.implicits._
    val p = "/tmp/btr-tvf/t"
    new scala.reflect.io.Directory(new java.io.File(p)).deleteRecursively()
    (0 until 500).map(i => (i.toLong, s"tag${i % 5}", i * 0.25)).toDF("id", "tag", "v")
      .coalesce(1).write.format("btr").mode("overwrite").save(p)

    val desc = spark.sql(s"SELECT * FROM btr_describe('$p')")
    assert(desc.columns.contains("column") || desc.columns.nonEmpty)
    assert(desc.count() > 0)
    // TVF output equals the Scala API output
    val viaScala = graft.functions.BtrInspect.describe(spark, p)
    assert(desc.collect().map(_.toString).sorted.toSeq ==
      viaScala.collect().map(_.toString).sorted.toSeq)

    val cons = spark.sql(s"SELECT * FROM btr_file_consistency('$p')")
    assert(cons.count() > 0)

    assert(spark.sql(s"SELECT * FROM btr_clustering('$p')").count() > 0)
    spark.sql(s"SELECT * FROM btr_table_stats('$p')").collect() // advisory; may be empty

    // footer HLL NDV estimates: 500 distinct ids / 5 distinct tags
    val ndv = spark.sql(s"SELECT * FROM btr_ndv('$p')").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(ndv("id") - 500) <= 25, s"id ndv=${ndv("id")}")
    assert(ndv("tag") == 5L, s"tag ndv=${ndv("tag")}")

    // non-constant path fails loudly
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM btr_describe(concat(rand(), ''))").collect()
    }
    assert(e.getMessage.contains("constant") || e.getMessage.contains("btr_describe"),
      e.getMessage)
  }

  test("IVF index lifecycle is drivable from pure SQL and matches the Scala API") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
    val base = "/tmp/btr-ext-spec/ivf-sql"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val table = s"$base/corpus"
    val idxSql = s"$base/idx-sql"
    val idxScala = s"$base/idx-scala"
    val rnd = new scala.util.Random(7)
    val all = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    all.toDF("vec_id", "embedding")
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table) // v1
    // the session was built before register(), so drive the delegating
    // parser directly (same pattern as the OPTIMIZE tests)
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    def run(sql: String): org.apache.spark.sql.Row =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(spark).head
    val from = s"FROM graft.`$table` (vec_id, embedding)"

    // BUILD verb ≡ Scala build with the same parameters (deterministic
    // quantizer fit → identical centroids AND assignments)
    val b = run(s"IVF BUILD INDEX '$idxSql' $from NLIST 8")
    assert(b.getLong(0) == 1L && b.getLong(1) == 1L, s"build report: $b")
    val scalaCorpus = spark.read.format("btr").option("btr.versionAsOf", "1").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.functions.SimilarityOps.ivfIndexBuild(scalaCorpus, idxScala, nlist = 8,
      corpusVersion = Some(1L))
    def assignOf(idx: String): Seq[String] =
      spark.read.format("btr")
        .load(graft.functions.SimilarityOps.ivfIndexAssignPath(idx))
        .collect().map(_.toString).sorted.toSeq
    assert(assignOf(idxSql) == assignOf(idxScala), "SQL build ≡ Scala build (assign)")
    assert(graft.functions.SimilarityOps.centroidsOf(spark, idxSql) ==
      graft.functions.SimilarityOps.centroidsOf(spark, idxScala), "… and centroids")

    // STATE inspection TVF mirrors the resolver and reports the layout
    val st = spark.sql(s"SELECT * FROM ivf_index_state('$idxSql')").head
    val stApi = graft.functions.SimilarityOps.ivfIndexState(idxSql)
    assert(st.getString(0) == stApi.root && st.getLong(1) == stApi.buildVersion &&
      st.getLong(2) == stApi.corpusVersion.getOrElse(-1L))
    assert(st.getString(3) == "f64" && st.getInt(4) == 8,
      s"state TVF must report the stored-vector layout, got ${st.getString(3)}/${st.getInt(4)}")

    // corpus DML → REFRESH verb on one index, Scala refresh on the twin
    spark.sql(s"DELETE FROM graft.`$table` WHERE vec_id % 10 = 0") // v2
    val fresh = (1000L until 1015L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    fresh.toDF("vec_id", "embedding").write.format("btr").mode("append").save(table) // v3
    // freshness TVF: commits the index has not applied → NOT fresh
    assert(!spark.sql(s"SELECT * FROM ivf_index_fresh('$idxSql', '$table')")
      .head.getBoolean(0), "unapplied corpus commits must read as stale")
    val r = run(s"IVF REFRESH INDEX '$idxSql' $from APP 'sqlapp' VERSIONS 1 TO 3")
    // rows_assigned covers the fresh appends PLUS the CoW rewrite's
    // netted-live survivors (delete+re-insert pairs); net-dead is exactly
    // the 20 removed cids
    assert(r.getLong(0) >= fresh.length.toLong && r.getLong(1) == 20L && !r.getBoolean(3),
      s"refresh report: $r")
    val feed = graft.sources.BtrChanges.between(spark, table, 1L, 3L)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("_change_type"), col("_commit_version"))
    graft.functions.SimilarityOps.ivfIndexRefresh(feed, idxScala,
      txnAppId = Some("scalaapp"), txnVersion = Some(3L))
    assert(assignOf(idxSql) == assignOf(idxScala), "SQL refresh ≡ Scala refresh")
    // replayed batch no-ops through the verb too
    val replay = run(s"IVF REFRESH INDEX '$idxSql' $from APP 'sqlapp' VERSIONS 1 TO 3")
    assert(replay.getBoolean(3) && replay.getLong(0) == 0L)

    // ...and the refresh recorded its high-water: now provably fresh,
    // so ivfTopKIndexed(trustIndex=true) may skip the corpus pass
    assert(spark.sql(s"SELECT * FROM ivf_index_fresh('$idxSql', '$table')")
      .head.getBoolean(0), "refresh to the corpus head must read as fresh")

    // STALENESS and DRIFT TVFs equal the Scala probes
    val current = spark.read.format("btr").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val staleSql = spark.sql("SELECT * FROM ivf_index_staleness(" +
      s"'$table', 'vec_id', 'embedding', '$idxSql')").head.getLong(0)
    assert(staleSql == graft.functions.SimilarityOps.ivfIndexStaleness(current, idxSql))
    assert(staleSql == 0L, "refreshed index must not lag its corpus")
    val driftSql = spark.sql("SELECT * FROM ivf_index_drift(" +
      s"'$table', 'vec_id', 'embedding', '$idxSql', 200)").head.getDouble(0)
    val driftApi = graft.functions.SimilarityOps.ivfIndexDriftProbe(current, idxSql,
      sampleRows = 200)
    assert(driftSql == driftApi, s"$driftSql vs $driftApi")

    // gated REBUILD verb: an impossible gate (200%) forces the rebuild and
    // the pointer advances crash-atomically
    val rb = run(s"IVF REBUILD INDEX '$idxSql' $from IF DRIFT BELOW 200")
    assert(rb.getBoolean(0) && rb.getLong(2) == 2L, s"rebuild report: $rb")
    assert(graft.functions.SimilarityOps.ivfIndexState(idxSql).corpusVersion.contains(3L))
    // retention from SQL too: KEEP 1 sweeps the superseded v1 build
    val vac = run(s"IVF VACUUM INDEX '$idxSql' KEEP 1")
    assert(vac.getLong(0) == 1L, s"vacuum report: $vac")
    assert(!new java.io.File(idxSql, "v1").exists())
    assert(graft.functions.SimilarityOps.ivfIndexState(idxSql).buildVersion == 2L)
    // post-rebuild serving stays brute-force-exact at full probe
    val qs = current.filter(col("cid") < 3).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = graft.functions.SimilarityOps.ivfTopKIndexed(qs, current, idxSql, 3, nprobe = 8)
      .collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"))).toSet
    val exact = graft.functions.SimilarityOps.bruteForceTopK(qs, current, 3)
      .collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("IVF verbs execute at run(), not resolution: EXPLAIN builds nothing") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
    val base = "/tmp/btr-ext-spec/ivf-verbs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val table = s"$base/corpus"
    val idx = s"$base/idx"
    val rnd = new scala.util.Random(11)
    val all = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    all.toDF("vec_id", "embedding")
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table) // v1

    // the session was built before register() — parser injection only
    // applies at session build (spark.sql.extensions), so drive the
    // delegating parser directly, same pattern as the OPTIMIZE tests
    val parser = new graft.sources.BtrSparkSqlParser(spark.sessionState.sqlParser)
    def run(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(spark)

    // EXPLAIN of the verb plans without executing — no index appears
    val explained = parser.parsePlan(
      s"EXPLAIN IVF BUILD INDEX '$idx' FROM graft.`$table` (vec_id, embedding) NLIST 8")
    val ex = explained.asInstanceOf[org.apache.spark.sql.execution.command.ExplainCommand]
    assert(ex.logicalPlan.isInstanceOf[graft.sources.BtrIvfBuildCommand], ex.logicalPlan)
    val planText = ex.run(spark).map(_.getString(0)).mkString("\n")
    assert(planText.contains("BtrIvfBuildCommand"), planText)
    assert(!new java.io.File(idx).exists(),
      "EXPLAIN of the IVF BUILD verb must not execute the build")

    val b = run(
      s"IVF BUILD INDEX '$idx' FROM graft.`$table` (vec_id, embedding) NLIST 8").head
    assert(b.getLong(0) == 1L && b.getLong(1) == 1L, s"build report: $b")

    // change feed → REFRESH verb; replayed batch no-ops
    val fresh = (1000L until 1010L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    fresh.toDF("vec_id", "embedding").write.format("btr").mode("append").save(table) // v2
    val r = run(s"IVF REFRESH INDEX '$idx' FROM graft.`$table` " +
      "(vec_id, embedding) APP 'verbs' VERSIONS 1 TO 2").head
    assert(r.getLong(0) == fresh.length.toLong && !r.getBoolean(3), s"refresh: $r")
    val replay = run(s"IVF REFRESH INDEX '$idx' FROM graft.`$table` " +
      "(vec_id, embedding) APP 'verbs' VERSIONS 1 TO 2").head
    assert(replay.getBoolean(3) && replay.getLong(0) == 0L, s"replay: $replay")

    // gated REBUILD verb: impossible gate (200%) forces; EXPLAIN doesn't
    val before = graft.functions.SimilarityOps.ivfIndexState(idx).buildVersion
    parser.parsePlan(s"EXPLAIN IVF REBUILD INDEX '$idx' FROM graft.`$table` " +
      "(vec_id, embedding) IF DRIFT BELOW 200")
      .asInstanceOf[org.apache.spark.sql.execution.command.ExplainCommand].run(spark)
    assert(graft.functions.SimilarityOps.ivfIndexState(idx).buildVersion == before,
      "EXPLAIN of the REBUILD verb must not rebuild")
    val rb = run(s"IVF REBUILD INDEX '$idx' FROM graft.`$table` " +
      "(vec_id, embedding) IF DRIFT BELOW 200").head
    assert(rb.getBoolean(0) && rb.getLong(2) == before + 1, s"rebuild: $rb")

    // VACUUM verb sweeps the superseded build; EXPLAIN doesn't
    parser.parsePlan(s"EXPLAIN IVF VACUUM INDEX '$idx' KEEP 1")
      .asInstanceOf[org.apache.spark.sql.execution.command.ExplainCommand].run(spark)
    assert(new java.io.File(idx, s"v$before").exists(),
      "EXPLAIN of the VACUUM verb must not sweep")
    val vac = run(s"IVF VACUUM INDEX '$idx' KEEP 1").head
    assert(vac.getLong(0) == 1L, s"vacuum: $vac")
    assert(!new java.io.File(idx, s"v$before").exists())

    // serving through the verb-maintained index stays exact
    val current = spark.read.format("btr").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qs = current.filter(col("cid") < 3).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = graft.functions.SimilarityOps.ivfTopKIndexed(qs, current, idx, 3, nprobe = 8)
      .collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"))).toSet
    val exact = graft.functions.SimilarityOps.bruteForceTopK(qs, current, 3)
      .collect().map(x => (x.getAs[Long]("qid"), x.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}

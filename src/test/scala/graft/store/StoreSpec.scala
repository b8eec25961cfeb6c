package graft.store

import graft.SparkSpec
import graft.catalog.LayoutSpec
import org.apache.spark.sql.functions._

class StoreSpec extends SparkSpec with graft.TempDirs {

  test("writeTable applies partition/bucket/sort layout") {
    import spark.implicits._
    val dir = tempDir("graft-store").toString + "/t"
    val df = Seq.tabulate(100)(i => (i.toLong, i % 2, s"v$i")).toDF("id", "part", "payload")
    GraphStore.writeTable(df, dir,
      LayoutSpec(partitionBy = Seq("part"), bucketBy = Some((2, Seq("id"))), sortBy = Seq("id")))

    // hive-style partition directories
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq === Seq("part=0", "part=1"))

    // round-trips with full content
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    assert(back.select(sum(col("id"))).first().getLong(0) === (0L until 100L).sum)

    // each file is sorted by id (rowgroup min/max usable as range index)
    val files = new java.io.File(dir + "/part=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f).select("id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted))
    }
  }

  test("co-bucketed tables join with no Exchange") {
    import spark.implicits._
    val base = tempDir("graft-bucket").toString
    val facts = Seq.tabulate(200)(i => (i.toLong % 50, i.toLong, i * 1.5))
      .toDF("key", "seq", "v")
    val dims = Seq.tabulate(50)(i => (i.toLong, s"d$i")).toDF("key", "name")
    GraphStore.writeBucketedTable(facts, "b_facts", buckets = 4,
      bucketCols = Seq("key"), sortCols = Seq("key"), path = Some(s"$base/f"))
    GraphStore.writeBucketedTable(dims, "b_dims", buckets = 4,
      bucketCols = Seq("key"), sortCols = Seq("key"), path = Some(s"$base/d"))
    try {
      val joined = spark.table("b_facts")
        .join(spark.table("b_dims").hint("merge"), "key")
      val rows = joined.collect()
      assert(rows.length === 200)
      // the write paid the shuffle; the join must not repeat it (the
      // per-bucket in-memory merge Sort remains — Spark ≥ 3 ignores
      // on-disk sortBy order without a legacy conf)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      // same answer as the plain (shuffling) join
      val expected = facts.join(dims, "key").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
      assert(rows.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet === expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("date-partitioned writes prune partitions at the scan") {
    import spark.implicits._
    val base = tempDir("graft-part").toString
    val rows = Seq.tabulate(300)(i =>
      (i.toLong, s"2024-01-${i % 3 + 1}", i * 2.0)).toDF("id", "day", "v")
    rows.write.partitionBy("day").parquet(s"$base/t")
    val read = spark.read.parquet(s"$base/t").filter(col("day") === "2024-01-2")
    assert(read.count() === 100)
    // the predicate must become a PartitionFilter (directory pruning —
    // the scan never opens the other days' files), not a data filter
    val f = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"day predicate not applied as a partition filter:\n$f")
    def files(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles
      }.sum
    val scannedFiles = files(read)
    val allFiles = files(spark.read.parquet(s"$base/t"))
    assert(scannedFiles < allFiles,
      s"pruned scan reads $scannedFiles of $allFiles files - nothing pruned")
  }

  test("checkViolations: definite FALSE flags, NULL passes, all six operators") {
    import spark.implicits._
    import graft.lang.Ast.{CheckCmp, CmpOp, Literal, LitKind}
    val df = Seq(
      (1L, Some(10L), Some(1.5), Some("ok")),
      (2L, Some(100L), Some(1.5), Some("ok")),   // qty < 100 fails
      (3L, None, Some(1.5), Some("ok")),          // NULL qty passes
      (4L, Some(10L), Some(0.0), Some("ok")),     // price > 0.0 fails
      (5L, Some(10L), None, Some("void")),        // state != 'void' fails
      (6L, Some(10L), Some(2.0), None)            // NULL state passes
    ).toDF("id", "qty", "price", "state")
    def num(t: String) = Literal(LitKind.Num, t)
    val cmps = Seq(
      CheckCmp("qty", CmpOp.Ge, num("0")),
      CheckCmp("qty", CmpOp.Lt, num("100")),
      CheckCmp("price", CmpOp.Gt, num("0.0")),
      CheckCmp("state", CmpOp.Ne, Literal(LitKind.Str, "void")))
    val bad = Constraints.checkViolations(df, Seq(cmps))
      .select("id").as[Long].collect().sorted
    // NULL in one atom does NOT mask a definite FALSE in another (the
    // conjunction is FALSE whenever any atom is FALSE), and rows whose
    // only non-TRUE atoms are NULL pass
    assert(bad.toSeq === Seq(2L, 4L, 5L))
    // Eq / Le round out the operators
    val eqBad = Constraints.checkViolations(df,
        Seq(Seq(CheckCmp("state", CmpOp.Eq, Literal(LitKind.Str, "ok")),
          CheckCmp("id", CmpOp.Le, num("5")))))
      .select("id").as[Long].collect().sorted
    assert(eqBad.toSeq === Seq(5L, 6L))
    // DNF: a row violates only when EVERY disjunct is definitely FALSE
    // (qty < 100 OR price > 0.0) — row 2 fails the first but passes the
    // second; only a row failing both flags. Field-vs-field atoms
    // compare sibling columns; NULL on either side passes the atom.
    val orBad = Constraints.checkViolations(df,
        Seq(Seq(CheckCmp("qty", CmpOp.Lt, num("100"))),
          Seq(CheckCmp("price", CmpOp.Gt, num("1.6")))))
      .select("id").as[Long].collect().sorted
    assert(orBad.toSeq === Seq(2L)) // row 4: price 0.0 fails but qty ok
    // field-vs-field: price > qty is definitely FALSE on rows 1,2,4,6;
    // rows 3 and 5 have a NULL side and pass
    val fvf = Constraints.checkViolations(df,
        Seq(Seq(CheckCmp("price", CmpOp.Gt, num("0"),
          rhsField = Some("qty")))))
      .select("id").as[Long].collect().sorted
    assert(fvf.toSeq === Seq(1L, 2L, 4L, 6L))
  }

  test("ingest reads csv/json with the catalog schema, never inference") {
    import graft.catalog.Ddl
    import graft.lang.Parser
    val cat = Parser.parse(
      "CREATE NODE P (name: string NOT NULL, age: int, score: float, ok: bool);")
      .foldLeft(graft.catalog.GraphCatalog.empty)(Ddl.apply)
    val nt = cat.nodes("P")
    val dir = tempDir("graft-ingest").toString
    import spark.implicits._
    val df = Seq((1L, "a", 30L, 1.5, true), (2L, "b", 25L, 2.5, false))
      .toDF("_id", "name", "age", "score", "ok")
    GraphStore.writeTable(df, s"$dir/csv", format = "csv")
    GraphStore.writeTable(df, s"$dir/json", format = "json")
    GraphStore.writeTable(df, s"$dir/orc", format = "orc")
    Seq("csv" -> s"$dir/csv", "json" -> s"$dir/json",
        "orc" -> s"$dir/orc").foreach { case (fmt, path) =>
      val back = Ingest.readNodes(spark, nt, path, format = fmt)
      // file sources force nullable=true on read (Spark semantics);
      // names and types must match the catalog exactly
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
        === Ingest.nodeSchema(nt).fields.map(f => (f.name, f.dataType)).toSeq, fmt)
      val r = back.orderBy("_id").collect()
      assert(r.map(_.getAs[Long]("age")).toSeq === Seq(30L, 25L), fmt)
      assert(r.map(_.getAs[Double]("score")).toSeq === Seq(1.5, 2.5), fmt)
      assert(r.map(_.getAs[Boolean]("ok")).toSeq === Seq(true, false), fmt)
    }
    // malformed rows surface as nulls for the constraint finders, not a
    // mid-scan failure: age gets a non-numeric value
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/bad"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad/part-00000.csv"),
      "_id,name,age,score,ok\n3,c,notanum,1.0,true\n")
    val bad = Ingest.readNodes(spark, nt, s"$dir/bad", format = "csv")
    val row = bad.collect()(0)
    assert(row.isNullAt(row.fieldIndex("age")))
    assert(graft.store.Constraints.notNullViolations(
      bad.filter(col("name").isNull), Seq("name")).isEmpty)
  }

  test("a scripted INDEX yields the bucketed exchange-free join (row 8c via DDL)") {
    import spark.implicits._
    // the INDEX field option is the scriptable face of the layout
    // lever: CREATE ... INDEX puts bucketBy in the catalog, and
    // persisting through writeIndexedTable applies it
    val cat = graft.lang.Parser.parse(
      """CREATE NODE Fact (key: int INDEX, v: float);
        |CREATE NODE Dim (key: int INDEX, name: string);""".stripMargin)
      .foldLeft(graft.catalog.GraphCatalog.empty)(graft.catalog.Ddl.apply)
    val facts = Seq.tabulate(200)(i => (i.toLong % 50, i * 1.5)).toDF("key", "v")
    val dims = Seq.tabulate(50)(i => (i.toLong, s"d$i")).toDF("key", "name")
    GraphStore.writeIndexedTable(facts, "ix_facts", cat.nodes("Fact").layout)
    GraphStore.writeIndexedTable(dims, "ix_dims", cat.nodes("Dim").layout)
    try {
      val joined = spark.table("ix_facts")
        .join(spark.table("ix_dims").hint("merge"), "key")
      assert(joined.count() === 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ix_facts")
      spark.sql("DROP TABLE IF EXISTS ix_dims")
    }
  }

  test("DNF CHECK violation predicate pushes to the parquet scan (CNF of complements)") {
    import spark.implicits._
    import graft.lang.Ast.{CheckCmp, CmpOp, Literal, LitKind}
    val base = tempDir("graft-checkpush").toString
    // CHECK (disc <= 0.05 AND qty < 30 OR qty >= 45):
    //   rows 1-3 satisfy one disjunct each; row 4 fails both -> violates
    Seq((1L, 10.0, 0.02), (2L, 50.0, 0.09), (3L, 20.0, 0.05),
        (4L, 35.0, 0.07))
      .toDF("id", "qty", "disc").write.parquet(s"$base/t")
    val df = spark.read.parquet(s"$base/t")
    def num(t: String) = Literal(LitKind.Num, t)
    val bad = Constraints.checkViolations(df, Seq(
      Seq(CheckCmp("disc", CmpOp.Le, num("0.05")), CheckCmp("qty", CmpOp.Lt, num("30.0"))),
      Seq(CheckCmp("qty", CmpOp.Ge, num("45.0")))))
    assert(bad.select("id").as[Long].collect().toSeq === Seq(4L))
    // the complement compiles to (disc > 0.05 OR qty >= 30) AND qty < 45
    // - every conjunct is a literal comparison, so BOTH reach the scan
    // and row-group stats can skip wholly-conforming groups
    val f = bad.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.matches("(?s).*PushedFilters: \\[[^\\]]*Or\\(GreaterThan\\(disc[^\\]]*\\].*"),
      s"CNF complement did not push:\n$f")
    assert(f.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(qty,45.0\\)[^\\]]*\\].*"),
      s"second conjunct did not push:\n$f")
  }
}

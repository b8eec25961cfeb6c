package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused walk-pick expressions must be bit-identical to the
  * min/max(struct) SQL formulations whose semantics the unrolled
  * DuckDB oracles pin — including digest tie behavior, the 52-bit
  * uniform construction, Spark's HALF_UP 9dp round of the A-ES key,
  * and the null/dead-end contract.
  */
class WalkExpressionsSpec extends SparkSpec with graft.TempDirs {

  /** Random (walk_id, sorted nbrs, prev, pnbrs) rows, including dead
    * ends (empty nbrs), first-step rows (null prev/pnbrs), and
    * prev-in-nbrs rows so every α branch is exercised.
    */
  private lazy val rows: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    Seq.tabulate(400) { i =>
      val nbrs = Seq.fill(rnd.nextInt(12))(rnd.nextInt(40).toLong)
        .distinct.sorted
      val firstStep = rnd.nextBoolean() || nbrs.isEmpty
      val prev =
        if (firstStep) Option.empty[Long]
        else if (rnd.nextBoolean()) Some(nbrs(rnd.nextInt(nbrs.size)))
        else Some(rnd.nextInt(40).toLong)
      val pnbrs =
        if (firstStep) Option.empty[Seq[Long]]
        else Some(Seq.fill(rnd.nextInt(8))(rnd.nextInt(40).toLong)
          .distinct.sorted)
      (i.toLong, nbrs, prev, pnbrs)
    }.toDF("walk_id", "nbrs", "prev", "pnbrs")
  }

  private val step = 3

  test("uniform pick matches min(struct(md5, nb)) over the exploded candidates") {
    val viaExpr = rows.select(col("walk_id"),
        WalkFunctions.uniformWalkPick(col("walk_id"), col("nbrs"), step).as("nb"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val viaSql = rows.select(col("walk_id"), explode(col("nbrs")).as("b"))
      .withColumn("h", md5(concat_ws(":", col("walk_id"), lit(step), col("b"))))
      .groupBy(col("walk_id"))
      .agg(min(struct(col("h"), col("b"))).as("m"))
      .select(col("walk_id"), col("m.b").as("nb"))
      .collect().map(r => r.getLong(0) -> Some(r.getLong(1))).toMap
    // explode drops empty arrays: those walkers must be null via the expr
    rows.collect().foreach { r =>
      val id = r.getLong(0)
      if (r.getSeq[Long](1).isEmpty) assert(viaExpr(id).isEmpty, s"walker $id")
      else assert(viaExpr(id) === viaSql(id), s"walker $id")
    }
  }

  test("node2vec pick matches max(struct(round(pow(u,1/α),9), nb)) with every α branch") {
    val p = 0.25
    val q = 4.0
    val viaExpr = rows.select(col("walk_id"),
        WalkFunctions.node2vecWalkPick(col("walk_id"), col("nbrs"),
          col("pnbrs"), col("prev"), step, p, q).as("nb"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val cand = rows.select(col("walk_id"), col("prev"), col("pnbrs"),
        explode(col("nbrs")).as("b"))
    val u = conv(substring(md5(
        concat_ws(":", col("walk_id"), lit(step), col("b"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0)
    val adj = coalesce(array_contains(col("pnbrs"), col("b")), lit(false))
    val alpha = when(col("b") === col("prev"), lit(1.0 / p))
      .when(adj, lit(1.0)).otherwise(lit(1.0 / q))
    val viaSql = cand
      .withColumn("k", round(pow(u, lit(1.0) / alpha), 9))
      .groupBy(col("walk_id"))
      .agg(max(struct(col("k"), col("b"))).as("m"))
      .select(col("walk_id"), col("m.b").as("nb"))
      .collect().map(r => r.getLong(0) -> Some(r.getLong(1))).toMap
    rows.collect().foreach { r =>
      val id = r.getLong(0)
      if (r.getSeq[Long](1).isEmpty) assert(viaExpr(id).isEmpty, s"walker $id")
      else assert(viaExpr(id) === viaSql(id), s"walker $id")
    }
  }

  test("picks run inside WholeStageCodegen, not interpreted fallback") {
    // parquet-backed input: over a LocalRelation the whole projection
    // constant-folds at plan time and no codegen stage appears at all
    val dir = tempDir("walkpick").toString
    rows.write.mode("overwrite").parquet(dir)
    val rowsP = spark.read.parquet(dir)
    val plan = rowsP.select(
        WalkFunctions.uniformWalkPick(col("walk_id"), col("nbrs"), 1).as("a"),
        WalkFunctions.node2vecWalkPick(col("walk_id"), col("nbrs"),
          col("pnbrs"), col("prev"), 1, 0.5, 2.0).as("b"))
      .queryExecution.executedPlan
    val formatted = plan.toString
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen
    // stage; the Project carrying both picks must wear one (an
    // expression without doGenCode would force the Project out of the
    // codegen stage, dropping the star — the r6 fold's failure mode)
    assert(formatted.matches("(?s).*\\*\\(\\d+\\) Project \\[uniform_walk_pick.*"),
      formatted)
    assert(formatted.contains("node2vec_walk_pick"), formatted)
  }

  test("interpreted eval agrees with codegen (spark.sql.codegen.wholeStage=false)") {
    val before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val factory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      val withCodegen = rows.select(col("walk_id"),
          WalkFunctions.uniformWalkPick(col("walk_id"), col("nbrs"), step).as("a"),
          WalkFunctions.node2vecWalkPick(col("walk_id"), col("nbrs"),
            col("pnbrs"), col("prev"), step, 0.25, 4.0).as("b"))
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = rows.select(col("walk_id"),
          WalkFunctions.uniformWalkPick(col("walk_id"), col("nbrs"), step).as("a"),
          WalkFunctions.node2vecWalkPick(col("walk_id"), col("nbrs"),
            col("pnbrs"), col("prev"), step, 0.25, 4.0).as("b"))
        .collect().map(r => (r.getLong(0), r.get(1), r.get(2)))
      assert(withCodegen.sortBy(_._1).toSeq === interpreted.sortBy(_._1).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", before)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
    }
  }
}

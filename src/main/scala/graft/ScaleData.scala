package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an N× scale copy of an sf dir for scale-progression
  * measurement (SURVEY §19): union of N key-shifted copies of each
  * fact table, dims (nation/region) shared. Copy i shifts every
  * BIGINT key column by i·10⁹ — referential integrity holds WITHIN a
  * copy (all foreign keys shift by the same stride), so the graph
  * substrates become N disjoint replicas: frontier volume scales ~N×
  * while diameter stays constant, exactly the shape a constant-depth
  * corpus growth takes at 100 TB. Embedding vectors are additionally
  * ROTATED by i positions (norm- and within-copy-distance-preserving)
  * so the N copies do not collapse into exact duplicate points for the
  * kNN/DBSCAN faces.
  *
  * Usage: runMain graft.ScaleData [srcSfDir] [outDir]
  *   GRAFT_SCALE_COPIES (default 10)
  *
  * The output dir then serves as a drop-in SPARK_GRAFT_SF_DIR for
  * graft.Bench, so the 1× vs N× comparison runs the identical bench
  * protocol at both scales.
  */
object ScaleData {

  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "documents" -> Seq("doc_id"),
    "events" -> Seq("event_id", "user_id"),
    "embeddings" -> Seq("vec_id"))

  private val Stride = 1000000000L

  def build(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    require(copies >= 1)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    // shared dims: copied verbatim (replicating them would multiply the
    // dim domain, not the fact volume — fan-IN is what grows at scale)
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
    shiftCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val dim =
        if (t == "embeddings") {
          // r12 advisory: first() threw on an empty table, and r = i %
          // dim degenerates to the identity when dim | i — guard both
          val head = base.select(size(col("embedding"))).limit(1).collect()
          val d = if (head.isEmpty) 0 else head(0).getInt(0)
          require(d == 0 || copies <= d,
            s"GRAFT_SCALE_COPIES=$copies exceeds embedding dim $d: " +
              "rotation r = i % dim would repeat exact duplicate point " +
              "sets (the anti-collapse rotation becomes the identity)")
          d
        } else 0
      val parts = (0 until copies).map { i =>
        val shifted = keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * Stride))
        }
        val copyDf =
          if (t == "embeddings" && i > 0 && dim > 0) {
            val r = i % dim
            shifted.withColumn("embedding",
              concat(slice(col("embedding"), r + 1, dim - r),
                slice(col("embedding"), 1, r)))
          } else shifted
        copyDf.select(base.columns.map(col).toSeq: _*)
      }
      parts.reduce(_.unionByName(_)).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/dev/shm/graft_scale10x"
    val copies = sys.env.getOrElse("GRAFT_SCALE_COPIES", "10").toInt
    val spark = GraftSession.local()
    build(spark, src, out, copies)
    println(s"""{"scale_dir":"$out","copies":$copies,"src":"$src"}""")
    spark.stop()
  }
}

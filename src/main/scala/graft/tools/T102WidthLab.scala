package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev lab (r19 verdict ask #5): probe t102's WIDTH SCHEDULE with a
  * measured point beyond the pinned 8×24 config. The schedule at the op
  * says chance same-band pairs ≈ J·bands·C(N,2)/2^bits (J ≤ ~5 at 64
  * dims, PlaneFamilyLab), so moving 24 → 30 bits must cut the chance
  * candidate mass by ~2⁶× at a corpus size where 24-bit bands have
  * begun to carry birthday pairs. Run against a ScaleProbe fixture
  * (e.g. 100× embeddings = 200k vectors, where the model expects
  * 8·C(200k,2)/2²⁴ ≈ 9.5k chance pairs at 24 bits vs ≈ 150 at 30).
  *
  * Prints, per config: distinct candidate pairs out of the banded
  * self-join, survivors of the exact cosine ≥ 0.2 re-rank, and the
  * end-to-end wall — the numbers the width schedule predicts.
  *
  * Usage: runMain graft.tools.T102WidthLab <fixtureDir> [bands,bits ...]
  *        (default configs: 8,24 and 8,30)
  */
object T102WidthLab {
  private def pipeline(spark: SparkSession, dir: String,
      bands: Int, bits: Int): DataFrame = {
    import graft.queries.Tables.t
    val emb = t(spark, dir, "embeddings")
    val banded = emb.select(col("vec_id"),
        posexplode(expr(s"hyperplane_bands(embedding, $bands, $bits)")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("band"),
        col("col").cast("int").as("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_s100")
    val configs =
      if (args.length > 1) args.drop(1).toSeq.map { s =>
        val Array(b, w) = s.split(","); (b.toInt, w.toInt)
      }
      else Seq((8, 24), (8, 30))
    val spark = graft.core.GraftSession.builder("t102widthlab")
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    import graft.queries.Tables.t
    val n = t(spark, dir, "embeddings").count()
    println(s"fixture: $n vectors at $dir")
    for ((bands, bits) <- configs) {
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val cands = pipeline(spark, dir, bands, bits).cache()
      val nCands = cands.count()
      // exact cosine re-rank over the candidates (t102's tail)
      def dotSql(a: String, b: String) = s"float_dot($a, $b)"
      val emb = t(spark, dir, "embeddings")
      val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        expr(dotSql("embedding", "embedding")).as("na"))
      val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        expr(dotSql("embedding", "embedding")).as("nb"))
      val nSurvivors = cands.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cosine", expr(dotSql("ea", "eb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .filter(col("cosine") >= 0.2).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val model = bands.toDouble * n * (n - 1) / 2.0 / math.pow(2.0, bits)
      cands.unpersist()
      println(f"($bands%d,$bits%2d): candidates $nCands%10d  " +
        f"(model chance ${model}%10.1f)  cosine>=0.2 survivors $nSurvivors%8d  " +
        f"wall $wall%6.2f s")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Dev lab (r16): decompose t12's 30× ScaleProbe curve (21.7× wall for
  * 30× data — the steepest surviving ratio) into its stages and test
  * the density hypothesis: with FIXED 16-bit bands the random-collision
  * candidate count is a birthday integral, E[cands] ≈ 4·C(n,2)/2^16,
  * i.e. inherently quadratic in N once buckets saturate — a property of
  * the published fixed-width banding scheme, not of the plan. The probe
  * prints measured candidate counts next to that expectation and
  * per-stage walls (band signatures; candidate self-join + distinct;
  * exact cosine re-rank) at 1× and 30×, so the curve can be attributed.
  * Usage: runMain graft.tools.T12Probe <thirtyXDir> [sfDir]
  *   (thirtyXDir = a ScaleProbe-generated fixture dir)
  */
object T12Probe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: T12Probe <thirtyXDir> [sfDir]"); sys.exit(2)
    }
    val bigDir = args(0)
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    // t12's plane/dot recipes, replicated verbatim (they are
    // private[queries]; the LCG is pinned by the oracle either way)
    def dotSql(a: String, b: String): String = s"float_dot($a, $b)"
    def planeCol(j: Int): Column = typedlit((1 to 64).map { d =>
      val m = (j.toLong * 1103515245L + d.toLong * 12345L) % 32768L
      m.toDouble / 32768.0 - 0.5
    })
    def dotCol(a: Column, b: Column): Column =
      call_function("float_dot", a, b)

    def stages(dir: String): Unit = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label%-14s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
      }
      def signCol(j: Int): Column =
        when(dotCol(col("embedding"), planeCol(j)) > 0, 1).otherwise(0)
      def bucketOf(k: Int): Column = (0 until 16)
        .map(i => signCol((k - 1) * 16 + i + 1) * lit(1 << i))
        .reduce(_ + _)
      val bands = emb.select(
          col("vec_id") +: (1 to 4).map(k =>
            bucketOf(k).cast("int").as(s"b$k")): _*)
        .select(col("vec_id"), explode(array((1 to 4).map(k =>
          struct(lit(k).as("band"), col(s"b$k").as("bucket"))): _*)).as("bb"))
        .select(col("vec_id"), col("bb.band"), col("bb.bucket"))
        .cache()
      t("bands")(bands.count())
      val rawPairs = t("raw_pairs") {
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") < col("b.vec_id"))
          .count()
      }
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct().cache()
      val nCands = t("distinct")(cands.count())
      t("rerank") {
        val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
        val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
        cands.join(ea, "vec_a").join(eb, "vec_b")
          .withColumn("dot", expr(dotSql("ea", "eb")))
          .withColumn("na", expr(dotSql("ea", "ea")))
          .withColumn("nb", expr(dotSql("eb", "eb")))
          .select(col("vec_a"), col("vec_b"),
            (col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
              .as("cosine"))
          .filter(col("cosine") >= 0.2)
          .write.format("noop").mode("overwrite").save()
      }
      val expRandom = 4.0 * n * (n - 1) / 2.0 / 65536.0
      println(f"  n=$n%d raw_pairs=$rawPairs%d cands=$nCands%d " +
        f"E[random]=${expRandom}%.0f cands/E=${nCands / expRandom}%.2f")
      bands.unpersist(); cands.unpersist(); ()
    }
    println(s"== 1x ($baseDir)"); stages(baseDir)
    println(s"== big ($bigDir)"); stages(bigDir)
    spark.stop()
  }
}

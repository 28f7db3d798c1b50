package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r18, verdict ask #1): candidate/answer density probe for
  * t101 (64-bit SimHash near-dup pairs) on the token-MANGLED fixture —
  * T18Probe's method applied to the width-parameterized twin, to
  * measure that widening the fingerprint actually flattened the curve.
  *
  * Density math for a UNIFORM 64-bit fingerprint, printed next to the
  * measurements:
  *   E[raw band pairs]  = 4 · C(n,2) / 65536     (4 bands, 16-bit keys)
  *   E[hamming≤3 pairs] = C(n,2) · 43745 / 2⁶⁴   (Σ_{k≤3} C(64,k))
  * The FIRST is still birthday-quadratic but 256× below t18's floor
  * (wider band keys); the SECOND is ≈ 0 at any realistic n — so unlike
  * t18 (whose hamming≤1 answer converged on C(n,2)·17/2¹⁶, 17.9M rows
  * at 30×), t101's answer should track the TRUE intra-copy near-dup
  * count, i.e. grow LINEARLY with the factor. That linearity is the
  * whole point of the width parameterization.
  *
  * Usage: runMain graft.tools.T101Probe [outDir [factor]]
  */
object T101Probe {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_t101_probe"
    val factor = if (args.length > 1) args(1).toInt else 30
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)

    val src = "/root/testdata/sf0.1"
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n0 = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until factor).map { k =>
      val mangled =
        if (k == 0) docs
        else docs.withColumn("text", expr(
          s"concat_ws(' ', transform(split(text, ' '), w -> concat('k$k', w)))"))
      mangled.withColumn("doc_id", col("doc_id") + lit(k * n0))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"probe fixture: ${spark.read.parquet(s"$out/documents.parquet").count()} docs at $out")

    def stages(dir: String): Unit = {
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label%-16s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
      }
      val sims = graft.queries.TrainingData.simhash64(spark, dir).cache()
      val n = t("sigs")(sims.count())
      val bands = sims.select(col("doc_id"), col("simhash64"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          expr(s"cast(shiftright(simhash64, ${16 * b}) & 65535 as int)")
            .as("value"))): _*)).as("bv"))
        .select(col("doc_id"), col("simhash64"), col("bv.band"), col("bv.value"))
        .cache()
      t("bands")(bands.count())
      val joined = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.value") === col("b.value") &&
          col("a.doc_id") < col("b.doc_id"))
      val rawPairs = t("raw_pairs")(joined.count())
      val answers = t("verify_distinct") {
        joined
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr("bit_count(a.simhash64 ^ b.simhash64)").as("hamming"))
          .filter(col("hamming") <= 3)
          .distinct()
          .count()
      }
      val hot = bands.groupBy("band", "value").count()
        .agg(max("count")).head.getLong(0)
      val c2 = n.toDouble * (n - 1) / 2.0
      val eRaw = 4.0 * c2 / 65536
      val eAns = c2 * 43745.0 / math.pow(2, 64)
      println(f"  n=$n%d raw_pairs=$rawPairs%d answers=$answers%d " +
        f"hottest_bucket=$hot%d")
      println(f"  E[raw|uniform]=$eRaw%.0f (meas/E=${rawPairs / eRaw}%.2f)  " +
        f"E[ans|uniform]=$eAns%.2e (answers are TRUE near-dups, expect ~linear in factor)")
      sims.unpersist(); bands.unpersist(); ()
    }

    def full(dir: String): Double = {
      val runs = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries("t101_simhash64_neardup")(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    println(s"== 1x ($src)"); stages(src)
    println(s"== ${factor}x ($out)"); stages(out)
    val base = full(src); val big = full(out)
    println(f"t101 full query: sf0.1 $base%6.2f s   ${factor}x $big%6.2f s   ratio ${big / base}%5.2f")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r20, verdict ask #1): candidate/answer density probe for
  * t105 (128-bit SimHash, width-SCHEDULED bands) on the token-MANGLED
  * fixture — T101Probe's method applied one width decade up, to measure
  * that scheduling the band width actually sheds t101's candidate
  * integral.
  *
  * Density math for a uniform fingerprint at the derived width w
  * (printed next to the measurements):
  *   E[raw band pairs]  = 4 · C(n,2) / 2^w      (4 quarter-anchored bands)
  *   E[hamming≤3 pairs] = C(n,2) · Σ_{k≤3}C(128,k) / 2¹²⁸ ≈ 0
  * t101's fixed 4×16 bands pin the first term to 4·C(n,2)/2¹⁶ (10.7M at
  * 30×, measured in r18); the schedule w = ⌈log₂N⌉+4 holds it at
  * ~4·2⁻⁵·n/2 ≈ n/16 per band instead — LINEAR in the corpus. The
  * ANSWER is schedule-independent (quarter pigeonhole is lossless at
  * any w ≤ 32) and tracks TRUE near-dups, like t101's.
  *
  * Usage: runMain graft.tools.T105Probe [outDir [factor]]
  */
object T105Probe {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_t105_probe"
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

    // Candidate decomposition: REAL text makes fingerprint bits
    // correlated (shared tokens dominate votes), so same-copy docs
    // carry an irreducible similar-fingerprint pair mass that no band
    // width removes — but that mass is LINEAR in the corpus (a
    // per-copy constant; measured ~70k/copy at w=22, shrinking as the
    // schedule widens w). The birthday term the schedule exists to
    // control is the CROSS-copy pairs (disjoint token spaces →
    // independent md5 votes → uniform-model territory): those must
    // track 4·C(n,2)/2^w as n grows. The probe prints both.
    def stages(dir: String): Unit = {
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label%-16s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
      }
      val sims = graft.queries.TrainingData.simhash128(spark, dir).cache()
      val n = t("sigs")(sims.count())
      val w = graft.queries.TrainingData.simhash128BandBits(n)
      val mask = (1L << w) - 1
      val bands = sims.select(col("doc_id"), col("w0"), col("w1"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          expr(s"shiftright(${if (b < 2) "w0" else "w1"}, ${32 * (b % 2)})"
            + s" & ${mask}L").as("value"))): _*)).as("bv"))
        .select(col("doc_id"), col("w0"), col("w1"),
          col("bv.band"), col("bv.value"))
        .cache()
      t("bands")(bands.count())
      val joined = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.value") === col("b.value") &&
          col("a.doc_id") < col("b.doc_id"))
      val rawPairs = t("raw_pairs")(joined.count())
      // copies are doc_id blocks of n0 (the mangle transform's id shift)
      val crossPairs = t("cross_copy_pairs")(joined
        .filter(expr(s"a.doc_id div ${n0}L") =!= expr(s"b.doc_id div ${n0}L"))
        .count())
      val answers = t("verify_distinct") {
        joined
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            expr("bit_count(a.w0 ^ b.w0) + bit_count(a.w1 ^ b.w1)").as("hamming"))
          .filter(col("hamming") <= 3)
          .distinct()
          .count()
      }
      val hot = bands.groupBy("band", "value").count()
        .agg(max("count")).head.getLong(0)
      val c2 = n.toDouble * (n - 1) / 2.0
      val eRaw = 4.0 * c2 / math.pow(2, w)
      val copies = math.max(1L, n / n0)
      // cross-copy C(n,2) mass = C(n,2) − copies·C(n0,2)
      val c2cross = c2 - copies * (n0.toDouble * (n0 - 1) / 2.0)
      val eCross = 4.0 * c2cross / math.pow(2, w)
      println(f"  n=$n%d w=$w%d raw_pairs=$rawPairs%d " +
        f"(same_copy=${rawPairs - crossPairs}%d = " +
        f"${(rawPairs - crossPairs) / copies}%d/copy, LINEAR text mass) " +
        f"answers=$answers%d hottest_bucket=$hot%d")
      println(f"  chance term: cross_copy=$crossPairs%d vs " +
        f"E[uniform]=$eCross%.0f (meas/E=${
          if (eCross > 0) crossPairs / eCross else 0.0}%.2f — the " +
        "birthday integral the width schedule controls)")
      println("  (answers are TRUE near-dups, expect ~linear in factor)")
      sims.unpersist(); bands.unpersist(); ()
    }

    def full(dir: String): Double = {
      val runs = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries("t105_simhash128_neardup")(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    println(s"== 1x ($src)"); stages(src)
    println(s"== ${factor}x ($out)"); stages(out)
    val base = full(src); val big = full(out)
    println(f"t105 full query: sf0.1 $base%6.2f s   ${factor}x $big%6.2f s   ratio ${big / base}%5.2f")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r17, verdict ask #1): 30× stage-wall + candidate-density
  * probe for t18 (SimHash pigeonhole near-dup pairs) — the same method
  * that decomposed t12's curve (T12Probe) applied to the other
  * bucket-join + verify pair op that had never been probed past 1×.
  *
  * Fixture note: ScaleProbe's word-ROTATED copies are INVALID for t18.
  * simhash16 hashes the token MULTISET (order-free), which rotation
  * preserves exactly — every rotated copy would carry an IDENTICAL
  * fingerprint and the fixture would manufacture 30-cliques at hamming
  * 0, probing a fabricated curve. This probe instead builds copies with
  * a per-copy TOKEN MANGLE (`w → k<k>·w` for copy k): intra-copy
  * structure (true dups, token-count stats) is preserved, while
  * cross-copy token sets are disjoint so cross-copy fingerprints are
  * independent md5 draws — the same "30× more docs at the same
  * intra-dup rate" model ScaleProbe's rotation gives the shingle ops.
  *
  * Density math printed next to the measurements, for a UNIFORM
  * 16-bit fingerprint (the best case — real corpora skew hotter):
  *   E[raw band pairs]  = 2 · C(n,2) / 256      (2 bands, 8-bit keys)
  *   E[hamming≤1 pairs] = C(n,2) · 17 / 65536   (1 exact + 16 one-off)
  * BOTH are Θ(n²): with a FIXED 16-bit hash the answer itself is
  * quadratic in the corpus, and banding adds a bounded ~×2 candidate
  * factor over the answer's own floor (C(n,2)/128 vs C(n,2)/3855 ≈
  * 30×; the verify is one codegen'd bit_count per candidate row). The
  * scale path is widening the fingerprint with the corpus (t18's
  * scaladoc: b+1 bands of a wider hash retrieve hamming ≤ b exactly,
  * keys scale as 2^(width/bands)), which changes the answer — so it is
  * a different operator, not a missed optimization here.
  *
  * Usage: runMain graft.tools.T18Probe [outDir [factor]]
  */
object T18Probe {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/graft_t18_probe"
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
      val sims = graft.queries.TrainingData.simhash16(spark, dir).cache()
      val n = t("sigs")(sims.count())
      val bands = sims.select(col("doc_id"), col("simhash16"),
        explode(array((0 until 2).map(b => struct(lit(b).as("band"),
          ((col("simhash16") divide lit(1 << (8 * b))).cast("int") % 256)
            .as("value"))): _*)).as("bv"))
        .select(col("doc_id"), col("simhash16"), col("bv.band"), col("bv.value"))
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
            expr("bit_count(a.simhash16 ^ b.simhash16)").as("hamming"))
          .filter(col("hamming") <= 1)
          .distinct()
          .count()
      }
      // hottest (band, value) bucket — the skew the join's reducers see
      val hot = bands.groupBy("band", "value").count()
        .agg(max("count")).head.getLong(0)
      val c2 = n.toDouble * (n - 1) / 2.0
      println(f"  n=$n%d raw_pairs=$rawPairs%d answers=$answers%d " +
        f"hottest_bucket=$hot%d")
      println(f"  E[raw|uniform]=${2.0 * c2 / 256}%.0f (meas/E=${rawPairs / (2.0 * c2 / 256)}%.2f)  " +
        f"E[ans|uniform]=${c2 * 17 / 65536}%.0f (meas/E=${answers / (c2 * 17 / 65536)}%.2f)")
      sims.unpersist(); bands.unpersist(); ()
    }

    def full(dir: String): Double = {
      val runs = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries("t18_simhash_neardup")(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    println(s"== 1x ($src)"); stages(src)
    println(s"== ${factor}x ($out)"); stages(out)
    val base = full(src); val big = full(out)
    println(f"t18 full query: sf0.1 $base%6.2f s   ${factor}x $big%6.2f s   ratio ${big / base}%5.2f")
    spark.stop()
  }
}

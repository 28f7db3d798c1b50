package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r17, verdict ask #1): 30× stage-wall + candidate-density
  * probe for the MinHash candidate machinery shared by t02 (the raw
  * LSH pair list) and t45 (the band sweep that Jaccard-verifies it) —
  * T12Probe's method on the remaining unprobed pair ops.
  *
  * Fixture: ScaleProbe's word-ROTATED copies (VALID here, unlike t18:
  * minhash runs over word 3-shingles, and rotation destroys shingle
  * continuity, so copies don't near-dup against each other — the
  * corpus grows 30× at the same intra-dup rate).
  *
  * What "healthy" looks like at 30×: MinHash band buckets are md5
  * digests — an UNBOUNDED key space, unlike t18's fixed 256-value
  * bands — so bucket saturation never happens. Candidates come from
  * (a) true near-dups, linear in the corpus at fixed dup rate, and
  * (b) chance 2-minhash agreements between unrelated docs, whose
  * per-pair probability is a corpus-independent function of the
  * Jaccard distribution. The probe prints candidates/n at both scales:
  * flat-ish means (a) dominates (linear regime); growth toward
  * quadratic means (b) — the probe separates them with measured
  * numbers rather than the r16 assumption.
  *
  * Usage: runMain graft.tools.T02Probe <thirtyXDir> [sfDir]
  *   (thirtyXDir = a ScaleProbe-generated fixture dir)
  */
object T02Probe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: T02Probe <thirtyXDir> [sfDir]"); sys.exit(2)
    }
    val bigDir = args(0)
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // base-corpus doc count (copies are id-offset multiples of it);
    // enables the same-original candidate split below
    val baseN = if (args.length > 2) args(2).toLong else 5000L
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)

    def stages(dir: String): Unit = {
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"  $label%-16s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val bands = graft.queries.TrainingData.minhashBands(docs).cache()
      t("shingle_sigs")(bands.count())
      val joined = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      val rawPairs = t("raw_pairs")(joined.count())
      val candsDf = joined
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().cache()
      val cands = t("distinct")(candsDf.count())
      val hot = bands.groupBy("band", "bucket").count()
        .agg(max("count")).head.getLong(0)
      // fixture forensics: candidates between copies of the SAME base
      // document (doc_id ≡ mod n0) vs genuinely-unrelated pairs — the
      // split that tells a real density curve from a manufactured one
      val sameOrig = if (baseN > 0)
        candsDf.filter(col("doc_a") % baseN === col("doc_b") % baseN).count()
      else -1L
      println(f"  n=$n%d raw_pairs=$rawPairs%d cands=$cands%d " +
        f"hottest_bucket=$hot%d cands_per_doc=${cands.toDouble / n}%.3f " +
        f"same_orig=$sameOrig%d")
      bands.unpersist(); candsDf.unpersist(); ()
    }

    def full(name: String, dir: String): Double = {
      val runs = (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    println(s"== 1x ($baseDir)"); stages(baseDir)
    println(s"== big ($bigDir)"); stages(bigDir)
    for (q <- Seq("t02_minhash_lsh", "t45_band_sweep")) {
      val base = full(q, baseDir); val big = full(q, bigDir)
      println(f"$q%-16s sf0.1 $base%6.2f s   big $big%6.2f s   ratio ${big / base}%5.2f")
    }
    spark.stop()
  }
}

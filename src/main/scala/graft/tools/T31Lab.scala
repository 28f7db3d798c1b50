package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev lab (r17 verdict ask #5): decompose t31_ann_recall's 30× wall —
  * the one remaining double-digit sweep ratio (10.2×) not already
  * explained on a constant — into its three stages so the ratio lands
  * on a measured cause:
  *
  *   1. prepared  — the shared index pass (16 float_dot kernels/row:
  *                  8 LSH hyperplanes + 8 IVF centroids), no shuffle;
  *   2. cands     — prepared + the broadcast 1-row query frame + exact
  *                  cosine per row + the 7-config predicate array +
  *                  explode of matching configs (1–7 rows out per row;
  *                  the "exact" ground-truth config admits EVERY row by
  *                  design — that full-corpus re-rank is the suspected
  *                  driver);
  *   3. full      — cands + the partition-local bounded 10-heaps +
  *                  driver-side recall grid (output bounded at
  *                  7·10·partitions rows regardless of corpus size).
  *
  * Each stage materializes through noop, min of 3 cold runs, at the
  * base dir and a ScaleProbe fixture dir. Stage walls are CUMULATIVE
  * (cands contains prepared; full contains cands), so stage cost =
  * successive difference. Usage:
  *   runMain graft.tools.T31Lab [baseDir [scaledDir]]
  * Not driver contract.
  */
object T31Lab {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val scaled = if (args.length > 1) args(1) else "/tmp/graft_sweep_r18"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)

    def time(mk: () => DataFrame): Double =
      (1 to 3).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    val stages: Seq[(String, String => () => DataFrame)] = Seq(
      "prepared" -> (d => () => graft.queries.Curation.t31Prepared(spark, d)),
      "cands" -> (d => () => graft.queries.Curation.t31Cands(spark, d)),
      "full" -> (d => () => graft.SparkEntry.queries("t31_ann_recall")(spark, d)))

    for (dir <- Seq(base, scaled)) {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      println(s"--- $dir ($n vecs)")
      var prev = 0.0
      stages.foreach { case (name, mk) =>
        val w = time(mk(dir))
        println(f"  $name%-9s ${w}%7.2f s   (+${w - prev}%6.2f s over prior stage)")
        prev = w
      }
      // row counts the stages feed forward (the fan-out evidence)
      val cands = graft.queries.Curation.t31Cands(spark, dir).count()
      println(f"  cands rows: $cands%,d (${cands.toDouble / n}%.2f per vec)")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Developer tool: A/B the t18 pair-formation strategies — bands
  * self-join (round 3) vs one-shuffle groupBy+unfold (t03's pattern).
  * Verdict (sf0.1, fast machine phase): self-join 0.85 s / one-shuffle
  * 1.14 s, parity exact on 120,608 pairs — unlike t03, t18's buckets
  * are large (≥2^8 keys only) and skewed, so the interpreted unfold
  * HOF dominates; the codegen'd join wins. Not driver contract. */
object T18Lab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def bandsOf(sims: DataFrame): DataFrame =
      sims.select(col("doc_id"), col("simhash16"),
        explode(array((0 until 2).map(b => struct(lit(b).as("band"),
          ((col("simhash16") divide lit(1 << (8 * b))).cast("int") % 256)
            .as("value"))): _*)).as("bv"))
        .select(col("doc_id"), col("simhash16"),
          col("bv.band"), col("bv.value"))

    def selfJoin(): DataFrame = {
      val bands = bandsOf(graft.queries.TrainingData.simhash16(spark, sfDir))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.value") === col("b.value") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash16 ^ b.simhash16)").as("hamming"))
        .filter(col("hamming") <= 1)
        .distinct()
        .orderBy("doc_a", "doc_b")
    }

    def oneShuffle(): DataFrame = {
      val bands = bandsOf(graft.queries.TrainingData.simhash16(spark, sfDir))
      bands.groupBy("band", "value")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash16"))))
          .as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(expr(
          "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), " +
            "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, " +
            "bit_count(x.simhash16 ^ y.simhash16) AS hamming))))")).as("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(col("hamming") <= 1)
        .distinct()
        .orderBy("doc_a", "doc_b")
    }

    def time(label: String)(f: => DataFrame): Unit = {
      noop(f) // warm
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(f); (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-20s min=${ts.min}%.3f med=${ts.sorted.apply(1)}%.3f")
    }

    val a = selfJoin().collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val b = oneShuffle().collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    println(s"parity: ${a == b} (${a.size} pairs)")
    time("self-join")(selfJoin())
    time("one-shuffle")(oneShuffle())
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r17): attribute t75's 30× wall (10.9 s — the one remaining
  * double-digit sweep ratio after the quality-family regex fix) between
  * the candidate machinery (minhashPairs + two head joins) and the
  * per-pair 160-char levenshtein verify.
  * Usage: runMain graft.tools.T75Lab [dir]
  */
object T75Lab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf3m"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    def t[A](label: String)(f: => A): A = {
      // return the LAST timed run's result (r17 ADVICE: a trailing
      // bare `f` re-evaluated the thunk a third, untimed time)
      var r: Option[A] = None
      val walls = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); r = Some(f); (System.nanoTime() - t0) / 1e9
      }
      println(f"  $label%-22s min ${walls.min}%7.3f s")
      r.get
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val heads = docs
      .select(col("doc_id"), substring(col("text"), 1, 160).as("head"))
      .withColumn("ok", expr("length(head) = octet_length(head)"))
    val pairs = graft.queries.TrainingData.minhashBands(docs).as("a")
      .join(graft.queries.TrainingData.minhashBands(docs).as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val joined = pairs
      .join(heads.select(col("doc_id").as("doc_a"),
        col("head").as("head_a"), col("ok").as("ok_a")), "doc_a")
      .join(heads.select(col("doc_id").as("doc_b"),
        col("head").as("head_b"), col("ok").as("ok_b")), "doc_b")
    t("pairs only")(pairs.write.format("noop").mode("overwrite").save())
    t("pairs+joins")(joined.write.format("noop").mode("overwrite").save())
    t("+levenshtein")(joined
      .withColumn("edit_dist", levenshtein(col("head_a"), col("head_b")))
      .write.format("noop").mode("overwrite").save())
    t("+lev+order")(joined
      .withColumn("edit_dist", levenshtein(col("head_a"), col("head_b")))
      .orderBy("doc_a", "doc_b")
      .write.format("noop").mode("overwrite").save())
    spark.stop()
  }
}

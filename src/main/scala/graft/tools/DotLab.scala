package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A/B: composed aggregate(zip_with) dot vs native float_dot. */
object DotLab {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .localCheckpoint()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val composed = "aggregate(zip_with(a.embedding, b.embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    val native = "float_dot(a.embedding, b.embedding)"
    def time(label: String, e: String): Unit = {
      val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") % 50 === col("b.vec_id") % 50 &&
          col("a.vec_id") < col("b.vec_id"))
      noop(pairs.select(expr(e).as("d"))) // warm
      val t0 = System.nanoTime()
      noop(pairs.select(expr(e).as("d")))
      println(f"$label%-10s ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    time("composed", composed)
    time("native", native)
    // parity: identical doubles
    val both = emb.as("a").join(emb.as("b"),
      col("a.vec_id") % 200 === col("b.vec_id") % 200 &&
        col("a.vec_id") < col("b.vec_id"))
      .select(expr(composed).as("c"), expr(native).as("n"))
      .filter(col("c") =!= col("n"))
    println(s"mismatches: ${both.count()}")
    spark.stop()
  }
}

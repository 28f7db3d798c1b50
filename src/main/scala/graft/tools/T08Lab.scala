package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r17): attribute t08's per-doc cost (29× wall at the 30×
  * sweep — linear, but ~3 ms core-time per document, suspicious for a
  * scoring map shared by the whole quality family via qualityInputs).
  * Times each input column in isolation on the 30× fixture.
  * Usage: runMain graft.tools.T08Lab [dir]
  */
object T08Lab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf3m"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "n_chars")
    def t(label: String, c: org.apache.spark.sql.Column): Unit = {
      val walls = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        docs.select(sum(c.cast("long")).as("s")).head
        (System.nanoTime() - t0) / 1e9
      }
      println(f"  $label%-26s min ${walls.min}%7.3f s")
    }
    // warm the scan once so no variant is charged for it
    docs.select(sum(length(col("text")))).head
    t("n_tokens(split)", size(split(col("text"), " ")))
    t("stop_hits(HOF filter)", expr(
      "size(filter(split(lower(text), ' '), x -> x IN ('the','a','and','of','to','in','is')))"))
    t("punct(regexp_replace)",
      length(col("text")) - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
    t("punct(regexp_count-ish)",
      length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
    t("lower+split only", size(split(lower(col("text")), " ")))
    spark.stop()
  }
}

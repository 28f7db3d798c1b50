package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Developer tool: stage-wise cost probe for t03 (current strategy:
  * native word_shingles + hot-shingle broadcast anti-join). Not contract. */
object T03Probe {
  private val DfCap = 100

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / 100).cast("int").as("bucket"),
        expr("word_shingles(words)").as("sh"))

    def ex = docs.select(col("doc_id"), col("lang"), col("bucket"),
      explode(col("sh")).as("shingle"))

    PlanLab.time("1: shingle explode only") { noop(ex) }

    def hot = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select("shingle")
    PlanLab.time("2: hot agg") { noop(hot) }

    def kept = ex.join(broadcast(hot), Seq("shingle"), "left_anti")
    PlanLab.time("3: kept anti-join") { noop(kept) }

    def sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    def inter = kept.as("a")
      .join(kept.as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
          col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    PlanLab.time("4: pair join + agg") { noop(inter) }

    def full = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= 0.2)
    PlanLab.time("5: full t03") { noop(full) }
    println("ex rows: " + ex.count() + " kept rows: " + kept.count())

    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    PlanLab.time("6: full t03, prefer SHJ") { noop(full) }
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")

    // shuffle-once alternative: group doc lists per shingle, form pairs
    // with a lambda, re-aggregate
    def pairs = kept
      .groupBy("lang", "bucket", "shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    PlanLab.time("7: collect_list pair formation") { noop(pairs) }

    // one-shuffle variant: block-local df cap folded into the same
    // groupBy that forms the doc lists; sizes re-derived by exploding
    def groups = ex.groupBy("lang", "bucket", "shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= DfCap)
    def inter2 = groups.filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    def sizes2 = groups.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    def full2 = inter2
      .join(broadcast(sizes2.select(col("doc_id").as("doc_a"), col("n_sh").as("na"))), "doc_a")
      .join(broadcast(sizes2.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"))), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= 0.2)
    PlanLab.time("8: one-shuffle block-local full") { noop(full2) }
    println("full2 rows: " + full2.count())
    val cur = graft.SparkEntry.queries("t03_ngram_jaccard")(spark, sfDir)
    val a = cur.select("doc_a", "doc_b", "n_inter", "jaccard")
    val b = full2.select("doc_a", "doc_b", "n_inter", "jaccard")
    println("cur rows: " + a.count()
      + " a-b: " + a.exceptAll(b).count() + " b-a: " + b.exceptAll(a).count())
    spark.stop()
  }
}

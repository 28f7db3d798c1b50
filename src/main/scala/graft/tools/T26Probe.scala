package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r15): decompose t26_semdedup's wall time into its three
  * driver actions — the corpus count, the one Lloyd round's collect,
  * and the final within-cell pair job — so the job-floor trim the r14
  * verdict asked for (t26 ≤1.2 s at sf0.1) is evidence-driven.
  * Usage: runMain graft.tools.T26Probe [sfDir]
  */
object T26Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.Curation._
    def float_dot_str(a: String, b: String): String = s"float_dot($a, $b)"
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    for (i <- 1 to 3) {
      println(s"--- run $i")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      graft.functions.GraftFunctions.ensure(spark)
      val n = t("count")(emb.count())
      val kCells = semdedupK(n)
      val init = (1 to kCells).map(c => c -> lcgCentroid(c + 100))
      val learned = t("lloyd") {
        assignCells(emb, "vec_id", init)
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), (0 until 64).map(j =>
            sum(floor(element_at(col("embedding"), j + 1) * 1e6 + 0.5))
              .as(s"s$j")): _*)
          .collect()
          .map { r =>
            val cn = r.getLong(1)
            r.getInt(0) ->
              (0 until 64).map(j => r.getLong(j + 2) / 1e6 / cn).toIndexedSeq
          }.sortBy(_._1).toSeq
      }
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val learnedR = t("lloyd_p8") {
        assignCells(emb, "vec_id", init)
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), (0 until 64).map(j =>
            sum(floor(element_at(col("embedding"), j + 1) * 1e6 + 0.5))
              .as(s"s$j")): _*)
          .collect()
          .map { r =>
            val cn = r.getLong(1)
            r.getInt(0) ->
              (0 until 64).map(j => r.getLong(j + 2) / 1e6 / cn).toIndexedSeq
          }.sortBy(_._1).toSeq
      }
      assert(learnedR.toMap == learned.toMap || learned.isEmpty)
      t("fused_p8") {
        val assigned = assignCells(emb, "vec_id", learnedR)
          .withColumn("nrm", expr(float_dot_str("embedding", "embedding")))
          .select("vec_id", "cell", "embedding", "nrm")
        val cells = assigned.groupBy("cell")
          .agg(sort_array(collect_list(struct(
            col("vec_id"), col("embedding"), col("nrm")))).as("ms"))
        cells.select(col("cell"), explode(expr(
          """filter(
            |  transform(ms, (m, i) ->
            |    (aggregate(
            |       filter(slice(ms, 1, i),
            |         p -> CAST(float_dot(p.embedding, m.embedding) AS DOUBLE)
            |              / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))) >= 0.3D),
            |       struct(CAST(NULL AS BIGINT) AS dup_of, 0L AS n_near),
            |       (acc, p) -> struct(least(coalesce(acc.dup_of, p.vec_id), p.vec_id) AS dup_of,
            |                          acc.n_near + 1L AS n_near),
            |       acc -> struct(m.vec_id AS vec_id, acc.dup_of, acc.n_near)))),
            |  v -> v.n_near > 0L)""".stripMargin)).as("v"))
          .select(col("v.vec_id").as("vec_id"), col("cell"),
            col("v.dup_of").as("dup_of"), col("v.n_near").as("n_near"))
          .orderBy("vec_id")
          .write.format("noop").mode("overwrite").save()
      }
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      t("final_fused") {
        // ONE shuffle: groupBy(cell) collects the members, pairs unfold
        // and aggregate to per-drop-id verdicts INSIDE the cell group
        // (pairs only exist within a cell), so no second exchange
        val assigned = assignCells(emb, "vec_id", learned)
          .withColumn("nrm", expr(float_dot_str("embedding", "embedding")))
          .select("vec_id", "cell", "embedding", "nrm")
        val cells = assigned.groupBy("cell")
          .agg(sort_array(collect_list(struct(
            col("vec_id"), col("embedding"), col("nrm")))).as("ms"))
        cells.select(col("cell"), explode(expr(
          """filter(
            |  transform(ms, (m, i) ->
            |    (aggregate(
            |       filter(slice(ms, 1, i),
            |         p -> CAST(float_dot(p.embedding, m.embedding) AS DOUBLE)
            |              / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))) >= 0.3D),
            |       struct(CAST(NULL AS BIGINT) AS dup_of, 0L AS n_near),
            |       (acc, p) -> struct(least(coalesce(acc.dup_of, p.vec_id), p.vec_id) AS dup_of,
            |                          acc.n_near + 1L AS n_near),
            |       acc -> struct(m.vec_id AS vec_id, acc.dup_of, acc.n_near)))),
            |  v -> v.n_near > 0L)""".stripMargin)).as("v"))
          .select(col("v.vec_id").as("vec_id"), col("cell"),
            col("v.dup_of").as("dup_of"), col("v.n_near").as("n_near"))
          .orderBy("vec_id")
          .write.format("noop").mode("overwrite").save()
      }
      t("final") {
        val assigned = assignCells(emb, "vec_id", learned)
          .withColumn("nrm", expr(float_dot_str("embedding", "embedding")))
          .select("vec_id", "cell", "embedding", "nrm")
        val pairs = assigned.as("a").join(assigned.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.vec_id") < col("b.vec_id"))
          .withColumn("dot", expr(float_dot_str("a.embedding", "b.embedding")))
          .select(col("a.vec_id").as("keep_id"),
            col("b.vec_id").as("drop_id"), col("a.cell").as("cell"),
            (col("dot").cast("double") /
              (sqrt(col("a.nrm").cast("double"))
                * sqrt(col("b.nrm").cast("double")))).as("cosine"))
          .filter(col("cosine") >= 0.3)
        pairs.groupBy(col("drop_id").as("vec_id"), col("cell"))
          .agg(min("keep_id").as("dup_of"), count(lit(1)).as("n_near"))
          .select("vec_id", "cell", "dup_of", "n_near")
          .orderBy("vec_id")
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}

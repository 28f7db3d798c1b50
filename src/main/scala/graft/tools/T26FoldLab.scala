package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev lab (r17, verdict ask #4): measure t26's fold-vs-join crossover
  * at the memory bound instead of assuming it. The cell-local
  * collect_list fold allocates O(m²) transient struct slices per cell
  * (`slice(ms, 1, i)` copies i member structs per element — ~8.4M
  * copies ≈ 2.3 GB churn per 4096-member cell), so the crossover
  * constant [[graft.queries.Curation.semdedupFoldMaxCell]] chosen on
  * residency grounds (1.2 MB/row) could still be wrong if allocation
  * churn dominates. This lab builds synthetic frames with cells FORCED
  * to m ∈ {1024, 2048, 4096} members and times both shapes with JVM
  * GC-time deltas (collector MX beans) printed next to the walls.
  *
  * Verdict equality between the shapes is asserted per m (same check
  * PlanSpec pins at fixture scale).
  *
  * Usage: runMain graft.tools.T26FoldLab [sfDir]
  */
object T26FoldLab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    import graft.queries.Curation.{semdedupVerdictsFold, semdedupVerdictsJoin}

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    // 8 cells × m members from tiled element-rotated copies of the real
    // embeddings (rotation keeps norms and the value distribution but
    // moves directions, so the cosine filter's selectivity stays
    // realistic rather than all-pairs-passing)
    def assigned(m: Int): DataFrame = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n0 = emb.count()
      val copies = math.ceil(8.0 * m / n0).toInt
      (0 until copies).map { k =>
        val rot = if (k == 0) emb else emb.withColumn("embedding", expr(
          s"concat(slice(embedding, ${k % 63 + 1}, size(embedding)), " +
            s"slice(embedding, 1, ${k % 63}))"))
        rot.withColumn("vec_id", col("vec_id") + lit(k * n0))
      }.reduce(_ unionAll _)
        .limit(8 * m)
        .withColumn("cell", (col("vec_id") % 8).cast("int"))
        .withColumn("nrm", expr("float_dot(embedding, embedding)"))
        .select("vec_id", "cell", "embedding", "nrm")
    }

    val ms = if (args.length > 1) args(1).split(",").toSeq.map(_.toInt)
      else Seq(1024, 2048, 4096)
    for (m <- ms; run <- 1 to 2) {
      val a = assigned(m).localCheckpoint() // fixture cost off both timers
      def time(label: String, df: DataFrame): Long = {
        spark.sharedState.cacheManager.clearCache()
        val g0 = gcMillis(); val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = gcMillis() - g0
        println(f"m=$m%5d run$run $label%-5s wall ${wall}%7.3f s   gc ${gc / 1000.0}%6.3f s")
        gc
      }
      time("fold", semdedupVerdictsFold(a))
      time("join", semdedupVerdictsJoin(a))
      if (run == 1) {
        val f = semdedupVerdictsFold(a).orderBy("vec_id", "cell")
        val j = semdedupVerdictsJoin(a).orderBy("vec_id", "cell")
        val diff = f.exceptAll(j).count() + j.exceptAll(f).count()
        require(diff == 0, s"m=$m: shapes disagree on $diff rows")
        println(s"m=$m verdicts equal across shapes")
      }
    }
    spark.stop()
  }
}

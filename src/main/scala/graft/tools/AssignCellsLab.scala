package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev lab (r16): find assignCells' literal-vs-broadcast cost crossover.
  * T12BandsLab showed a giant multi-dot projection falls off the JVM
  * JIT's huge-method limit between 32 and 64 dots (whole-stage codegen
  * can't split it); assignCells' literal branch generates k dot-loops in
  * one projection, so literalCap=256 may put k ∈ [33, 256] in
  * interpreted-bytecode territory. Times both forms at several k on a
  * probe-scale corpus.
  * Usage: runMain graft.tools.AssignCellsLab [embDir]
  */
object AssignCellsLab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf30"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    import graft.queries.Curation.{assignCells, lcgCentroid}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    println(s"rows = ${emb.count()}")
    for (k <- Seq(16, 32, 64, 128, 256)) {
      val cs = (1 to k).map(c => c -> lcgCentroid(c + 100))
      def run(cap: Int, label: String): Unit = {
        val df = assignCells(emb, "vec_id", cs, literalCap = cap)
          .select("vec_id", "cell")
        df.write.format("noop").mode("overwrite").save() // warm/compile
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"k=$k%-4d $label%-10s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
      run(Int.MaxValue, "literal")
      run(0, "broadcast")
    }
    spark.stop()
  }
}

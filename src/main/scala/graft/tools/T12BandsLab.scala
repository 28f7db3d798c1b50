package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Dev lab (r16): attribute t12's bands-stage wall (12.6 s at 60k rows
  * in T12Probe — ~200 µs/row, far above compiled-dot cost). Hypotheses:
  * (a) the 64-plane signature projection's generated method exceeds the
  * JIT compile limit and runs as interpreted bytecode; (b) the plan
  * falls out of WholeStageCodegen. Prints the executed plan's codegen
  * spans and times the projection warm, at 4/16/64 planes.
  * Usage: runMain graft.tools.T12BandsLab [embDir]
  */
object T12BandsLab {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf30"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    println(s"rows = ${emb.count()}")
    def planeCol(j: Int): Column = typedlit((1 to 64).map { d =>
      val m = (j.toLong * 1103515245L + d.toLong * 12345L) % 32768L
      m.toDouble / 32768.0 - 0.5
    })
    def signCol(j: Int): Column =
      when(call_function("float_dot", col("embedding"), planeCol(j)) > 0, 1)
        .otherwise(0)
    def bucketOf(k: Int): Column = (0 until 16)
      .map(i => signCol((k - 1) * 16 + i + 1) * lit(1 << i))
      .reduce(_ + _)
    def sig(nBands: Int) = emb.select(
      col("vec_id") +: (1 to nBands).map(k =>
        bucketOf(k).cast("int").as(s"b$k")): _*)
    for (nBands <- Seq(1, 2, 4)) {
      val df = sig(nBands)
      df.write.format("noop").mode("overwrite").save() // warm/compile
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"bands=$nBands%d  warm ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val p = sig(4).queryExecution.executedPlan.toString
    println("WholeStageCodegen in plan: " + p.contains("WholeStageCodegen"))
    println(p.linesIterator.take(6).mkString("\n"))
    spark.stop()
  }
}

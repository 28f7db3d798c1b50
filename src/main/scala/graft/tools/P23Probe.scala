package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Dev lab (r16): decompose p23's wall time into its five stages —
  * fixture prep, phase-A stream (2 micro-batches), compaction, phase-B
  * resume, and the gate read-back — so the verdict's "p23 ≤3 s" trim
  * is evidence-driven rather than guessed.
  * Usage: runMain graft.tools.P23Probe [sfDir]
  */
object P23Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(spark)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    for (i <- 1 to 3) {
      println(s"--- run $i")
      val docs = graft.queries.Tables.t(spark, dir, "documents")
        .withColumn("is_new",
          expr("CAST(substr(source, 4, 10) AS INT) >= 10"))
      val tmp = Files.createTempDirectory("graft_p23probe")
      val inDir = tmp.resolve("in"); Files.createDirectories(inDir)
      val scratch = tmp.resolve("scratch")
      t("fixture") {
        docs.withColumn("__c",
            when(!col("is_new"), (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
              .otherwise(lit(3)))
          .select(col("__c"), col("doc_id"), col("text"))
          .repartition(3, col("__c"))
          .write.partitionBy("__c").mode("overwrite")
          .parquet(scratch.toString)
      }
      def land(c: Int): Unit = {
        val s = Files.list(scratch.resolve(s"__c=$c"))
        val part =
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet")).get
          } finally s.close()
        val dst = inDir.resolve(f"chunk-$c%02d.parquet")
        Files.move(part, dst)
        dst.toFile.setLastModified(1700000000000L + c * 60000L)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      val statePath = tmp.resolve("state").toString
      val outPath = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      def runAvailable(): Unit = {
        val q = graft.streaming.Streams.incrementalDedup(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir.toString),
          statePath, outPath, ckpt,
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
      }
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        land(1); land(2)
        t("phaseA")(runAvailable())
        t("compact")(graft.streaming.Streams.compactIndex(spark, statePath, 2L))
        land(3)
        t("phaseB")(runAvailable())
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      t("readback") {
        spark.read.parquet(s"$outPath/batch=2")
          .select(col("doc_id")).orderBy("doc_id")
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}

package perfbench

import org.apache.spark.sql.functions._

/** Starts a session and runs a few small jobs (aggregate, join, window,
  * typed map, parquet write and read) so the classes every benchmark
  * run loads are loaded once. build.py runs it at build time with
  * -XX:ArchiveClassesAtExit to produce the class-data-sharing archive
  * the benchmark JVMs start from, which takes class loading out of
  * every run's set-up.
  *
  *     perfbench.Preload <scratch dir>
  */
object Preload {
  final case class Row(k: Long, v: String)

  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0))
    import spark.implicits._
    val df = spark.range(2000).select((col("id") % 7).as("k"), col("id").cast("string").as("v"))
    df.groupBy("k").agg(count(lit(1)), max("v"), min_by(col("v"), col("k"))).collect()
    df.join(df.select(col("k"), col("v").as("w")), Seq("k"), "left_anti").count()
    df.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("v"))).count()
    df.as[Row].map(r => (r.k, r.v.length)).toDF("k", "n").where(col("n") > 1).count()
    val out = s"${args(0)}/preload.parquet"
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).agg(sum(xxhash64(col("v")).cast("decimal(38,0)"))).collect()
    spark.stop()
  }
}

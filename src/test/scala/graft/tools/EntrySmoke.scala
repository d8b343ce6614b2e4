package graft.tools


/** Driver-contract smoke: SparkEntry.entry(spark) must return rows > 0 on
  * sf0.001 (dev probe mirroring the driver's check). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[entry-smoke] rows=$n")
    require(n > 0, "flagship entry() returned no rows")
    spark.stop()
  }
}

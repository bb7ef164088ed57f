package graft

/** Smoke main: runs SparkEntry.entry (the driver's t1 check) and prints
  * the row count + a sample. Usage: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(10, false)
    spark.stop()
  }
}

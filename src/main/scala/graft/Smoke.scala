package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry and
  * asserts rows > 0, mirroring how the driver invokes the contract.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry() rows=$n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}

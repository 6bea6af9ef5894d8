package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the digest of one result computed three ways: as is, after a
  * random reshuffle into more partitions, and recomputed from scratch with
  * a different summation order for its floating aggregate. The benchmark's
  * tests require the three to agree and a one-value change to differ.
  *
  *   DigestCheck <data dir>
  */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet(s"${args(0)}/lineitem.parquet")
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice") * 1.1).as("s"), array_sort(collect_set("l_linenumber")).as("ls"),
        map_from_arrays(array(lit("n")), array(count(lit(1)))).as("m"),
        struct(avg("l_discount").as("d"), max("l_shipdate").as("t")).as("st"))
    def digest(df: org.apache.spark.sql.DataFrame): String = {
      val r = Harness.digest(df).collect()(0)
      s"${r.getLong(0)}|${r.getDecimal(1)}"
    }
    val plain = digest(agg(li))
    val shuffled = digest(agg(li.repartition(7).orderBy(rand(3))).repartition(3))
    val reordered = digest(agg(li.orderBy(desc("l_extendedprice")).coalesce(1)))
    val changed = digest(agg(li.withColumn("l_linenumber",
      when(col("l_orderkey") === 0 && col("l_linenumber") === 1, 99)
        .otherwise(col("l_linenumber")))))
    println(s"plain=$plain")
    println(s"shuffled=$shuffled")
    println(s"reordered=$reordered")
    println(s"changed=$changed")
    spark.stop()
  }
}

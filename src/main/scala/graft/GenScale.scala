package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: writes a k×-scaled copy of a testdata sf dir
  * by unioning k key-shifted copies of each table (referential integrity
  * preserved — every foreign key shifts by the same per-table stride, so
  * joins fan out exactly like a genuinely larger corpus). Document text is
  * word-salted per copy (`w` → `wcN`), which keeps every within-copy
  * shingle relationship identical while making cross-copy shingles
  * disjoint — the near-dup workload scales linearly instead of exploding
  * into cross-copy duplicate cliques.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <k>
  * Purpose: the BENCH_SF1 probe (VERDICT r9 #9) — catch gate-volume-tuned
  * constants by timing headline queries at 10× the bench tier.
  */
object GenScale {
  private val KC = 10000000L  // customer stride
  private val KO = 100000000L // orders stride
  private val KP = 10000000L  // part stride
  private val KS = 1000000L   // supplier stride
  private val KD = 10000000L  // documents/embeddings stride
  private val KE = 1000000000L // events stride

  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def copies(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      (0 until k).map(c => shift(base, c)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    copies("region")((df, _) => df)
    copies("nation")((df, _) => df)
    copies("customer")((df, c) => df
      .withColumn("c_custkey", col("c_custkey") + lit(c * KC)))
    copies("supplier")((df, c) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(c * KS)))
    copies("part")((df, c) => df
      .withColumn("p_partkey", col("p_partkey") + lit(c * KP)))
    copies("orders")((df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * KO))
      .withColumn("o_custkey", col("o_custkey") + lit(c * KC)))
    copies("lineitem")((df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * KO))
      .withColumn("l_partkey", col("l_partkey") + lit(c * KP))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * KS)))
    copies("events")((df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * KE))
      .withColumn("user_id", col("user_id") + lit(c * KC)))
    copies("documents")((df, c) => {
      val salted =
        if (c == 0) df
        else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1c" + c))
      salted
        .withColumn("doc_id", col("doc_id") + lit(c * KD))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    copies("embeddings")((df, c) => df
      .withColumn("vec_id", col("vec_id") + lit(c * KD)))

    println(s"wrote ${k}x of $src to $out")
    spark.stop()
  }
}

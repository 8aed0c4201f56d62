package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds a key-consistent 10× copy of an sf directory (sf0.1 → ~sf1:
  * 6M lineitem, 1M events) so scaling behavior can be measured beyond
  * the driver-provided data. Keys are shifted per replica so FKs stay
  * valid: orderkeys shift together in lineitem/orders; event ids and
  * timestamps shift (users keep their ids — series get 10× longer, the
  * harder case for the window operators); documents/embeddings replicate
  * with shifted ids (duplicated text — realistic for dedup ops). Small
  * dims copy as-is.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("data/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session()

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => shift(df, i)).reduce(_.unionByName(_))

    val orderShift = 10000000L
    // colliding replica keys would silently corrupt FK joins — check
    // EVERY key column that gets shifted below, not just lineitem/events
    val maxKey = Seq(
      Tables.lineitem(spark, src) -> "l_orderkey",
      Tables.orders(spark, src) -> "o_orderkey",
      Tables.events(spark, src) -> "event_id",
      Tables.documents(spark, src) -> "doc_id",
      Tables.embeddings(spark, src) -> "vec_id")
      .map { case (df, k) => df.agg(max(col(k).cast("long"))).head().getLong(0) }
      .max
    require(maxKey < orderShift,
      s"source keys reach $maxKey >= shift $orderShift; raise orderShift")
    val li = Tables.lineitem(spark, src)
    replicate(li)((d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderShift)))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    val or = Tables.orders(spark, src)
    replicate(or)((d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderShift)))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val ev = Tables.events(spark, src)
    replicate(ev)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * orderShift))
      .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 31} DAYS")))
      .repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")
    val docs = Tables.documents(spark, src)
    replicate(docs)((d, i) => d.withColumn("doc_id", col("doc_id") + lit(i * orderShift)))
      .repartition(8).write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val emb = Tables.embeddings(spark, src)
    replicate(emb)((d, i) => d.withColumn("vec_id", col("vec_id") + lit(i * orderShift)))
      .repartition(8).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    println(s"[scaleup] wrote ${copies}x of $src to $dst")
    spark.stop()
  }
}

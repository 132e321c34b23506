package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up experiment harness: replicate an sf directory K× into
  * disjoint key universes (every key column offset per copy, dims
  * nation/region shared) so joins stay referentially intact and results
  * scale predictably — then time headline queries against the larger
  * set. `runMain graft.tools.ScaleUp <srcSf> <dstDir> [k]`. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sf-scaled")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(32)
    // events.parquet carries TIMESTAMP(NANOS): read it as long (the
    // same convention Tables.events handles on the query side)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val OFF = 100000000L // key offset per copy — far above any base key

    def rep(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val copies = df.crossJoin(
        spark.range(k).select(col("id").as("_copy")))
      keyCols.foldLeft(copies) { (acc, c) =>
        acc.withColumn(c, col(c) + col("_copy") * OFF)
      }.drop("_copy")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // shared dims: tiny, not scaled
    Seq("nation", "region").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }
    write(rep(spark.read.parquet(s"$src/customer.parquet"), Seq("c_custkey")), "customer")
    write(rep(spark.read.parquet(s"$src/supplier.parquet"), Seq("s_suppkey")), "supplier")
    write(rep(spark.read.parquet(s"$src/part.parquet"), Seq("p_partkey")), "part")
    write(rep(spark.read.parquet(s"$src/orders.parquet"),
      Seq("o_orderkey", "o_custkey")), "orders")
    write(rep(spark.read.parquet(s"$src/lineitem.parquet"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(rep(spark.read.parquet(s"$src/events.parquet"),
      Seq("event_id", "user_id")), "events")
    write(rep(spark.read.parquet(s"$src/documents.parquet"), Seq("doc_id")), "documents")
    write(rep(spark.read.parquet(s"$src/embeddings.parquet"), Seq("vec_id")), "embeddings")
    spark.stop()
  }
}

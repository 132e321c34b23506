package graft

import graft.store.ZOrder
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zvalueLong interleaves bits in the documented layout") {
    // 2 dims, dim0 at even positions, dim1 at odd
    assert(ZOrder.zvalueLong(4, Seq(1L, 0L)) == 1L)
    assert(ZOrder.zvalueLong(4, Seq(0L, 1L)) == 2L)
    assert(ZOrder.zvalueLong(4, Seq(3L, 0L)) == 5L)   // 11 -> 0101
    assert(ZOrder.zvalueLong(4, Seq(0L, 3L)) == 10L)  // 11 -> 1010
    assert(ZOrder.zvalueLong(4, Seq(3L, 3L)) == 15L)
    // 3 dims
    assert(ZOrder.zvalueLong(2, Seq(1L, 1L, 1L)) == 7L)
  }

  test("monotone in every dimension (the property that makes box bounds sound)") {
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val x1 = rnd.nextInt(256).toLong; val y1 = rnd.nextInt(256).toLong
      val x2 = x1 + rnd.nextInt(256 - x1.toInt).toLong
      val y2 = y1 + rnd.nextInt(256 - y1.toInt).toLong
      assert(ZOrder.zvalueLong(8, Seq(x1, y1)) <= ZOrder.zvalueLong(8, Seq(x2, y2)),
        s"($x1,$y1) vs ($x2,$y2)")
    }
  }

  test("expression matches driver-side helper; two instances share codegen") {
    val df = (0 until 512).map(i => (i.toLong % 23, i.toLong / 23)).toDF("x", "y")
    val out = df.select(
        ZOrder.zvalue(8, col("x"), col("y")).as("z1"),
        ZOrder.zvalue(8, col("y"), col("x")).as("z2"),  // second instance
        col("x"), col("y"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == ZOrder.zvalueLong(8, Seq(r.getLong(2), r.getLong(3))))
      assert(r.getLong(1) == ZOrder.zvalueLong(8, Seq(r.getLong(3), r.getLong(2))))
    }
  }

  test("SQL surface: zvalue(bits, dims...) matches the Column API") {
    (0L to 50L).map(i => (i % 7, i % 11)).toDF("x", "y")
      .createOrReplaceTempView("zv_pts")
    val viaSql = spark.sql("SELECT zvalue(8, x, y) FROM zv_pts")
      .collect().map(_.getLong(0)).toSeq
    val viaApi = (0L to 50L).map(i => ZOrder.zvalueLong(8, Seq(i % 7, i % 11)))
    assert(viaSql == viaApi)
  }

  test("null dim -> null z") {
    val df = Seq((Some(1L), Option.empty[Long]), (Some(2L), Some(3L)))
      .toDF("x", "y")
    val rows = df.select(ZOrder.zvalue(8, col("x"), col("y")).as("z"))
      .orderBy(col("z").asc_nulls_last).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }

  test("box query rows always fall inside the corner z-range") {
    val rnd = new scala.util.Random(11)
    val pts = (1 to 5000).map(_ => (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val (xlo, xhi, ylo, yhi) = (40L, 90L, 100L, 200L)
    val zLo = ZOrder.zvalueLong(8, Seq(xlo, ylo))
    val zHi = ZOrder.zvalueLong(8, Seq(xhi, yhi))
    pts.filter(p => p._1 >= xlo && p._1 <= xhi && p._2 >= ylo && p._2 <= yhi)
      .foreach { p =>
        val z = ZOrder.zvalueLong(8, Seq(p._1, p._2))
        assert(z >= zLo && z <= zHi, s"$p z=$z outside [$zLo,$zHi]")
      }
  }

  test("z-clustered layout localizes a box query to few files") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 20000).map { i =>
      (i.toLong, rnd.nextInt(256).toLong, rnd.nextInt(256).toLong)
    }.toDF("id", "x", "y")
    val z = ZOrder.zvalue(8, col("x"), col("y"))

    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // keep the z value as a column so parquet min-max stats cover it
    df.withColumn("zv", z)
      .repartitionByRange(16, col("zv")).sortWithinPartitions(col("zv"))
      .write.mode("overwrite").parquet(s"$base/clustered")
    df.withColumn("zv", z).repartition(16)
      .write.mode("overwrite").parquet(s"$base/scattered")

    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("x").between(40, 90) && col("y").between(100, 200))
        .select(input_file_name()).distinct().count()

    val clustered = filesTouched(s"$base/clustered")
    val scattered = filesTouched(s"$base/scattered")
    // scattered: every file holds part of the box; clustered: the box
    // lives in the files covering [z(40,100), z(90,200)]
    assert(scattered == 16L, s"scattered=$scattered")
    assert(clustered < scattered / 2,
      s"clustered=$clustered not < ${scattered / 2}")

    // and the z-range predicate itself prunes clustered files further
    val zLo = ZOrder.zvalueLong(8, Seq(40L, 100L))
    val zHi = ZOrder.zvalueLong(8, Seq(90L, 200L))
    val viaZ = spark.read.parquet(s"$base/clustered")
      .filter(col("zv").between(zLo, zHi) &&
        col("x").between(40, 90) && col("y").between(100, 200))
      .count()
    val direct = spark.read.parquet(s"$base/clustered")
      .filter(col("x").between(40, 90) && col("y").between(100, 200))
      .count()
    assert(viaZ == direct) // the prefilter is a sound superset
  }
}

package graft.operators

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Verifies the Morton code and the layout property that matters at
  * scale: z-ordered files have narrow min/max ranges in BOTH dimensions
  * (⇒ file-level skipping works for predicates on either column), while a
  * single-column sort gives narrow ranges only in its own dimension.
  */
class ZOrderSpec extends SparkSpec {

  test("zvalue2 matches a reference bit-interleave") {
    import spark.implicits._
    def morton(a: Int, b: Int, bits: Int): Long =
      (0 until bits).map { k =>
        (((a >> k) & 1).toLong << (2 * k)) | (((b >> k) & 1).toLong << (2 * k + 1))
      }.sum
    val pairs = Seq((0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (1023, 511), (65535, 65535))
    val got = pairs.toDF("a", "b")
      .select(ZOrder.zvalue2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    val exp = pairs.map { case (a, b) => morton(a, b, 16) }
    assert(got.toSeq == exp)
  }

  test("zvalue2 is monotone-compatible with locality: adjacent cells share high bits") {
    import spark.implicits._
    // points in the same 16x16 tile agree on all but the low 8 z-bits
    val z00 = ZOrder.zvalue2(lit(35), lit(21), 16)
    val z01 = ZOrder.zvalue2(lit(34), lit(20), 16)
    val Array(a, b) = Seq(1).toDF("x").select(z00, z01).collect().head
      .toSeq.map(_.asInstanceOf[Long]).toArray
    assert((a >> 8) == (b >> 8))
  }

  private def perFileRanges(path: String, colName: String): Seq[Double] = {
    val files = new File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    files.map { f =>
      val r = spark.read.parquet(f).agg(
        min(col(colName)).cast("double"), max(col(colName)).cast("double"))
        .collect().head
      r.getDouble(1) - r.getDouble(0)
    }
  }

  test("z-ordered layout bounds per-file ranges in both dimensions; x-sort does not") {
    val n = 1 << 14
    val side = 128 // x,y uniform on [0,128)
    val df = spark.range(n.toLong).select(
      (col("id") % side).cast("int").as("x"),
      ((col("id") * 2654435761L % 1000003L) % side).cast("int").as("y"))
      .persist()
    val zDir = tmpDir("zorder")
    val xDir = tmpDir("xsort")
    ZOrder.clusterWrite(df, "x", "y", zDir, numFiles = 16, bits = 8)
    df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xDir)

    def avg(s: Seq[Double]) = s.sum / s.size
    val zx = avg(perFileRanges(zDir, "x"));  val zy = avg(perFileRanges(zDir, "y"))
    val sx = avg(perFileRanges(xDir, "x"));  val sy = avg(perFileRanges(xDir, "y"))
    // x-sort: x-ranges tiny, y-ranges ≈ full domain
    assert(sx < side * 0.25, s"x-sort x-range $sx")
    assert(sy > side * 0.8, s"x-sort y-range $sy should be ~full")
    // z-order: BOTH dimensions bounded well below the full domain
    assert(zx < side * 0.5, s"z-order x-range $zx")
    assert(zy < side * 0.5, s"z-order y-range $zy")
    df.unpersist()
  }

  test("rescale=true keeps both-dimension locality on wide-domain columns") {
    val n = 1 << 14
    val side = 128
    // same uniform grid, but each coordinate scaled by 2^20: without
    // rescaling, only the low `bits` bits survive → z-cells alias and
    // per-file ranges blow up; with rescale the layout matches the
    // narrow-domain case.
    val scale = 1L << 20
    val df = spark.range(n.toLong).select(
      ((col("id") % side) * scale).as("x"),
      (((col("id") * 2654435761L % 1000003L) % side) * scale).as("y"))
      .persist()
    val plainDir = tmpDir("zwide_plain")
    val rescDir = tmpDir("zwide_resc")
    ZOrder.clusterWrite(df, "x", "y", plainDir, numFiles = 16, bits = 8)
    ZOrder.clusterWrite(df, "x", "y", rescDir, numFiles = 16, bits = 8,
      rescale = true)
    def avg(s: Seq[Double]) = s.sum / s.size
    val full = (side - 1) * scale.toDouble
    val px = avg(perFileRanges(plainDir, "x")); val py = avg(perFileRanges(plainDir, "y"))
    val rx = avg(perFileRanges(rescDir, "x"));  val ry = avg(perFileRanges(rescDir, "y"))
    // low-bit aliasing: scaled values are ≡ 0 mod 2^8, every z-value is 0
    // → files cover ~the whole domain in both dims
    assert(px > full * 0.5, s"plain x-range $px should alias to ~full domain")
    assert(py > full * 0.5, s"plain y-range $py should alias to ~full domain")
    // rescaled: both dims bounded as in the narrow-domain test
    assert(rx < full * 0.5, s"rescaled x-range $rx")
    assert(ry < full * 0.5, s"rescaled y-range $ry")
    df.unpersist()
  }

  test("zvalueN generalizes zvalue2 and interleaves three columns round-robin") {
    import spark.implicits._
    def mortonN(vals: Seq[Int], bits: Int): Long =
      (for { k <- 0 until bits; (v, j) <- vals.zipWithIndex } yield
        (((v >> k) & 1).toLong) << (k * vals.size + j)).sum
    val rows = Seq((3, 5, 9), (0, 0, 0), (255, 1, 127), (1023, 511, 2047))
    // 3 cols x 16 bits = 48 output bits
    val got = rows.toDF("a", "b", "c")
      .select(ZOrder.zvalueN(Seq(col("a"), col("b"), col("c")), 16).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == rows.map { case (a, b, c) => mortonN(Seq(a, b, c), 16) })
    // 2-col equivalence with zvalue2: zvalue2 puts a at even bits (j=0), b odd
    val two = rows.map { case (a, b, _) => (a, b) }
    val g2 = two.toDF("a", "b")
      .select(ZOrder.zvalue2(col("a"), col("b")).as("z"),
        ZOrder.zvalueN(Seq(col("a"), col("b"))).as("zn"))
      .collect()
    g2.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}

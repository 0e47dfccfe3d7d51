package graft.sources

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {

  test("zValue is the classic Morton interleave on an identity grid") {
    import spark.implicits._
    // bits=2, ranges [0,3]: scaling is the identity, so z is pure Morton
    val pts = (for (x <- 0 to 3; y <- 0 to 3) yield (x, y)).toDF("x", "y")
    val got = pts.select(col("x"), col("y"),
        Tables.zValue(Seq(col("x"), col("y")), Seq(0L, 0L), Seq(3L, 3L), bits = 2)
          .as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    // bit j*2 of z = bit j of x; bit j*2+1 = bit j of y
    def morton(x: Int, y: Int): Long =
      (0 until 2).map(j => (((x >> j) & 1) << (2 * j)) | (((y >> j) & 1) << (2 * j + 1)))
        .sum.toLong
    got.foreach { case ((x, y), z) => assert(z === morton(x, y), s"($x,$y)") }
    // the canonical first steps of the curve
    assert(got((0, 0)) === 0L && got((1, 0)) === 1L &&
      got((0, 1)) === 2L && got((1, 1)) === 3L)
  }

  test("zValue clamps outliers and survives degenerate ranges") {
    import spark.implicits._
    val df = Seq((-5L, 7L), (100L, 7L), (3L, 7L)).toDF("a", "b")
    val z = df.select(Tables.zValue(
        Seq(col("a"), col("b")), Seq(0L, 7L), Seq(10L, 7L), bits = 4).as("z"))
      .collect().map(_.getLong(0))
    // constant column (range 0) scales to grid 0 everywhere; a-outliers
    // clamp to the grid ends instead of corrupting neighbor bits
    assert(z.forall(v => v >= 0L && v < (1L << 8)))
    val inRange = df.filter(col("a") === 3)
      .select(Tables.zValue(Seq(col("a"), col("b")), Seq(0L, 7L), Seq(10L, 7L), bits = 4))
      .head().getLong(0)
    assert(z.contains(inRange))
  }

  test("z-ordered layout skips files on the NON-leading dimension; 1-D sort cannot") {
    import spark.implicits._
    // 64x64 grid, one row per cell; 16 files either z-ordered or sorted by a
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    withTempDir("z") { zDir =>
      val zPath = s"$zDir/t"
      withTempDir("s") { sDir =>
        val sPath = s"$sDir/t"
        Tables.writeZOrdered(grid, zPath, Seq("a", "b"), numFiles = 16, bits = 6)
        grid.repartitionByRange(16, col("a")).sortWithinPartitions("a", "b")
          .write.mode("overwrite").parquet(sPath)

        // per-file footer-equivalent stats; a box on b alone intersects…
        def filesHit(path: String): (Int, Int) = {
          val st = spark.read.parquet(path)
            .groupBy(input_file_name().as("f"))
            .agg(min("b").as("bmn"), max("b").as("bmx")).collect()
          val hit = st.count(r => !(r.getLong(2) < 8L || r.getLong(1) > 15L))
          (hit, st.length)
        }
        val (zHit, zFiles) = filesHit(zPath)
        val (sHit, sFiles) = filesHit(sPath)
        assert(zFiles === 16 && sFiles === 16)
        // 1-D a-sort: every file spans the whole b domain -> zero pruning
        assert(sHit === 16, s"a-sorted layout unexpectedly pruned b: $sHit")
        // z-order: only files whose b-range overlaps [8, 15] can match
        assert(zHit <= 8, s"z-order pruned too little on b: $zHit of $zFiles")
        // both layouts return the identical rows for the box
        val want = grid.filter(col("b").between(8, 15)).count()
        assert(spark.read.parquet(zPath).filter(col("b").between(8, 15)).count() === want)
        assert(spark.read.parquet(sPath).filter(col("b").between(8, 15)).count() === want)
      }
    }
  }
}

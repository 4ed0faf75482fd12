package graft.sources


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order clustering: the interleave must be bit-exact against a plain
  * Scala reference, and the layout it drives must contract PER-FILE
  * min/max spans on BOTH dimensions — the property parquet min/max
  * skipping prunes on, and the whole point of the curve. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Textbook bit-by-bit Morton reference (x_i → bit 2i, y_i → 2i+1). */
  private def zRef(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zOrder2 ≡ bit-by-bit reference, incl. 31-bit masking; null propagates") {
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), ((1L << 31) - 1, (1L << 31) - 1),
                    (1L << 31, 5L), (Long.MaxValue, Long.MaxValue)) ++
      Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs))
    val got = cases.toDF("x", "y")
      .select(Layouts.zOrder2(col("x"), col("y")).as("z")).as[Long].collect()
    val want = cases.map { case (x, y) => zRef(x & 0x7FFFFFFFL, y & 0x7FFFFFFFL) }
    assert(got.toSeq === want)
    assert(got.forall(_ >= 0L), "62-bit interleave must stay non-negative")
    val nulls = Seq((Some(1L), None: Option[Long]), (None: Option[Long], Some(1L)))
      .toDF("x", "y")
      .select(Layouts.zOrder2(col("x"), col("y")).as("z"))
      .filter(col("z").isNull).count()
    assert(nulls === 2L)
  }

  test("z-ordered layout contracts per-file spans on BOTH dims; a 1-D sort does not") {
    // 64x64 grid, one row per cell — spans are exact fractions of the domain
    val n = 64
    val grid = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    def meanSpans(dir: String): (Double, Double) = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
        .select(avg("sx"), avg("sy")).head()
      (spans.getDouble(0), spans.getDouble(1))
    }
    val zDir = tempDir("graft-zorder").toString
    Layouts.writeZOrdered(grid, col("x"), col("y"), s"$zDir/z", nFiles = 16)
    val (zx, zy) = meanSpans(s"$zDir/z")
    // 16 z-files over a 64x64 grid = 4x4 curve blocks of 16x16 cells:
    // both spans land near 15/63 of the domain; allow sampling slack
    assert(zx < 0.5 * (n - 1) && zy < 0.5 * (n - 1),
      s"z-layout must bound both dims per file (got x-span $zx, y-span $zy)")
    // control: sort by x only — y's per-file span stays the full domain
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$zDir/xsort")
    val (_, sy) = meanSpans(s"$zDir/xsort")
    assert(sy > 0.9 * (n - 1),
      s"1-D sort leaves the other dim unclustered (got y-span $sy)")
  }

  /** Bit-by-bit Morton3 reference (x_i → 3i, y_i → 3i+1, z_i → 3i+2). */
  private def z3Ref(x: Long, y: Long, z: Long): Long = {
    var r = 0L
    var i = 0
    while (i < 21) {
      r |= ((x >> i) & 1L) << (3 * i)
      r |= ((y >> i) & 1L) << (3 * i + 1)
      r |= ((z >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    r
  }

  test("zOrder3 ≡ bit-by-bit reference, incl. 21-bit masking; null propagates") {
    val rnd = new scala.util.Random(43)
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
                    ((1L << 21) - 1, (1L << 21) - 1, (1L << 21) - 1),
                    (1L << 21, 5L, 9L), (Long.MaxValue, 7L, Long.MaxValue)) ++
      Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs, rnd.nextLong().abs))
    val got = cases.toDF("x", "y", "z")
      .select(Layouts.zOrder3(col("x"), col("y"), col("z")).as("m"))
      .as[Long].collect()
    val want = cases.map { case (x, y, z) =>
      z3Ref(x & 0x1FFFFFL, y & 0x1FFFFFL, z & 0x1FFFFFL) }
    assert(got.toSeq === want)
    assert(got.forall(_ >= 0L), "63-bit interleave must stay non-negative")
    val nulls = Seq((Some(1L), Some(1L), None: Option[Long]),
                    (None: Option[Long], Some(1L), Some(1L)))
      .toDF("x", "y", "z")
      .select(Layouts.zOrder3(col("x"), col("y"), col("z")).as("m"))
      .filter(col("m").isNull).count()
    assert(nulls === 2L)
  }

  test("3-key layout contracts per-file spans on ALL THREE dims; 2-D z leaves the third wide") {
    // 16x16x16 cube, one row per cell
    val n = 16
    val cube = (0 until n).flatMap(x => (0 until n).flatMap(y =>
      (0 until n).map(z => (x.toLong, y.toLong, z.toLong))))
      .toDF("x", "y", "z")
    def meanSpans(dir: String): (Double, Double, Double) = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"),
             (max("z") - min("z")).as("sz"))
        .select(avg("sx"), avg("sy"), avg("sz")).head()
      (spans.getDouble(0), spans.getDouble(1), spans.getDouble(2))
    }
    val dir = tempDir("graft-zorder3").toString
    Layouts.writeZOrdered3(cube, col("x"), col("y"), col("z"), s"$dir/z3",
                           nFiles = 16)
    val (sx, sy, sz) = meanSpans(s"$dir/z3")
    // 16 files over 16^3 = ~256-cell curve blocks (8x8x4 when aligned;
    // the sampled range exchange misaligns some boundaries, hence the
    // slack): every span well under the 15-cell domain
    assert(sx < 0.7 * (n - 1) && sy < 0.7 * (n - 1) && sz < 0.7 * (n - 1),
      s"3-key layout must bound all three dims per file (got $sx, $sy, $sz)")
    // control: the 2-key curve over (x, y) leaves z's span at ~full domain
    Layouts.writeZOrdered(cube, col("x"), col("y"), s"$dir/z2", nFiles = 16)
    val (_, _, z2z) = meanSpans(s"$dir/z2")
    assert(z2z > 0.9 * (n - 1),
      s"2-key curve leaves the third dim unclustered (got z-span $z2z)")
  }

  test("box predicates reach the parquet scan as pushed filters") {
    val dir = tempDir("graft-zorder-scan").toString
    val rows = (0 until 1000).map(i => (i.toLong % 100, i.toLong / 100)).toDF("x", "y")
    Layouts.writeZOrdered(rows, col("x"), col("y"), dir, nFiles = 4)
    val exec = spark.read.parquet(dir)
      .filter(col("x").between(10, 20) && col("y").between(2, 4))
      .queryExecution.executedPlan
    // the node itself, not its toString — the rendered PushedFilters
    // list is length-truncated and can hide the later predicates
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no parquet scan in plan"))
    val pushed = scan.metadata("PushedFilters")
    val data = scan.dataFilters.map(_.sql).mkString(", ")
    Seq("x", "y").foreach { c =>
      assert(data.contains(s"$c >= ") && data.contains(s"$c <= "),
        s"both $c bounds must reach the scan as data filters: $data")
    }
    assert(pushed != "[]", "parquet pushdown must be non-empty")
  }
}

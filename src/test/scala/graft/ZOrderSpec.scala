package graft

import org.apache.spark.sql.functions._

import graft.operators.ZOrder

/** Z-order clustering: Morton-code bit identities, bucket clamping,
  * and the layout property the operator exists for — contiguous
  * chunks cover bounded rectangles, so a filter on the SECOND column
  * prunes chunks (single-column sorting can never give that).
  */
class ZOrderSpec extends SparkSpec {

  private def z(a: Long, b: Long): Long = {
    import sqlImplicits._
    Seq((a, b)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b")).as("z"))
      .head().getLong(0)
  }

  test("Morton code interleaves a onto even bits, b onto odd") {
    assert(z(0xFFFFL, 0L) == 0x55555555L)
    assert(z(0L, 0xFFFFL) == 0xAAAAAAAAL)
    assert(z(0xFFFFL, 0xFFFFL) == 0xFFFFFFFFL)
    assert(z(3L, 1L) == 7L) // a bits → 0b101, b bit → 0b10
    assert(z(0L, 0L) == 0L)
  }

  test("bucket clamps out-of-range and maps NULL to bucket 0") {
    import sqlImplicits._
    val out = Seq(Some(-5.0), Some(0.0), Some(50.0), Some(100.0), Some(200.0), None)
      .toDF("v")
      .select(ZOrder.bucket(col("v"), 0.0, 100.0, bits = 4).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // range [0,100) onto 16 buckets: -5 clamps to 0, 100/200 clamp to 15
    assert(out == Seq(0L, 0L, 8L, 15L, 15L, 0L))
  }

  test("z-clustered chunks prune on the second column; a-sorted chunks cannot") {
    import sqlImplicits._
    val pts = (for { a <- 0 until 64; b <- 0 until 64 } yield (a.toDouble, b.toDouble))
      .toDF("a", "b")

    def bboxes(df: org.apache.spark.sql.DataFrame): Seq[(Double, Double)] =
      df.select("a", "b").as[(Double, Double)]
        .mapPartitions { it =>
          val l = it.toVector
          if (l.isEmpty) Iterator.empty
          else Iterator((l.map(_._2).min, l.map(_._2).max)) // b-range of the chunk
        }.collect().toSeq

    // the z-order layout: range-partition + sort on the z-value
    val zChunks = bboxes(pts
      .withColumn("__z", ZOrder.zValue(
        ZOrder.bucket(col("a"), 0.0, 64.0), ZOrder.bucket(col("b"), 0.0, 64.0)))
      .repartitionByRange(16, col("__z")).sortWithinPartitions("__z").drop("__z"))
    val aChunks = bboxes(pts.repartitionByRange(16, col("a")).sortWithinPartitions("a"))

    // Query: b BETWEEN 10 AND 13 (a narrow slice of the SECOND column).
    def intersecting(boxes: Seq[(Double, Double)]) =
      boxes.count { case (lo, hi) => lo <= 13.0 && hi >= 10.0 }

    assert(intersecting(aChunks) == aChunks.length) // a-sort: every chunk spans all b
    assert(intersecting(zChunks) <= zChunks.length / 2, // z-order: most chunks pruned
      s"z chunks intersecting = ${intersecting(zChunks)} of ${zChunks.length}")
  }
}

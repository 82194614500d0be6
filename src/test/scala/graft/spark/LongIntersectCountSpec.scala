package graft.spark

import graft.plans.LongIntersectCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native intersect-count kernel must be VALUE-IDENTICAL to
  * size(array_intersect(a, b)) for every input — the dedup verify's oracle
  * hash-matches ride on it — including the value 0 (the kernel's empty-slot
  * sentinel), null elements, duplicates, empties and null arrays.
  */
class LongIntersectCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("matches size(array_intersect) on random long arrays (distinct and duplicated)") {
    val rnd = new scala.util.Random(4848280)
    val rows = (1 to 300).map { i =>
      val na = rnd.nextInt(60)
      val nb = rnd.nextInt(60)
      // small value domain forces collisions; include 0 and negatives
      def arr(n: Int) = Array.fill(n)(rnd.nextInt(40).toLong - 8L)
      (i.toLong, arr(na), arr(nb))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      LongIntersectCount($"a", $"b").as("native"),
      size(array_intersect($"a", $"b")).as("builtin")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("union arithmetic |A|+|B|-inter equals size(array_union) on DISTINCT arrays") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      def arr() = Array.fill(rnd.nextInt(50))(rnd.nextLong() % 30).distinct
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      (size($"a").cast("long") + size($"b") - LongIntersectCount($"a", $"b")).as("arith"),
      size(array_union($"a", $"b")).cast("long").as("builtin")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("null array -> null; null elements count once when in both, like array_intersect") {
    val nullArr = Seq((1L, null.asInstanceOf[Array[Long]], Array(1L, 2L)))
      .toDF("id", "a", "b")
      .select(LongIntersectCount($"a", $"b").as("c")).head()
    assert(nullArr.isNullAt(0))
    // null elements are only expressible in SQL literals
    val cases = Seq(
      ("array(cast(null as bigint), 1L, 0L)", "array(cast(null as bigint), 0L, 7L)"),
      ("array(cast(null as bigint), 1L)", "array(2L, 3L)"),
      ("array(0L, 0L, 5L)", "array(0L, 5L, 5L)"),
      ("array()", "array(1L)"))
    cases.foreach { case (a, b) =>
      val r = spark.sql(s"SELECT CAST($a AS ARRAY<BIGINT>) AS a, CAST($b AS ARRAY<BIGINT>) AS b")
        .select(
          LongIntersectCount($"a", $"b").as("native"),
          size(array_intersect($"a", $"b")).as("builtin")).head()
      assert(r.getInt(0) == r.getInt(1), s"($a, $b): native=${r.getInt(0)} builtin=${r.getInt(1)}")
    }
  }

  test("table capacity: power of two at load <= 0.5, oversized inputs rejected instead of looping") {
    assert(LongIntersectCount.tableCapacity(1) == 8)
    assert(LongIntersectCount.tableCapacity(4) == 8)
    assert(LongIntersectCount.tableCapacity(5) == 16)
    assert(LongIntersectCount.tableCapacity(1 << 29) == (1 << 30))
    // an Int `cap < n * 2` wraps here and never terminates
    intercept[IllegalArgumentException](LongIntersectCount.tableCapacity(1 << 30))
    intercept[IllegalArgumentException](LongIntersectCount.tableCapacity(Int.MaxValue))
  }
}

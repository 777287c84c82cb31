package graft

import graft.sketch.BloomFilter

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The lifecycle every sketch aggregate shares, pinned per family and per
  * mode (build from raw values, or merge stored sketches): the result of an
  * empty input and of an all-null group, NULL rows skipped, 0-byte stored
  * sketches, and — for the families whose merge is order-independent —
  * byte-equal results from 1 and 8 input partitions. */
class SketchAggregateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  /** One aggregate in one mode. `agg` renders the SQL call over a column;
    * `store` (merge rows) renders the expression that yields a stored BINARY
    * sketch (or, for approx_distinct, the stored result struct) from `x`. */
  private case class AggCase(
      name: String,
      agg: String => String,
      store: Option[String => String],
      orderIndependent: Boolean,
      empty: Any = null)

  private val emptyBloom = new BloomFilter(4096, 3).serialize()
  private val probs = "array(0.5D, 0.9D)"

  private def build(name: String, agg: String => String, orderIndependent: Boolean,
      empty: Any = null): AggCase = AggCase(name, agg, None, orderIndependent, empty = empty)
  private def merge(name: String, agg: String => String, store: String => String,
      orderIndependent: Boolean, empty: Any = null): AggCase =
    AggCase(name, agg, Some(store), orderIndependent, empty)

  private val rows: Seq[AggCase] = Seq(
    build("approx_distinct hll", c => s"approx_distinct($c)", true),
    merge("sketch_merge_agg hll", c => s"sketch_merge_agg($c)",
      c => s"approx_distinct($c).binary", true),
    build("approx_distinct lc", c => s"approx_distinct($c, 'lc', 4096)", true),
    merge("sketch_merge_agg lc", c => s"sketch_merge_agg($c)",
      c => s"approx_distinct($c, 'lc', 4096).binary", true),
    merge("approx_distinct over sketch structs", c => s"approx_distinct($c)",
      c => s"approx_distinct($c)", true),
    build("approx_top_k", c => s"approx_top_k(CAST($c AS STRING), 3, 16)", false),
    merge("topk_merge_agg", c => s"topk_merge_agg($c, 3, 16)",
      c => s"topk_sketch_agg(CAST($c AS STRING), 16)", false),
    build("approx_quantiles", c => s"approx_quantiles($c, $probs, 16)", false),
    merge("kll_merge_agg", c => s"kll_merge_agg($c, $probs, 16)",
      c => s"kll_sketch_agg($c, 16)", false),
    build("dd_quantiles", c => s"dd_quantiles($c, $probs, 0.02D)", true),
    merge("dd_merge_agg", c => s"dd_merge_agg($c, $probs, 0.02D)",
      c => s"dd_sketch_agg($c, 0.02D)", true),
    build("cm_sketch_agg", c => s"cm_sketch_agg($c, 256, 3)", true),
    merge("cm_merge_agg", c => s"cm_merge_agg($c)", c => s"cm_sketch_agg($c, 256, 3)", true),
    build("bloom_agg", c => s"bloom_agg($c, 4096, 3)", true, empty = emptyBloom),
    merge("bloom_merge_agg", c => s"bloom_merge_agg($c, 4096, 3)",
      c => s"bloom_agg($c, 4096, 3)", true, empty = emptyBloom),
    build("agms_sketch_agg", c => s"agms_sketch_agg($c, 256, 3)", true),
    merge("agms_merge_agg", c => s"agms_merge_agg($c)",
      c => s"agms_sketch_agg($c, 256, 3)", true),
    build("theta_sketch_agg", c => s"theta_sketch_agg($c, 64)", true),
    merge("theta_merge_agg", c => s"theta_merge_agg($c)", c => s"theta_sketch_agg($c, 64)", true))

  /** g = 3 holds only NULL values; the other groups mix NULLs with 150–600
    * distinct values, enough to evict (top-k), compact (KLL) and sample
    * (theta k = 64). p = x % 3 keys the stored sketches. */
  private lazy val raw: DataFrame = {
    GraftFunctions.register(spark)
    spark.range(0, 3000).selectExpr(
      "CAST(id % 4 AS INT) AS g",
      "CASE WHEN id % 4 = 3 OR id % 7 = 0 THEN NULL ELSE id % (150 * (id % 4 + 1)) END AS x")
      .selectExpr("g", "x", "x % 3 AS p")
  }

  /** Stored sketches per (g, p), materialized once, plus NULL stored rows
    * in groups 0 and 1; group 3 has a single NULL stored row, so it is the
    * all-null group. */
  private def stored(store: String => String): DataFrame = {
    val built = raw.groupBy("g", "p").agg(expr(store("x")).as("b"))
      .where("g != 3").select("g", "b")
    val schema = StructType(Seq(
      StructField("g", IntegerType), StructField("b", built.schema("b").dataType)))
    val nulls = Seq(Row(0, null), Row(1, null), Row(3, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(built.collect().toSeq ++ nulls, 2), schema).cache()
  }

  private def grouped(df: DataFrame, r: AggCase, c: String): Map[Int, Any] = {
    df.createOrReplaceTempView("sketch_agg_in")
    spark.sql(s"SELECT g, ${r.agg(c)} AS r FROM sketch_agg_in GROUP BY g")
      .collect().map(row => row.getInt(0) -> row.get(1)).toMap
  }

  private def global(df: DataFrame, r: AggCase, c: String): Any = {
    df.createOrReplaceTempView("sketch_agg_in")
    spark.sql(s"SELECT ${r.agg(c)} AS r FROM sketch_agg_in").head().get(0)
  }

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => Row(a) == Row(b)
  }

  rows.foreach { r =>
    lazy val (df, c) = r.store match {
      case None => (raw, "x")
      case Some(store) => (stored(store), "b")
    }

    test(s"${r.name}: empty input and all-null group give the empty result") {
      val v = global(df.where("false"), r, c)
      assert(sameValue(v, r.empty), s"empty input gave $v")
      val g3 = grouped(df, r, c)(3)
      assert(sameValue(g3, r.empty), s"all-null group gave $g3")
    }

    test(s"${r.name}: NULL rows are skipped") {
      val withNulls = grouped(df, r, c)
      val without = grouped(df.where(s"$c IS NOT NULL"), r, c)
      Seq(0, 1, 2).foreach { g =>
        assert(sameValue(withNulls(g), without(g)), s"group $g")
      }
    }

    // a 0-byte stored sketch means "no sketch" in every family
    if (r.store.nonEmpty) test(s"${r.name}: 0-byte stored rows") {
      val dt = df.schema(c).dataType
      val zero: Any =
        if (dt == BinaryType) Array.emptyByteArray
        else Row("HLL", 0L, Array.emptyByteArray)
      val extra = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(0, zero), Row(1, zero)), 1), df.schema)
      val plain = grouped(df, r, c)
      val padded = grouped(df.union(extra), r, c)
      Seq(0, 1, 2).foreach { g =>
        assert(sameValue(padded(g), plain(g)), s"group $g")
      }
    }

    if (r.orderIndependent) test(s"${r.name}: 1 and 8 partitions give byte-equal results") {
      val one = grouped(df.repartition(1), r, c)
      val eight = grouped(df.repartition(8), r, c)
      assert(one.keySet == eight.keySet)
      one.keys.foreach { g =>
        assert(sameValue(one(g), eight(g)), s"group $g")
      }
      assert(sameValue(global(df.repartition(1), r, c), global(df.repartition(8), r, c)))
    }
  }
}

package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The native array-pair kernels (graft_dot, graft_cosine, graft_l2sq)
  * and graft_might_contain vs their inline HOF and UDF references: must
  * be bit-equal (same left-to-right double accumulation), SQL-callable,
  * and codegen'd. */
class FunctionsSpec extends SparkTestBase {

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  private def hofL2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  // each kernel next to its inline HOF reference
  private val kernels: Seq[(String, (Column, Column) => Column)] = Seq(
    "graft_dot" -> hofDot,
    "graft_cosine" -> ((a, b) => hofDot(a, b) / sqrt(hofDot(a, a)) /
      sqrt(hofDot(b, b))),
    "graft_l2sq" -> hofL2sq)

  test("native graft_dot is bit-equal to the HOF formulation") {
    val embs = Tables.load(spark, sf, "embeddings")
    val hof = hofDot(col("embedding"), col("embedding"))
    val both = embs.select(
      call_function("graft_dot", col("embedding"), col("embedding"))
        .as("native"), hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("graft_dot is registered for SQL via GraftExtensions") {
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_t")
    val r = spark.sql(
      "SELECT graft_dot(embedding, embedding) AS d, " +
        "graft_cosine(embedding, embedding) AS c, " +
        "graft_l2sq(embedding, embedding) AS l " +
        "FROM emb_t ORDER BY vec_id LIMIT 1")
      .head()
    assert(r.getDouble(0) > 0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    assert(r.getDouble(2) == 0.0)
  }

  for ((name, hof) <- kernels)
    test(s"$name matches the HOF on unequal lengths and null elements") {
      import spark.implicits._
      val df = Seq(
        (1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),          // normal
        (2L, Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 1.0f)),    // unequal length
        (3L, Seq(1.0f), Seq(1.0f)),                       // null element
        (4L, Seq(2.0f), Seq(3.0f))                        // singleton
      ).toDF("id", "a", "b")
        // inject a null element for id 3 (Seq of Option doesn't encode cleanly)
        .withColumn("a", when(col("id") === 3,
          array(lit(null).cast("float"))).otherwise(col("a")))
      val rows = df.select(col("id"),
          call_function(name, col("a"), col("b")).as("native"),
          hof(col("a"), col("b")).as("hof"))
        .orderBy("id").collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
        if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2), s"$r")
      }
      assert(!rows(0).isNullAt(1) && !rows(3).isNullAt(1))
      assert(rows(1).isNullAt(1), "unequal lengths must be NULL")
      assert(rows(2).isNullAt(1), "null element must poison to NULL")
    }

  test("a non-array argument fails analysis and names the kernel") {
    val embs = Tables.load(spark, sf, "embeddings")
    for ((name, _) <- kernels) {
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        embs.select(call_function(name, lit(1.0), col("embedding"))).head()
      }
      assert(err.getMessage.contains(s"$name expects float/double arrays"),
        err.getMessage)
    }
  }

  test("native graft_l2sq is bit-equal to the HOF fold") {
    val embs = Tables.load(spark, sf, "embeddings").limit(200)
    val shifted = embs.select(col("vec_id"),
      col("embedding"),
      expr("transform(embedding, x -> CAST(x * 1.5 AS FLOAT))").as("other"))
    val both = shifted.select(
      call_function("graft_l2sq", col("embedding"), col("other")).as("native"),
      hofL2sq(col("embedding"), col("other")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("fused graft_cosine is bit-equal to the composed three-dot form") {
    val embs = Tables.load(spark, sf, "embeddings")
    val shifted = embs.select(col("vec_id"), col("embedding"),
      expr("transform(embedding, x -> CAST(x * 0.9 + 0.01 AS FLOAT))")
        .as("other"))
    val composed = hofDot(col("embedding"), col("other")) /
      sqrt(hofDot(col("embedding"), col("embedding"))) /
      sqrt(hofDot(col("other"), col("other")))
    val both = shifted.select(
      call_function("graft_cosine", col("embedding"), col("other"))
        .as("fused"), composed.as("composed"))
    assert(both.filter(col("fused") =!= col("composed")).count() == 0)
    assert(both.count() > 0)
    // null semantics follow graft_dot: unequal lengths poison to NULL
    import spark.implicits._
    val bad = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
      .select(call_function("graft_cosine", col("a"), col("b")).as("c"))
      .head()
    assert(bad.isNullAt(0))
  }

  test("cosine self-similarity is 1 under the native path") {
    val embs = Tables.load(spark, sf, "embeddings")
    val bad = embs.select(
      VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9)
    assert(bad.count() == 0)
  }

  test("native graft_might_contain is bit-equal to the UDF fallback") {
    val ord = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val bf = ord.stat.bloomFilter(col("o_orderkey"), 10000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    val bc = spark.sparkContext.broadcast(bf)
    val fallback = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    val li = Tables.load(spark, sf, "lineitem")
    val both = li.select(
      call_function("graft_might_contain",
        lit(bytes), col("l_orderkey").cast("long")).as("native"),
      fallback(col("l_orderkey").cast("long")).as("udf"))
    assert(both.filter(col("native") =!= col("udf")).count() == 0)
    assert(both.filter(col("native")).count() > 0, "nothing matched")
    // no false negatives: every build key probes true
    val bad = ord.select(
      call_function("graft_might_contain",
        lit(bytes), col("o_orderkey").cast("long")).as("hit"))
      .filter(!col("hit"))
    assert(bad.count() == 0, "bloom false negative")
    // NULL key yields NULL (a Filter drops it — NULL never equi-joins)
    import spark.implicits._
    val nullRow = Seq(Tuple1(null: java.lang.Long)).toDF("k")
      .select(call_function("graft_might_contain",
        lit(bytes), col("k")).as("hit")).head()
    assert(nullRow.isNullAt(0))
    // a NON-constant filter argument must fail analysis loudly (the
    // expression deserializes the filter once; a per-row filter column
    // would silently probe the wrong bits)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      li.select(call_function("graft_might_contain",
        col("l_returnflag").cast("binary"),
        col("l_orderkey").cast("long"))).head()
    }
    assert(err.getMessage.toLowerCase.contains("foldable"), err.getMessage)
  }
}

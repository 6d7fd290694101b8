package graft

/** Guards on the driver contract itself: name collisions would silently
  * drop queries from the Map, an oracle without a query never gets
  * checked, and entry() must smoke. */
class ContractSpec extends SparkTestBase {

  test("registry names are unique (Map must not swallow queries)") {
    val names = SparkEntry.registry.map(_.name)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(",")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every oracle key has a query; oracles are non-empty SQL") {
    val qk = SparkEntry.queries.keySet
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(qk.contains(k), s"oracle without query: $k")
      // leading `--` lines are legal SQL (the ApproxGate-gated queries
      // open with an oracle-scale-semantics note); the body must follow
      val body = sql.trim.linesIterator
        .dropWhile(_.trim.startsWith("--")).mkString("\n").trim
      assert(body.toUpperCase.startsWith("SELECT") ||
        body.toUpperCase.startsWith("WITH"), s"odd oracle for $k")
    }
  }

  test("every consumer of a bench warm line is a registered query") {
    val qk = SparkEntry.queries.keySet
    Bench.warmLines.foreach { w =>
      val unknown = w.consumers -- qk
      assert(w.consumers.nonEmpty && unknown.isEmpty,
        s"${w.name}: unregistered consumers ${unknown.mkString(",")}")
    }
  }

  test("entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("installViews makes base tables and engine queries reachable " +
      "from spark.sql, matching the Scala API result") {
    import org.apache.spark.sql.functions._
    val subset = Set("q_agg_groupby", "q_join_inner", "q_window_rank",
      "q_dedup_exact", "q_text_langid")
    val installed = SparkEntry.installViews(spark, sf, Some(subset))
    assert(Tables.all.forall(installed.contains))
    assert(subset.forall(installed.contains))
    // a base table is queryable
    assert(spark.sql("SELECT count(*) AS n FROM lineitem")
      .head().getLong(0) > 0)
    // an engine query through SQL equals the Scala API result
    val viaSql = spark.sql("SELECT * FROM q_agg_groupby")
    val viaApi = SparkEntry.queries("q_agg_groupby")(spark, sf)
    assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
    assert(viaSql.exceptAll(viaApi).isEmpty &&
      viaApi.exceptAll(viaSql).isEmpty)
    // views compose: SQL over an engine view
    val top = spark.sql(
      "SELECT * FROM q_window_rank WHERE rnk = 1 LIMIT 5")
    assert(top.columns.contains("rnk"))
  }

  test("every query name is declared in SURVEY.md §2") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val missing = SparkEntry.registry.map(_.name)
      .filterNot(n => survey.contains(s"`$n`"))
    assert(missing.isEmpty, s"not in SURVEY §2: ${missing.mkString(",")}")
  }
}

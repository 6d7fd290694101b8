package perfbench

import org.apache.spark.sql.SparkSession

/** Prints the harness digest of a small frame, of the same rows in another
  * order and partitioning, of a copy with one value changed, and of a copy
  * with two columns' values swapped, as one JSON line. Run by the
  * benchmark's unit tests. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, i * 7L % 13, s"r$i",
      Map("k" -> i), 1.0 + i % 5))
    def dg(xs: Seq[(Long, Long, String, Map[String, Int], Double)],
        parts: Int): String =
      Harness.digest(xs.toDF("a", "b", "s", "m", "rating").repartition(parts))
        .head().toSeq.mkString(",")
    val out = Map(
      "original" -> dg(rows, 1),
      "reordered" -> dg(rows.reverse, 3),
      "changed" -> dg(rows.updated(17, rows(17).copy(_3 = "x")), 1),
      "swapped_columns" -> dg(rows.map(r => r.copy(_1 = r._2, _2 = r._1)), 1))
    println(Json(out))
    spark.stop()
  }
}

package org.apache.spark.ml.recommendation

import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.DataFrame

/** An ALS model over given factor frames (id INT, features ARRAY<FLOAT>),
  * with the column names `graft.ml.AlsEngine` trains with: lets a test
  * linearize the antidote step around factors it chose. */
object ToyAlsModel {
  def apply(rank: Int, userFactors: DataFrame,
      itemFactors: DataFrame): ALSModel =
    new ALSModel(Identifiable.randomUID("toyals"), rank, userFactors,
      itemFactors)
      .setUserCol("user").setItemCol("item")
      .setColdStartStrategy("drop")
}

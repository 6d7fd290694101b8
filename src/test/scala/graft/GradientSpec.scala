package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import graft.ml.{AlsEngine, Antidote, Metric}
import org.apache.spark.ml.recommendation.{ALSModel, ToyAlsModel}

/** The Alg. 1 gradients against first principles. At toy scale (20
  * users × 15 items, rank 3, three antidote users) the user factors U
  * are fixed and the item factors are the item-side ridge closed form
  * V(X) = M_j⁻¹(Σ_{i∈Ω_j} R_ij u_i + Σ_a X_aj u_a), the ALS stage the
  * step linearizes. `Antidote.step`'s gradient for U_ind (Var_u ℓ_u) and
  * for U_grp ((ℓ̄_A − ℓ̄_B)², the form it descends) must equal central
  * differences of that objective, cell by cell. For polarization the
  * step linearizes the other ALS stage: V and the real users' factors
  * are fixed and the antidote users' factors are the user-side ridge
  * closed form u_a = (VᵀV + λmI)⁻¹Vᵀx_a. */
class GradientSpec extends SparkTestBase {
  import GradientSpec._

  private val (nU, nI, k, kT, lam) = (20, 15, 3, 3, 0.1)
  private val rnd = new scala.util.Random(11)
  /** User factors 1..nU (real) and nU+1..nU+kT (antidote), as ALS's
    * floats; the objective reads the same values widened to double. */
  private val u: Map[Int, Array[Float]] = (1 to nU + kT).map(i =>
    i -> Array.fill(k)(0.2f + rnd.nextFloat())).toMap
  /** Known cells: every user rates each item with probability 0.6, and
    * item (i mod nI) + 1 always, so no user or item is empty. Ratings
    * are multiples of 1/8, exact in the float the prediction pass reads
    * them as. */
  private val cells: Seq[(Int, Int, Double)] = for {
    i <- 1 to nU; j <- 1 to nI
    if j == i % nI + 1 || rnd.nextDouble() < 0.6
  } yield (i, j, math.rint((1 + 4 * rnd.nextDouble()) * 8) / 8)
  private val x0: DenseMatrix[Double] =
    DenseMatrix.fill(kT, nI)(2.5 + rnd.nextDouble())
  private val grp: Map[Int, String] =
    (1 to nU).map(i => i -> (if (i <= 9) "A" else if (i <= 17) "B" else "C"))
    .toMap

  private def uv(i: Int): DenseVector[Double] =
    DenseVector(u(i).map(_.toDouble))

  /** V(X), one column per item. */
  private def itemFactors(x: DenseMatrix[Double]): Seq[DenseVector[Double]] =
    (1 to nI).map { j =>
      val rated = cells.filter(_._2 == j)
      val m = DenseMatrix.eye[Double](k) * (lam * (rated.size + kT))
      val b = DenseVector.zeros[Double](k)
      for ((i, _, r) <- rated) { val ui = uv(i); m += ui * ui.t; b += ui * r }
      for (a <- 0 until kT) {
        val ua = uv(nU + 1 + a); m += ua * ua.t; b += ua * x(a, j - 1)
      }
      m \ b
    }

  /** Per-user mean squared error over the known cells under V(X). */
  private def losses(x: DenseMatrix[Double]): Map[Int, Double] = {
    val v = itemFactors(x)
    cells.groupBy(_._1).map { case (i, cs) =>
      i -> cs.map { case (_, j, r) =>
        val e = (uv(i) dot v(j - 1)) - r; e * e }.sum / cs.size
    }
  }

  private def uInd(x: DenseMatrix[Double]): Double = {
    val l = losses(x).values.toSeq
    val mean = l.sum / l.size
    l.map(v => (v - mean) * (v - mean)).sum / l.size
  }

  private def uGrp(x: DenseMatrix[Double]): Double = {
    val l = losses(x)
    def mean(g: String) = {
      val s = l.filter { case (i, _) => grp(i) == g }.values
      s.sum / s.size
    }
    val d = mean("A") - mean("B")
    d * d
  }

  private def centralDiff(f: DenseMatrix[Double] => Double)
      : DenseMatrix[Double] = {
    val h = 1e-4
    DenseMatrix.tabulate(kT, nI) { (a, j) =>
      val (p, q) = (x0.copy, x0.copy)
      p(a, j) += h; q(a, j) -= h
      (f(p) - f(q)) / (2 * h)
    }
  }

  /** Fixed item factors for the polarization case, as ALS's floats. */
  private val vPol: Seq[Array[Float]] = {
    val r = new scala.util.Random(13)
    Seq.fill(nI)(Array.fill(k)(0.2f + r.nextFloat()))
  }

  private def vp(j: Int): DenseVector[Double] =
    DenseVector(vPol(j).map(_.toDouble))

  /** The antidote users' factors u_a = (VᵀV + λmI)⁻¹Vᵀx_a under vPol. */
  private def antidoteFactors(x: DenseMatrix[Double])
      : Seq[DenseVector[Double]] = {
    val a = DenseMatrix.eye[Double](k) * (lam * nI)
    for (j <- 0 until nI) { val v = vp(j); a += v * v.t }
    (0 until kT).map { r =>
      val t = DenseVector.zeros[Double](k)
      for (j <- 0 until nI) t += vp(j) * x(r, j)
      a \ t
    }
  }

  /** (1/m)Σ_i[v_iᵀSv_i − (ūᵀv_i)²], S and ū over the real users' fixed
    * factors and the antidote users' closed form. */
  private def polarization(x: DenseMatrix[Double]): Double = {
    val users = (1 to nU).map(uv) ++ antidoteFactors(x)
    val uBar = users.reduce(_ + _) / users.size.toDouble
    val s = users.map(f => f * f.t).reduce(_ + _) / users.size.toDouble
    (0 until nI).map { j =>
      val v = vp(j)
      (v dot (s * v)) - math.pow(uBar dot v, 2)
    }.sum / nI
  }

  private def toyModel(users: Seq[(Int, Array[Float])],
      items: Seq[Array[Float]]): ALSModel = {
    val s = spark
    import s.implicits._
    ToyAlsModel(k,
      users.map { case (i, f) => (i, f.toSeq) }.toDF("id", "features"),
      items.zipWithIndex.map { case (f, j) => (j + 1, f.toSeq) }
        .toDF("id", "features"))
  }

  /** The step's gradient, read back off X_{t+1} = round(X − η·grad, 6)
    * with η chosen so no cell reaches the [1, 5] box. */
  private def stepGradient(metric: Metric, scale: Double, model: ALSModel)
      : DenseMatrix[Double] = {
    val s = spark
    import s.implicits._
    val ratings = cells.map { case (i, j, r) => (i.toLong, j.toLong, r) }
      .toDF("user_id", "item_id", "rating")
    val x = (for (a <- 0 until kT; j <- 1 to nI)
      yield ((nU + 1 + a).toLong, j.toLong, x0(a, j - 1)))
      .toDF("user_id", "item_id", "rating")
    val eta = 0.5 / scale
    val next = Antidote.step(spark, ratings, x, model,
      Antidote.ViewStats(nU, nU, nI),
      AlsEngine.Config(rank = k, regParam = lam), eta, metric)
      .as[(Long, Long, Double)].collect()
    val g = DenseMatrix.zeros[Double](kT, nI)
    for ((a, j, r) <- next) {
      assert(r > 1 && r < 5, s"cell ($a, $j) was clipped to $r")
      g((a - nU - 1).toInt, (j - 1).toInt) = (x0((a - nU - 1).toInt,
        (j - 1).toInt) - r) / eta
    }
    assert(next.length == kT * nI)
    g
  }

  /** The unfairness cases' model: U and V(x0), as ALS's floats. */
  private def unfairnessModel(): ALSModel =
    toyModel(u.toSeq, itemFactors(x0).map(_.toArray.map(_.toFloat)))

  /** The polarization case's model: the real users' U, the antidote
    * users' closed form at x0, and vPol. */
  private def polarizationModel(): ALSModel =
    toyModel((1 to nU).map(i => i -> u(i)) ++
      antidoteFactors(x0).zipWithIndex.map { case (f, a) =>
        (nU + 1 + a) -> f.toArray.map(_.toFloat) }, vPol)

  for ((label, objective, metric, model) <- Seq(
      ("U_ind", uInd _, () => Metric.IndividualUnfairness,
        unfairnessModel _),
      ("U_grp", uGrp _, () => Metric.GroupUnfairness(
        spark.createDataFrame(grp.toSeq.map { case (i, g) => (i.toLong, g) })
          .toDF("user_id", "grp"), "A", "B"), unfairnessModel _),
      ("Polarization", polarization _, () => Metric.Polarization,
        polarizationModel _))) {
    test(s"$label: the step's gradient equals central differences of its objective") {
      val want = centralDiff(objective)
      val scale = breeze.linalg.max(breeze.numerics.abs(want))
      assert(scale > 0)
      val got = stepGradient(metric(), scale, model())
      assertClose(got, want, 1e-4 * scale)
    }
  }
}

object GradientSpec {
  def assertClose(got: DenseMatrix[Double], want: DenseMatrix[Double],
      tol: Double): Unit = {
    val bad = for {
      a <- 0 until want.rows; j <- 0 until want.cols
      if math.abs(got(a, j) - want(a, j)) > tol
    } yield s"($a, $j): step ${got(a, j)} vs central difference ${want(a, j)}"
    assert(bad.isEmpty, bad.mkString(s"tolerance $tol\n", "\n", ""))
  }
}

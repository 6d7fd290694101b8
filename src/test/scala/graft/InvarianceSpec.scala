package graft

import graft.ml.{AlsEngine, Antidote, Metric}
import org.apache.spark.ml.recommendation.{ALSModel, ToyAlsModel}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}

/** Property checks of the §3 metrics and the Alg. 1 projection on random
  * small fully observed matrices scored by a `ToyAlsModel` (every user
  * rates every item, so the known-cell metrics and the all-pairs
  * polarization read the same cells). The metrics go through
  * `Antidote.evaluateModel` and `Antidote.polarization`, as MfSpec's
  * "metric invariants" test does:
  *   - U_grp = |ℓ̄_A − ℓ̄_B| does not change when the two groups' labels
  *     are swapped;
  *   - RMSE, U_ind, U_grp and polarization do not change when the user
  *     ids are relabelled by a permutation;
  *   - one `Antidote.step`, under polarization and under U_grp, keeps
  *     every rating in [1, 5] at 6 dp for any η in [1e-3, 1e6]. */
class InvarianceSpec extends SparkTestBase {
  import InvarianceSpec._

  private def check(prop: Prop, n: Int): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(result.passed, result.status)
  }

  private def ratings(w: World, id: Int => Int): DataFrame =
    spark.createDataFrame(for {
      u <- 0 until w.nUsers; i <- 0 until w.nItems
    } yield (id(u + 1).toLong, (i + 1).toLong, w.r(u)(i)))
      .toDF("user_id", "item_id", "rating")

  /** Each user's group: `a` for the world's group A, else `b`. */
  private def groups(w: World, id: Int => Int, a: String, b: String)
      : DataFrame =
    spark.createDataFrame((0 until w.nUsers).map(u =>
      (id(u + 1).toLong, if (w.inA(u)) a else b))).toDF("user_id", "grp")

  /** The world's model, with user u's factor under id(u); antidote
    * users (ids above nUsers) keep their ids. */
  private def model(w: World, id: Int => Int): ALSModel = {
    val users = (0 until w.nUsers).map(u => (id(u + 1), w.uf(u).toSeq)) ++
      w.af.zipWithIndex.map { case (f, a) => (w.nUsers + 1 + a, f.toSeq) }
    ToyAlsModel(w.rank,
      spark.createDataFrame(users).toDF("id", "features"),
      spark.createDataFrame(w.vf.zipWithIndex.map { case (f, i) =>
        (i + 1, f.toSeq) }).toDF("id", "features"))
  }

  /** The losses under U_grp between labels "A" and "B", with the world's
    * group A labelled `labelA` and the rest `labelB`. */
  private def loss(w: World, id: Int => Int, labelA: String = "A",
      labelB: String = "B") =
    Antidote.evaluateModel(model(w, id), ratings(w, id),
      Metric.GroupUnfairness(groups(w, id, labelA, labelB), "A", "B"),
      None).loss

  test("U_grp is unchanged when the two group labels are swapped") {
    check(Prop.forAll(worlds) { w =>
      val ab = loss(w, identity).grpUnfairness
      val ba = loss(w, identity, "B", "A").grpUnfairness
      Prop(close(ab, ba)) :| s"U_grp $ab with A/B, $ba with B/A"
    }, 8)
  }

  test("RMSE, U_ind, U_grp and polarization are unchanged under a " +
    "permutation of the user ids") {
    val cases = for {
      w <- worlds
      keys <- Gen.listOfN(w.nUsers, Gen.choose(0.0, 1.0))
    } yield (w, (1 to w.nUsers).sortBy(u => keys(u - 1)))
    check(Prop.forAll(cases) { case (w, perm) =>
      val id = (u: Int) => perm(u - 1)
      val (l0, l1) = (loss(w, identity), loss(w, id))
      val (p0, p1) = (Antidote.polarization(model(w, identity)),
        Antidote.polarization(model(w, id)))
      Prop(close(l0.rmse, l1.rmse) && close(l0.indUnfairness,
        l1.indUnfairness) && close(l0.grpUnfairness, l1.grpUnfairness)
        && close(p0, p1)) :| s"ids $perm: $l0 vs $l1, polarization $p0 vs $p1"
    }, 8)
  }

  test("one step keeps every rating in [1, 5] at 6 dp for any η in " +
    "[1e-3, 1e6]") {
    val etas = Gen.choose(-3.0, 6.0).map(math.pow(10, _))
    try check(Prop.forAll(worlds, etas) { (w, eta) =>
      val m = model(w, identity)
      val x = spark.createDataFrame(for {
        a <- w.af.indices; i <- 0 until w.nItems
      } yield ((w.nUsers + 1 + a).toLong, (i + 1).toLong, w.x(a)(i)))
        .toDF("user_id", "item_id", "rating")
      val cfg = AlsEngine.Config(rank = w.rank)
      val stats = Antidote.ViewStats(w.nUsers, w.nUsers, w.nItems)
      val bad = Seq(Metric.Polarization, Metric.GroupUnfairness(
          groups(w, identity, "A", "B"), "A", "B")).flatMap { metric =>
        Antidote.step(spark, ratings(w, identity), x, m, stats, cfg, eta,
          metric).collect().map(_.getDouble(2))
          .filterNot(r => r >= 1.0 && r <= 5.0 &&
            math.abs(r * 1e6 - math.rint(r * 1e6)) < 1e-6)
          .map(r => s"$metric: $r")
      }
      Prop(bad.isEmpty) :| s"η $eta: ${bad.mkString(", ")}"
    }, 8)
    finally Antidote.stepMemo.clear()
  }
}

object InvarianceSpec {
  /** A fully observed nUsers × nItems rating matrix r (multiples of 1/8
    * in [1, 5]), group A membership per user (users 1 and 2 keep both
    * groups nonempty), rank-`rank` real user factors uf, antidote user
    * factors af, item factors vf, and the antidote rows x (one per
    * antidote user). */
  final case class World(nUsers: Int, nItems: Int, rank: Int,
      r: Seq[Seq[Double]], inA: Seq[Boolean], uf: Seq[Array[Float]],
      af: Seq[Array[Float]], vf: Seq[Array[Float]], x: Seq[Seq[Double]])

  private val rating = Gen.choose(8, 40).map(_ / 8.0)
  private def factors(n: Int, k: Int): Gen[Seq[Array[Float]]] =
    Gen.listOfN(n, Gen.listOfN(k, Gen.choose(0.2f, 2.5f)).map(_.toArray))

  val worlds: Gen[World] = for {
    nUsers <- Gen.choose(3, 6)
    nItems <- Gen.choose(2, 4)
    rank <- Gen.choose(1, 2)
    nAnti <- Gen.choose(1, 2)
    r <- Gen.listOfN(nUsers, Gen.listOfN(nItems, rating))
    rest <- Gen.listOfN(nUsers - 2, Gen.oneOf(true, false))
    uf <- factors(nUsers, rank)
    af <- factors(nAnti, rank)
    vf <- factors(nItems, rank)
    x <- Gen.listOfN(nAnti, Gen.listOfN(nItems, rating))
  } yield World(nUsers, nItems, rank, r, true +: false +: rest, uf, af, vf,
    x)

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
}

package org.apache.spark.ml.clustering.graftshim

import breeze.linalg.{DenseMatrix => BDM}
import breeze.numerics.exp
import breeze.stats.distributions.{Gamma, RandBasis}
import org.apache.commons.math3.random.MersenneTwister
import org.apache.spark.ml.clustering.LDAModel
import org.apache.spark.mllib.clustering.LDAUtils

/** Bridge to what `LDAModel.transform` infers with: the `oldLocalModel`
  * behind every ML LDA model and the `LDAUtils` it derives `expElogbeta`
  * from are `private[clustering]`/`private[spark]`, so this one-file shim
  * sits in the ML clustering package (the `graftshim` pattern: a
  * visibility bridge, no behaviour of its own). */
object LdaShim {

  /** The fixed inputs of MLlib's per-document variational inference,
    * computed with MLlib's own calls: `expElogbeta` as a column-major
    * V×k array, the document concentration `alpha`, and the initial
    * gamma. MLlib re-draws that gamma for every document from a
    * `Gamma(gammaShape, 1/gammaShape)` seeded with the same
    * `oldLocalModel.seed`, so it is the same k values every time. That
    * seed is the one the ML model hands its old model (1421925485 in
    * Spark 4.1.2, for fitted and loaded models alike), not the
    * estimator's `seed` param. */
  final case class Inference(expElogbeta: Array[Double], vocabSize: Int,
      alpha: Array[Double], gammaInit: Array[Double])

  def inference(lda: LDAModel): Inference = {
    val old = lda.oldLocalModel
    val beta: BDM[Double] =
      exp(LDAUtils.dirichletExpectation(lda.topicsMatrix.asBreeze.toDenseMatrix.t).t)
    val (v, k) = (beta.rows, beta.cols)
    val flat = new Array[Double](v * k)
    var t = 0
    while (t < k) {
      var w = 0
      while (w < v) { flat(w + v * t) = beta(w, t); w += 1 }
      t += 1
    }
    val rand = new RandBasis(new MersenneTwister(old.seed))
    val gammaInit = new Gamma(old.gammaShape, 1.0 / old.gammaShape)(rand).samplesVector(old.k)
    Inference(flat, v, old.docConcentration.toArray, gammaInit.toArray)
  }
}

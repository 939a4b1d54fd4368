package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-builtin twins of the native scoring expressions of the ranked ANN
  * operators, kept as bit-identity references (ScoringTwinsSpec).
  */
object ScoringTwins {

  /** `cosine_similarity` as `dot / (norm · norm)` over double-widened
    * elements, accumulated in order. */
  def cosineComposable(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (Similarity.norm(a) * Similarity.norm(b))

  /** `qdist_l2` as Σ(aᵢ − bᵢ)² in wrapping long arithmetic. */
  def qdistL2Composable(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
}

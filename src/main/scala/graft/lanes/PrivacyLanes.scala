package graft.lanes

import graft.operators.{Privacy, PrivacySql, Tables}

/** Privacy: disclosure-risk audit and differentially private release. */
object PrivacyLanes extends LaneFamily("privacy") {
  /** Privacy lane: generalization-ladder band widths, release threshold
    * k, DP budget ε and noise seed — shared by queries and twins. */
  private val kAnonWidths = Seq(500, 2000, 10000)
  private val kAnonK = 5
  private val tClosenessT = 0.2
  private val entropyLDiversityL = 3.0
  private val dpEpsilon = 0.5
  private val dpSeed = 2026

  val lanes: Seq[Lane] = Seq(
    // ---- privacy lane: disclosure-risk audit + DP release ----
    // (thresholds shared with the twins; scale posture on operators.Privacy)
    Lane("priv1_k_anonymity", Some(PrivacySql.kAnonymityLadder(kAnonWidths, kAnonK)))((s, dir) =>
      Privacy.kAnonymityLadder(Tables(s, dir, "customer"),
        kAnonWidths, kAnonK)),
    Lane("priv2_dp_counts", None)((s, dir) => // noise-valued by design -> rows-only
      // + exact gate below (seeded Laplace; see Privacy.dpCounts)
      Privacy.dpCounts(Tables(s, dir, "customer"), dpEpsilon, dpSeed)),
    Lane("priv2_verify", Some(PrivacySql.dpVerify))((s, dir) =>
      Privacy.dpVerify(Tables(s, dir, "customer"), dpEpsilon, dpSeed)),
    Lane("priv3_k_suppress", Some(PrivacySql.kSuppress(kAnonWidths(1), kAnonK)))((s, dir) =>
      // the enforcement face of priv1:
      // rows in QI groups under k are suppressed, survivors carry only
      // the generalized band (scale posture on Privacy.kSuppress)
      Privacy.kSuppress(Tables(s, dir, "customer"), kAnonWidths(1), kAnonK)),
    Lane("priv4_t_closeness", Some(PrivacySql.tCloseness(kAnonWidths(2),
        tClosenessT)))((s, dir) => // distribution-leak audit: TVD of
      // each QI group's sensitive distribution vs the global one
      Privacy.tCloseness(Tables(s, dir, "customer"), kAnonWidths(2),
        tClosenessT)),
    Lane("priv5_l_diversity", Some(PrivacySql.entropyLDiversity(kAnonWidths(1),
        entropyLDiversityL)))((s, dir) => // entropy l-diversity: the strict
      // form of the ladder's distinct-count l (quantized-cell exact sums)
      Privacy.entropyLDiversity(Tables(s, dir, "customer"), kAnonWidths(1),
        entropyLDiversityL))
  )
}

package graft.lanes

import graft.operators.{FeatureEng, FeatureEngSql, Tables}

/** Feature engineering and data audit (`operators.FeatureEng`). */
object FeatureLanes extends LaneFamily("features") {
  val lanes: Seq[Lane] = Seq(
    // ---- feature-engineering / data-audit lane (operators.FeatureEng) ----
    Lane("fe1_target_encode", Some(FeatureEngSql.targetEncode()))((s, dir) =>
      // smoothed (m-estimate) encoder
      FeatureEng.targetEncode(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    Lane("fe2_assoc_rules", Some(FeatureEngSql.associationRules()))((s, dir) =>
      // per-basket support/confidence/lift
      FeatureEng.associationRules(Tables(s, dir, "lineitem"))),
    Lane("fe4_cv_target_encode", Some(FeatureEngSql.cvTargetEncode()))((s, dir) =>
      // leakage-free out-of-fold encoder
      FeatureEng.cvTargetEncode(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    Lane("fe3_benford", Some(FeatureEngSql.benford))((s, dir) =>
      // first-digit fabricated-numbers screen
      FeatureEng.benford(Tables(s, dir, "lineitem"))),
    Lane("fe5_psi_drift", Some(FeatureEngSql.psiDrift()))((s, dir) =>
      // cohort distribution-drift monitor
      FeatureEng.psiDrift(Tables(s, dir, "orders"))),
    Lane("fe6_woe_iv", Some(FeatureEngSql.woeIv()))((s, dir) => // weight-of-evidence feature screen
      FeatureEng.woeIv(Tables(s, dir, "orders"))),
    Lane("fe7_chi2", Some(FeatureEngSql.chiSquare))((s, dir) =>
      // chi-square categorical independence screen
      FeatureEng.chiSquare(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    Lane("fe8_mutual_info", Some(FeatureEngSql.mutualInfo))((s, dir) =>
      // mutual-information dependence screen
      FeatureEng.mutualInfo(Tables(s, dir, "orders"),
        Tables(s, dir, "customer"))),
    Lane("fe9_corr_matrix", Some(FeatureEngSql.corrMatrix))((s, dir) =>
      // exact-sum Pearson redundancy screen
      FeatureEng.corrMatrix(Tables(s, dir, "lineitem"))),
    Lane("fe10_ks_test", Some(FeatureEngSql.ksTest))((s, dir) =>
      // exact two-sample KS via prefix sums
      FeatureEng.ksTest(Tables(s, dir, "orders")))
  )
}

package graft

/** The shared DuckDB oracle fragments under the unit suite: the near-dup
  * pair set, its symmetric edges and components (q_dedup_clusters), the
  * quality score and survivor rank on top of them (q_dedup_survivor) and
  * the flat codebook assignment (q_ivf_topk) each run as registered, on
  * the sf0.001 fixture, and must equal the Spark result under
  * `tools/check_oracle.py`'s rule: columns sorted by name, equal row
  * count, equal values row by row. The shared engine stages ride along:
  * the flat/two-level semantic-dedup and cell-probe bodies
  * (q_semantic_dedup2, q_ivf2_topk), the ranked-neighbours tail by ADC
  * distance (q_pq_topk) and the takedown blast radius over the standing
  * artifacts (q_takedown_survivor). */
class OracleAgreementSpec extends SparkSpecBase {

  private val names = Seq("q_dedup_clusters", "q_dedup_survivor",
    "q_ivf_topk", "q_semantic_dedup2", "q_ivf2_topk", "q_pq_topk",
    "q_takedown_survivor")

  test("the registered oracles of the shared fragments match the engine on sf0.001") {
    assertOracleAgrees(names, sfDir)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark boot is ~5 s; suites
  * reuse it), built by [[Sessions.local]] — the Verify/Bench settings —
  * at 4 cores.
  */
object SparkTestHarness {
  lazy val spark: SparkSession = {
    // continuous assurance for the partitioning-claim contract: every
    // claimed checkpoint cut ANY suite drives re-hashes a per-partition
    // sample through the claim's own partitionIdExpression (ADVICE r12)
    // — an unsound claim fails its suite loudly instead of mis-joining
    val s = Sessions.local(4, "graft.checkpoint.validateClaim" -> "true")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev aid: dump formatted physical plans of named driver queries
  * (`runMain graft.tools.PlanAudit <sfDir> q1 q2 ...`) for the
  * SCALE.md-style plan audits.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // recall gates materialize eagerly at construction time (cache
    // hygiene); this flag makes them return their REAL plan unrun so the
    // audit dumps the gate computation, not a trivial parallelize scan.
    // (Gate semantics are unchanged under the flag — the same plan, just
    // not yet executed. Queries whose semantics WOULD change in plan-only
    // form — the iterative cluster loops — are substituted explicitly via
    // PipelineQueries.planOnlyQueries instead, never flag-branched.)
    sys.props("graft.plan.only") = "true"
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // shared engine session (GraftSession) so audited plans match what
    // bench/verify run
    val spark = graft.GraftSession.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { q =>
      graft.queries.PipelineQueries.planOnlyQueries.get(q) match {
        case Some(planFn) =>
          println(s"===== $q (one representative round of the iterative loop) =====")
          planFn(spark, sfDir).explain("formatted")
        case None =>
          println(s"===== $q =====")
          graft.SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      }
    }
  }
}

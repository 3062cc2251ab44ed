package graft

import graft.plans.{RewriteWindowTopK, TopKPerGroup, TopKStrategy}
import org.apache.spark.sql.SparkSession

/** Harness.session's production wiring (GraftExtensions, the
  * `spark.sql.extensions` path) must plan exactly what a session with the
  * experimental optimizer/strategy hooks plans. The benchmark harness
  * still wires the top-k rewrite through those hooks, so this keeps its
  * plans equal to the ones Bench and Verify run. The set of declared
  * queries the rewrite fires on is exact in both directions: a query that
  * newly plans a TopKPerGroup, or stops planning one, fails the sweep.
  */
class WiringSpec extends SparkSuite {

  private val topK: Set[String] = Set(
    "a6_cells_asof", "b7_latest_cells", "b8_max_versions",
    "b13_page_per_bucket", "b17_compaction", "b20_column_pagination",
    "b26_column_count", "d17_check_and_put", "e1_win_rownum",
    "e9_win_topk_group", "j8_sim_topk", "j14_dedup_ngram",
    "j23_sample_stratified", "j30_rep_quality", "j35_bm25_topk",
    "j42_rrf_fusion", "j46_dedup_incremental", "j56_seeded_shuffle",
    "j60_langid", "j64_dedup_canonical", "k5_expr_cosine")

  /** Expression ids (`#123`), lambda variables' fresh-name counters
    * (`lambda x_61`) and object hashes (`@1a2b3c`) differ run to run and
    * session to session; nothing else in a plan string should. */
  private def normalized(s: String): String =
    s.replaceAll("(lambda \\w+?)_\\d+#", "$1_#").replaceAll("#\\d+", "#")
      .replaceAll("@[0-9a-f]+", "@")

  test("GraftExtensions plans every top-k query exactly as the experimental hooks do") {
    // its own scratch alias of the fixture path (see WindowLintSpec): the
    // constructors' filesystem side effects land in dirs no other spec uses
    val isolatedSf = sf + "/./."
    val planned = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(SparkSuite.graft, isolatedSf).queryExecution.optimizedPlan
      if (plan.collectWithSubqueries { case t: TopKPerGroup => t }.nonEmpty) Some(name -> plan)
      else None
    }
    val unexpected = planned.map(_._1).filterNot(topK)
    assert(unexpected.isEmpty, s"TopKPerGroup planned in unlisted queries: $unexpected")
    val missing = topK -- planned.map(_._1)
    assert(missing.isEmpty, s"listed queries no longer plan a TopKPerGroup: $missing")

    val hooks: SparkSession = spark.newSession()
    hooks.experimental.extraOptimizations = Seq(RewriteWindowTopK)
    hooks.experimental.extraStrategies = Seq(TopKStrategy)
    val differing = planned.flatMap { case (name, plan) =>
      val viaHooks = SparkEntry.queries(name)(hooks, isolatedSf).queryExecution.optimizedPlan
      val (a, b) = (normalized(plan.toString), normalized(viaHooks.toString))
      if (a == b) None else Some(name -> s"$name\n-- GraftExtensions:\n$a\n-- hooks:\n$b")
    }
    assert(differing.isEmpty,
      s"${differing.size} queries plan differently under GraftExtensions: " +
        s"${differing.map(_._1).mkString(", ")}\n${differing.map(_._2).mkString("\n")}")
  }
}

package graft

import graft.plans.{RewriteWindowTopK, TopKPerGroup, TopKStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, NamedLambdaVariable, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Harness.session's production wiring (GraftExtensions, the
  * `spark.sql.extensions` path) must plan exactly what a session with the
  * experimental optimizer/strategy hooks plans. The benchmark harness
  * still wires the top-k rewrite through those hooks, so this keeps its
  * plans equal to the ones Bench and Verify run. The set of declared
  * queries the rewrite fires on is exact in both directions: a query that
  * newly plans a TopKPerGroup, or stops planning one, fails the sweep.
  * Building every declared query also leaves the session's function
  * registry as it found it: operators build graft's native expressions as
  * typed columns and never install a function by name.
  *
  * The same sweep takes the codegen census: the expressions in each
  * query's executed plan that whole-stage codegen cannot compile — every
  * `CodegenFallback` (higher-order-function lambdas such as `transform`,
  * `aggregate`, `zip_with`, evaluated interpreted inside their stage) and
  * every Scala UDF. The map is exact in both directions, like the top-k
  * set, so it only changes on purpose.
  */
class WiringSpec extends SparkSuite with AdaptiveSparkPlanHelper {

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

  /** The codegen census: each declared query whose executed plan keeps
    * an interpreted expression, with those expressions' classes. The
    * plans of a query's eager `ckpt` intermediates are not its executed
    * plan and are not swept. */
  private val interpreted: Map[String, Set[String]] = Map(
    "b31_visibility_labels" -> Set("ArrayExists", "ArrayForAll"),
    "b33_cell_tags_lattice" -> Set("ArrayExists", "ArrayForAll"),
    "d14_hbase_append" -> Set("ArraySort"),
    "d8_agg_collect" -> Set("ArraySort"),
    "g5_intersect_all" -> Set("ReplicateRows"),
    "g6_except_all" -> Set("ReplicateRows"),
    "h7_fn_lambda" -> Set("ArrayAggregate", "ArrayTransform"),
    "h8_fn_map" -> Set("ArrayAggregate", "ArraySort", "MapFilter"),
    "j24_pack_payload" -> Set("ArraySort", "ArrayTransform"),
    "j29_decontaminate" -> Set("ArrayTransform"),
    "j30_rep_quality" -> Set("ArrayTransform"),
    "j31_dedup_cut" -> Set("ArrayAggregate", "ArraySort"),
    "j33_winnow_fingerprint" -> Set("ArraySort", "ArrayTransform"),
    "j36_decontaminate_bloom" -> Set("ArrayTransform"),
    "j37_heavy_hitters" -> Set("ArrayTransform", "ScalaUDF"),
    "j41_ngram_lm" -> Set("ArrayTransform"),
    "j47_curate_e2e" -> Set("ArraySort", "ArrayTransform"),
    "j49_lm_backoff" -> Set("ArrayTransform"),
    "j58_decontaminate_fuzzy" -> Set("ArrayTransform"),
    "k1_udf_scalar" -> Set("ScalaUDF"),
    "k3_udtf_explode" -> Set("ScalaUDF"))

  /** Class names of the interpreted expressions under `e`. A lambda
    * function and its variables are parts of their higher-order
    * function, which is reported instead; an aggregate function runs in
    * its aggregate operator rather than in a projection, so only its
    * arguments count. */
  private def fallbacks(e: Expression): Seq[String] = e match {
    case _: LambdaFunction | _: NamedLambdaVariable | _: AggregateFunction =>
      e.children.flatMap(fallbacks)
    case _: CodegenFallback | _: ScalaUDF => e.getClass.getSimpleName +: e.children.flatMap(fallbacks)
    case _ => e.children.flatMap(fallbacks)
  }

  private def fallbacks(plan: SparkPlan): Set[String] =
    collectWithSubqueries(plan) { case p => p.expressions.flatMap(fallbacks) }.flatten.toSet

  /** Every declared query built once on the GraftExtensions session, under
    * its own scratch alias of the fixture path (see WindowLintSpec): the
    * constructors' filesystem side effects land in dirs no other spec
    * uses. The function registry is listed before and after. */
  private lazy val sweep = {
    val isolatedSf = sf + "/./."
    val registry = SparkSuite.graft.sessionState.functionRegistry
    val functionsBefore = registry.listFunction().toSet
    val built = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(SparkSuite.graft, isolatedSf).queryExecution
      (name, qe.optimizedPlan, fallbacks(qe.executedPlan))
    }
    (isolatedSf, built, functionsBefore, registry.listFunction().toSet)
  }

  test("GraftExtensions plans every top-k query exactly as the experimental hooks do") {
    val (isolatedSf, built, functionsBefore, functionsAfter) = sweep
    val planned = built.collect {
      case (name, plan, _) if plan.collectWithSubqueries { case t: TopKPerGroup => t }.nonEmpty =>
        name -> plan
    }
    assert(functionsAfter == functionsBefore,
      s"building the declared queries changed the function registry: added " +
        s"${(functionsAfter -- functionsBefore).map(_.funcName).toSeq.sorted}, removed " +
        s"${(functionsBefore -- functionsAfter).map(_.funcName).toSeq.sorted}")
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

  test("codegen census: the interpreted expressions of every declared query's executed plan") {
    val got = sweep._2.collect { case (name, _, fb) if fb.nonEmpty => name -> fb }.toMap
    val changed = (got.keySet ++ interpreted.keySet).toSeq.sorted
      .filter(q => got.get(q) != interpreted.get(q))
      .map(q => s"$q: pinned ${interpreted.get(q).map(_.toSeq.sorted)}, planned ${got.get(q).map(_.toSeq.sorted)}")
    val listing = got.toSeq.sortBy(_._1).map { case (q, c) =>
      "\"" + q + "\" -> Set(" + c.toSeq.sorted.map("\"" + _ + "\"").mkString(", ") + ")"
    }
    assert(changed.isEmpty, s"${changed.size} queries differ from the census:\n" +
      changed.mkString("\n") + "\nplanned census:\n" + listing.mkString(",\n"))
  }
}

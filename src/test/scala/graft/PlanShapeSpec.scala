package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.TextFunctions

/** Physical-plan-shape tripwires for the dedup keeper formulations and
  * the sharded budget cumsum.
  *
  * Round-10 shapes: the span/line keeper decision is a duplicated-key
  * HASH AGGREGATE joined back to the occurrence stream — NO keeper
  * window anywhere, because a window partitioned by the content hash
  * serializes a corpus-universal gram/line into one task (the round-9
  * weak component; map-side partial aggregation has no such hazard and
  * AQE can skew-split the join-back but not a window). The keeper side
  * deliberately RE-EVALUATES its subtree column-pruned rather than
  * materializing it (localCheckpoint and exchange-reuse sharing both
  * measured worse — see the lineDedup/spanNonKeepers comments), so
  * the pinned counts below include exactly two evaluations. A refactor
  * that reintroduces a keeper window (hot-key hazard) or adds a third
  * evaluation keeps every value oracle green while breaking the scale
  * story — so the shapes are pinned here. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def counts(plan: SparkPlan): (Int, Int, Int) = {
    def walk(p: SparkPlan): (Int, Int, Int) = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec =>
        val inner = walk(s.plan)
        if (s.plan.isInstanceOf[ShuffleExchangeLike])
          (inner._1, inner._2, inner._3) // exchange counted inside s.plan
        else inner
      case other =>
        val self = other.getClass.getSimpleName match {
          case "GenerateExec" => (1, 0, 0)
          case "WindowExec" | "WindowGroupLimitExec" => (0, 1, 0)
          case _ if other.isInstanceOf[ShuffleExchangeLike] => (0, 0, 1)
          case _ => (0, 0, 0)
        }
        other.children.map(walk).foldLeft(self) {
          case ((g, w, s0), (g2, w2, s2)) => (g + g2, w + w2, s0 + s2)
        }
    }
    walk(plan)
  }

  private def shapeOf(df: DataFrame): (Int, Int, Int) = {
    df.collect() // finalize AQE
    counts(df.queryExecution.executedPlan)
  }

  private val docs = Seq(
    (1L, "a b c d e f a b c"), (2L, "a b c x y z"), (3L, "p q r s t u"),
    (4L, "x y z p q r"), (5L, "m n"))
    .toDF("doc_id", "text")

  test("lineDedup: no keeper window; text + pruned keeper evaluations") {
    val (g, w, _) = shapeOf(Dedup.lineDedup(docs, "doc_id", "text"))
    assert(w == 0, s"keeper window crept back ($w windows) — a " +
      "corpus-universal line would serialize one task at 100 TB")
    // exactly TWO chunker explodes: the text-carrying stream and the
    // keeper aggregate's column-pruned evaluation (hashes only — the
    // deliberate recompute-over-materialize trade documented on
    // lineDedup). 3+ means an extra evaluation crept in.
    assert(g == 2, s"expected 2 generates (text + pruned keeper " +
      s"evaluations), got $g")
  }

  test("exactSubstringDedup: agg keeper joined back, no keeper window") {
    val df = Dedup.exactSubstringDedup(docs, "doc_id", "text", n = 3)
    df.collect()
    // exact Generate/Window counts vary with whether Spark's exchange
    // reuse collapses the two gram evaluations (it fires on some input
    // relation shapes and not others), so the pinned invariant is the
    // HAZARD itself: every window in the plan must be partitioned by
    // doc_id (the per-doc lead windows — doc ids are unique, never
    // hot). A window partitioned by the gram hash `h` is the round-9
    // keeper formulation, whose one task would own a corpus-universal
    // gram's entire group at 100 TB.
    val wins = windowSpecs(df.queryExecution.executedPlan)
    assert(wins.nonEmpty, "expected doc-lead windows in the gram subtree")
    wins.foreach { refs =>
      // the hazard is ANY window keyed on the gram hash (hot-key
      // single-task); doc_id-partitioned lead windows are the only
      // acceptable shape
      assert(refs.contains("doc_id") && !refs.contains("h"),
        s"window partitioned by $refs — keeper window over the gram " +
          "hash crept back (100 TB single-task hazard)")
    }
  }

  /** Partition-spec column names of every WindowExec in the plan. */
  private def windowSpecs(plan: SparkPlan): Seq[Set[String]] = {
    def walk(p: SparkPlan): Seq[Set[String]] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name)).toSet +:
          w.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(plan)
  }

  test("charEntropy: char explode stays below the partial aggregate") {
    val (g, w, s) = shapeOf(
      TextFunctions.charEntropy(docs, "doc_id", "text"))
    assert(g == 1 && w == 1, s"shape drifted: generates=$g windows=$w")
    assert(s == 2, s"both exchanges must carry (doc,char,count) rows, got $s")
  }

  test("dsir weights: bounded bucket spaces score ROW-LOCALLY (zero " +
      "generates, zero joins); large spaces keep the one-explode " +
      "broadcast-join form") {
    val raw = docs
    val target = Seq((11L, "a b c"), (12L, "a b")).toDF("doc_id", "text")
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      (p match {
        case a: AdaptiveSparkPlanExec => return joins(a.executedPlan)
        case s: QueryStageExec => return joins(s.plan)
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          Seq(j.getClass.getSimpleName)
        case _ => Nil
      }) ++ p.children.flatMap(joins)
    // hexChars ≤ 4 (every production config): the served scoring plan
    // must touch NO per-feature rows — no Generate, no join, no window
    // (round-14: the explode+join+agg form cost 4× the count pass)
    val w = graft.sampling.Dsir.importanceWeights(raw, target,
      "doc_id", "text")
    val (g, win, _) = shapeOf(w)
    assert(g == 0, s"row-local weights must not explode features, got $g")
    assert(win == 0, s"unexpected window in the weights plan ($win)")
    assert(joins(w.queryExecution.executedPlan).isEmpty,
      "row-local weights must not join")
    // hexChars 5: the join form — exactly ONE Generate (the scoring
    // explode; a second means a totals crossJoin re-evaluates the
    // corpus subtree — the round-12 fix), broadcast joins only
    val w5 = graft.sampling.Dsir.importanceWeights(raw, target,
      "doc_id", "text", hexChars = 5)
    val (g5, win5, _) = shapeOf(w5)
    assert(g5 == 1, s"expected 1 generate (the scoring explode), got $g5")
    assert(win5 == 0, s"unexpected window in the weights plan ($win5)")
    val js = joins(w5.queryExecution.executedPlan)
    assert(js.nonEmpty && js.forall(_.startsWith("Broadcast")),
      s"non-broadcast join in the final weights plan: $js")
    // THE TWO FORMS AGREE value-for-value at a shared bucket space:
    // hexChars 4 row-locally vs the same model through the join form
    val m4 = graft.sampling.Dsir.importanceModel(
      graft.sampling.Dsir.featureBuckets(raw, "doc_id", "text", 4),
      graft.sampling.Dsir.featureBuckets(target, "doc_id", "text", 4), 4)
      .localCheckpoint()
    def pin(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val feats = graft.sampling.Dsir.featureBuckets(raw, "doc_id", "text", 4)
    val joined = feats.join(broadcast(m4.select($"bucket", $"log_ratio")),
        Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_features"),
        round(sum($"log_ratio"), 6).as("weight"))
    val joinForm = raw.select($"doc_id").join(joined, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_features", lit(0L)).as("n_features"),
        coalesce($"weight", lit(0.0)).as("weight"))
    assert(pin(graft.sampling.Dsir.weightsAgainstModel(
        raw, m4, "doc_id", "text", 4)) == pin(joinForm),
      "row-local and join-form weights disagree")
  }

  test("budgetSample: no window partitioned by domain alone over the corpus") {
    val out = graft.sampling.Sampling.budgetSample(docs, "doc_id", "doc_id",
      lit(2L), totalBudget = 6L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the corpus-side running sum must carry the md5-prefix shard in its
    // window partition spec (the arg-25 3.4x skew receipt)
    assert(plan.contains("__shard"),
      "sharded running sum missing — per-domain window serializes mega-domains")
  }
}

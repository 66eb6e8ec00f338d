package graft.ml

import graft.QuerySpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Association-rule mining over order baskets — the classical
  * market-basket operator (support / confidence / lift with minimum-
  * support pruning) the reference's capability family stops short of
  * (its co-occurrence analysis ends at raw counts; ref:
  * ScalaNotebooks/MovieSearchEngine.scala:128-151 builds per-key count
  * aggregates of exactly this shape). g12/g13 cover co-visitation
  * counts and Jaccard over event streams; this adds the DIRECTED rule
  * metrics a recommender or query-rewriter actually thresholds on.
  *
  * Scale shape (the reason this is safe at 100 TB): the quadratic is
  * per-basket, never global. Baskets (distinct order→item) self-join on
  * the order key, so each order contributes C(b,2) pairs where b is its
  * basket size — bounded by schema reality (≤13 distinct parts per
  * order in this corpus, rarely >100 anywhere), so the pair explosion
  * is a small constant times the fact table, map-side combinable into
  * the (item_a, item_b) count aggregate. Both join sides are THE SAME
  * shuffle (Catalyst plans a ReusedExchange — one exchange of the
  * basket frame, spec-pinned); item supports and the 1-row order count
  * ride in as broadcasts below the aggregate (A4 discipline: no driver
  * action). Minimum-support pruning happens on the UNDIRECTED pair
  * frame before rules are emitted, halving the frame that carries the
  * metric arithmetic.
  *
  * Determinism: n_ab, supports, and n_orders are exact integers; each
  * metric is ONE IEEE division. Lift's numerator/denominator factors
  * are each cast to double BEFORE multiplying (both engines, same
  * order), so no 64-bit integer product exists to overflow at corpus
  * scale — n_ab·N can exceed Long range at 100 TB, and Spark would
  * wrap silently while DuckDB promotes; double·double is the identical
  * IEEE operation on both sides at any magnitude. Result then 6-dp
  * round→DECIMAL at the edge
  * (the engine-wide libm/repr rule). Top-k orders by the ROUNDED
  * decimal lift with (antecedent, consequent) tiebreaks, so both
  * engines select the same rows.
  */
object AssocRules {
  private val Out6 = DecimalType(18, 6)

  /** Rules from a (ok, item) basket frame: directed (antecedent →
    * consequent) with support = n_ab/N, confidence = n_ab/s_ant,
    * lift = n_ab·N/(s_ant·s_con); pairs below `minCount` co-occurrences
    * are pruned before metrics.
    *
    * `minCount` is the ABSOLUTE prune (fixture-friendly); production
    * pruning must be RELATIVE ([[assocRulesBySupport]]): with a fixed
    * item universe, co-occurrence counts scale with corpus size, so an
    * absolute threshold admits O(N) more pairs as the corpus grows (the
    * 10× probe measured exactly this: 63 → ~115k surviving pairs) while
    * a support fraction keeps the surviving set scale-invariant. */
  def assocRules(baskets: DataFrame, minCount: Int = 3, topK: Int = 30): DataFrame =
    rulesCore(baskets, lit(minCount.toLong), topK)

  /** Relative-support pruning — the scale-correct production form:
    * minCount = ⌈minSupport · N⌉ is derived INSIDE the plan from the
    * 1-row order count (one broadcast, no driver action), so the
    * surviving pair set stays scale-invariant as the corpus grows. */
  def assocRulesBySupport(baskets: DataFrame, minSupport: Double = 2.0e-4,
                          topK: Int = 30): DataFrame =
    rulesCore(baskets, ceil(lit(minSupport) * col("n_orders")), topK)

  private def rulesCore(baskets: DataFrame, minCountExpr: org.apache.spark.sql.Column,
                        topK: Int): DataFrame = {
    val b = baskets.select(col("ok"), col("item")).distinct()
    val nOrders = b.select("ok").distinct()
      .agg(count(lit(1)).as("n_orders")) // 1 row; broadcast, never collected
    val supp = b.groupBy("item").agg(count(lit(1)).as("s"))
    // self-join via plan-identical aliases: Catalyst ships ONE exchange
    // of the basket frame and a ReusedExchange for the other side
    // (aliasing the item column before the join would fork the subplans
    // and double the shuffle — spec-pinned under threshold=-1)
    val pairs = b.as("l").join(b.as("r"),
        col("l.ok") === col("r.ok") && col("l.item") < col("r.item"))
      .select(col("l.item").as("item_a"), col("r.item").as("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(nOrders)) // 1 row; lets the prune be N-relative
      .filter(col("n_ab") >= minCountExpr)
      .select("item_a", "item_b", "n_ab")
    // both directed rules from one pair row (a union would recompute the
    // whole pair aggregation per branch)
    val rules = pairs.select(explode(array(
        struct(col("item_a").as("antecedent"), col("item_b").as("consequent"),
          col("n_ab")),
        struct(col("item_b").as("antecedent"), col("item_a").as("consequent"),
          col("n_ab")))).as("rule"))
      .select(col("rule.antecedent").as("antecedent"),
        col("rule.consequent").as("consequent"), col("rule.n_ab").as("n_ab"))
    rules
      .join(broadcast(supp.select(col("item").as("antecedent"), col("s").as("s_ant"))),
        "antecedent")
      .join(broadcast(supp.select(col("item").as("consequent"), col("s").as("s_con"))),
        "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_orders"), 6)
          .cast(Out6).as("support"),
        round(col("n_ab").cast("double") / col("s_ant"), 6)
          .cast(Out6).as("confidence"),
        round((col("n_ab").cast("double") * col("n_orders").cast("double")) /
          (col("s_ant").cast("double") * col("s_con").cast("double")), 6)
          .cast(Out6).as("lift"))
      .orderBy(desc("lift"), asc("antecedent"), asc("consequent"))
      .limit(topK)
  }

  /** Registry entry: baskets are the distinct (order, part) pairs of
    * lineitem; pruning is RELATIVE (minSupport = 2e-4 ⇒ minCount 3 at
    * sf0.01, and the same RULE SET — not 1000× the rules — at 100 TB). */
  def m27AssocRules(spark: SparkSession, dir: String,
                    minSupport: Double = 2.0e-4, topK: Int = 30): DataFrame =
    assocRulesBySupport(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")),
      minSupport, topK)

  def m27AssocRulesSql(minSupport: Double = 2.0e-4, topK: Int = 30): String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
       |n AS (SELECT count(*) AS n_orders FROM (SELECT DISTINCT ok FROM b)),
       |supp AS (SELECT item, count(*) AS s FROM b GROUP BY 1),
       |pairs AS (
       |  SELECT a.item AS item_a, bb.item AS item_b, count(*) AS n_ab
       |  FROM b a JOIN b bb ON a.ok = bb.ok AND a.item < bb.item
       |  GROUP BY 1, 2
       |  HAVING count(*) >= (SELECT CAST(ceil($minSupport * n_orders) AS BIGINT) FROM n)),
       |rules AS (
       |  SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM pairs
       |  UNION ALL
       |  SELECT item_b AS antecedent, item_a AS consequent, n_ab FROM pairs)
       |SELECT r.antecedent, r.consequent, r.n_ab,
       |  CAST(round(CAST(r.n_ab AS DOUBLE) / n.n_orders, 6) AS DECIMAL(18,6)) AS support,
       |  CAST(round(CAST(r.n_ab AS DOUBLE) / sa.s, 6) AS DECIMAL(18,6)) AS confidence,
       |  CAST(round((CAST(r.n_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)) /
       |             (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)), 6)
       |       AS DECIMAL(18,6)) AS lift
       |FROM rules r
       |JOIN supp sa ON sa.item = r.antecedent
       |JOIN supp sc ON sc.item = r.consequent, n
       |ORDER BY lift DESC, antecedent ASC, consequent ASC LIMIT $topK""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("m27_assoc_rules", (s, dir) => m27AssocRules(s, dir),
      () => m27AssocRulesSql(), Seq("support", "confidence", "lift")),
  )
}

package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Plan pin for the PageRank family's keyed loop: with the loop split
  * over several partitions (np > 1), every round's executed plan holds
  * exactly one hash shuffle, keyed on `dst` (the mass re-key), and the
  * `contribs ⋈ ranks` join under it plans no exchange at all — both
  * sides arrive hash-partitioned on the join key from their
  * checkpoints. */
class PageRankPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** 48 vertices, 8 out-edges each, plus 8 dst-only (dangling) ids:
    * enough bytes that a 2 KB advisory size splits the loop. */
  private def graph: DataFrame =
    ((0L until 48L).flatMap(s => (1L to 8L).map(k => (s, (s * 7 + k * 5) % 56L)))
      .filter { case (s, d) => s != d }).toDF("src", "dst")

  /** Final executed plans of every checkpoint materialized by `run`. */
  private def checkpointPlans(run: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName.toLowerCase.contains("checkpoint")) plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.get(key, "64m")
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      spark.conf.set(key, "2k")
      run
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, old)
    }
    plans.asScala.toSeq
  }

  private def names(keys: Seq[Expression]): Seq[String] =
    keys.collect { case a: AttributeReference => a.name }

  /** A round's plan is the one joining contribs (`src`) to ranks (`id`). */
  private def spreadJoins(p: SparkPlan): Seq[HashJoin] = collect(p) {
    case j: HashJoin if names(j.leftKeys) == Seq("src") && names(j.rightKeys) == Seq("id") => j
  }

  private def checkRounds(name: String, plans: Seq[SparkPlan], rounds: Int): Unit = {
    val roundPlans = plans.filter(p => spreadJoins(p).nonEmpty)
    assert(roundPlans.size == rounds, s"$name: ${roundPlans.size} round plans, want $rounds")
    roundPlans.foreach { p =>
      val hashShuffles = collect(p) {
        case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
      }
      assert(hashShuffles.size == 1, s"$name: ${hashShuffles.size} hash shuffles per round\n$p")
      val keys = hashShuffles.head.outputPartitioning.asInstanceOf[HashPartitioning]
      assert(keys.numPartitions > 1, s"$name: loop ran on one partition\n$p")
      assert(names(keys.expressions) == Seq("dst"), s"$name: shuffle keyed on $keys\n$p")
      spreadJoins(p).foreach { j =>
        val ex = collect(j.asInstanceOf[SparkPlan]) { case e: Exchange => e }
        assert(ex.isEmpty, s"$name: contribs ⋈ ranks plans ${ex.size} exchanges\n$p")
      }
    }
  }

  test("each PageRank round plans one hash shuffle, on dst, and an exchange-free contribs ⋈ ranks") {
    val e = graph
    checkRounds("pageRank",
      checkpointPlans(Graph.pageRank(e, iterations = 3).collect()), 3)
    checkRounds("pageRankDangling",
      checkpointPlans(Graph.pageRankDangling(e, iterations = 3).collect()), 3)
    checkRounds("personalizedPageRank",
      checkpointPlans(Graph.personalizedPageRank(e, Seq(0L, 1L), iterations = 3).collect()), 3)
    val tolPlans = checkpointPlans(Graph.pageRankTol(e, tol = 0.01).collect())
    checkRounds("pageRankTol", tolPlans, Graph.tolIterations.last)
  }
}

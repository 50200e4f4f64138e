package graft

import graft.graphs.Graphs
import org.apache.spark.graft.{CheckpointPlans, JobCount}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** The job budget of the graph loops: a [[Materialize]] checkpoint knows
  * its exact size, its loop scalars ride its own job, and a round of
  * [[Graphs.pageRank]] or [[Graphs.shortestPaths]] runs at most three
  * Spark jobs (the state broadcast, one shuffle, the checkpoint).
  */
class GraphJobBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sc = spark.sparkContext

  /** A fixed digraph: 60 nodes; nodes 0–49 have 4 out-edges each, nodes
    * 50–59 none (dangling); the chain i → i+1 keeps a shortest-path
    * frontier alive for many hops.
    */
  private val nodes: DataFrame = (0L until 60L).toDF("node")
  private val edges: DataFrame =
    (for (i <- 0 until 50; j <- 0 to 3)
      yield (i.toLong, (if (j == 0) i + 1 else (i * 7 + j * 11) % 60).toLong, (i + j) % 5 + 1L))
      .filter(e => e._1 != e._2).toDF("src", "dst", "w")

  // Setup jobs, measured on this fixture (AQE runs each query stage of a
  // checkpoint as its own job): for pageRank the node and edge
  // checkpoints and the initial state with its out-degrees, for
  // shortestPaths the edge and the seed checkpoints. Before rounds were
  // cut to three jobs, the same fixture ran 17 jobs for one PageRank
  // iteration and 7 per further round, 13 for one hop and 8–9 per
  // further hop.
  private val PageRankSetupJobs = 7
  private val ShortestPathsSetupJobs = 3
  private val JobsPerRound = 3

  private def pageRankJobs(iters: Int): Int =
    JobCount(sc)(Materialize.scope {
      Graphs.pageRank(nodes, $"node", edges, $"src", $"dst", iters = iters).collect()
    })._2

  private def shortestPathsJobs(hops: Int): Int =
    JobCount(sc)(Materialize.scope {
      Graphs.shortestPaths(edges, $"src", $"dst", $"w", Seq(0L).toDF("s"), $"s", maxHops = hops)
        .collect()
    })._2

  test(s"pageRank: at most $JobsPerRound jobs per round past a setup of $PageRankSetupJobs") {
    pageRankJobs(1) // warm the session
    val one = pageRankJobs(1)
    val five = pageRankJobs(5)
    info(s"1 iteration: $one jobs; 5 iterations: $five jobs")
    // the final collect is one job either way
    assert(one <= PageRankSetupJobs + JobsPerRound + 1, s"1 iteration ran $one jobs")
    assert(five - one <= 4 * JobsPerRound, s"4 more iterations ran ${five - one} jobs ($one → $five)")
  }

  test(s"shortestPaths: at most $JobsPerRound jobs per hop past a setup of $ShortestPathsSetupJobs") {
    shortestPathsJobs(1)
    val one = shortestPathsJobs(1)
    val four = shortestPathsJobs(4)
    info(s"1 hop: $one jobs; 4 hops: $four jobs")
    val reached = Graphs.shortestPaths(edges, $"src", $"dst", $"w", Seq(0L).toDF("s"), $"s", 4)
      .count()
    assert(reached > 5, "the fixture's frontier must stay alive through 4 hops")
    assert(one <= ShortestPathsSetupJobs + JobsPerRound + 1, s"1 hop ran $one jobs")
    assert(four - one <= 3 * JobsPerRound, s"3 more hops ran ${four - one} jobs ($one → $four)")
  }

  test("a round-2 PageRank plan broadcasts the rank state, not the edges") {
    val (_, plans) = CheckpointPlans(spark)(Materialize.scope {
      Graphs.pageRank(nodes, $"node", edges, $"src", $"dst", iters = 2).collect()
    })
    // nodes, edges, the initial state, round 1, round 2
    assert(plans.size == 5, s"expected 5 checkpoints, saw ${plans.size}")
    val joins = collect(plans.last.executedPlan) { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, plans.last.executedPlan.toString)
    joins.foreach { j =>
      val built = (if (j.buildSide == BuildRight) j.right else j.left).output.map(_.name)
      assert(!built.contains("dst") && built.contains("share"),
        s"round 2 broadcast ${built.mkString(", ")}:\n${plans.last.executedPlan}")
    }
  }

  test("a Materialize result carries its exact row count and size; rows and observed run no job") {
    Materialize.scope {
      val src = spark.range(0, 1000).select(($"id" % 37).as("k"), $"id".as("v"))
        .crossJoin(spark.range(0, 3).toDF("r"))
      val (m, jobs) = JobCount(sc)(Materialize(src.where($"k" =!= 5L)))
      val truth = m.collect().length.toLong
      assert(truth == 2919L)
      assert(m.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(truth)))
      // k, v, r: three longs plus the row header
      assert(m.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(truth * 32))
      // the count rides the checkpoint job: no job beyond a bare checkpoint's
      val (_, bare) = JobCount(sc)(src.where($"k" =!= 5L).localCheckpoint())
      assert(jobs == bare, s"Materialize ran $jobs jobs, a bare checkpoint $bare")
      val (n, rowJobs) = JobCount(sc)(Materialize.rows(m))
      assert(n == truth && rowJobs == 0)

      val ((o, metrics), obsJobs) = JobCount(sc)(
        Materialize.observed(src, max($"v").as("top"), sum($"r").as("rs")))
      assert(metrics.getAs[Long]("top") == 999L && metrics.getAs[Long]("rs") == 3000L)
      assert(Materialize.rows(o) == 3000L)
      val (_, bareObs) = JobCount(sc)(src.localCheckpoint())
      assert(obsJobs == bareObs, s"observed ran $obsJobs jobs, a bare checkpoint $bareObs")

      val empty = Materialize(src.where(lit(false)))
      assert(Materialize.rows(empty) == 0L)
      intercept[IllegalArgumentException](Materialize.rows(m.select($"k")))
    }
  }
}

package graft

import org.apache.spark.graft.ResidentBlocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Iterative graph gates return holding only the RDD blocks their result
  * reads: every superseded round, edge relation and frontier is freed by
  * the time the gate returns, without a GC.
  */
class ResidencySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Ids of the RDDs the result's plan scans, with their lineage. */
  private def readBy(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(rdd: RDD[_]): Unit =
      if (seen.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }.foreach(walk)
    seen.toSet
  }

  for (name <- Seq("q154_pagerank", "q160_trustrank", "q174_kcore", "q179_components",
      "q180_scc", "q183_sssp", "q198_ktruss")) {
    test(s"$name returns holding only the blocks its result reads") {
      val before = ResidentBlocks.rddIds(spark.sparkContext)
      val (out, stored) = ResidentBlocks.storedDuring(spark.sparkContext)(
        SparkEntry.queries(name)(spark, sf))
      // a gate that stores no block could not fail the check below
      assert(stored.nonEmpty, s"$name stored no RDD blocks, so its stray check proves nothing")
      val read = readBy(out)
      def stray = ResidentBlocks.rddIds(spark.sparkContext) -- before -- read
      // removal is asynchronous: a bounded wait, never a GC
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (stray.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(stray.isEmpty, s"$name left blocks of RDDs its result does not read: ${stray.toSeq.sorted}")
      out.collect() // the kept blocks still serve the result
    }
  }
}

package graft

import org.apache.spark.graft.ResidentBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The ownership laws of [[graft.Materialize.scope]]: what a scope frees
  * on exit, what it hands to its parent, and that a failure frees all.
  */
class MaterializeScopeSpec extends SparkSpec {

  private def ckptRdd(ds: DataFrame) =
    ds.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  /** Block removal is asynchronous: wait (bounded) until none of `ids`
    * holds a block, and return those that still do.
    */
  private def awaitGone(ids: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    var left = ResidentBlocks.rddIds(spark.sparkContext) intersect ids
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      left = ResidentBlocks.rddIds(spark.sparkContext) intersect ids
    }
    left
  }

  private def nums(n: Int): DataFrame = spark.range(n).toDF("x")

  test("scope exit frees non-result checkpoints; the result keeps its blocks and collects") {
    var dead, live = -1
    val out = Materialize.scope {
      val a = Materialize(nums(100))
      val b = Materialize(a.select((col("x") * 2).as("y")))
      dead = ckptRdd(a).id
      live = ckptRdd(b).id
      assert(Set(dead, live).subsetOf(ResidentBlocks.rddIds(spark.sparkContext)))
      b.where(col("y") >= 10)
    }
    assert(awaitGone(Set(dead)).isEmpty, "the superseded checkpoint still holds blocks")
    assert(ResidentBlocks.rddIds(spark.sparkContext)(live), "the result's checkpoint was freed")
    assert(out.count() == 95)
  }

  test("a nested scope hands its result's blocks to the parent, which frees them at its exit") {
    var innerDead, handed = -1
    val n = Materialize.scope {
      val inner = Materialize.scope {
        val a = Materialize(nums(50))
        val b = Materialize(a.select((col("x") + 1).as("x")))
        innerDead = ckptRdd(a).id
        handed = ckptRdd(b).id
        (b, b.count())
      }
      assert(awaitGone(Set(innerDead)).isEmpty)
      assert(ResidentBlocks.rddIds(spark.sparkContext)(handed), "the parent must still own the inner result")
      inner._1.agg(sum(col("x"))).head().getLong(0)
    }
    assert(n == 1275L)
    assert(awaitGone(Set(handed)).isEmpty, "the parent did not free what it was handed")
  }

  test("a thrown exception frees every checkpoint and persisted Dataset of the scope") {
    var ids = Set.empty[Int]
    var cached: DataFrame = null
    val e = intercept[IllegalStateException] {
      Materialize.scope {
        val a = Materialize(nums(30))
        val b = Materialize(a.select((col("x") * 3).as("x")))
        cached = Materialize.persist(b.where(col("x") > 3))
        assert(cached.count() == 28)
        ids = Set(ckptRdd(a).id, ckptRdd(b).id)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(awaitGone(ids).isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE, "the persisted Dataset is still cached")
  }

  test("results keep what every Dataset in them reads: tuples, persisted plans, early returns") {
    def early(flag: Boolean): DataFrame = Materialize.scope {
      val a = Materialize(nums(10))
      if (flag) return a.select(col("x"))
      nums(1)
    }
    var kept = Set.empty[Int]
    var cached: DataFrame = null
    Materialize.scope {
      val (l, r, p) = Materialize.scope {
        val l = Materialize(nums(5))
        val r = Materialize(nums(7))
        val p = Materialize.persist(nums(9).where(col("x") > 0))
        kept = Set(ckptRdd(l).id, ckptRdd(r).id)
        (l.select(col("x")), r, p.select(col("x")))
      }
      cached = p
      val e = early(flag = true)
      assert(kept.subsetOf(ResidentBlocks.rddIds(spark.sparkContext)), "a checkpoint the result reads was freed")
      assert(p.storageLevel != StorageLevel.NONE, "a persisted Dataset the result reads was freed")
      assert(l.count() == 5 && r.count() == 7 && p.count() == 8 && e.count() == 10)
    }
    assert(awaitGone(kept).isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  test("release frees superseded state at once; a projection or another scope's state is left") {
    Materialize.scope {
      val outer = Materialize(nums(4))
      Materialize.scope {
        val a = Materialize(nums(20))
        val b = Materialize(a.select((col("x") + 1).as("x")))
        Materialize.release(outer) // owned by the enclosing scope
        Materialize.release(b.select(col("x"))) // not itself a checkpoint
        Materialize.release(a)
        assert(awaitGone(Set(ckptRdd(a).id)).isEmpty)
        assert(Set(ckptRdd(b).id, ckptRdd(outer).id).subsetOf(ResidentBlocks.rddIds(spark.sparkContext)))
        assert(b.count() == 20 && outer.count() == 4)
      }
    }
  }

  test("under graft.checkpointDir a scope deletes the checkpoint directories of non-result RDDs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scope-ckpt").toFile
    graft.Materialize.repoint(spark)
    spark.conf.set(graft.Materialize.ConfKey, dir.getAbsolutePath)
    try {
      var deadFile, liveFile = ""
      val out = Materialize.scope {
        val a = Materialize(nums(40))
        val b = Materialize(a.where(col("x") % 2 === 0))
        deadFile = ckptRdd(a).getCheckpointFile.get
        liveFile = ckptRdd(b).getCheckpointFile.get
        assert(new java.io.File(new java.net.URI(deadFile)).isDirectory)
        b
      }
      assert(!new java.io.File(new java.net.URI(deadFile)).exists(),
        s"non-result checkpoint directory $deadFile survived the scope")
      assert(new java.io.File(new java.net.URI(liveFile)).isDirectory)
      assert(out.count() == 20)
    } finally {
      spark.conf.unset(graft.Materialize.ConfKey)
      graft.Materialize.repoint(spark)
    }
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared materialization barrier: localCheckpoint by default,
  * reliable checkpoint() files under graft.barrier.checkpointDir —
  * content-identical either way, lineage cut either way. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  test("default mode: content preserved, lineage cut, no checkpoint files") {
    val df = (1L to 100L).toDF("id")
      .withColumn("sq", col("id") * col("id"))
    val cut = Barrier.cut(df)
    assert(cut.as[(Long, Long)].collect().toSet ==
      (1L to 100L).map(i => (i, i * i)).toSet)
    // lineage is cut: the logical plan is an RDD-backed leaf, not the
    // original projection tree
    assert(cut.queryExecution.logical.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("LogicalRDD")),
      cut.queryExecution.logical.toString)
  }

  test("conf mode: reliable checkpoint files appear under the configured dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_barrier_spec")
      .toString
    spark.conf.set(Barrier.ConfKey, dir)
    try {
      val df = (1L to 50L).toDF("id")
      val cut = Barrier.cut(df)
      assert(cut.as[Long].collect().toSet == (1L to 50L).toSet)
      // the eager checkpoint wrote partition files under the dir
      def files(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq
          .filter(java.nio.file.Files.isRegularFile(_))
      }
      assert(files(java.nio.file.Paths.get(dir)).nonEmpty,
        s"no reliable checkpoint files under $dir")
    } finally {
      spark.conf.unset(Barrier.ConfKey)
      // the context checkpoint dir stays set (context-global by design)
      // but must not dangle at the temp dir this block deletes: any
      // later same-session code relying on the context dir would fail
      // or write into a recreated stale path — re-point it at a
      // surviving scratch dir first, then clear the temp files
      val scratch = java.nio.file.Paths.get("target", "barrier-spec-ckpt")
      java.nio.file.Files.createDirectories(scratch)
      spark.sparkContext.setCheckpointDir(scratch.toString)
      val p = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("awaitObserved: a failing read takes the fallback, which equals the observed value") {
    val obs = org.apache.spark.sql.Observation()
    val cut = Barrier.cut((1L to 40L).toDF("id").observe(obs, sum(col("id")).as("s")))
    val observed = Barrier.awaitObserved(obs)(_.getLong(0))(
      fail("fallback taken on a healthy metric"))
    var recomputed = false
    val fellBack = Barrier.awaitObserved(obs)(
        _ => throw new IllegalStateException("metrics row unreadable")) {
      recomputed = true
      cut.agg(sum(col("id"))).head().getLong(0)
    }
    assert(observed == 820L)
    assert(recomputed, "a throwing read must take the fallback")
    assert(fellBack == observed)
  }

  test("conf unset again: subsequent cuts revert to localCheckpoint") {
    // the opt-in is the CONF, not the context's (sticky) checkpoint dir:
    // after the conf is unset, cuts must not silently keep writing
    // reliable checkpoints just because some loop set the context dir
    assert(spark.conf.getOption(Barrier.ConfKey).isEmpty)
    val cut = Barrier.cut((1L to 10L).toDF("id"))
    assert(cut.as[Long].collect().toSet == (1L to 10L).toSet)
    assert(cut.rdd.getCheckpointFile.isEmpty,
      "cut wrote a reliable checkpoint with the conf unset")
  }
}

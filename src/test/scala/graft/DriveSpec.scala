package graft

import org.apache.spark.sql.functions.col

/** [[Drive.gate]], the streaming drives' one gate drain, against the
  * kill-and-restart contract: output after recovery equals an
  * uninterrupted run. */
class DriveSpec extends SparkSpec {

  test("a gate drain killed at batch 2 and restarted equals the uninterrupted drain") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    // a session value the gate's scoped partition count cannot match
    val session = (Drive.gateParts.toInt + 3).toString
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def drain(killAt: Int): (Seq[Drive.Batch], Set[(Long, Long)]) = {
      val work = TempDirs("drive")
      Drive.writeFeed(docs, s"$work/feed")
      val batches = Drive.gate(spark, s"$work/feed", 16, s"$work/pairs", killAt)(
        graft.streaming.StreamPhashDedup.distinctVideoPairs)
      assert(new java.io.File(work).list().toSeq == Seq("pairs"),
        "the feed and the checkpoint must be gone after the drain")
      assert(spark.conf.get(key) == session, "the session's shuffle partitions must be restored")
      (batches, Drive.pairs(spark.read.parquet(s"$work/pairs")))
    }
    try {
      spark.conf.set(key, session)
      val (straight, want) = drain(0)
      val (killed, got) = drain(2)
      assert(want.nonEmpty, "the video lane confirms pairs at sf0.001")
      assert(got == want, s"restarted drain: ${got.size} pairs vs ${want.size} uninterrupted")
      assert(straight.map(_.phase).distinct == Seq("run1"))
      assert(killed.filter(_.phase == "run1").map(_.id) == Seq(0L, 1L),
        s"the stop must follow batch 1's commit: ${killed.map(b => b.phase -> b.id)}")
      assert(killed.exists(_.phase == "resumed"), "the drain must restart after the kill")
      assert(killed.map(_.id) == straight.map(_.id) && straight.map(_.id) == straight.indices.map(_.toLong),
        s"batch ids must run 0…n-1 once across the restart: ${killed.map(_.id)} vs ${straight.map(_.id)}")
      assert(killed.map(_.rows).sum == straight.map(_.rows).sum && straight.map(_.rows).sum == docs.count())
    } finally spark.conf.set(key, prior)
  }
}

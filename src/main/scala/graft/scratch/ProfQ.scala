package graft.scratch

import org.apache.spark.scheduler._

import graft.GraftSession

/** Per-query job/task/stage profiler: runs each named query twice (first
  * warm), reports wall seconds, job count, task count, and summed task
  * time of the second run. */
object ProfQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(GraftSession.selects(args, _))
    names.foreach { n =>
      try {
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        GraftSession.dropAllBlocks(spark)
        Thread.sleep(200)
        jobs = 0; tasks = 0; taskMs = 0
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        println(f"[profq] $n%-34s wall=$wall%7.3fs jobs=$jobs%4d tasks=$tasks%5d taskTime=${taskMs / 1000.0}%8.2fs")
        GraftSession.dropAllBlocks(spark)
      } catch { case e: Throwable =>
        println(s"[profq] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

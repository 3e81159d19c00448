package graft.scratch

import org.apache.spark.scheduler._

import graft.GraftSession

object ProfJ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    val t0ref = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val t = (System.nanoTime() - t0ref.get) / 1e6
        val eid = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        val cs = "exec=" + eid + " " +
          j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" ; ")
        println(f"[profj] +$t%8.1fms job=${j.jobId}%3d stages=${j.stageInfos.size} tasks=${j.stageInfos.map(_.numTasks).sum} $cs")
      }
    }
    val n = args.head
    // warm
    graft.SparkEntry.queries(n)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    GraftSession.dropAllBlocks(spark)
    spark.sparkContext.addSparkListener(listener)
    Thread.sleep(300)
    t0ref.set(System.nanoTime())
    graft.SparkEntry.queries(n)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Thread.sleep(300)
    spark.stop()
  }
}

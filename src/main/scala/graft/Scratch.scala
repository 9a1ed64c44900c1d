package graft

/** Ad-hoc timing scratchpad (not part of the driver contract).
  * Times each named query three times after a cold pass, with the
  * bench warm-up and per-run isolation (cache clear + GC) so numbers
  * here reproduce BENCH warm numbers, then dumps the last run's top
  * stages by duration for attribution.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Long, Int)]() // (stageId, name, millis, tasks)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val i = sc.stageInfo
          val ms = (for {
            a <- i.completionTime; b <- i.submissionTime
          } yield a - b).getOrElse(-1L)
          // the callsite name is useless for SQL stages (broadcast
          // builds all read "withThreadLocalCaptured"); the RDD scope
          // names carry the actual operators this stage ran
          val ops = i.rddInfos.flatMap(r => Option(r.name))
            .map(_.takeWhile(_ != ' '))
            .filterNot(n => n.isEmpty || n == "MapPartitionsRDD" ||
              n == "ShuffledRowRDD" || n == "MapPartitions")
            .distinct.take(6).mkString("|")
          val label =
            if (ops.nonEmpty) ops
            else i.name.takeWhile(_ != '\n').take(60)
          stageLog.add((i.stageId, label.take(110), ms, i.numTasks))
        }
      })
    val names = if (args.nonEmpty) args.toSeq else Seq("x14_tfidf")
    names.foreach { name =>
      val cold = Harness.time(name)(Harness.query(spark, sfDir, name))
      Harness.isolate(spark)
      val times = Harness.runs(3, name, Harness.isolate(spark)) {
        stageLog.clear()
        Harness.query(spark, sfDir, name)
      }
      println(f"SCRATCH $name%-18s cold=$cold%.3f min=${Harness.best(times)}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
      // flush the async listener bus so the last run's stage events
      // are all delivered before reading the log; drop stages with
      // missing timestamps instead of summing their -1 sentinels
      try org.apache.spark.sql.graftbridge.ColumnBridge
        .flushListenerBus(spark)
      catch { case _: Throwable => () }
      import scala.jdk.CollectionConverters._
      val done = stageLog.asScala.toSeq.filter(_._3 >= 0)
      done.sortBy(-_._3).take(20).foreach { case (id, n, ms, nt) =>
        println(f"  STAGE $id%5d ${ms}%6d ms tasks=$nt%3d  $n")
      }
      println(f"  STAGE-SUM ${done.map(_._3).sum} ms over ${done.size} stages")
    }
    spark.stop()
  }
}

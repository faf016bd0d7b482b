package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev tool: empirical decomposition of a query's wall time (guide §1.1) —
  * run named queries once warmed, with a listener that aggregates per-stage
  * task metrics: executor run time, shuffle read/write bytes, fetch wait,
  * GC. Prints one line per stage (slowest first) so the expensive stage —
  * and whether it is compute, shuffle or scheduling — is visible without
  * the UI, after the job and stage counts. Run:
  * sbt "runMain graft.StageProbe <sfDir> <query...>" */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = SparkEntry.local(SparkEntry.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    // r16: no base-table cache — probe the stages the re-baselined bench
    // actually runs (parquet scans, not InMemoryTableScan).

    case class St(name: String, submitted: Long, var completed: Long = 0L,
                  var runMs: Long = 0L, var gcMs: Long = 0L,
                  var shufReadB: Long = 0L, var fetchWaitMs: Long = 0L,
                  var shufWriteB: Long = 0L, var tasks: Int = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized {
          stages(e.stageInfo.stageId) =
            St(e.stageInfo.name.takeWhile(_ != '\n').take(90), System.currentTimeMillis())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach(_.completed = System.currentTimeMillis())
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
          st.tasks += 1
          st.runMs += m.executorRunTime
          st.gcMs += m.jvmGCTime
          st.shufReadB += m.shuffleReadMetrics.totalBytesRead
          st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          st.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    val all = SparkEntry.queries
    for (n <- names; fn <- all.get(n)) {
      // warm once (codegen + JIT), then probe
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[probe] $n warmup FAILED: ${SparkEntry.describe(e)}") }
      stages.synchronized(stages.clear())
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[probe] $n FAILED: ${SparkEntry.describe(e)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // Drain the async listener bus FOR REAL before snapshotting: a fixed
      // sleep(300) could still leave onTaskEnd/onStageCompleted undelivered
      // under load, yielding completed=0 stages and undercounted metrics in
      // the very tool used to justify optimizations (r15 advice).
      // listenerBus/waitUntilEmpty are private[spark] in Scala but public
      // in bytecode — reflect; fall back to the old sleep if that breaks.
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(10000L))
      } catch { case _: Throwable => Thread.sleep(300) }
      spark.sparkContext.removeSparkListener(listener)
      val snap = stages.synchronized(stages.values.toVector)
      val totalStage = snap.map(s => math.max(0L, s.completed - s.submitted)).sum
      println(f"[probe] $n wall=$wall%.2fs jobs=${jobs.get} stages=${snap.size} stageWallSum=${totalStage / 1000.0}%.2fs")
      for (s <- snap.sortBy(s => -(s.completed - s.submitted)).take(14)) {
        val dur = math.max(0L, s.completed - s.submitted) / 1000.0
        println(f"[probe]   ${dur}%6.2fs tasks=${s.tasks}%4d run=${s.runMs / 1000.0}%7.2fs gc=${s.gcMs}%5dms " +
          f"sRead=${s.shufReadB / 1e6}%8.2fMB wait=${s.fetchWaitMs}%5dms sWrite=${s.shufWriteB / 1e6}%8.2fMB  ${s.name}")
      }
    }
    spark.stop()
  }
}

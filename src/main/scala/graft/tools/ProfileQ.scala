package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Generic per-stage profiler for declared queries (round 17): run
  * each query once (warm-up) then once measured, with a listener
  * recording every stage's wall time, task time, and the first line of
  * its call site — the local substitute for the Spark UI's stage table
  * (Tables.session disables the UI). The TOTAL line also carries the
  * measured run's Janino compiles (`compiles=`, `compile_ms=`; see
  * [[graft.Compiles]]): after the warm-up they should be 0, and a
  * non-zero count means the query generated different source the
  * second time. Caches are released between runs (the Bench
  * discipline), so queries never read each other's cache.
  * Usage:
  *   runMain graft.tools.ProfileQ <sfDir> <query>[,<query>...] [cpus]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = graft.Tables.session(s"local[$cpus]", cpus)

    case class St(id: Int, name: String, submitted: Long, completed: Long,
        taskTimeMs: Long, tasks: Int, spillMem: Long, spillDisk: Long,
        peakExec: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages += St(si.stageId, si.name,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          si.taskMetrics.executorRunTime, si.numTasks,
          si.taskMetrics.memoryBytesSpilled, si.taskMetrics.diskBytesSpilled,
          si.taskMetrics.peakExecutionMemory)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def release(): Unit = {
      graft.Caches.release(spark)
      spark.catalog.clearCache()
    }

    for (name <- names) {
      // warm-up run (JIT + codegen), not recorded
      graft.SparkEntry.queries(name)(spark, sfDir).collect()
      release()
      // deterministic drain (ADVICE r17): a sleep drops late-posted
      // stage-completed events on a loaded box
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      stages.clear()
      val t0 = System.nanoTime()
      val (_, compiles) = graft.Compiles.of(
        graft.SparkEntry.queries(name)(spark, sfDir).collect())
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      val run = stages.toList
      // spill + storage provenance (round 18): the §5 check for the
      // corpus-wide caches — whether MEMORY_AND_DISK blocks actually
      // spill at the measured SF, and how much execution memory peaks
      val storage = spark.sparkContext.getRDDStorageInfo
      val memUsed = storage.map(_.memSize).sum
      val diskUsed = storage.map(_.diskSize).sum
      println(f"TOTAL $name $wall%.3f s, ${run.size} stages; " +
        s"compiles=${compiles.count} compile_ms=${compiles.ms}; " +
        f"cached mem=${memUsed / 1e6}%.1f MB disk=${diskUsed / 1e6}%.1f MB " +
        f"(disk > 0 means the cache spilled); " +
        f"spill mem=${run.map(_.spillMem).sum / 1e6}%.1f MB " +
        f"disk=${run.map(_.spillDisk).sum / 1e6}%.1f MB, " +
        f"peakExec(max stage)=${run.map(_.peakExec).maxOption.getOrElse(0L) / 1e6}%.1f MB")
      val t0ms = run.map(_.submitted).filter(_ > 0).minOption.getOrElse(0L)
      run.sortBy(_.submitted).foreach { s =>
        // skipped/reused stages carry no submission/completion time —
        // mark them instead of printing garbage offsets (ADVICE r17)
        if (s.submitted == 0 || s.completed == 0)
          println(f"STAGE ${s.id}%4d (skipped/reused)                 taskSum=${s.taskTimeMs}%6dms tasks=${s.tasks}%3d  ${s.name.linesIterator.next().take(110)}")
        else {
          val wallMs = s.completed - s.submitted
          println(f"STAGE ${s.id}%4d +${s.submitted - t0ms}%6dms wall=${wallMs}%5dms taskSum=${s.taskTimeMs}%6dms tasks=${s.tasks}%3d  ${s.name.linesIterator.next().take(110)}")
        }
      }
      release()
    }
    spark.stop()
  }
}

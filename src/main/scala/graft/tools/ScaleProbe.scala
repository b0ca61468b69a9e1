package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Scaling diagnosis instrument: [[ScaleProbe.Meter]] totals executor task
  * time (≈ the parallelizable work W) plus job/stage counts, so a caller
  * can split a run's wall time into W/cores and the serial latency floor
  * F = wall − W/cores (driver scheduling, AQE query-stage turnaround,
  * barriers). Host-noise-robust: task time is measured work, not wall
  * clock. `graft.Bench` and `ClusterProbe` attach it.
  */
object ScaleProbe {

  /** Per-task totals. `cpuMs` (executorCpuTime) vs `taskMs` (executorRunTime)
    * is the attribution split the 4→16-thread inflation question needs:
    * runTime is task WALL (includes GC pauses, spill I/O, lock waits, any
    * off-CPU blocking); cpuTime is cycles actually burned on-core. An
    * inflation that shows in cpuTime is per-core slowdown (cache/DRAM/TLB
    * contention — more threads, same silicon); an inflation only in
    * runTime−cpuTime is WAITING (GC, spill, allocator/lock contention).
    */
  final class Meter extends SparkListener {
    val taskMs = new AtomicLong(0)
    val cpuMs = new AtomicLong(0)
    val gcMs = new AtomicLong(0)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleWriteBytes = new AtomicLong(0)
    val shuffleReadBytes = new AtomicLong(0)
    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    val peakExecMem = new AtomicLong(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) {
        taskMs.addAndGet(t.taskMetrics.executorRunTime)
        cpuMs.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
        gcMs.addAndGet(t.taskMetrics.jvmGCTime)
        shuffleWriteBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(t.taskMetrics.shuffleReadMetrics.totalBytesRead)
        memSpilled.addAndGet(t.taskMetrics.memoryBytesSpilled)
        diskSpilled.addAndGet(t.taskMetrics.diskBytesSpilled)
        peakExecMem.updateAndGet(m => math.max(m, t.taskMetrics.peakExecutionMemory))
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    def reset(): Unit = {
      taskMs.set(0); cpuMs.set(0); gcMs.set(0); jobs.set(0); stages.set(0); tasks.set(0)
      shuffleWriteBytes.set(0); shuffleReadBytes.set(0)
      memSpilled.set(0); diskSpilled.set(0); peakExecMem.set(0)
    }
  }
}

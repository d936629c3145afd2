package graft

import org.apache.spark.sql.SparkSession

/** Run independent DataFrame-CONSTRUCTION closures concurrently
  * (optimization guide §2.6 "overlap independent jobs"): the per-class /
  * per-strategy cells of the evaluation matrices each issue several small
  * blocking driver actions while they are BUILT (query-file collects,
  * ground-truth localCheckpoints, selectivity counts), and running those
  * constructions sequentially serializes the actions while most executor
  * cores idle — the scheduler happily back-fills tasks from concurrent
  * jobs (FIFO scheduling is exactly the desired behaviour).
  *
  * Results are position-identical to the sequential form: each closure
  * builds its own deterministic frame, the caller unions them in input
  * order, and on failure the FIRST failing item BY INPUT POSITION (not by
  * wall-clock) propagates — guard exceptions stay deterministic.
  *
  * Every cell's Spark jobs carry one job tag per call (a tag, unlike a job
  * group, leaves the caller's job group in place). On the first failure
  * the jobs under that tag are cancelled and the pool is interrupted, so
  * the siblings' cluster work stops and the failure propagates at once. */
object Par {
  private val calls = new java.util.concurrent.atomic.AtomicLong

  def ordered[A, B](items: Seq[A], parallelism: Int = 4)(f: A => B): Seq[B] = {
    if (items.size <= 1) return items.map(f)
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${calls.incrementAndGet()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, items.size))
    try {
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = {
            sc.foreach(_.addJobTag(tag))
            try f(a) finally sc.foreach(_.removeJobTag(tag))
          }
        }))
      futures.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          // first failure BY POSITION propagates (deterministic guards)
          sc.foreach(_.cancelJobsWithTag(tag))
          pool.shutdownNow()
          throw e.getCause }
      }
    } finally pool.shutdown()
  }
}

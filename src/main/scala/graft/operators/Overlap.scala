package graft.operators

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}

/** Run INDEPENDENT Spark jobs concurrently from a small driver pool
  * (guide §2.6): actions are only sequential because driver code calls
  * them sequentially, so submitting independent jobs together lets each
  * job's tasks back-fill cores the others' straggler tails leave idle —
  * wall ≈ max(job) instead of Σ job. Scheduling only: callers must pass
  * jobs whose effects are independent (different sinks/tables).
  *
  * One shared implementation for the r21 overlap sites (q208's format
  * writes, q192's bucketed writes, q255's two streams, the two-batch
  * runner's phase writes) instead of four hand-rolled pools, fixing the
  * ADVICE items on them in one place:
  *
  *  - failures rethrow the ORIGINAL exception (the
  *    `ExecutionException` wrapper is unwrapped), so callers see the
  *    same exception type the sequential form threw (e.g. writePhase's
  *    `require`);
  *  - results come back in submission order, but the pool is drained
  *    in completion order, so the first failure is rethrown at once
  *    even while an earlier-submitted job is still running;
  *  - on the first failure the sibling futures are cancelled
  *    (best-effort interrupt) and the pool is shut down with
  *    `shutdownNow`, instead of letting siblings run to completion
  *    behind a rethrow.
  *
  * Spark job-group/description propagation: worker threads are created
  * lazily AT SUBMIT TIME by the calling thread, so the caller's Spark
  * local properties (an `InheritableThreadLocal`) are inherited by every
  * worker — a per-query job group set by a future harness tags the
  * overlapped jobs too (the r21 VERDICT footgun). The pool is fresh per
  * call, so no stale-property thread reuse is possible.
  */
object Overlap {
  def runAll[A](jobs: Seq[() => A]): Seq[A] = {
    require(jobs.nonEmpty, "Overlap.runAll needs at least one job")
    val pool = Executors.newFixedThreadPool(math.min(jobs.size, 4))
    try {
      // Wait in COMPLETION order, not submission order: a failure is seen
      // as soon as it happens even while an earlier job is still running.
      val done = new ExecutorCompletionService[(Int, A)](pool)
      val futures = jobs.zipWithIndex.map { case (j, i) =>
        done.submit(new Callable[(Int, A)] { def call(): (Int, A) = (i, j()) })
      }
      val out = new Array[Any](jobs.size)
      try jobs.foreach { _ =>
        val (i, a) = done.take().get()
        out(i) = a
      } catch { case e: Throwable =>
        futures.foreach(_.cancel(true))
        throw (e match {
          case ee: ExecutionException => Option(ee.getCause).getOrElse(ee)
          case other => other
        })
      }
      out.toSeq.map(_.asInstanceOf[A])
    } finally pool.shutdownNow()
  }
}

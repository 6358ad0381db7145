package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Independent driver-side tasks (typically one Spark action each) run
  * side by side, so one job's tail stages back-fill the cores the others
  * leave idle. */
object Parallel {

  /** Runs `tasks` on a pool of at most `threads` threads and returns their
    * results in task order. The pool is created for this call, so its
    * threads inherit the caller's Spark local properties (job group,
    * scheduler pool, trace tags). Returns only after EVERY task has
    * finished; if any failed, the first failure in task order is then
    * rethrown with the later ones attached as suppressed. A caller may
    * therefore release what the tasks read (a cached frame, a temp dir)
    * as soon as this returns, even on failure. */
  def all[T](tasks: Seq[() => T], threads: Int): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, tasks.size)))
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      var failure: Throwable = null
      val results = futures.map { f =>
        try Some(f.get())
        catch {
          case e: ExecutionException =>
            if (failure == null) failure = e.getCause else failure.addSuppressed(e.getCause)
            None
        }
      }
      if (failure != null) throw failure
      results.flatten
    } finally pool.shutdown()
  }
}

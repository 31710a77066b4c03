package graft

/** Run independent driver-side actions concurrently — the setup waves of
  * multi-table lifecycle queries (seed two ManifestTables, build two
  * scratch inputs) are dominated by sequential commit I/O, and Spark
  * schedules concurrent actions from separate threads without fuss. Only
  * for actions with NO ordering dependency; failures propagate.
  *
  * A task must never wait on another task of the same call (a latch, a
  * queue, a future, a lock another task holds). The pool runs at most 32
  * tasks at once, so with more than 32 tasks a waiting task can hold the
  * thread its producer needs, and the call deadlocks until its 10-minute
  * timeout. */
object Parallel {
  def run(fs: (() => Any)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // daemon threads: a task wedged past its timeout must not pin the
    // JVM open after the failure propagates to the caller. Pool CAPPED at
    // 32: callers pass per-file waves (a large staged batch is hundreds
    // of ~15 ms footer reads) and one thread per task would burst
    // hundreds of threads for no extra I/O parallelism
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(fs.size, 32)),
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = fs.map(f => Future { f(); () })
    try {
      // await EVERY task (bounded) before surfacing the first failure:
      // fail-fast out of a Future.sequence would leave sibling commits
      // still running while the caller starts cleanup/retry — a
      // concurrent-write race the caller never asked for
      val results = futs.map(fu => scala.util.Try(Await.result(fu, 10.minutes)))
      results.collectFirst { case scala.util.Failure(e) =>
        // a sibling may still be RUNNING (it timed out, or it is slower
        // than the failed one): interrupt it before the caller starts
        // cleanup/retry, instead of letting it race the recovery
        pool.shutdownNow()
        throw e
      }
      ()
    } finally pool.shutdown()
  }
}

package graft

import java.util.concurrent.{ExecutionException, Executors, FutureTask}

/** The engine's one driver-side thread pool. It overlaps INDEPENDENT tiny
  * Spark actions: a store generation is ~7 single-task parquet tables,
  * and reading or writing them back to back paid ~7 driver job latencies.
  * Pool threads only submit jobs (each job's tasks run on the executors)
  * and are daemons, so they never hold the JVM open.
  *
  *  - The pool has [[Size]] threads, a constant: no fan-out, however
  *    deeply nested or however many callers run it at once, grows the
  *    driver's thread count past it.
  *  - A join helps: joining a task no thread has started runs it inline
  *    on the joining thread. A join therefore only ever waits on a task
  *    another thread is already running, so nested fan-outs complete at
  *    any depth under any cap (ParSpec).
  *  - Every forked task sees each [[Local]] as its forker saw it.
  */
object Par {
  /** Pool threads. Above the peak of live pool threads the unbounded pool
    * this replaced reached over a Verify sf0.01 run (10) and a
    * `store_churn` benchmark run (5), so those runs overlap as much as
    * before. */
  val Size = 16

  private val pool = Executors.newFixedThreadPool(Size, r => {
    val t = new Thread(r, "graft-par"); t.setDaemon(true); t
  })

  /** Every [[Local]]'s value on this thread, where it differs from its
    * initial one. */
  private val scope = new scala.util.DynamicVariable(Map.empty[Local[_], Any])

  /** A thread-scoped value that forked tasks inherit from their forker (a
    * pool thread would otherwise see whatever its creating thread saw). */
  final class Local[T](init: T) {
    def value: T = scope.value.getOrElse(this, init).asInstanceOf[T]
    def withValue[R](v: T)(f: => R): R = scope.withValue(scope.value.updated(this, v))(f)
  }

  /** Start `body` on the pool; the returned handle joins it, rethrowing
    * its failure as thrown. */
  def fork[T](body: => T): () => T = {
    val bound = scope.value
    val task = new FutureTask[T](() => scope.withValue(bound)(body))
    pool.execute(task)
    () => {
      task.run() // runs it here unless a thread has claimed it already
      try task.get() catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** Run independent tasks concurrently; results come back in input
    * order, and the first failure in input order is rethrown as thrown.
    * A single task runs inline. */
  def all[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else tasks.map(t => fork(t())).map(_())
}

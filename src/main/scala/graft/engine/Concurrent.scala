package graft.engine

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.SparkContext

/** Runs a handful of independent Spark actions at once, from the
  * caller's thread. A short write at archive scale is one task on one
  * slot, so a sequence of them leaves the other slots idle; the
  * scheduler overlaps them only if the driver submits them together.
  *
  * Each action runs on its own thread of a pool sized to the actions.
  * Job group, description, interrupt flag and job tags are
  * thread-local; every worker takes the caller's, so a caller's
  * `cancelJobGroup` (the bench cap) still reaches these jobs and a
  * listener attributes them to the caller. [[run]] returns once every
  * action has finished; if any failed, it then throws the first
  * failure in action order, the others attached as suppressed. So a
  * caller's `finally` (an unpersist, say) never runs under a write
  * still in flight.
  *
  * Actions must be independent: none may read what another writes,
  * and any state they share must be safe to use from several threads.
  */
object Concurrent {

  private val callerProperties = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel", "spark.job.tags")

  def run(sc: SparkContext)(actions: (() => Unit)*): Unit = {
    val props = callerProperties.map(k => k -> sc.getLocalProperty(k))
    val pool = Executors.newFixedThreadPool(actions.size max 1)
    try {
      val futures = actions.map { action =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            // a null value clears the key, so a worker never keeps one
            // the caller does not have
            props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            action()
          }
        })
      }
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdownNow()
  }
}

package graft.util

import java.util.concurrent.atomic.AtomicLong

/** Best-effort release of memory an owner no longer needs (unpersisting
  * blocks, dropping stream residue). A failed release must not fail the
  * run, but it is counted rather than hidden: [[swallowed]] is reported on
  * the harness's `reset` line.
  */
object Cleanup {

  private val failures = new AtomicLong

  /** Release failures swallowed in this JVM so far. */
  def swallowed: Long = failures.get

  /** Runs `release`; an exception it throws is counted, not raised. */
  def quietly(release: => Unit): Unit =
    try release catch { case _: Exception => failures.incrementAndGet() }

  /** [[quietly]] that also counts errors: for a release reaching into Spark
    * internals, where a linkage error must not fail the run either.
    */
  def quietlyAny(release: => Unit): Unit =
    try release catch { case _: Throwable => failures.incrementAndGet() }
}

package graft.util

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one owner of the program's on-disk scratch: where it lives, how long
  * it lives and when it goes stale. Everything sits under a temp root per
  * JVM (a second one on tmpfs for the dirs that ask for it), created on
  * first use (a createTempDirectory name, so concurrent processes never
  * collide) and deleted by one shutdown hook.
  *
  *  - [[withDir]]: a dir for one invocation (a stream's checkpoint, a
  *    foreachBatch sink, a private live dir), deleted when `body` returns.
  *    An entry needing several takes one dir and makes subdirectories.
  *  - [[staged]]: an intermediate written once and read by many calls (the
  *    range-staged event chunks, q104's bucketed and q106's day-partitioned
  *    tables, s21's corpus index). It lives until the JVM exits unless it
  *    goes stale: each entry carries the [[graft.Tables.pathStamp]] of every
  *    input its write read, and a changed stamp writes again, so an input
  *    rewritten in place never serves the old copy. Entries whose key
  *    holds a stopped session are dropped (and their dirs deleted) on
  *    access.
  */
object Scratch {

  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(roots.forEach(r => Fs.deleteRecursively(r)))

  private def fresh(parent: Path, prefix: String): Path = Files.createTempDirectory(parent, prefix)

  private def newRoot(parent: Path): Path = {
    val r = fresh(parent, "graft_scratch_")
    roots.add(r)
    r
  }

  private lazy val diskRoot = newRoot(Paths.get(System.getProperty("java.io.tmpdir")))

  private lazy val memRoot = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm)) newRoot(shm) else diskRoot
  }

  /** Runs `body` over a fresh dir and deletes the dir when it returns. A
    * step that must precede the delete (stopping what still writes there)
    * belongs inside `body`. `inMemory` puts the dir on tmpfs where there is
    * one: for a sink whose cost is file creation, not bytes (s08).
    */
  def withDir[T](prefix: String, inMemory: Boolean = false)(body: Path => T): T = {
    val d = fresh(if (inMemory) memRoot else diskRoot, prefix)
    try body(d) finally Fs.deleteRecursively(d)
  }

  private final case class Entry(stamps: Seq[(Long, Long)], dir: Path, value: Any)

  // a plain map under one lock: a write may itself stage (get-then-put)
  private val entries = scala.collection.mutable.HashMap.empty[Product, Entry]

  /** `write`'s result for `key`, written into a fresh dir on first access
    * and again whenever a path in `inputs` has changed since. The stamps are
    * taken before the write, so an input rewritten during it can only force
    * one more write, never be recorded as current. A stale entry's dir is
    * deleted once its replacement is written: a write that replaces a
    * catalog table resolves the old table first, so its files must still
    * be there.
    */
  def staged[T](key: Product, inputs: Seq[String])(write: Path => T): T =
    entries.synchronized {
      val stamps = inputs.map(graft.Tables.pathStamp)
      entries.filterInPlace { (k, e) =>
        val stopped = stoppedSession(k)
        if (stopped) Fs.deleteRecursively(e.dir)
        !stopped
      }
      entries.get(key) match {
        case Some(e) if e.stamps == stamps => e.value.asInstanceOf[T]
        case stale =>
          val d = fresh(diskRoot, "staged_")
          val v = try write(d) catch { case e: Throwable => Fs.deleteRecursively(d); throw e }
          entries(key) = Entry(stamps, d, v)
          stale.foreach(e => Fs.deleteRecursively(e.dir))
          v
      }
    }

  private def stoppedSession(key: Product): Boolean = key.productIterator.exists {
    case s: SparkSession => s.sparkContext.isStopped
    case _ => false
  }

  /** Bytes under the scratch roots, directory entries included (0 before
    * first use): the disk an entry leaves pinned.
    */
  def bytes: Long = roots.stream.mapToLong(r => graft.Tables.pathStamp(r.toString)._1).sum
}

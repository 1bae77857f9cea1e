package graft.operators

/** Run two independent driver-side actions concurrently (guide §2.6
  * "overlap independent jobs"): Spark's scheduler happily runs several
  * jobs at once inside one application — actions are only sequential
  * because driver code calls them sequentially. The second action runs on
  * a FRESH thread spawned from the caller, so Spark's inheritable
  * thread-local job properties (job group, description, scheduler pool,
  * and the measurement id [[graft.plans.QueryMetrics]] meters by) are
  * inherited exactly; a shared pool would pin whatever group its threads
  * were created under and mis-attribute every later caller's jobs.
  *
  * Both actions always complete before this returns (the caller's crash /
  * replay reasoning sees the same "both done or round failed" boundary as
  * the serial form); `a`'s failure rethrows after the join, carrying
  * `b`'s as a suppressed exception when both fail. Callers
  * are responsible for independence — nothing here arbitrates two actions
  * mutating one store. */
private[operators] object DriverPar {
  def both[A, B](a: => A, b: => B): (A, B) = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val res = new java.util.concurrent.atomic.AtomicReference[B]()
    val t = new Thread(() => {
      try res.set(b) catch { case e: Throwable => err.set(e) }
    }, "graft-par")
    t.setDaemon(true)
    t.start()
    val ra =
      try a
      catch { case e: Throwable =>
        t.join()
        if (err.get != null && (err.get ne e)) e.addSuppressed(err.get)
        throw e
      }
    t.join()
    if (err.get != null) throw err.get
    (ra, res.get)
  }
}

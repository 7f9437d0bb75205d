package graft.pipeline

/** The one side-by-side commit path of the index lifecycle: the
  * admission verbs ([[IndexDelta.admitDocs]]) and the nightly build
  * ([[IndexBuild.buildAll]]) both hand their independent commit chains
  * to [[commit]]. A chain is a sequence of table commits that no other
  * chain of the same call reads or writes, so running the chains at
  * the same time changes what is committed by nothing but the order in
  * which the commits land.
  *
  * Contract:
  *  - ONE NEW THREAD PER CHAIN, created for this call and named
  *    `<prefix>-<i>`: a new thread inherits the caller's Spark local
  *    properties (job group, scheduler pool, job tags), which a reused
  *    pool thread would not;
  *  - it waits for EVERY chain, so no commit is still running when the
  *    caller returns or sees an error;
  *  - it rethrows the first failure in chain order, with the later
  *    ones attached as suppressed.
  */
private[graft] object SideBySide {

  def commit(prefix: String)(chains: (() => Any)*): Unit = {
    val failures = new Array[Throwable](chains.size)
    val threads = chains.zipWithIndex.map { case (chain, i) =>
      val t = new Thread(() =>
        try chain() catch { case e: Throwable => failures(i) = e },
        s"$prefix-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => ()
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
